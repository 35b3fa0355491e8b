"""The fused extraction operator: ``extract(df) -> df``.

The ``processRequest`` analog (``src/ocr_worker.cpp:213-311``) as one
``mapInPandas`` pass over a SINGLE source scan:

* one JVM-side projection classifies every page into a route
  (empty / oversized / invalid-utf8 / work) and **blanks the html bytes of
  every guard row** — the Spark-native form of the reference rejecting
  oversized requests at the pipe buffer before they reach a worker (P6,
  ``src/ocr_ipc_service.cpp:222-239``). Guard rows therefore cross the
  shuffle and Arrow channel as a few bytes of metadata, never as payload,
  and the source is scanned exactly once (an earlier union-of-branches
  design scanned it 4×; see BENCH/BASELINE.md);
* optional single shuffle: salted url-hash repartition spreads pages —
  including the rare multi-MB ones — uniformly, which measured faster than
  confining big pages to dedicated range partitions (they serialize there;
  BENCH/BASELINE.md finding 2);
* ``run_cascade`` — the only Python hop, shared by every cascade surface
  (``extract``, ``layout.extract_with_layout``, the streaming jobs).
  Incoming Arrow batches are re-sliced to a byte budget so a run of
  adjacent big pages can never blow up executor memory (X3/X10 batch
  discipline);
* the guard is defined once, in ``core.pipeline`` (route codes + messages);
  ``_route_col`` and ``guard_error_col`` are its JVM renderings, built from
  the same constants, so error rows match whichever path answered.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..config import MAX_HTML_BYTES
from ..core.pipeline import (
    EMPTY_ERROR,
    INVALID_ERROR,
    OVERSIZED_ERROR,
    ROUTE_EMPTY,
    ROUTE_INVALID,
    ROUTE_OVERSIZED,
    ROUTE_WORK,
    extract_batch_routed,
)
from ..plans.partitioning import salted_url_partitioning
from ..schemas import OUTPUT_SCHEMA

#: Max html bytes handed to one ``extract_batch_routed`` call (Python-side
#: re-slicing of Arrow batches; bounds peak extraction memory per worker).
BATCH_BYTE_BUDGET = 64 * 1024 * 1024

_ROUTED_COLUMNS = ("url", "html", "html_size", "route")


def _route_col() -> Column:
    """JVM rendering of ``core.pipeline.route_of`` plus the utf-8 check."""
    size = F.length(F.col("html"))
    return (
        F.when(F.col("html").isNull() | (size == 0), F.lit(ROUTE_EMPTY))
        .when(size > MAX_HTML_BYTES, F.lit(ROUTE_OVERSIZED))
        .when(~F.expr("is_valid_utf8(html)"), F.lit(ROUTE_INVALID))
        .otherwise(F.lit(ROUTE_WORK))
    )


def guard_error_col(route: Column, size: Column) -> Column:
    """JVM rendering of ``core.pipeline.guard_error``; NULL on the work route."""
    return (
        F.when(route == ROUTE_EMPTY, F.lit(EMPTY_ERROR))
        .when(route == ROUTE_OVERSIZED, F.format_string(OVERSIZED_ERROR, size))
        .when(route == ROUTE_INVALID, F.lit(INVALID_ERROR))
    )


def _slice_budget(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
    sizes = pdf["html_size"].fillna(0)
    if sizes.sum() <= BATCH_BYTE_BUDGET:
        yield pdf
        return
    start, acc = 0, 0
    for i, s in enumerate(sizes.tolist()):
        if acc + s > BATCH_BYTE_BUDGET and i > start:
            yield pdf.iloc[start:i]
            start, acc = i, 0
        acc += s
    if start < len(pdf):
        yield pdf.iloc[start:]


def run_cascade(
    routed: DataFrame,
    schema: T.StructType,
    metrics: dict | None = None,
    extend: Callable[[pd.DataFrame, pd.DataFrame], None] | None = None,
) -> DataFrame:
    """The single ``mapInPandas`` hop into ``extract_batch_routed``.

    ``routed`` has ``prepare_routed``'s columns; any other column passes
    through, ahead of the output columns. ``extend(out, pdf)`` may add
    columns to each output batch in place. ``schema`` lists the
    pass-through columns, ``OUTPUT_SCHEMA`` and the extended ones, in that
    order. ``metrics`` are LongAccumulators (P7).
    """
    passthrough = [c for c in routed.columns if c not in _ROUTED_COLUMNS]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for whole in batches:
            for pdf in _slice_budget(whole):
                out = extract_batch_routed(
                    pdf["url"].tolist(),
                    pdf["html"].tolist(),
                    pdf["html_size"].tolist(),
                    pdf["route"].tolist(),
                )
                if metrics is not None:
                    metrics["n_pages"].add(len(out))
                    metrics["n_ok"].add(int(out["success"].sum()))
                    metrics["n_blocks"].add(int(out["n_blocks"].sum()))
                if extend is not None:
                    extend(out, pdf)
                for i, c in enumerate(passthrough):
                    out.insert(i, c, pdf[c].values)
                yield out

    return routed.mapInPandas(fn, schema)


def make_metrics(spark) -> dict:
    """Service-stats accumulators (P7, ``src/ocr_ipc_service.cpp:438-448``)."""
    sc = spark.sparkContext
    return {
        "n_pages": sc.accumulator(0),
        "n_ok": sc.accumulator(0),
        "n_blocks": sc.accumulator(0),
    }


def _routed(df: DataFrame, passthrough: Sequence[str]) -> DataFrame:
    return df.select(
        *passthrough,
        "url",
        F.col("html"),
        F.coalesce(F.length(F.col("html")), F.lit(0)).alias("html_size"),
        _route_col().alias("route"),
    ).select(
        *passthrough,
        "url",
        F.when(F.col("route") == ROUTE_WORK, F.col("html")).alias("html"),
        "html_size",
        "route",
    )


def prepare_routed(df: DataFrame) -> DataFrame:
    """Single-scan guard projection: (url, html|NULL, html_size, route)."""
    return _routed(df, ())


def extract(
    df: DataFrame,
    num_partitions: int | None = None,
    metrics: dict | None = None,
    passthrough: Sequence[str] = (),
) -> DataFrame:
    """Run the full det → cls → rec cascade over a documents DataFrame.

    ``df`` needs columns ``url`` (string) and ``html`` (binary); other
    columns are pruned before the Python hop (column pruning stays
    effective, X12) unless named in ``passthrough``, which carries them
    ahead of the output columns (e.g. ``warc_ts`` for event-time windows).
    ``num_partitions`` enables the salted repartition (one shuffle); leave
    ``None`` to inherit the source partitioning (no shuffle at all). Works
    on batch and streaming frames alike.
    """
    routed = _routed(df, passthrough)
    if num_partitions is not None:
        routed = salted_url_partitioning(routed, num_partitions)
    schema = T.StructType(
        [df.schema[c] for c in passthrough] + OUTPUT_SCHEMA.fields
    )
    return run_cascade(routed, schema, metrics)
