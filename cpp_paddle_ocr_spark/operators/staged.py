"""Staged pipeline: each cascade stage as its own DataFrame operator.

The UDF/UDAF surface promised in SURVEY.md §2.9 — ``detect_blocks``,
``classify_blocks``, ``recognize_blocks``, plus SQL assembly. Unlike the
fused ``operators.extract`` (one Python hop, the production path), the staged
form keeps the cascade's early-exits VISIBLE to Catalyst (X1): the det→cls
filter and the cls→rec filter are real DataFrame ``filter``s, so Spark can
prune, reorder, and AQE-coalesce between stages. The price is extra Arrow
hops; both forms are provably byte-identical (tests/test_staged.py).

Stage operators:

* ``detect_candidates(df)`` — the fan-out (C1, ``src/ocr_worker.cpp:243-259``):
  one page row explodes into candidate-span rows via ``mapInPandas``.
* ``classify_candidates(df)`` — K1-K4 as an Arrow-vectorized pandas UDF
  adding ``(cls_label, cls_score)``; the K5 drop is a visible ``filter``.
* ``recognize_candidates(df)`` — R1-R7 as a pandas UDF adding
  ``(rec_text, confidence)``.
* ``assemble(spans, pages)`` — R8 + O1 in pure SQL: ``sort_array`` over
  ``(start, block_id)`` structs + ``array_join`` (no Python).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..core.classify import classify_spans
from ..core.decode import recognize_spans
from ..core.detect import detect_page
from ..core.html_parse import parse_blocks
from ..core.pipeline import decode_html
from ..schemas import CANDIDATE_SCHEMA, SPAN_SCHEMA
from .extract import _route_col, guard_error_col


def detect_candidates(df: DataFrame, id_col: str | None = None) -> DataFrame:
    """Stage 1 fan-out: pages → candidate-span rows (det chain, D1-D15+O3).

    ``id_col`` (optional, long): a unique page id carried through the fan-out
    so downstream assembly can key on it — required when input urls are not
    unique (``extract_staged`` threads one automatically)."""

    cols = ["url", "block_id", "start", "end", "text", "det_score"]
    schema = CANDIDATE_SCHEMA
    if id_col is not None:
        cols = [id_col, *cols]
        schema = T.StructType(
            [T.StructField(id_col, T.LongType()), *CANDIDATE_SCHEMA.fields]
        )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in cols}
            ids = pdf[id_col] if id_col is not None else pdf["url"]
            for pid, url, html in zip(ids, pdf["url"], pdf["html"]):
                doc, error = decode_html(html)
                if error is not None:
                    continue  # guard rows are handled by the page-side ops
                for s in detect_page(doc, parse_blocks(doc)):
                    if id_col is not None:
                        out[id_col].append(pid)
                    out["url"].append(url)
                    out["block_id"].append(s.block_id)
                    out["start"].append(s.start)
                    out["end"].append(s.end)
                    out["text"].append(s.text)
                    out["det_score"].append(s.score)
            yield pd.DataFrame(out, columns=cols)

    sel = ["url", "html"] if id_col is None else [id_col, "url", "html"]
    return df.select(*sel).mapInPandas(fn, schema)


_CLS_TYPE = T.StructType(
    [
        T.StructField("label", T.IntegerType()),
        T.StructField("score", T.DoubleType()),
    ]
)


@F.pandas_udf(_CLS_TYPE)
def _cls_udf(texts: pd.Series) -> pd.DataFrame:
    labels, scores = classify_spans(texts.tolist())
    return pd.DataFrame({"label": labels.astype("int32"), "score": scores})


def classify_candidates(df: DataFrame) -> DataFrame:
    """Stage 2: add (cls_label, cls_score). Filter ``cls_label == 0``
    downstream — a Catalyst-visible filter, not a hidden Python branch."""
    c = df.withColumn("_cls", _cls_udf(F.col("text")))
    return c.select(
        *df.columns,
        F.col("_cls.label").alias("cls_label"),
        F.col("_cls.score").alias("cls_score"),
    )


_REC_TYPE = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
    ]
)


@F.pandas_udf(_REC_TYPE)
def _rec_udf(texts: pd.Series) -> pd.DataFrame:
    out = recognize_spans(texts.tolist())
    return pd.DataFrame(
        {"text": [t for t, _ in out], "confidence": [c for _, c in out]}
    )


def recognize_candidates(df: DataFrame) -> DataFrame:
    """Stage 3: add (rec_text, confidence) via batched CTC decode."""
    r = df.withColumn("_rec", _rec_udf(F.col("text")))
    return r.select(
        *df.columns,
        F.trim(F.col("_rec.text")).alias("rec_text"),
        F.col("_rec.confidence").alias("confidence"),
    )


def assemble(
    spans: DataFrame, pages: DataFrame, id_col: str | None = None
) -> DataFrame:
    """R8 + O1 in pure SQL: span rows + page rows → OUTPUT_SCHEMA (-time).

    ``pages`` must have (url, html); error/early-exit pages come back as
    guard/empty rows exactly like the fused operator. Aggregation keys on
    ``id_col`` when given (unique page id, see ``detect_candidates``) so
    duplicate urls each get their own independent output row, matching the
    fused operator; without it, url uniqueness is an input contract.
    """
    key = [id_col, "url"] if id_col is not None else ["url"]
    per_page = (
        spans.groupBy(*key)
        .agg(
            F.sort_array(
                # collect_SET, not list: with the deterministic page id
                # (xxhash64(url, html)), fully-identical input rows share an
                # id and their fan-out copies emit identical span rows; the
                # set collapses them back to one span list. Within a single
                # page spans are unique by (block_id, start), so the set
                # never drops a legitimate span.
                F.collect_set(
                    # full intended sort key FIRST (start, block_id, end),
                    # then payload fields — a field reorder can no longer
                    # silently change tie-breaking
                    F.struct(
                        F.col("start"),
                        F.col("block_id"),
                        F.col("end"),
                        F.col("rec_text"),
                        F.col("confidence"),
                    )
                )
            ).alias("_sorted")
        )
        .select(
            *key,
            F.transform(
                "_sorted",
                lambda s: F.struct(
                    s["rec_text"].alias("text"),
                    s["start"].cast("long").alias("start"),
                    s["end"].cast("long").alias("end"),
                    s["confidence"].alias("confidence"),
                    s["block_id"].cast("int").alias("block_id"),
                ),
            ).alias("spans"),
        )
        .select(
            *key,
            "spans",
            F.array_join(
                F.filter(
                    F.transform("spans", lambda s: s["text"]),
                    lambda t: t != "",
                ),
                "\n",
            ).alias("extracted_text"),
        )
    )
    base_cols = ["url"] if id_col is None else [id_col, "url"]
    base = pages.select(
        *base_cols,
        guard_error_col(_route_col(), F.length("html")).alias("error"),
    )
    joined = base.join(per_page, key, "left")
    return joined.select(
        "url",
        (F.col("error").isNull()).alias("success"),
        "error",
        F.coalesce(F.size("spans"), F.lit(0)).alias("n_blocks"),
        F.coalesce(
            "spans", F.array().cast(T.ArrayType(SPAN_SCHEMA))
        ).alias("spans"),
        F.coalesce("extracted_text", F.lit("")).alias("extracted_text"),
        F.lit(0.0).alias("processing_time_ms"),
    )


def extract_staged(df: DataFrame) -> DataFrame:
    """The composed staged pipeline (byte-identical to ``extract`` modulo
    ``processing_time_ms``; see tests/test_staged.py).

    A page id is threaded through the fan-out so inputs with duplicate urls
    produce one independent output row per input row, exactly like the fused
    operator (which never groups). The id is DETERMINISTIC —
    ``xxhash64(url, html)`` — because the lazy ``pages`` plan is evaluated
    independently by two branches (detect chain + assemble's base side): a
    nondeterministic id (``monotonically_increasing_id``) could assign
    different ids to the same row across recomputations (shuffled input,
    task retry/speculation) and silently mis-join spans to pages. Rows that
    are fully identical share an id; ``assemble``'s ``collect_set`` keeps
    their output correct (one span list, one output row per input row)."""
    pages = df.withColumn("_page_id", F.xxhash64("url", "html"))
    cands = detect_candidates(pages, id_col="_page_id")
    classified = classify_candidates(cands)
    survivors = classified.filter(F.col("cls_label") == 0)  # K5, visible
    recognized = recognize_candidates(survivors)
    return assemble(recognized, pages, id_col="_page_id")
