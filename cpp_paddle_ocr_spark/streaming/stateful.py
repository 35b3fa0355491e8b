"""Custom stateful streaming operator: cross-batch first-seen URL dedup.

The batch engine's ``dedup_exact`` is a hash-groupBy; its streaming analog
needs per-key STATE that survives micro-batches — a re-crawled url arriving
three epochs later must still be recognized as a duplicate. This is the
``applyInPandasWithState`` shape (Arrow-batched grouped state, the
"custom stateful operator" path of Structured Streaming): state key = url,
state value = how many times seen; a row is emitted only on first sight.

Reference lineage: the service dedups nothing (every request is processed),
but its per-worker FIFO + atomic counters (``src/ocr_ipc_service.cpp:
438-448``) are the same shape — keyed mutable state advanced per request.
Here the key is the url and the state store is Spark's checkpointed one,
so the dedup survives restarts exactly like the batch lineage/resume path.

Scale shape at 10^12 rows: state is partitioned by the groupBy key (url),
i.e. sharded across executors by hash — no single-node state bottleneck;
per-key state is one long. The store is bounded via ``ttl_ms``
(``GroupStateTimeout.ProcessingTimeTimeout``): expiry removes the key, so
re-crawls after the TTL re-emit — store size traded against long-horizon
dedup recall.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEDUP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("n_seen_before", T.LongType(), False),
    ]
)

_STATE_SCHEMA = T.StructType([T.StructField("seen", T.LongType(), False)])


def capped_admission_stream(
    df: DataFrame,
    key_col: str,
    out_cols: list[str],
    out_schema: T.StructType,
    cap: int = 1,
    ttl_ms: int | None = None,
    extra_cols: dict[str, object] | None = None,
    seq_col: str | None = None,
) -> DataFrame:
    """Generic cross-batch per-key admission: emit a row only while its
    key has produced fewer than ``cap`` rows across ALL micro-batches;
    later sightings (same batch or later) are absorbed into state.

    ``cap=1`` is the first-seen dedup filter; ``cap=N`` keyed by url host
    is a streaming domain budget. The delicate stateful semantics (timeout
    expiry removes the key and emits nothing; the timeout re-arms on EVERY
    sighting; seen-count survives batches) live in exactly one place —
    `dedup_stream`, `curation.curate_stream` and
    `curation.domain_budget_stream` are all instantiations of this.

    ``seq_col`` (optional) names a LongType output column receiving each
    emitted row's global 0-based position within its key — the admission
    sequence number, for audit.

    ``ttl_ms`` bounds the state store for unbounded crawls via
    ``ProcessingTimeTimeout``: expiry removes the key (so a re-sighting
    after the TTL starts a fresh budget) — store size traded against
    long-horizon memory. ``None`` keeps state forever.
    """

    def admit(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()  # TTL expiry: forget the key, emit nothing
            return
        seen = state.get[0] if state.exists else 0
        taken: list[pd.DataFrame] = []
        for pdf in pdfs:
            room = cap - seen
            if room > 0 and len(pdf):
                take = pdf.iloc[:room].copy()
                if seq_col is not None:
                    take[seq_col] = range(seen, seen + len(take))
                taken.append(take)
            seen += len(pdf)
        state.update((seen,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)  # re-arm on every sighting
        for take in taken:
            for name, value in (extra_cols or {}).items():
                take[name] = value
            yield take[out_cols]

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(key_col).applyInPandasWithState(
        admit,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout_conf,
    )


def dedup_stream(stream_df: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """First-seen filter over a streaming (url, html, ...) DataFrame —
    the url-keyed ``cap=1`` admission (see ``capped_admission_stream`` for
    the state/TTL semantics)."""
    return capped_admission_stream(
        stream_df.select("url", "html"),
        key_col="url",
        out_cols=["url", "html", "n_seen_before"],
        out_schema=DEDUP_OUT_SCHEMA,
        cap=1,
        ttl_ms=ttl_ms,
        extra_cols={"n_seen_before": 0},
    )
