"""Shared helpers for the training-data pipeline operators.

Every operator here is written twice by design: once in the DataFrame API
(the engine) and once as ANSI SQL (the DuckDB oracle the driver runs). The
helpers below pin the cross-engine-deterministic primitives:

* ``h60(col)`` — 60-bit integer hash from the md5 hex prefix. md5 is
  byte-identical everywhere; 15 hex digits < 2^60 fits signed int64 in both
  engines (Spark ``conv(...,16,10)`` / DuckDB ``('0x'||...)::BIGINT``).
* ``tokens(col)`` — whitespace tokenization with empties filtered, identical
  under Spark ``split`` and DuckDB ``regexp_split_to_array``.
* float outputs are rounded to 6 dp on both sides: every remaining float is
  a ratio/fold of exact integer or float32-promoted doubles, so 6 dp is far
  beyond the cross-engine error bound (≈1e-12 from summation order).
* ``cosine6(a, b)`` — the cosine of two ``array<double>`` columns from
  sequential JVM folds (``_dot_expr`` / ``_norm_expr``: one deterministic
  summation order), rounded half-up at 6 dp; ``_round_half_up_6`` is the
  same 6-dp HALF_UP for numpy values computed in a pandas kernel.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def load(
    spark: SparkSession, sf_dir: str, name: str, rebalance: bool = True
) -> DataFrame:
    """Read a driver table, with a file-granularity parallelism floor.

    Guide §2.5 ("input skew: one huge unsplittable file … repartition
    immediately after the read"): a table laid out as fewer splittable
    pieces than the cluster has cores scans as that many tasks, and every
    downstream per-row computation (explodes, per-window hashing, regex)
    inherits that ceiling until the first exchange. The driver's sf tables
    are ONE parquet file with ONE row group each, so at sf1.0 every
    scan-shaped query ran its compute on 1-2 of 32 cores (measured 17×:
    ``fingerprint`` 26.3 s → 1.5 s from this one exchange, round 6).

    Scale-adaptive by construction: the rebalance fires only when the scan
    yields fewer partitions than ``defaultParallelism``, which — because
    FilePartition packing caps each split at
    ``spark.sql.files.maxPartitionBytes`` — implies the whole table is
    under ``cores × maxPartitionBytes`` (≈4 GB here): a provably cheap
    exchange. Production-scale layouts (files ≥ cores) never hit the
    condition and pay nothing. The spread key is a deterministic
    ``xxhash64`` of the table's LEADING column (every driver table leads
    with its id key — guide §2.5's ``pmod(xxhash64(id), …)``
    prescription), NOT a keyless round-robin and NOT a hash of all
    columns: round-robin pays ``sortBeforeRepartition`` (SPARK-23207) — a
    full LOCAL SORT of the input serialized on the very single-task stage
    being rescued (A/B at sf1: hash 0.63–0.90× the round-robin legs on
    the events queries) — and an all-column hash key references every
    column in the exchange, defeating column pruning at the scan (caught
    by the corpus_keep ReadSchema pin). A single-id key is
    retry-deterministic, spreads uniformly, and costs at most one extra
    8-byte column in the read schema. No declared query's result depends
    on partitioning.

    Callers whose output depends on float SUMMATION ORDER at a rounding
    boundary pass ``rebalance=False``: averaging values that are
    themselves 6-dp-rounded (``corpus_stats.avg_quality``) frequently
    produces means landing EXACTLY on the HALF_UP boundary, where the
    6-dp cross-engine parity is decided by which side the double sum's
    last ulp falls — i.e. by associativity. Those sums stay pinned to the
    sequential single-partial order that has been oracle-green since
    round 1. Exact-integer aggregates, per-row expressions, and per-doc
    sums over an explode (one doc = one row = one partition, so the
    within-doc order never changes) are all order-safe and keep the
    rebalance.
    """
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if not rebalance:
        return df
    n = df.rdd.getNumPartitions()
    p = spark.sparkContext.defaultParallelism
    if 0 < n < p:
        df = df.repartition(p, F.xxhash64(F.col(df.columns[0])))
    return df


def h60(col: Column | str) -> Column:
    """60-bit deterministic hash (Spark side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def h60_sql(expr: str) -> str:
    """60-bit deterministic hash (DuckDB oracle side)."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def h28(col: Column | str) -> Column:
    """28-bit hash — headroom for modular arithmetic without overflow."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 7), 16, 10).cast("long")


def h28_sql(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 7))::BIGINT)"


def tokens(col: Column | str) -> Column:
    """Whitespace tokens, empties removed (Spark side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def tokens_sql(expr: str) -> str:
    return f"list_filter(regexp_split_to_array({expr}, '\\s+'), t -> t <> '')"


def _dot_expr(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"


def _norm_expr(a: str) -> str:
    return f"sqrt(aggregate({a}, 0.0D, (acc, v) -> acc + v * v))"


def cosine6(a: str, b: str) -> Column:
    """Cosine of array columns ``a`` and ``b``, rounded half-up at 6 dp."""
    return F.round(
        F.expr(_dot_expr(a, b)) / (F.expr(_norm_expr(a)) * F.expr(_norm_expr(b))),
        6,
    )


def _round_half_up_6(x):
    """Spark's F.round is HALF_UP over the double's SHORTEST DECIMAL
    representation (BigDecimal.valueOf == Double.toString), not over the
    exact binary value. The vectorized floor(|x|·1e6 + 0.5) form agrees
    except when x·1e6 sits within a few ulps of a .5 boundary (where the
    shortest repr can land on the other side). Hybrid: numpy fast path,
    then re-round only boundary-adjacent values through Python's repr()
    (also shortest-repr) + Decimal HALF_UP — exact Spark parity at the
    cost of a Python loop over a measure-tiny subset.

    The boundary window scales with the ulp of frac = |x|·1e6 (the error
    sources — the ×1e6 multiply and x's own repr gap — are both a couple
    ulps AT frac's magnitude), so the detection stays sound at any |x|,
    not just |x| ≤ ~4 (round-4 advice)."""
    x = np.asarray(x, dtype=np.float64)
    fast = np.copysign(np.floor(np.abs(x) * 1e6 + 0.5) / 1e6, x)
    frac = np.abs(x) * 1e6
    near = np.abs(frac - np.floor(frac) - 0.5) <= 4.0 * np.spacing(frac)
    if near.any():
        import decimal

        q = decimal.Decimal("0.000001")
        flat = fast.ravel()
        xf = x.ravel()
        for i in np.flatnonzero(near.ravel()):
            flat[i] = float(
                decimal.Decimal(repr(float(xf[i]))).quantize(
                    q, rounding=decimal.ROUND_HALF_UP
                )
            )
    return fast
