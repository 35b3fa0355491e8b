"""Partitioning strategy: the pool-dispatch analog (SURVEY.md §2.8 P2, X10).

The reference dispatches requests idle-first/round-robin across workers
(``src/cpu_worker_pool.cpp:43-56``) and rejects oversized requests at the
1 MB pipe buffer (``src/ocr_ipc_service.cpp:222-239``). At 100 TB the
equivalent is **url-hash + salt partitioning**: ``xxhash64(url)`` spreads
pages uniformly; the explicit salt term keeps the layout uniform even when a
single mega-host dominates the crawl *and* someone partitions or buckets by
host upstream (north-rule requirement). Salt = ``xxhash64(url, SALT_SEED) %
SALT_BUCKETS`` so it is deterministic, not random — retries produce the same
layout (required for resume idempotence).

Big pages get no partitions of their own: confining them to range
partitions serialized them (BENCH/BASELINE.md finding 2). ``operators.extract``
instead bounds the bytes of each Arrow batch inside the UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import SALT_BUCKETS

SALT_SEED = 0x5A17


def salted_url_partitioning(df: DataFrame, num_partitions: int) -> DataFrame:
    """Repartition by (host-hash, salt): uniform layout under host skew."""
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    salt = F.pmod(F.xxhash64(F.col("url"), F.lit(SALT_SEED)), F.lit(SALT_BUCKETS))
    return df.repartition(num_partitions, F.xxhash64(host), salt)
