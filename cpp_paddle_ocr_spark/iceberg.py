"""Iceberg table IO (north_rule input_hint: "Iceberg table of Common-Crawl-style
web pages").

The engine's source/sink layer targets Iceberg when the runtime is on the
classpath and degrades to plain parquet paths otherwise, keeping every
operator format-agnostic. This sandbox ships no Iceberg jar and has no
network, so the exact production configuration is recorded here verbatim and
a capability probe selects the path at runtime; the round-trip test is
skip-marked when the jar is absent (tests/test_iceberg.py).

Production bring-up (spark-submit):

    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0 \
      --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions \
      --conf spark.sql.catalog.crawl=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.crawl.type=hadoop \
      --conf spark.sql.catalog.crawl.warehouse=<warehouse-uri> \
      --py-files engine.zip jobs/extract_job.py ...

(For a REST / Glue / Hive catalog swap ``type=hadoop`` for the matching
catalog impl; everything below is catalog-agnostic through the table
identifier.)

Why Iceberg at 100 TB (and what this module uses of it):

* **partition pruning** — the documents table is partitioned by
  ``bucket(N, url)``; the resume path's per-bucket filter then prunes data
  files instead of re-scanning the table (see ``lineage.py``'s single-scan
  note — with Iceberg, per-GROUP scans become cheap again because they read
  only the group's buckets);
* **snapshot isolation / time travel** — each commit group lands as one
  Iceberg snapshot; a resume can diff against ``VERSION AS OF`` instead of a
  side lineage table;
* **atomic overwrite** — ``overwritePartitions`` replaces a bucket's data
  files in one metadata swap (the analog of the parquet fallback's
  per-bucket delete-then-rename publish).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .config import LINEAGE_BUCKETS

#: Catalog name used by every table identifier this engine emits.
CATALOG = "crawl"

#: Maven coordinate of the runtime this module is written against (Spark 4.x,
#: Scala 2.13) — shipped via ``spark-submit --packages`` in production.
ICEBERG_RUNTIME_PACKAGE = "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0"


def iceberg_conf(warehouse: str) -> dict[str, str]:
    """The exact session conf enabling the Iceberg catalog (see module doc)."""
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{CATALOG}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{CATALOG}.type": "hadoop",
        f"spark.sql.catalog.{CATALOG}.warehouse": warehouse,
    }


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on this session's classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def _is_table_ident(spark: SparkSession, target: str) -> bool:
    """Table identifiers are catalog-qualified dotted names
    (``crawl.db.table``), never paths. A name routes to the table path only
    when it is slash-free, has a dot, and its first part names a catalog
    configured on ``spark`` (``spark.sql.catalog.<first>``): a relative
    directory like ``"results"``, ``"results.v2"`` or ``"docs.v2.parquet"``
    stays on the parquet path instead of being silently routed to
    ``spark.read.table``/``saveAsTable``."""
    if "/" in target or "\\" in target or "." not in target:
        return False
    catalog = target.split(".", 1)[0]
    return spark.conf.get(f"spark.sql.catalog.{catalog}", None) is not None


def write_documents(
    df: DataFrame, target: str, n_buckets: int = LINEAGE_BUCKETS
) -> None:
    """Write a documents table: Iceberg (partitioned by ``bucket(n, url)``
    so per-bucket reads prune files) when ``target`` is a table identifier,
    parquet when it is a path."""
    if _is_table_ident(df.sparkSession, target):
        from pyspark.sql import functions as F

        df.writeTo(target).partitionedBy(
            F.bucket(n_buckets, F.col("url"))
        ).createOrReplace()
    else:
        df.write.mode("overwrite").parquet(target)


def overwrite_result_partitions(
    df: DataFrame, target: str, partition_col: str = "bucket"
) -> None:
    """Sink for extraction output: ``overwritePartitions`` (atomic metadata
    swap per bucket — idempotent retries) on Iceberg, dynamic partition
    overwrite on the parquet fallback.

    The Iceberg table is CREATED on first write, partitioned by
    ``partition_col`` — ``overwritePartitions`` against a missing table
    fails (TABLE_OR_VIEW_NOT_FOUND), and against an *unpartitioned* table it
    would replace the whole table, clobbering prior commit groups (round-2
    ADVICE). Creating it partitioned here makes every later group's
    overwrite scoped to its own partitions."""
    if _is_table_ident(df.sparkSession, target):
        from pyspark.sql import functions as F

        if not df.sparkSession.catalog.tableExists(target):
            df.writeTo(target).partitionedBy(F.col(partition_col)).create()
        else:
            df.writeTo(target).overwritePartitions()
    else:
        # per-WRITE dynamic overwrite — a session-wide conf flip would
        # silently change overwrite semantics for unrelated writes
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(target)
        )


def snapshots(spark: SparkSession, table: str) -> DataFrame:
    """The table's snapshot log (metadata table) — the Iceberg-native
    resume/audit surface: one snapshot per committed group."""
    return spark.read.table(f"{table}.snapshots")
