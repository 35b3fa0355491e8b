"""SQL-expressible analogs of the cascade's set/ordering/metrics operators,
exercised over the driver's generic tables so they are DuckDB-checkable
(FIXTURES.md: "SQL-expressible operators from SURVEY.md §2.6 ... get SQL
oracles").

Mapping (SURVEY.md §2.6 / §2.8):
* O1 ``sort_boxes`` reading order   → ``doc_order_sort`` (row_number by ts)
* O2 ``iou``                        → ``overlap_iou`` (interval IoU of
                                      consecutive events, exact µs ints)
* O3 ``nms``                        → ``window_dedup`` (best-per-key window)
* O5 contour cap (top-K)            → ``topk_per_group``
* D5/D11 threshold filters          → ``threshold_filter``
* P7 status aggregation             → ``status_agg``
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .common import load


def status_agg(df: DataFrame) -> DataFrame:
    """P7: the service-stats aggregation (counts + exact avg)."""
    return (
        df.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.sum("n_chars") / F.count("*"), 6).alias("avg_chars"),
        )
    )


STATUS_SQL = """
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(sum(n_chars) / count(*), 6) AS avg_chars
FROM documents GROUP BY lang, source
"""


def threshold_filter(df: DataFrame) -> DataFrame:
    """D5/D11: score-threshold filtering (n_chars as the 'score')."""
    return (
        df.filter((F.col("n_chars") >= 200) & (F.col("lang") == "en"))
        .groupBy("source")
        .agg(F.count("*").alias("n_pass"), F.min("doc_id").alias("first_doc"))
    )


THRESHOLD_SQL = """
SELECT source, count(*) AS n_pass, min(doc_id) AS first_doc
FROM documents WHERE n_chars >= 200 AND lang = 'en'
GROUP BY source
"""


#: rows kept per source by ``topk_per_group`` and its oracle ``TOPK_SQL``
TOPK_PER_GROUP = 5


def topk_per_group(df: DataFrame) -> DataFrame:
    """O5: per-group top-K cap (deterministic tie-break on doc_id)."""
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        df.select("source", "doc_id", "n_chars", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= TOPK_PER_GROUP)
    )


TOPK_SQL = f"""
SELECT source, doc_id, n_chars, rn FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents
) WHERE rn <= {TOPK_PER_GROUP}
"""


def window_dedup(df: DataFrame) -> DataFrame:
    """O3 as a window: keep the best-scored row per (lang, source) bucket —
    the shuffle-based form of suppression-dedup."""
    w = Window.partitionBy("lang", "source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        df.select("lang", "source", "doc_id", "n_chars",
                  F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


WINDOW_DEDUP_SQL = """
SELECT lang, source, doc_id, n_chars FROM (
  SELECT lang, source, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang, source
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents
) WHERE rn = 1
"""


def overlap_iou(df: DataFrame) -> DataFrame:
    """O2: 1-D interval IoU between consecutive events of a user.

    Interval = [ts, ts + value seconds], computed in exact integer
    microseconds on both engines (``unix_micros`` / ``epoch_us``).
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    # session-timezone-independent epoch micros for TIMESTAMP_NTZ: computed
    # from date/time components, identical to DuckDB epoch_us on naive ts
    t0 = F.expr(
        "cast(unix_date(cast(ts as date)) as bigint) * 86400000000"
        " + cast(hour(ts) * 3600 + minute(ts) * 60 as bigint) * 1000000"
        " + cast(date_part('second', ts) * 1000000 as bigint)"
    )
    # explicit floor: DuckDB CAST(double AS BIGINT) rounds-to-nearest while
    # Spark truncates — floor() first makes both exact and identical
    t1 = t0 + F.floor(F.col("value") * 1_000_000).cast("long")
    p0 = F.lag(t0).over(w)
    p1 = F.lag(t1).over(w)
    inter = F.greatest(
        F.lit(0).cast("long"), F.least(t1, p1) - F.greatest(t0, p0)
    )
    union = (t1 - t0) + (p1 - p0) - inter
    return (
        df.select(
            "user_id",
            "event_id",
            p0.alias("_p0"),
            F.when(union > 0, F.round(inter / union, 6))
            .otherwise(F.lit(0.0))
            .alias("iou_prev"),
        )
        .filter(F.col("_p0").isNotNull())
        .drop("_p0")
    )


OVERLAP_SQL = """
WITH iv AS (
  SELECT user_id, event_id,
         epoch_us(ts) AS t0,
         epoch_us(ts) + CAST(floor(value * 1000000) AS BIGINT) AS t1,
         lag(epoch_us(ts)) OVER w AS p0,
         lag(epoch_us(ts) + CAST(floor(value * 1000000) AS BIGINT)) OVER w AS p1
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
)
SELECT user_id, event_id,
       CASE WHEN (t1 - t0) + (p1 - p0)
                 - greatest(0, least(t1, p1) - greatest(t0, p0)) > 0
            THEN round(greatest(0, least(t1, p1) - greatest(t0, p0))
                 / ((t1 - t0) + (p1 - p0)
                    - greatest(0, least(t1, p1) - greatest(t0, p0))), 6)
            ELSE 0.0 END AS iou_prev
FROM iv WHERE p0 IS NOT NULL
"""


def doc_order_sort(df: DataFrame) -> DataFrame:
    """O1: deterministic reading-order sort with total tie-break."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return df.select(
        "user_id", "event_id", F.row_number().over(w).alias("seq")
    )


DOC_ORDER_SQL = """
SELECT user_id, event_id,
       row_number() OVER (PARTITION BY user_id
                          ORDER BY ts ASC, event_id ASC) AS seq
FROM events
"""


def revisit_latest(df: DataFrame) -> DataFrame:
    """Crawl-revisit snapshot resolution over the fetch log: one row per
    URL with its LATEST snapshot plus revisit/change accounting —
    ``(url_key, last_event_id, last_ts_us, last_fp, n_fetches,
    n_changes)``. ``n_changes`` counts refetches whose content fingerprint
    differs from the previous fetch (lag over fetch order), the signal a
    recrawl scheduler reads (static page → crawl less; churning page →
    crawl more).

    The events table is the fetch log: url = ``user_id:event_type`` (the
    synthetic key — the driver tables carry no URL column), fetch time =
    ``ts`` (exact integer µs, the ``overlap_iou`` component-epoch
    discipline), content fingerprint = ``md5(props)``. Total order inside
    a URL is (ts, event_id) so ties resolve identically in both engines.

    Scale shape (100 TB): ONE shuffle on url_key; the lag and the
    latest-row rank share that partitioning (Spark re-sorts per window
    direction but never re-shuffles). Per-key work is the URL's fetch
    history (revisit counts are small by construction of a crawl cycle);
    a pathological hot key degrades to one task's sort — the salted
    two-stage discipline of ``governance.domain_cap`` applies if a real
    log ever has one."""
    ts_us = F.expr(
        "cast(unix_date(cast(ts as date)) as bigint) * 86400000000"
        " + cast(hour(ts) * 3600 + minute(ts) * 60 as bigint) * 1000000"
        " + cast(date_part('second', ts) * 1000000 as bigint)"
    )
    base = df.select(
        F.concat_ws(
            ":", F.col("user_id").cast("string"), F.col("event_type")
        ).alias("url_key"),
        "event_id",
        ts_us.alias("ts_us"),
        F.md5(F.col("props")).alias("fp"),
    )
    w_asc = Window.partitionBy("url_key").orderBy(
        F.col("ts_us").asc(), F.col("event_id").asc()
    )
    w_desc = Window.partitionBy("url_key").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    w_key = Window.partitionBy("url_key")
    marked = base.withColumn("prev_fp", F.lag("fp").over(w_asc)).withColumn(
        "changed",
        F.when(F.col("prev_fp").isNull(), F.lit(0))
        .when(F.col("fp") != F.col("prev_fp"), F.lit(1))
        .otherwise(F.lit(0)),
    )
    return (
        marked.select(
            "url_key",
            F.col("event_id").alias("last_event_id"),
            F.col("ts_us").alias("last_ts_us"),
            F.col("fp").alias("last_fp"),
            F.count("*").over(w_key).alias("n_fetches"),
            F.sum("changed").over(w_key).cast("long").alias("n_changes"),
            F.row_number().over(w_desc).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


REVISIT_SQL = """
WITH base AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS url_key,
         event_id,
         epoch_us(ts) AS ts_us,
         md5(props) AS fp
  FROM events
),
marked AS (
  SELECT url_key, event_id, ts_us, fp,
         CASE WHEN lag(fp) OVER w IS NULL THEN 0
              WHEN fp <> lag(fp) OVER w THEN 1 ELSE 0 END AS changed
  FROM base
  WINDOW w AS (PARTITION BY url_key ORDER BY ts_us ASC, event_id ASC)
)
SELECT url_key, last_event_id, last_ts_us, last_fp, n_fetches, n_changes
FROM (
  SELECT url_key,
         event_id AS last_event_id,
         ts_us AS last_ts_us,
         fp AS last_fp,
         count(*) OVER (PARTITION BY url_key) AS n_fetches,
         CAST(sum(changed) OVER (PARTITION BY url_key) AS BIGINT)
           AS n_changes,
         row_number() OVER (PARTITION BY url_key
                            ORDER BY ts_us DESC, event_id DESC) AS rn
  FROM marked
) WHERE rn = 1
"""


def broadcast_join_agg(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Dimension-join + aggregation with explicit broadcast of the small
    sides (the general engine competence the extraction pipeline rests on:
    at 10^12 rows the fact table never shuffles for a dimension join).

    Revenue by nation and order status; all money sums are exact-integer
    cents so the doubles round identically across engines.
    """
    # floor(x+0.5): explicit round-half-up — Spark's double→long cast
    # truncates while DuckDB's rounds, so neither bare cast is portable
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    return (
        orders.withColumn("cents", cents)
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("cents") / 100.0, 2).alias("revenue"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
    )


BROADCAST_JOIN_SQL = """
SELECT n.n_name, o.o_orderstatus,
       count(*) AS n_orders,
       round(CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             / 100.0, 2) AS revenue,
       count(DISTINCT o.o_custkey) AS n_customers
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name, o.o_orderstatus
"""


def q_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return broadcast_join_agg(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "nation"),
    )


def q_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return status_agg(load(spark, sf_dir, "documents"))


def q_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    return threshold_filter(load(spark, sf_dir, "documents"))


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topk_per_group(load(spark, sf_dir, "documents"))


def q_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return window_dedup(load(spark, sf_dir, "documents"))


def q_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return overlap_iou(load(spark, sf_dir, "events"))


def q_doc_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_order_sort(load(spark, sf_dir, "events"))


def q_revisit_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return revisit_latest(load(spark, sf_dir, "events"))


QUERIES = {
    "broadcast_join_agg": q_broadcast_join,
    "status_agg": q_status,
    "threshold_filter": q_threshold,
    "topk_per_group": q_topk,
    "window_dedup": q_window_dedup,
    "overlap_iou": q_overlap,
    "doc_order_sort": q_doc_order,
    "revisit_latest": q_revisit_latest,
}

ORACLES = {
    "broadcast_join_agg": BROADCAST_JOIN_SQL,
    "status_agg": STATUS_SQL,
    "threshold_filter": THRESHOLD_SQL,
    "topk_per_group": TOPK_SQL,
    "window_dedup": WINDOW_DEDUP_SQL,
    "overlap_iou": OVERLAP_SQL,
    "doc_order_sort": DOC_ORDER_SQL,
    "revisit_latest": REVISIT_SQL,
}
