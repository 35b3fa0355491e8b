"""Corpus-governance operators: the budget/safety layer of a training-data
pipeline. Per-domain statistics and capping (FineWeb/Dolma-style domain
budgets), eval-set decontamination (GPT-3-style n-gram overlap against a
held-out benchmark split), deterministic training-sequence packing, and PII
scan/redaction — each over the ``documents`` table, each with a full DuckDB
value oracle.

These transplant the reference's *cap-and-bound* discipline to corpus scope:
the per-page candidate cap (``src/postprocess_op.cpp:260``, max 1000) becomes
a per-domain document cap; the fixed batch-size packing of the rec stage
(``src/ocr_worker.cpp:60``, ``rec_batch_num=16``) becomes fixed-token-budget
sequence packing; the skew-aware dispatch of the worker pool
(``src/cpu_worker_pool.cpp:43-56``) becomes the salted two-stage top-N that
keeps a mega-domain from serializing into one partition's sort.

Scale shapes (100 TB):
* ``domain_stats`` — one hash aggregation keyed by domain; map-side partial
  combine carries one row per (partition, domain).
* ``domain_cap`` — two-stage salted top-N: stage 1 ranks within
  (domain, salt) so the biggest domain splits across ``n_salts`` spillable
  sort partitions and forwards at most ``cap`` rows per salt; stage 2 ranks
  the ≤ cap·n_salts survivors per domain. A single global window over a
  skewed domain column would sort the whole crawl's largest host in one
  task — the two-stage form bounds that sort to cap·n_salts rows.
* ``decontaminate`` — the eval split is a small hash-bucket of the corpus;
  its distinct shingle set is broadcast, so the training side never
  shuffles: scan → explode → broadcast-hash left join → per-doc hash agg.
* ``pack_chunks`` — cumulative-sum binning inside hash buckets: the only
  shuffle is the bucket repartition; each bucket's running total is an
  independent window, so parallelism = PACK_BUCKETS regardless of corpus size
  and the assignment is deterministic under any input partitioning.
* ``pii_scan_redact`` — pure per-row JVM regex projection; scan-bound.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from .common import h28, h28_sql, h60, h60_sql, load, tokens, tokens_sql
from .text_analysis import chunk_documents

# --- per-domain statistics ---------------------------------------------------

DOMAIN_CAP = 15
CAP_SALTS = 8


def domain_stats(df: DataFrame) -> DataFrame:
    """Per-domain corpus accounting: document count, total/mean chars,
    distinct languages — the inputs a domain-budget policy reads."""
    return df.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(F.avg("n_chars"), 6).alias("mean_chars"),
    )


DOMAIN_STATS_SQL = """
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       count(DISTINCT lang) AS n_langs,
       round(avg(n_chars), 6) AS mean_chars
FROM documents
GROUP BY source
"""


def domain_cap(
    df: DataFrame, cap: int = DOMAIN_CAP, n_salts: int = CAP_SALTS
) -> DataFrame:
    """Keep at most ``cap`` documents per domain, preferring longer
    documents (``n_chars`` desc, ``doc_id`` asc tie-break) — the domain
    budget that stops one mega-host from dominating the corpus mix.

    Two-stage salted top-N: the global top-``cap`` of a domain is a subset
    of the union of per-salt top-``cap``s (each global winner lands in
    exactly one salt and at most ``cap − 1`` same-domain rows can outrank
    it there), so stage 2 sees ≤ cap·n_salts rows per domain no matter how
    skewed the crawl is. Output rank is the exact global rank.
    """
    salt = F.pmod(h28(F.col("doc_id").cast("string")), F.lit(n_salts))
    order = [F.col("n_chars").desc(), F.col("doc_id").asc()]
    w1 = Window.partitionBy(F.col("source"), salt).orderBy(*order)
    w2 = Window.partitionBy("source").orderBy(*order)
    local = df.select("doc_id", "source", "n_chars").withColumn(
        "local_rank", F.row_number().over(w1)
    )
    return (
        local.filter(F.col("local_rank") <= cap)
        .withColumn("domain_rank", F.row_number().over(w2))
        .filter(F.col("domain_rank") <= cap)
        .select("doc_id", "source", "n_chars", "domain_rank")
    )


DOMAIN_CAP_SQL = f"""
SELECT doc_id, source, n_chars,
       CAST(row_number() OVER (PARTITION BY source
                               ORDER BY n_chars DESC, doc_id ASC) AS INT)
         AS domain_rank
FROM documents
QUALIFY domain_rank <= {DOMAIN_CAP}
"""


# --- eval-set decontamination ------------------------------------------------

#: Shingle length in tokens. Production pipelines use 13-grams (GPT-3); 3
#: keeps the fixture corpus's overlap statistics non-degenerate. For 13-grams
#: change this constant: ``decontaminate`` and its oracle
#: ``DECONTAMINATE_SQL`` both read it.
SHINGLE = 3
EVAL_PCT = 5  # held-out benchmark split = md5 bucket of doc_id, like
#               hash_sample — stable across engines and partitionings


def _shingle_expr() -> str:
    """Token ``SHINGLE``-grams as a SQL expression over array column ``t``.

    Same tail discipline as the repetition grams (CLAUDE.md #11):
    ``sequence(1, 0)`` counts DOWN in Spark, so the range is guarded with
    ``greatest(..., 1)`` and partial tail grams are dropped by the
    NULL-filter (``try_element_at`` past the end → ``concat`` → NULL).
    """
    parts = ", ' ', ".join(
        f"try_element_at(t, i + {j})" for j in range(SHINGLE)
    )
    return (
        f"filter(transform(sequence(1, greatest(size(t) - {SHINGLE - 1}, 1)),"
        f" i -> concat({parts})), s -> s is not null)"
    )


def _eval_bucket(col: Column) -> Column:
    return F.pmod(h60(col.cast("string")), F.lit(100))


def _shingled(df: DataFrame) -> DataFrame:
    # per-doc dedup happens in the projection (array_distinct over the
    # shingle array), NOT as a DataFrame .distinct(): the distinct-shingle
    # set of a document is a per-row computation, and the old
    # (doc_id, shingle) distinct was a full exchange+hash-agg of every
    # shingle string in the corpus — twice, once per branch of the
    # self-split form (guide §2.4: remove shuffles outright). Identical
    # output: doc_id is constant within a row's explode, so per-array
    # dedup IS pair dedup.
    return (
        df.filter(F.col("text").isNotNull())
        .select("doc_id", tokens(F.col("text")).alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.expr(f"array_distinct({_shingle_expr()})")
            ).alias("shingle"),
        )
    )


def decontaminate(df: DataFrame, eval_df: DataFrame | None = None) -> DataFrame:
    """Flag training documents that share any token ``SHINGLE``-gram with
    the held-out eval set: per contaminated doc, its distinct-shingle
    count, the number of shingles also present in the eval set, and the
    hit fraction.

    The eval side's distinct shingles are the small side and are
    broadcast; the training side is scan → explode → distinct → map-side
    broadcast join → per-doc agg, so the big side's only shuffle keys are
    the 8-byte ``doc_id`` (and the per-shingle distinct, whose keys are
    per-doc-bounded).

    Two eval sources: the production form passes ``eval_df`` — the actual
    benchmark table, typically a few thousand rows — and the big side is
    scanned ONCE. Without it, the eval set is the md5 ``doc_id`` bucket
    under ``EVAL_PCT`` of ``df`` itself (a deterministic self-split, the
    driver-oracle form); that form scans the corpus twice, because
    Catalyst has no cross-branch subplan reuse (finding 15 /
    CLAUDE.md #13) and the bucket predicate is an expression parquet
    can't prune — acceptable for the demo split, not the 100 TB path.
    """
    if eval_df is not None:
        eval_shingles = (
            _shingled(eval_df)
            .select("shingle")
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        train = _shingled(df)
        return _contamination_agg(train, eval_shingles)
    shingled = _shingled(df)
    bucket = _eval_bucket(F.col("doc_id"))
    eval_shingles = (
        shingled.filter(bucket < EVAL_PCT)
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = shingled.filter(bucket >= EVAL_PCT)
    return _contamination_agg(train, eval_shingles)


def _contamination_agg(train: DataFrame, eval_shingles: DataFrame) -> DataFrame:
    return (
        train.join(F.broadcast(eval_shingles), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("hit").alias("n_hits"),
        )
        .filter(F.col("n_hits") > 0)
        .select(
            "doc_id",
            "n_shingles",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_shingles"), 6).alias("hit_frac"),
        )
    )


_GRAM = " || ' ' || ".join(f"t[i + {j}]" for j in range(SHINGLE))

DECONTAMINATE_SQL = f"""
WITH toks AS (
  SELECT doc_id, {tokens_sql('text')} AS t FROM documents
  WHERE text IS NOT NULL
),
sh AS (
  SELECT DISTINCT doc_id, {_GRAM} AS shingle
  FROM toks, unnest(generate_series(1, len(t) - {SHINGLE - 1})) g(i)
),
ev AS (
  SELECT DISTINCT shingle FROM sh
  WHERE {h60_sql('CAST(doc_id AS VARCHAR)')} % 100 < {EVAL_PCT}
),
tr AS (
  SELECT * FROM sh
  WHERE {h60_sql('CAST(doc_id AS VARCHAR)')} % 100 >= {EVAL_PCT}
)
SELECT tr.doc_id,
       count(*) AS n_shingles,
       count(ev.shingle) AS n_hits,
       round(count(ev.shingle) / count(*), 6) AS hit_frac
FROM tr LEFT JOIN ev ON tr.shingle = ev.shingle
GROUP BY tr.doc_id
HAVING count(ev.shingle) > 0
"""


# --- training-sequence packing -----------------------------------------------

PACK_CHUNK_TOKENS = 32
PACK_BUDGET = 48
PACK_BUCKETS = 16


def pack_chunks(
    df: DataFrame,
    chunk_tokens: int = PACK_CHUNK_TOKENS,
    budget: int = PACK_BUDGET,
) -> DataFrame:
    """Assign non-overlapping token chunks to fixed-budget training
    sequences — the concat-and-cut packing step before a training run.

    Chunks are ordered deterministically within md5 hash buckets of
    ``doc_id``; a running token total (window cumsum, ROWS frame) places
    each chunk at ``tok_offset`` inside sequence ``seq_id =
    floor(cum_before / budget)`` of its bucket. A chunk straddling a budget
    boundary belongs to the sequence where it starts (standard
    concatenated-LM packing: the cut is a training-time slice, the
    assignment is where the chunk begins). Buckets make the global-order
    cumsum parallel: each bucket's window is independent, so the plan is
    one hash repartition + per-bucket sort, with parallelism ``PACK_BUCKETS``
    at any corpus size — and the assignment is partitioning-independent,
    so re-running on a differently-laid-out table packs identically.
    """
    ch = chunk_documents(df, chunk_tokens=chunk_tokens, overlap=0).select(
        "doc_id", "chunk_idx", "n_chunk_tokens"
    )
    ch = ch.withColumn(
        "bucket", F.pmod(h28(F.col("doc_id").cast("string")), F.lit(PACK_BUCKETS))
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_chunk_tokens").over(w), F.lit(0)).cast("long")
    seq_id = F.floor(cum / budget)
    return ch.select(
        "bucket",
        seq_id.alias("seq_id"),
        "doc_id",
        "chunk_idx",
        "n_chunk_tokens",
        (cum - seq_id * budget).alias("tok_offset"),
    )


PACK_SQL = f"""
WITH toks AS (
  SELECT doc_id, {tokens_sql('text')} AS t FROM documents
  WHERE text IS NOT NULL
),
chunks AS (
  SELECT doc_id, CAST(g.i AS INT) AS chunk_idx,
         len(t[g.i * {PACK_CHUNK_TOKENS} + 1
               : g.i * {PACK_CHUNK_TOKENS} + {PACK_CHUNK_TOKENS}])
           AS n_chunk_tokens
  FROM toks,
       unnest(generate_series(0,
         greatest(CAST(ceil(len(t) / {PACK_CHUNK_TOKENS}.0) AS INT) - 1, 0)))
         g(i)
),
b AS (
  SELECT *, {h28_sql('CAST(doc_id AS VARCHAR)')} % {PACK_BUCKETS} AS bucket
  FROM chunks
),
c AS (
  SELECT *,
         CAST(coalesce(sum(n_chunk_tokens) OVER (
           PARTITION BY bucket ORDER BY doc_id, chunk_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum
  FROM b
)
SELECT bucket,
       CAST(floor(cum / {PACK_BUDGET}.0) AS BIGINT) AS seq_id,
       doc_id, chunk_idx, n_chunk_tokens,
       cum - CAST(floor(cum / {PACK_BUDGET}.0) AS BIGINT) * {PACK_BUDGET}
         AS tok_offset
FROM c
"""


# --- PII scan / redaction ----------------------------------------------------
#
# Group-free patterns in the Java-regex ∩ RE2 common subset (no backrefs,
# no lookaround) so Spark and DuckDB match identically.

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+\d{1,2} \d{3}-\d{3}-\d{4}"


def pii_scan_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII accounting and redaction over ``text_col``: match
    counts for email / IPv4 / phone patterns, plus the text with each
    match class replaced by its placeholder token (emails first — an
    address can embed digit runs, never vice versa). Pure JVM regex
    projection: scan-bound at any scale, no Python, no shuffle."""
    c = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>"
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return df.select(
        "doc_id",
        F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(c, F.lit(IPV4_RE), 0)).alias("n_ips"),
        F.size(F.regexp_extract_all(c, F.lit(PHONE_RE), 0)).alias("n_phones"),
        redacted.alias("redacted"),
    )


def _pii_aug() -> Column:
    """Deterministic PII augmentation for the driver entry: the synthetic
    corpus contains no digits (TESTDATA is digit-free by construction), so
    the oracle plants one email, IP, and phone per row — derived from
    ``doc_id`` identically in both engines — to exercise the match and
    redaction semantics for real rather than vacuously."""
    d = F.col("doc_id")
    return F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" contact user"),
        d.cast("string"),
        F.lit("@mail.example.com from 10.0."),
        (d % 256).cast("string"),
        F.lit(".7 call +1 555-010-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
    )


_PII_AUG_SQL = (
    "coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.7 call +1 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)

PII_REDACT_SQL = f"""
WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS a FROM documents)
SELECT doc_id,
       len(regexp_extract_all(a, '{EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(a, '{IPV4_RE}')) AS n_ips,
       len(regexp_extract_all(a, '{PHONE_RE}')) AS n_phones,
       regexp_replace(regexp_replace(regexp_replace(a,
         '{EMAIL_RE}', '<EMAIL>', 'g'),
         '{IPV4_RE}', '<IP>', 'g'),
         '{PHONE_RE}', '<PHONE>', 'g') AS redacted
FROM aug
"""


# --- URL canonicalization ----------------------------------------------------
#
# The crawl-identity primitive upstream of every URL-keyed operator
# (`revisit_latest`, domain budgets, frontier dedup): the same page is
# fetched as HTTP://WWW.Host:80/a/?utm_source=x#frag and as
# http://host/a?... — one canonical form or every URL-keyed count is split
# across spellings.

#: query parameters that identify a CAMPAIGN, not a resource
TRACKING_PARAM_RE = r"^(utm_[^=]*|gclid|fbclid)(=|$)"


def canonical_url_col(url) -> Column:
    """Canonical form of an absolute URL as a pure JVM expression:
    lower-cased scheme/host, userinfo and fragment stripped, ``www.``
    prefix and scheme-default ports (http:80, https:443) removed,
    trailing path slashes collapsed to ``/`` (empty path → ``/``),
    tracking query params (``utm_*``, ``gclid``, ``fbclid``) dropped and
    the survivors byte-order sorted. NULL for NULL input or a string
    without a ``scheme://`` prefix (not an absolute URL — garbage is
    surfaced as NULL, never half-canonicalized).

    Scope: syntactic normalization only — percent-encoding is left as-is
    (decoding can change which bytes are reserved) and bracketed IPv6
    hosts are out of scope (the ``:port`` split assumes a colon-free
    hostname, which holds for DNS names and IPv4).

    Scale shape: stateless per-row regex/array expressions — scan-bound,
    no shuffle, whole-stage-codegen eligible like ``pii_scan_redact``."""
    u = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    rest = F.regexp_replace(rest, r"#.*$", "")
    auth = F.lower(F.regexp_extract(rest, r"^([^/?]*)", 1))
    pathq = F.regexp_replace(rest, r"^[^/?]*", "")
    path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)
    hostport = F.regexp_replace(auth, r"^.*@", "")
    host = F.regexp_replace(
        F.regexp_replace(hostport, r":[0-9]+$", ""), r"^www\.", ""
    )
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    port_part = F.when(
        (port == F.lit(""))
        | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_replace(path, r"/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    qjoined = F.array_join(F.array_sort(kept), "&")
    qpart = F.when(qjoined == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), qjoined)
    )
    return F.when(
        u.isNull() | (scheme == ""), F.lit(None).cast("string")
    ).otherwise(F.concat(scheme, F.lit("://"), host, port_part, path, qpart))


def url_canonicalize(df: DataFrame) -> DataFrame:
    """Attach ``canonical_url`` of column ``url`` to every row (see
    ``canonical_url_col``)."""
    return df.withColumn("canonical_url", canonical_url_col("url"))


def _canon_sql(u: str) -> str:
    """The same canonicalization as DuckDB SQL over expression ``u``."""
    scheme = f"lower(regexp_extract({u}, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1))"
    rest = (
        f"regexp_replace(regexp_replace({u}, "
        f"'^[A-Za-z][A-Za-z0-9+.\\-]*://', ''), '#.*$', '')"
    )
    auth = f"lower(regexp_extract({rest}, '^([^/?]*)', 1))"
    pathq = f"regexp_replace({rest}, '^[^/?]*', '')"
    path = f"regexp_extract({pathq}, '^([^?]*)', 1)"
    query = f"regexp_extract({pathq}, '\\?(.*)$', 1)"
    hostport = f"regexp_replace({auth}, '^.*@', '')"
    host = (
        f"regexp_replace(regexp_replace({hostport}, ':[0-9]+$', ''), "
        f"'^www\\.', '')"
    )
    port = f"regexp_extract({hostport}, ':([0-9]+)$', 1)"
    port_part = (
        f"CASE WHEN {port} = '' OR ({scheme} = 'http' AND {port} = '80') "
        f"OR ({scheme} = 'https' AND {port} = '443') THEN '' "
        f"ELSE ':' || {port} END"
    )
    spath = f"regexp_replace({path}, '/+$', '')"
    npath = f"CASE WHEN {spath} = '' THEN '/' ELSE {spath} END"
    kept = (
        f"list_filter(string_split({query}, '&'), "
        f"p -> p <> '' AND NOT regexp_matches(p, '{TRACKING_PARAM_RE}'))"
    )
    # array_to_string([]) is NULL in DuckDB but '' in Spark's array_join
    qjoined = f"coalesce(array_to_string(list_sort({kept}), '&'), '')"
    qpart = f"CASE WHEN {qjoined} = '' THEN '' ELSE '?' || {qjoined} END"
    return (
        f"CASE WHEN {u} IS NULL OR {scheme} = '' THEN NULL "
        f"ELSE {scheme} || '://' || {host} || {port_part} || {npath} || {qpart} "
        f"END"
    )


def _messy_url_col() -> Column:
    """Deterministic messy-URL synthesis from doc_id (the driver tables
    carry no URL column — same disclosed convention as
    ``relational.revisit_latest``): varies scheme case, www prefix, host
    case, default/explicit/non-default ports, trailing slash, tracking +
    unordered query params, and fragments, so the driver query exercises
    every canonicalization rule."""
    d = F.col("doc_id")
    num = lambda m: F.pmod(d, F.lit(m)).cast("string")  # noqa: E731
    return F.concat(
        F.when(F.pmod(d, F.lit(3)) == 0, F.lit("HTTP"))
        .when(F.pmod(d, F.lit(3)) == 1, F.lit("https"))
        .otherwise(F.lit("http")),
        F.lit("://"),
        F.when(F.pmod(d, F.lit(2)) == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Site-"),
        num(50),
        F.lit(".Example.COM"),
        F.when(F.pmod(d, F.lit(4)) == 0, F.lit(":80"))
        .when(F.pmod(d, F.lit(4)) == 1, F.lit(":443"))
        .when(F.pmod(d, F.lit(4)) == 2, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.lit("/path/"),
        num(100),
        F.when(F.pmod(d, F.lit(5)) == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.pmod(d, F.lit(2)) == 0,
            F.concat(F.lit("?utm_source=feed&b=2&a="), num(7)),
        ).otherwise(F.lit("")),
        F.when(F.pmod(d, F.lit(6)) == 0, F.lit("#frag")).otherwise(F.lit("")),
    )


_MESSY_URL_SQL = """
CASE WHEN doc_id % 3 = 0 THEN 'HTTP' WHEN doc_id % 3 = 1 THEN 'https'
     ELSE 'http' END
|| '://'
|| CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
|| 'Site-' || CAST(doc_id % 50 AS VARCHAR) || '.Example.COM'
|| CASE WHEN doc_id % 4 = 0 THEN ':80' WHEN doc_id % 4 = 1 THEN ':443'
        WHEN doc_id % 4 = 2 THEN ':8080' ELSE '' END
|| '/path/' || CAST(doc_id % 100 AS VARCHAR)
|| CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
|| CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a='
             || CAST(doc_id % 7 AS VARCHAR) ELSE '' END
|| CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END
"""

URL_CANONICAL_SQL = f"""
WITH urls AS (
  SELECT doc_id, ({_MESSY_URL_SQL}) AS url FROM documents
)
SELECT doc_id, url, {_canon_sql('url')} AS canonical_url FROM urls
"""


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", _messy_url_col().alias("url")
    )
    return url_canonicalize(docs).select("doc_id", "url", "canonical_url")


# --- driver wiring -----------------------------------------------------------


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return domain_stats(load(spark, sf_dir, "documents"))


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return domain_cap(load(spark, sf_dir, "documents"))


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decontaminate(load(spark, sf_dir, "documents"))


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_chunks(load(spark, sf_dir, "documents"))


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return pii_scan_redact(docs.withColumn("pii_text", _pii_aug()), "pii_text")


ORACLES = {
    "domain_stats": DOMAIN_STATS_SQL,
    "domain_cap": DOMAIN_CAP_SQL,
    "decontaminate": DECONTAMINATE_SQL,
    "pack_chunks": PACK_SQL,
    "pii_redact": PII_REDACT_SQL,
    "url_canonical": URL_CANONICAL_SQL,
}

QUERIES = {
    "domain_stats": q_domain_stats,
    "domain_cap": q_domain_cap,
    "decontaminate": q_decontaminate,
    "pack_chunks": q_pack_chunks,
    "pii_redact": q_pii_redact,
    "url_canonical": q_url_canonical,
}
