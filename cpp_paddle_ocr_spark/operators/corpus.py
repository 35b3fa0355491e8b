"""End-to-end training-corpus curation: the composed keep-pipeline.

One operator that chains the engine's curation stages the way a real
pretraining-data pipeline does — language gate → quality gate →
repetition gate → near-dup keep-one — and emits the surviving corpus with
every gating metric attached, so each keep/drop decision is auditable.

    corpus_keep(documents) =
        lang_id == 'en'
      ∧ quality ≥ MIN_QUALITY
      ∧ repetition thresholds (text_analysis.repetition_filter)
      ∧ dedup_clusters.is_canonical (cluster-min keep-one)

Scale notes (100 TB view): the pipeline costs exactly the scans its
aggregation structure forces and no more —
* language + quality are BOTH pure projections, fused here into ONE
  select over one scan (``lang_cols()`` + ``quality_cols()``);
* repetition is one explode + two hash aggregations (its own scan);
* cluster labels are the dedup_clusters machinery (signature scan + band
  join + CC iterations);
* the three per-doc outputs then hash-join on doc_id — uniform 8-byte
  keys, no skew. Filters are applied on the metric columns AFTER the
  join so Catalyst pushes the cheap projection gates (lang/quality) below
  the join while the aggregate-derived gates stay put.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .clustering import DEDUP_CLUSTERS_SQL, dedup_clusters
from .common import load
from .text_analysis import (
    LANG_ID_SQL,
    QUALITY_SQL,
    REP_MAX_DUP_TRIGRAM,
    REP_MAX_TOP_BIGRAM,
    REP_MIN_ENTROPY,
    REPETITION_SQL,
    lang_cols,
    quality_cols,
    repetition_stats,
)

KEEP_LANG = "en"
MIN_QUALITY = 0.4


def corpus_keep(
    df: DataFrame,
    domain_cap_n: int | None = None,
    lm_max_bits: float | None = None,
) -> DataFrame:
    """The surviving corpus with audit columns: ``(doc_id, pred_lang,
    quality, top_bigram_frac, dup_trigram_frac, token_entropy,
    cluster_id)`` — rows passing all four gates.

    ``lm_max_bits`` adds the CCNet-style perplexity gate (the batch mirror
    of ``curate_stream``'s ``lm_max_bits``): ``text_analysis.lm_score``
    self-trains the unigram model and rows above the threshold drop, with
    ``bits_per_token`` attached for audit. One extra scoring scan + the
    checkpointed model-training pass; the join stays on the 8-byte doc_id.

    ``domain_cap_n`` adds the per-domain budget as a FURTHER gate applied
    to the *survivors* (capping before the quality gates would leave
    domains under budget whenever capped-in docs later fail a gate): the
    ``governance.domain_cap`` salted two-stage top-N ranks the surviving
    rows per domain and keeps the top ``domain_cap_n``, attaching
    ``domain_rank`` as an audit column. Costs one extra narrow
    (doc_id, source, n_chars) scan + the capped window — the driver
    oracle runs the default (uncapped, un-LM-gated) form."""
    metrics = df.select("doc_id", *lang_cols(), *quality_cols())
    rep = repetition_stats(df)
    clusters = dedup_clusters(df)
    kept = (
        metrics.join(rep, "doc_id")
        .join(clusters, "doc_id")
        .filter(
            (F.col("pred_lang") == KEEP_LANG)
            & (F.col("quality") >= MIN_QUALITY)
            & (F.col("top_bigram_frac") <= REP_MAX_TOP_BIGRAM)
            & (F.col("dup_trigram_frac") <= REP_MAX_DUP_TRIGRAM)
            & (F.col("token_entropy") >= REP_MIN_ENTROPY)
            & (F.col("is_canonical") == 1)
        )
        .select(
            "doc_id",
            "pred_lang",
            "quality",
            "top_bigram_frac",
            "dup_trigram_frac",
            "token_entropy",
            "cluster_id",
        )
    )
    if lm_max_bits is not None:
        from .text_analysis import lm_score

        bits = lm_score(df).select("doc_id", "bits_per_token")
        kept = kept.join(bits, "doc_id").filter(
            F.col("bits_per_token") <= lm_max_bits
        )
    if domain_cap_n is None:
        return kept
    from .governance import domain_cap

    enriched = kept.join(df.select("doc_id", "source", "n_chars"), "doc_id")
    capped = domain_cap(enriched, cap=domain_cap_n).select(
        "doc_id", "domain_rank"
    )
    return kept.join(capped, "doc_id")


# DEDUP_CLUSTERS_SQL is a complete WITH RECURSIVE query; the other stage
# oracles are plain queries — each embeds as a parenthesized subquery, so
# this composition reuses the exact SQL the per-stage oracles are checked
# against (one divergence source, not four).
CORPUS_KEEP_SQL = f"""
WITH labels AS (SELECT * FROM ({DEDUP_CLUSTERS_SQL})),
lg AS (SELECT * FROM ({LANG_ID_SQL})),
q AS (SELECT * FROM ({QUALITY_SQL})),
rep AS (SELECT * FROM ({REPETITION_SQL}))
SELECT d.doc_id, lg.pred_lang, q.quality, rep.top_bigram_frac,
       rep.dup_trigram_frac, rep.token_entropy, l.cluster_id
FROM documents d
JOIN lg ON lg.doc_id = d.doc_id
JOIN q ON q.doc_id = d.doc_id
JOIN rep ON rep.doc_id = d.doc_id
JOIN labels l ON l.doc_id = d.doc_id
WHERE lg.pred_lang = '{KEEP_LANG}'
  AND q.quality >= {MIN_QUALITY}
  AND rep.top_bigram_frac <= {REP_MAX_TOP_BIGRAM}
  AND rep.dup_trigram_frac <= {REP_MAX_DUP_TRIGRAM}
  AND rep.token_entropy >= {REP_MIN_ENTROPY}
  AND l.is_canonical = 1
"""


def q_corpus_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_keep(load(spark, sf_dir, "documents"))


# --- corpus report card ------------------------------------------------------


def corpus_stats(df: DataFrame) -> DataFrame:
    """Per-(source, lang) corpus report card — the before/after-curation
    summary a data team reads to understand what a delivery contains:
    ``(source, lang, n_docs, n_null_text, n_tokens, avg_doc_tokens,
    avg_quality, doc_share)``.

    ``avg_quality`` averages the fused quality projection over non-NULL
    texts only (NULL-text rows count in ``n_docs``/``n_null_text`` but
    contribute neither tokens nor quality). Scale shape: one scan, one
    map-side-combined aggregate keyed by (source, lang) — the group
    cardinality, not the data size; the tiny grouped frame is eagerly
    localCheckpointed (Catalyst has no cross-branch reuse) so the
    total-docs share reduction does not rescan the corpus."""
    from .text_analysis import quality_cols

    base = df.select(
        "source",
        "lang",
        F.col("text").isNull().cast("int").alias("is_null"),
        *quality_cols(),
    )
    per = (
        base.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("is_null").cast("long").alias("n_null_text"),
            F.sum(
                F.when(F.col("is_null") == 0, F.col("n_tokens")).otherwise(0)
            )
            .cast("long")
            .alias("n_tokens"),
            F.round(
                F.avg(F.when(F.col("is_null") == 0, F.col("quality"))), 6
            ).alias("avg_quality"),
        )
        .localCheckpoint(eager=True)
    )
    tot = per.agg(F.sum("n_docs").alias("total_docs"))
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "n_null_text",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") / F.col("n_docs"), 6
        ).alias("avg_doc_tokens"),
        "avg_quality",
        F.round(
            F.col("n_docs").cast("double") / F.col("total_docs"), 6
        ).alias("doc_share"),
    )


def _corpus_stats_sql() -> str:
    from .text_analysis import EN_STOPS
    from .common import tokens_sql

    return f"""
WITH q AS (
  SELECT source, lang,
         CASE WHEN text IS NULL THEN 1 ELSE 0 END AS is_null,
         len({tokens_sql('text')}) AS n_tokens,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))
           AS n_punct,
         len(list_intersect({tokens_sql('lower(text)')}, {EN_STOPS!r})) AS n_stop
  FROM documents
),
scored AS (
  SELECT source, lang, is_null, n_tokens,
         round(0.5 * least(n_tokens / 100.0, 1.0)
             + 0.3 * (CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END)
             + 0.2 * (1.0 - CASE WHEN n_chars > 0 THEN n_punct / n_chars
                            ELSE 0.0 END),
             6) AS quality
  FROM q
),
per AS (
  SELECT source, lang, count(*) AS n_docs,
         CAST(sum(is_null) AS BIGINT) AS n_null_text,
         CAST(sum(CASE WHEN is_null = 0 THEN n_tokens ELSE 0 END) AS BIGINT)
           AS n_tokens,
         round(avg(CASE WHEN is_null = 0 THEN quality END), 6) AS avg_quality
  FROM scored GROUP BY source, lang
),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs FROM per)
SELECT source, lang, n_docs, n_null_text, n_tokens,
       round(CAST(n_tokens AS DOUBLE) / n_docs, 6) AS avg_doc_tokens,
       avg_quality,
       round(CAST(n_docs AS DOUBLE) / total_docs, 6) AS doc_share
FROM per, tot
"""


CORPUS_STATS_SQL = _corpus_stats_sql()


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rebalance=False: avg_quality averages 6-dp-rounded values, whose
    # group means frequently land EXACTLY on the HALF_UP boundary — the
    # 6-dp cross-engine parity there is decided by summation order, so
    # this query keeps the sequential single-partial sum the oracle has
    # been green against since round 1 (see common.load)
    return corpus_stats(load(spark, sf_dir, "documents", rebalance=False))


QUERIES = {"corpus_keep": q_corpus_keep, "corpus_stats": q_corpus_stats}
ORACLES = {"corpus_keep": CORPUS_KEEP_SQL, "corpus_stats": CORPUS_STATS_SQL}
