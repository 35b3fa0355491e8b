"""Streaming corpus curation: the batch `corpus_keep` gates on a stream.

A live crawl doesn't wait for a batch job: pages arrive, get extracted,
gated, and deduplicated continuously. This operator chains the engine's
streaming-safe pieces into that pipeline:

    pages stream → extract (mapInPandas cascade)
                 → success gate
                 → language + quality gates (stateless projections —
                   the SAME lang_cols()/quality_cols() the batch operator
                   and its DuckDB oracle use, applied to extracted_text)
                 → repetition gate (stateless pandas-UDF per-row metrics —
                   the batch form aggregates strictly within a document,
                   so per arriving row it is a pure function of that row's
                   text; same REP_* thresholds as the batch pipeline,
                   row-for-row metric parity pinned by test_repetition)
                 → optional CCNet perplexity gate (a batch-TRAINED unigram
                   model applied as a stateless literal-map projection —
                   see ``lm_model`` below)
                 → optional distilled-regressor gate (batch-FIT
                   ``regression.quality_fit`` coefficients applied as three
                   multiply-adds per row — see ``distill_model`` below)
                 → optional corpus-index gate (stream-static LEFT ANTI
                   join against the stored corpus's distinct fingerprints
                   — the streaming analog of ``dedup.dedup_increment``)
                 → cross-batch exact dedup on the text fingerprint
                   (applyInPandasWithState, first-seen wins, optional TTL)

The ONE batch gate deliberately not here is the LSH near-dup/cluster
keep-one: candidate pairs and transitive closure genuinely need the
accumulated corpus, so that gate belongs in the periodic batch pass over
the stored table — the standard lambda split. Everything decidable per
row or per key streams; only the corpus-global closure batches.

Scale shape: stateless stages are per-row maps (no shuffle; the
repetition metrics are one Arrow-batched UDF call); the dedup stage
shuffles once on the fingerprint key and shards its state store by that
key across executors — same properties as `stateful.dedup_stream`, with
md5(text) instead of url as the identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from ..operators.corpus import KEEP_LANG, MIN_QUALITY
from ..operators.text_analysis import (
    LM_MAX_BITS,
    REP_MAX_DUP_TRIGRAM,
    REP_MAX_TOP_BIGRAM,
    REP_MIN_ENTROPY,
    lang_cols,
    lm_bits_col,
    quality_cols,
    repetition_metrics_udf,
)
from .stateful import capped_admission_stream

CURATED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("pred_lang", T.StringType(), True),
        T.StructField("quality", T.DoubleType(), True),
        T.StructField("top_bigram_frac", T.DoubleType(), True),
        T.StructField("dup_trigram_frac", T.DoubleType(), True),
        T.StructField("token_entropy", T.DoubleType(), True),
        T.StructField("bits_per_token", T.DoubleType(), True),
        T.StructField("pred_bits", T.DoubleType(), True),
        T.StructField("fp", T.StringType(), False),
    ]
)

_OUT_COLS = [f.name for f in CURATED_SCHEMA.fields]


def curate_stream(
    stream_df: DataFrame,
    lang: str = KEEP_LANG,
    min_quality: float = MIN_QUALITY,
    ttl_ms: int | None = None,
    redact_pii: bool = False,
    lm_model: dict | None = None,
    lm_total_tf: int | None = None,
    lm_max_bits: float | None = None,
    distill_model: tuple | None = None,
    distill_max_bits: float | None = None,
    corpus_fps: DataFrame | None = None,
) -> DataFrame:
    """Pages stream → curated, fingerprint-deduplicated text stream.

    Output: one row per FIRST sighting of each distinct extracted text
    that passes the gates — ``(url, text, pred_lang, quality,
    top_bigram_frac, dup_trigram_frac, token_entropy, fp)`` with every
    gating metric attached for audit, like the batch ``corpus_keep``.
    Gate defaults are IMPORTED from the batch constants so retuning the
    batch pipeline retunes the stream with it. The explicit
    ``text IS NOT NULL`` filter enforces the non-null ``fp`` the schema
    declares (round-4 advice: success=true does not by itself guarantee
    non-null text). ``ttl_ms`` bounds the dedup state store exactly as in
    ``stateful.dedup_stream`` (both are ``cap=1`` instantiations of
    ``capped_admission_stream`` — one state machine, two keys).
    ``redact_pii=True`` replaces emails/IPv4s/phones in the gated text
    with placeholder tokens BEFORE fingerprinting — the exact
    ``governance.pii_scan_redact`` patterns and placeholders, as a
    stateless JVM projection (like the lang/quality gates, it needs no
    corpus state). Fingerprinting the redacted text means two pages
    differing only in embedded PII deduplicate to one curated row.

    ``lm_model``/``lm_total_tf`` (a driver-side ``{tok: tf}`` vocabulary +
    its training total, e.g. collected from ``text_analysis.term_stats``
    over the stored corpus) enable the CCNet-style perplexity gate: the
    model is a batch-trained artifact, but SCORING under it is a pure
    function of the arriving row (``lm_bits_col`` — a literal-map token
    walk, no state, no shuffle), so the gate streams exactly like lang/
    quality. ``lm_max_bits`` (default ``LM_MAX_BITS`` when a model is
    given) drops rows scoring above the threshold; ``bits_per_token``
    rides along for audit (NULL when no model is configured — only the
    model TRAINING is batch-side, per the lambda split above).

    ``distill_model`` is the cheaper alternative when even the literal-map
    token walk is too much: the ``(intercept, coef_ntok, coef_nstop)``
    coefficients of a batch-side ``regression.quality_fit`` (the distilled
    linear mimic of the LM signal), applied per row as three multiply-adds
    over JVM-expression features (``regression.distilled_bits_col``).
    ``distill_max_bits`` gates on the predicted bits; ``pred_bits`` rides
    along for audit (NULL when no distilled model is configured). Both
    model gates follow the same lambda split: training batches, scoring
    streams.

    ``corpus_fps`` is a STATIC DataFrame with an ``fp`` column — the
    distinct md5 fingerprints of the already-stored corpus (e.g.
    ``dedup.exact_dedup(corpus).select("fp")``). When given, arriving
    rows whose fingerprint the corpus already holds are dropped by a
    stream-static LEFT ANTI join BEFORE the first-seen state machine —
    the streaming analog of ``dedup_increment``'s corpus side, while the
    state machine remains the analog of its within-increment side. The
    join is stateless (static side, no watermark), and corpus dups never
    enter the dedup state store, so state stays bounded by what is
    genuinely new. Refreshing the index (e.g. after each batch merge)
    means restarting the query on the new snapshot — the static side is
    plan-time, per Structured Streaming semantics.
    """
    from ..operators.governance import EMAIL_RE, IPV4_RE, PHONE_RE
    from ..operators.extract import extract

    extracted = extract(stream_df)
    gated = (
        extracted.filter(F.col("success"))
        .select("url", F.col("extracted_text").alias("text"))
        .filter(F.col("text").isNotNull())
        .select("url", "text", *lang_cols(), *quality_cols())
        .filter(
            (F.col("pred_lang") == lang) & (F.col("quality") >= min_quality)
        )
        .withColumn("rep", repetition_metrics_udf()(F.col("text")))
        .select(
            "url",
            "text",
            "pred_lang",
            "quality",
            F.col("rep.top_bigram_frac").alias("top_bigram_frac"),
            F.col("rep.dup_trigram_frac").alias("dup_trigram_frac"),
            F.col("rep.token_entropy").alias("token_entropy"),
        )
        .filter(
            (F.col("top_bigram_frac") <= REP_MAX_TOP_BIGRAM)
            & (F.col("dup_trigram_frac") <= REP_MAX_DUP_TRIGRAM)
            & (F.col("token_entropy") >= REP_MIN_ENTROPY)
        )
    )
    if lm_model is not None:
        if lm_total_tf is None:
            lm_total_tf = sum(lm_model.values())
        gated = gated.withColumn(
            "bits_per_token", lm_bits_col(lm_model, lm_total_tf, "text")
        ).filter(
            F.col("bits_per_token")
            <= (LM_MAX_BITS if lm_max_bits is None else lm_max_bits)
        )
    else:
        gated = gated.withColumn(
            "bits_per_token", F.lit(None).cast("double")
        )
    if distill_model is not None:
        from ..operators.regression import distilled_bits_col

        gated = gated.withColumn(
            "pred_bits", distilled_bits_col(distill_model, "text")
        )
        if distill_max_bits is not None:
            gated = gated.filter(F.col("pred_bits") <= distill_max_bits)
    else:
        gated = gated.withColumn("pred_bits", F.lit(None).cast("double"))
    if redact_pii:
        # gates ran on the raw text (PII does not change quality); the
        # emitted text and the dedup identity are the redacted form
        redacted = F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"),
                IPV4_RE,
                "<IP>",
            ),
            PHONE_RE,
            "<PHONE>",
        )
        gated = gated.withColumn("text", redacted)
    gated = gated.withColumn("fp", F.md5(F.col("text")))
    if corpus_fps is not None:
        gated = gated.join(
            corpus_fps.select("fp").distinct(), "fp", "left_anti"
        )
    return capped_admission_stream(
        gated,
        key_col="fp",
        out_cols=_OUT_COLS,
        out_schema=CURATED_SCHEMA,
        cap=1,
        ttl_ms=ttl_ms,
    )


BUDGETED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("domain", T.StringType(), True),
        T.StructField("domain_seq", T.LongType(), False),
    ]
)


def domain_budget_stream(
    stream_df: DataFrame, cap: int, ttl_ms: int | None = None
) -> DataFrame:
    """Admission-controlled page stream: at most ``cap`` pages per domain
    (url host) across ALL micro-batches — the streaming analog of
    ``governance.domain_cap``, placed BEFORE extraction so over-budget
    pages are dropped at the cheapest point of the pipeline.

    The batch form ranks a domain's documents by length and keeps the
    global top-``cap`` — a ranking that needs the whole corpus. A stream
    cannot reorder arrivals it has not seen, so the streaming budget is
    first-come admission: the first ``cap`` pages of each host win, later
    ones are absorbed into state (the standard lambda split, like the
    cluster gate in ``curate_stream``'s docstring). ``domain_seq`` is the
    0-based admission number within the domain, for audit. ``ttl_ms``
    expires a domain's budget, so a quiet host earns a fresh allowance —
    a rolling-window budget rather than an all-time one.

    Scale shape: one shuffle on the host key; state is one long per
    domain, sharded across executors by that key — identical properties
    to ``stateful.dedup_stream`` with hosts (millions) instead of urls
    (trillions) as the state domain.
    """
    pages = stream_df.select(
        "url", "html", F.parse_url(F.col("url"), F.lit("HOST")).alias("domain")
    )
    return capped_admission_stream(
        pages,
        key_col="domain",
        out_cols=[f.name for f in BUDGETED_SCHEMA.fields],
        out_schema=BUDGETED_SCHEMA,
        cap=cap,
        ttl_ms=ttl_ms,
        seq_col="domain_seq",
    )


def budget_then_curate(
    spark,
    stream_df: DataFrame,
    stage_dir: str,
    stage_checkpoint: str,
    cap: int,
    ttl_ms: int | None = None,
    trigger: dict | None = None,
    **curate_kwargs,
):
    """The full crawl pipeline — domain budget THEN curation — as the
    two-query composition Spark requires: the engine allows at most ONE
    ``applyInPandasWithState`` per streaming query (chaining raises
    ``AnalysisException: Multiple applyInPandasWithStates are not
    supported``, verified on this engine), and the budget state is keyed
    by domain while the dedup state is keyed by fingerprint, so they
    cannot share a state machine either. The standard bridge is a staging
    file sink: query 1 writes budget-admitted pages as parquet (exactly-
    once via the file-sink metadata log), query 2 tails that directory
    through the file source. The staging table is not dead weight — it IS
    the replayable admitted-crawl archive a production pipeline wants
    between fetch and curation (reprocess with new gates without
    re-crawling).

    Returns ``(budget_query, curated_df)``: the budget query is started
    (``trigger`` kwargs, e.g. ``{"availableNow": True}``, apply to it);
    the caller starts a sink on ``curated_df``. ``curate_kwargs`` pass
    through to ``curate_stream``.
    """
    budgeted = domain_budget_stream(stream_df, cap=cap, ttl_ms=ttl_ms)
    writer = (
        budgeted.writeStream.format("parquet")
        .option("path", stage_dir)
        .option("checkpointLocation", stage_checkpoint)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    budget_query = writer.start()
    staged = spark.readStream.schema(BUDGETED_SCHEMA).parquet(stage_dir)
    return budget_query, curate_stream(staged, **curate_kwargs)
