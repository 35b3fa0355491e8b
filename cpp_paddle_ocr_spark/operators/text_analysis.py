"""Text-analysis operators for large-scale training-data pipelines.

First-class engine components beyond the extraction cascade: language ID,
quality scoring, token counting, document fingerprinting — each over the
``documents`` table, each with a DuckDB oracle (``ORACLES``). All Spark
implementations are pure built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen; zero Python in the hot path).

Scale notes: every query is a narrow per-row map + one hash aggregation —
at 100 TB they are scan-bound; no joins, no skew exposure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .common import _round_half_up_6, h60, h60_sql, load, tokens, tokens_sql

# Small per-language stopword sets (deterministic heuristics, not models).
EN_STOPS = ["the", "a", "of", "to", "in", "and", "is", "that", "for", "with"]
DE_STOPS = ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "von"]

_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def _arr_lit(values: list[str]):
    return F.array(*[F.lit(v) for v in values])


def lang_cols() -> list:
    """Language-ID projection columns (shared with the fused corpus
    pipeline so composition costs zero extra scans)."""
    toks = tokens(F.lower(F.col("text")))
    en = F.size(F.array_intersect(toks, _arr_lit(EN_STOPS)))
    de = F.size(F.array_intersect(toks, _arr_lit(DE_STOPS)))
    return [
        en.alias("en_hits"),
        de.alias("de_hits"),
        F.when(en + de == 0, F.lit("und"))
        .when(en >= de, F.lit("en"))
        .otherwise(F.lit("de"))
        .alias("pred_lang"),
    ]


def lang_id(df: DataFrame) -> DataFrame:
    """n-gram/stopword-heuristic language ID: count distinct stopword hits
    per language, argmax with a fixed tie rule (en beats de on ties)."""
    return df.select("doc_id", *lang_cols())


LANG_ID_SQL = f"""
SELECT doc_id,
       len(list_intersect({tokens_sql('lower(text)')},
           {EN_STOPS!r})) AS en_hits,
       len(list_intersect({tokens_sql('lower(text)')},
           {DE_STOPS!r})) AS de_hits,
       CASE WHEN len(list_intersect({tokens_sql('lower(text)')}, {EN_STOPS!r}))
             + len(list_intersect({tokens_sql('lower(text)')}, {DE_STOPS!r})) = 0
            THEN 'und'
            WHEN len(list_intersect({tokens_sql('lower(text)')}, {EN_STOPS!r}))
              >= len(list_intersect({tokens_sql('lower(text)')}, {DE_STOPS!r}))
            THEN 'en' ELSE 'de' END AS pred_lang
FROM documents
"""


#: the exact character set Java's [A-Za-z0-9\s] matches (no
#: UNICODE_CHARACTER_CLASS flag): 62 alphanumerics + the 6 ASCII \s chars.
_QUALITY_KEEP_CHARS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    " \t\n\x0b\x0c\r"
)


def quality_cols() -> list:
    """Quality-score projection columns (shared with the fused corpus
    pipeline so composition costs zero extra scans)."""
    toks = tokens(F.col("text"))
    n_tok = F.size(toks)
    n_chars = F.length("text")
    # count of chars outside [A-Za-z0-9\s]: length(translate(text, KEEP, ''))
    # deletes exactly the 68 chars Java's [A-Za-z0-9\s] matches (\s without
    # UNICODE_CHARACTER_CLASS = space \t \n \x0B \f \r), so the remaining
    # length IS the regex form's count — verified 0 mismatches over
    # sf0.001/sf0.1/sf1, and 15× faster (the negated-class regexp_replace
    # built a replaced copy of every document through the regex engine:
    # 5.1 → 0.3 s for the whole quality projection at sf1; round-6
    # session 2). The DuckDB oracle keeps its regexp form — same integers.
    n_punct = F.length(
        F.translate(F.col("text"), _QUALITY_KEEP_CHARS, "")
    )
    n_stop = F.size(F.array_intersect(tokens(F.lower(F.col("text"))), _arr_lit(EN_STOPS)))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0))
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    return [
        n_tok.alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(
            0.5 * len_score + 0.3 * stop_ratio + 0.2 * (1.0 - punct_ratio), 6
        ).alias("quality"),
    ]


def quality_score(df: DataFrame) -> DataFrame:
    """Length / punctuation / stopword ratios → composite quality score.

    All ratios are exact integer divisions promoted to double, so the
    composite rounds identically in both engines.
    """
    return df.select("doc_id", *quality_cols())


QUALITY_SQL = f"""
WITH q AS (
  SELECT doc_id,
         len({tokens_sql('text')}) AS n_tokens,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))
           AS n_punct,
         len(list_intersect({tokens_sql('lower(text)')}, {EN_STOPS!r})) AS n_stop
  FROM documents
)
SELECT doc_id, n_tokens,
       round(CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END, 6)
         AS punct_ratio,
       round(CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END, 6)
         AS stopword_ratio,
       round(0.5 * least(n_tokens / 100.0, 1.0)
           + 0.3 * (CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END)
           + 0.2 * (1.0 - CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END),
           6) AS quality
FROM q
"""


def token_count(df: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish regex piece count."""
    return df.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0)).alias(
            "bpe_pieces"
        ),
    )


TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       len({tokens_sql('text')}) AS ws_tokens,
       len(regexp_extract_all(text, '{_BPE_RE}')) AS bpe_pieces
FROM documents
"""


def fingerprint(df: DataFrame) -> DataFrame:
    """Document fingerprints: md5 of whitespace-normalized text, plus a
    winnowing-style min-hash over all 16-char windows (rolling-hash analog).

    The hex→integer decode (``conv``) runs ONCE per document, outside the
    window min: md5 hex is fixed-length lowercase [0-9a-f], where
    lexicographic order IS numeric order, so ``conv(min(hex)) ≡
    min(conv(hex))`` — the min folds over the hex strings and only the
    winner is decoded (round-6; the old form paid substring+conv per
    window). Two explode-vs-HOF A/Bs this round both favored keeping the
    projection form: an explode → groupBy(doc_id) min rewrite measured
    1.13× SLOWER at sf1 once the scan-parallelism floor landed (the
    per-window md5 dominates either way, and the explode adds row
    overhead + a shuffle), and a pre-explode fp_md5 projection gets pushed
    above the Generate and re-runs the full-text regexp+md5 per window
    (measured 5.6× slower) — BASELINE.md #18's "A/B first" rule cuts both
    ways.
    """
    norm = F.regexp_replace(F.lower(F.col("text")), "\\s+", " ")
    win = F.expr(
        "cast(conv(substring(array_min(transform("
        "sequence(1, greatest(length(text) - 15, 1)), "
        "i -> md5(substring(text, i, 16)))), 1, 15), 16, 10) as bigint)"
    )
    return df.select(
        "doc_id",
        F.md5(norm).alias("fp_md5"),
        win.alias("fp_winnow"),
    )


FINGERPRINT_SQL = f"""
SELECT d.doc_id,
       md5(regexp_replace(lower(any_value(d.text)), '\\s+', ' ', 'g')) AS fp_md5,
       min({h60_sql('substr(d.text, g.i, 16)')}) AS fp_winnow
FROM documents d,
     unnest(generate_series(1, greatest(length(d.text) - 15, 1))) g(i)
GROUP BY d.doc_id
"""


# --- repetition stats / removal ---------------------------------------------
#
# Gopher/RefinedWeb-style repetition filters adapted to token streams: the
# fraction of mass in the most-frequent bigram, the fraction of trigram
# mass that is duplicated, and token (unigram) entropy. Boilerplate-heavy
# or looping generations score high on the first two and low on the third.

#: repetition_filter keep-thresholds (see the filter's docstring)
REP_MAX_TOP_BIGRAM = 0.10
REP_MAX_DUP_TRIGRAM = 0.30
REP_MIN_ENTROPY = 3.0

#: All gram sizes are built from ONE scan and ONE explode: unigrams,
#: bigrams and trigrams are tagged (sz, gram) structs concatenated into a
#: single array. ``try_element_at`` past the end yields NULL → ``concat``
#: yields NULL → the filter drops the partial grams at the tail, so no
#: branch on size(t) is needed (Spark's ``sequence(1, 0)`` counts DOWN —
#: the guard is greatest(...,1) + null-filter, not an if()).
_TAGGED_GRAMS = """
concat(
  transform(t, x -> struct(1 as sz, x as gram)),
  filter(transform(sequence(1, greatest(size(t) - 1, 1)),
    i -> struct(2 as sz,
                concat(try_element_at(t, i), ' ',
                       try_element_at(t, i + 1)) as gram)),
    g -> g.gram is not null),
  filter(transform(sequence(1, greatest(size(t) - 2, 1)),
    i -> struct(3 as sz,
                concat(try_element_at(t, i), ' ',
                       try_element_at(t, i + 1), ' ',
                       try_element_at(t, i + 2)) as gram)),
    g -> g.gram is not null)
)
"""


def repetition_stats(df: DataFrame) -> DataFrame:
    """Per-doc repetition metrics: ``top_bigram_frac`` (mass share of the
    most frequent bigram), ``dup_trigram_frac`` (share of trigram mass with
    count > 1), ``token_entropy`` (nats).

    Entropy is computed from aggregables only — ``H = ln(n) − Σc·ln(c)/n``
    — so the whole operator is two hash aggregations over one explode of
    one scan; map-side partial combine does most of the work and the only
    shuffle keys are (doc_id, sz, gram) then doc_id. No joins, no skew
    exposure (gram keys are per-doc).

    Docs too short to have bigrams (<2 tokens) or trigrams (<3) get 0.0
    fractions — no n-grams means nothing repeats. They are still removed
    by ``repetition_filter``/``corpus_keep``, but explicitly via the
    entropy gate (H ≤ ln(n_tok) < 3.0 for any doc under 21 tokens), not
    implicitly via NULL comparisons (round-4 advice).
    """
    grams = (
        df.select("doc_id", tokens(F.col("text")).alias("t"))
        .select("doc_id", F.explode(F.expr(_TAGGED_GRAMS)).alias("g"))
        .select("doc_id", F.col("g.sz").alias("sz"), F.col("g.gram").alias("gram"))
    )
    counted = grams.groupBy("doc_id", "sz", "gram").agg(F.count("*").alias("c"))
    sz = F.col("sz")
    c = F.col("c")
    agg = counted.groupBy("doc_id").agg(
        F.max(F.when(sz == 2, c)).alias("max_big"),
        F.sum(F.when(sz == 2, c)).alias("n_big"),
        F.coalesce(F.sum(F.when((sz == 3) & (c > 1), c)), F.lit(0)).alias(
            "dup_tri"
        ),
        F.sum(F.when(sz == 3, c)).alias("n_tri"),
        F.sum(F.when(sz == 1, c)).alias("n_tok"),
        F.sum(F.when(sz == 1, c * F.log(c.cast("double")))).alias("e1"),
    )
    return agg.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.round(
            F.coalesce(F.col("max_big") / F.col("n_big"), F.lit(0.0)), 6
        ).alias("top_bigram_frac"),
        F.round(
            F.coalesce(F.col("dup_tri") / F.col("n_tri"), F.lit(0.0)), 6
        ).alias("dup_trigram_frac"),
        F.round(
            F.log(F.col("n_tok").cast("double")) - F.col("e1") / F.col("n_tok"),
            6,
        ).alias("token_entropy"),
    )


REPETITION_SQL = f"""
WITH toks AS (
  SELECT doc_id, {tokens_sql('text')} AS t FROM documents
),
grams AS (
  SELECT doc_id, 1 AS sz, unnest(t) AS gram FROM toks
  UNION ALL
  SELECT doc_id, 2, t[i] || ' ' || t[i + 1]
  FROM toks, unnest(generate_series(1, len(t) - 1)) g(i)
  WHERE len(t) >= 2
  UNION ALL
  SELECT doc_id, 3, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
  FROM toks, unnest(generate_series(1, len(t) - 2)) g(i)
  WHERE len(t) >= 3
),
counted AS (
  SELECT doc_id, sz, gram, count(*) AS c FROM grams GROUP BY doc_id, sz, gram
),
agg AS (
  SELECT doc_id,
         max(CASE WHEN sz = 2 THEN c END) AS max_big,
         sum(CASE WHEN sz = 2 THEN c END) AS n_big,
         coalesce(sum(CASE WHEN sz = 3 AND c > 1 THEN c END), 0) AS dup_tri,
         sum(CASE WHEN sz = 3 THEN c END) AS n_tri,
         sum(CASE WHEN sz = 1 THEN c END) AS n_tok,
         sum(CASE WHEN sz = 1 THEN c * ln(c) END) AS e1
  FROM counted GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tok,
       round(coalesce(max_big / n_big, 0.0), 6) AS top_bigram_frac,
       round(coalesce(dup_tri / n_tri, 0.0), 6) AS dup_trigram_frac,
       round(ln(n_tok) - e1 / n_tok, 6) AS token_entropy
FROM agg
"""


def repetition_metrics_udf():
    """The STATELESS per-row form of ``repetition_stats``: one pandas-UDF
    struct ``(n_tok, top_bigram_frac, dup_trigram_frac, token_entropy)``
    computed from a text column alone.

    ``repetition_stats`` aggregates strictly WITHIN a document (groupBy
    (doc_id, sz, gram) then doc_id) — per arriving row the metrics are a
    pure function of that row's text, so a stream can gate on them with no
    state at all (round-4 verdict #2: the old "needs corpus-global state"
    claim was wrong). The batch form stays the right shape for tables (two
    hash aggs, zero Python); this form exists for per-row contexts —
    ``streaming.curation.curate_stream`` — and is pinned row-for-row
    against the batch form by ``test_repetition.py``.

    Parity contract: tokenization uses the exact Java ``\\s`` class
    (``[ \\t\\n\\x0b\\f\\r]``) that ``common.tokens``'s ``split`` compiles
    to, counts are integer-exact, and rounding goes through
    ``_round_half_up_6`` (Spark ``F.round`` shortest-repr HALF_UP
    semantics). Zero-token docs get (0, 0.0, 0.0, 0.0) — the batch form
    emits no row for them, and every gate composition drops them either
    way (entropy 0.0 < min)."""
    import math as _math
    import re as _re
    from collections import Counter as _Counter

    ws = _re.compile("[ \t\n\x0b\f\r]+")

    def one(text: str):
        toks = [t for t in ws.split(text) if t != ""]
        n = len(toks)
        if n == 0:
            return (0, 0.0, 0.0, 0.0)
        top = 0.0
        if n >= 2:
            big = _Counter(zip(toks, toks[1:]))
            top = max(big.values()) / (n - 1)
        dup = 0.0
        if n >= 3:
            tri = _Counter(zip(toks, toks[1:], toks[2:]))
            dup = sum(c for c in tri.values() if c > 1) / (n - 2)
        uni = _Counter(toks)
        e1 = sum(c * _math.log(c) for c in uni.values())
        ent = _math.log(n) - e1 / n
        r6 = _round_half_up_6
        return (n, float(r6(top)), float(r6(dup)), float(r6(ent)))

    @F.pandas_udf(
        "struct<n_tok:bigint,top_bigram_frac:double,"
        "dup_trigram_frac:double,token_entropy:double>"
    )
    def rep(text):
        import pandas as pd

        rows = [one(t if t is not None else "") for t in text]
        return pd.DataFrame(
            rows,
            columns=[
                "n_tok",
                "top_bigram_frac",
                "dup_trigram_frac",
                "token_entropy",
            ],
        )

    return rep


def repetition_filter(df: DataFrame) -> DataFrame:
    """The removal half: documents whose repetition metrics pass the
    ``REP_*`` keep thresholds (they keep ~2/3 of the fixture corpus —
    boilerplate-heavy template families fail on
    top_bigram_frac/dup_trigram_frac). Emits the metrics alongside doc_id
    so the decision is auditable."""
    s = repetition_stats(df)
    return s.filter(
        (F.col("top_bigram_frac") <= REP_MAX_TOP_BIGRAM)
        & (F.col("dup_trigram_frac") <= REP_MAX_DUP_TRIGRAM)
        & (F.col("token_entropy") >= REP_MIN_ENTROPY)
    )


REPETITION_FILTER_SQL = f"""
SELECT * FROM ({REPETITION_SQL})
WHERE top_bigram_frac <= {REP_MAX_TOP_BIGRAM}
  AND dup_trigram_frac <= {REP_MAX_DUP_TRIGRAM}
  AND token_entropy >= {REP_MIN_ENTROPY}
"""


# --- corpus vocabulary / term statistics -------------------------------------
#
# The tokenizer-training prep step of an LLM data pipeline: corpus-level
# term frequency, document frequency, and idf per token, plus the top-K
# vocabulary. Scale shape: one explode of one scan into a hash aggregate
# keyed by token — hot tokens ("the") are exactly what map-side partial
# aggregation flattens, so the shuffle carries one partial row per
# (partition, token), not one row per occurrence; the total-docs scalar is
# a broadcast single-row cross join. No joins on skewed keys, no windows.

VOCAB_K = 200


def term_stats(df: DataFrame) -> DataFrame:
    """Per-token corpus statistics: ``(tok, tf, doc_freq, idf)``.

    ``tf`` = total occurrences, ``doc_freq`` = documents containing the
    token, ``idf`` = round(ln(N / doc_freq), 6) with N = total documents
    in the table (NULL-text docs count toward N, matching the standard
    smooth-free textbook idf; they simply contribute no tokens).
    """
    toks = df.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    total = df.select(F.count("*").cast("double").alias("n_docs"))
    agg = toks.groupBy("tok").agg(
        F.count("*").alias("tf"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    return agg.crossJoin(F.broadcast(total)).select(
        "tok",
        "tf",
        "doc_freq",
        F.round(F.log(F.col("n_docs") / F.col("doc_freq")), 6).alias("idf"),
    )


TERM_STATS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({tokens_sql('text')}) AS tok FROM documents
),
total AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
SELECT tok,
       count(*) AS tf,
       count(DISTINCT doc_id) AS doc_freq,
       round(ln(n_docs / count(DISTINCT doc_id)), 6) AS idf
FROM toks, total
GROUP BY tok, n_docs
"""


def vocab_topk(df: DataFrame, k: int = VOCAB_K) -> DataFrame:
    """The top-``k`` vocabulary by total frequency (ties: token ascending)
    with a dense ``vocab_id`` — the deterministic seed vocabulary a
    BPE-style tokenizer run starts from.

    Scale shape: ``orderBy().limit(k)`` plans as TakeOrderedAndProject —
    each partition keeps its local top-k and only k rows reach the driver
    stage — NOT a global row_number window, which would sort every distinct
    token of the corpus in one partition. The id-assigning window then runs
    over just the k survivors."""
    from pyspark.sql import Window

    top = (
        term_stats(df)
        .select("tok", "tf")
        .orderBy(F.col("tf").desc(), F.col("tok").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("tf").desc(), F.col("tok").asc())
    return top.withColumn("vocab_id", F.row_number().over(w))


VOCAB_TOPK_SQL = f"""
WITH ts AS (
  SELECT tok, count(*) AS tf
  FROM (SELECT doc_id, unnest({tokens_sql('text')}) AS tok FROM documents)
  GROUP BY tok
)
SELECT tok, tf,
       CAST(row_number() OVER (ORDER BY tf DESC, tok ASC) AS INT) AS vocab_id
FROM ts
QUALIFY vocab_id <= {VOCAB_K}
"""


def encode_documents(
    df: DataFrame, vocab_df: DataFrame | None = None, k: int = VOCAB_K
) -> DataFrame:
    """Encode each document's token stream against the vocabulary — the
    apply-the-tokenizer step closing the term_stats → vocab_topk chain:
    ``(doc_id, n_tokens, n_oov, ids)`` with ``ids`` the document-order
    ``vocab_id`` sequence, out-of-vocabulary tokens as id 0 (``vocab_id``
    is 1-based by construction, so 0 is free for <unk>).

    ``vocab_df`` is the trained vocabulary (``vocab_topk`` output or any
    ``(tok, vocab_id)`` table); omitted, it is trained from ``df`` itself.
    Scale shape: the vocab is k rows and broadcast, so encoding is scan →
    posexplode → map-side broadcast join → one per-doc hash agg; ids are
    reassembled order-exactly via ``array_sort`` over (pos, id) structs —
    ``collect_list`` order is not deterministic under parallel merge, the
    sort is what pins document order (same scatter-back discipline as the
    rec stage's R7, ``src/ocr_rec.cpp:126-127``)."""
    vocab = (vocab_df if vocab_df is not None else vocab_topk(df, k)).select(
        "tok", "vocab_id"
    )
    toks = (
        df.filter(F.col("text").isNotNull())
        .select("doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok"))
    )
    joined = toks.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id", "pos", F.coalesce(F.col("vocab_id"), F.lit(0)).alias("vid")
    )
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("vid") == 0, 1).otherwise(0)).alias("n_oov"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "vid"))),
            lambda x: x.vid,
        ).alias("ids"),
    )


ENCODE_SQL = f"""
WITH v AS ({VOCAB_TOPK_SQL}),
toks AS (
  SELECT d.doc_id, g.i AS pos, t[g.i] AS tok
  FROM (SELECT doc_id, {tokens_sql('text')} AS t FROM documents
        WHERE text IS NOT NULL) d,
       unnest(generate_series(1, len(t))) g(i)
)
SELECT toks.doc_id,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN v.vocab_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       string_agg(CAST(coalesce(v.vocab_id, 0) AS VARCHAR), ' '
                  ORDER BY pos) AS ids_str
FROM toks LEFT JOIN v ON toks.tok = v.tok
GROUP BY toks.doc_id
"""


# --- tf-idf salient terms -----------------------------------------------------

TFIDF_K = 5


def tfidf_topterms(df: DataFrame, k: int = TFIDF_K) -> DataFrame:
    """Top-``k`` salient terms per document by tf-idf:
    ``(doc_id, rank, tok, tfidf)`` with tfidf = round(tf_d · ln(N/df), 6)
    and rank ordered by (tfidf desc, tok asc) — the keyword-extraction /
    labeling primitive over the corpus statistics.

    Scale shape: per-doc term counts are one hash aggregate; document
    frequency derives from THAT aggregate (a second, already-deduplicated
    pass — never a countDistinct over raw tokens); the tf↔df join shuffles
    on the token key (hot tokens are exactly the low-idf ones, AQE splits
    them); top-k per doc is a bounded collect_list + comparator
    array_sort, NOT a corpus-wide window — no single-task sort anywhere.
    The per-doc count frame feeds BOTH the doc-frequency aggregate and the
    scoring join, and Catalyst has no cross-branch reuse (CLAUDE.md #13),
    so it is persisted lazily — the round-5 plan re-scanned and re-exploded
    the corpus once per branch (round-6 A/B at sf1: 0.49× from the one
    persist; MEMORY_AND_DISK, already smaller than the token stream it
    replaces recomputing).

    The persisted per-doc count frame (``tf_d`` per (doc_id, tok)) stays
    cached after the result is consumed: it is document-term-sized and
    this function returns only the lazy result, so a long-lived session
    owner unpersists it (``spark.catalog.clearCache()``) once the top
    terms are written.
    """
    toks = df.filter(F.col("text").isNotNull()).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    tfd = (
        toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf_d")).persist()
    )
    dfreq = tfd.groupBy("tok").agg(F.count("*").alias("doc_freq"))
    total = df.select(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tfd.join(dfreq, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf_d") * F.log(F.col("n_docs") / F.col("doc_freq")), 6
            ).alias("tfidf"),
        )
    )
    cmp = lambda a, b: (  # noqa: E731 — (tfidf desc, tok asc)
        F.when(a.tfidf > b.tfidf, -1)
        .when(a.tfidf < b.tfidf, 1)
        .when(a.tok < b.tok, -1)
        .when(a.tok > b.tok, 1)
        .otherwise(0)
    )
    agg = scored.groupBy("doc_id").agg(
        F.collect_list(F.struct("tfidf", "tok")).alias("terms")
    )
    top = agg.select(
        "doc_id",
        F.posexplode(F.slice(F.array_sort("terms", cmp), 1, k)).alias(
            "pos", "t"
        ),
    )
    return top.select(
        "doc_id",
        (F.col("pos") + 1).cast("int").alias("rank"),
        F.col("t.tok").alias("tok"),
        F.col("t.tfidf").alias("tfidf"),
    )


TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({tokens_sql('text')}) AS tok
  FROM documents WHERE text IS NOT NULL
),
tfd AS (SELECT doc_id, tok, count(*) AS tf_d FROM toks GROUP BY doc_id, tok),
dfreq AS (SELECT tok, count(*) AS doc_freq FROM tfd GROUP BY tok),
total AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
SELECT doc_id, CAST(rn AS INT) AS rank, tok, tfidf FROM (
  SELECT t.doc_id, t.tok,
         round(t.tf_d * ln(n_docs / d.doc_freq), 6) AS tfidf,
         row_number() OVER (
           PARTITION BY t.doc_id
           ORDER BY round(t.tf_d * ln(n_docs / d.doc_freq), 6) DESC, t.tok ASC
         ) AS rn
  FROM tfd t JOIN dfreq d USING (tok), total
) WHERE rn <= {TFIDF_K}
"""


def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_topterms(load(spark, sf_dir, "documents"))


# --- unigram-LM scoring (CCNet-style perplexity filter) ----------------------
#
# CCNet filters documents by language-model perplexity under a model trained
# on a reference corpus; the SQL-expressible analog is a unigram LM over the
# top-K vocabulary: p(tok) = tf / total_tf, out-of-vocabulary floored at
# 1 / total_tf (an un-normalized floor, the standard cheap smoothing).
# bits_per_token = mean(-log2 p) is the document's base-2 cross-entropy
# under the model — high means improbable-token text (gibberish, boiler
# noise), low means head-of-distribution text.

LM_MAX_BITS = 4.95


def lm_score(
    df: DataFrame, model_df: DataFrame | None = None, k: int = VOCAB_K
) -> DataFrame:
    """Score each document's tokens under a unigram LM:
    ``(doc_id, n_tokens, oov_frac, bits_per_token)``.

    ``model_df`` is a trained ``(tok, tf)`` table (``term_stats`` output or
    any frequency table); omitted, the model is trained from ``df`` itself.
    Scale shape: the model is ≤ k+1 rows of state (top-k vocabulary + the
    total-count scalar), both broadcast, so scoring is scan → explode →
    map-side broadcast join → per-doc hash aggregate — no shuffle on token
    keys. Self-training would re-scan the corpus once per model branch
    (total, vocabulary — Catalyst has no cross-branch reuse), so the token
    frequency table is eagerly localCheckpointed (one disclosed plan-time
    job, one partial-aggregated shuffle); the whole operator then reads the
    documents scan twice: once to train, once to score.
    """
    if model_df is None:
        toks = df.select(F.explode(tokens(F.col("text"))).alias("tok"))
        model_df = (
            toks.groupBy("tok")
            .agg(F.count("*").alias("tf"))
            .localCheckpoint(eager=True)
        )
    model_df = model_df.select("tok", "tf")
    total = model_df.agg(F.sum("tf").alias("total_tf"))
    vocab = model_df.orderBy(F.col("tf").desc(), F.col("tok").asc()).limit(k)
    scored = (
        df.filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .join(F.broadcast(vocab), "tok", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.when(F.col("tf").isNull(), 1).otherwise(0).alias("oov"),
            (
                -F.log2(
                    F.coalesce(F.col("tf"), F.lit(1)) / F.col("total_tf")
                )
            ).alias("bits"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg("oov"), 6).alias("oov_frac"),
        F.round(F.avg("bits"), 6).alias("bits_per_token"),
    )


LM_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({tokens_sql('text')}) AS tok
  FROM documents WHERE text IS NOT NULL
),
tf AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
total AS (SELECT CAST(sum(tf) AS BIGINT) AS total_tf FROM tf),
vocab AS (SELECT tok, tf FROM tf ORDER BY tf DESC, tok ASC LIMIT {VOCAB_K}),
scored AS (
  SELECT t.doc_id,
         CASE WHEN v.tf IS NULL THEN 1 ELSE 0 END AS oov,
         -log2(coalesce(v.tf, 1) / total_tf) AS bits
  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok, total
)
SELECT doc_id,
       count(*) AS n_tokens,
       round(avg(oov), 6) AS oov_frac,
       round(avg(bits), 6) AS bits_per_token
FROM scored GROUP BY doc_id
"""


def lm_bits_col(vocab_tf: dict, total_tf: int, col) -> "F.Column":
    """Per-row ``bits_per_token`` under a driver-side ``{tok: tf}``
    vocabulary — the stateless (streaming-safe) form of ``lm_score``: the
    ≤ k model entries become a literal map, the token walk is one
    ``aggregate`` over the split array, so the gate is a pure JVM
    projection with no shuffle and no state (exactly like the lang/
    quality gate columns). NULL for zero-token text. Value parity with
    ``lm_score`` is document-order vs partial-aggregation summation —
    identical after the 6-dp round (pinned by test)."""
    c = F.col(col) if isinstance(col, str) else col
    m = F.create_map(
        *[F.lit(x) for tok, tf in sorted(vocab_tf.items()) for x in (tok, tf)]
    )
    toks = tokens(c)
    s = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc
        + (
            -F.log2(
                F.coalesce(F.element_at(m, t), F.lit(1)) / F.lit(total_tf)
            )
        ),
    )
    return F.when(F.size(toks) > 0, F.round(s / F.size(toks), 6))


def lm_filter(
    df: DataFrame,
    model_df: DataFrame | None = None,
    max_bits: float = LM_MAX_BITS,
) -> DataFrame:
    """Perplexity gate: keep documents whose unigram cross-entropy is at
    most ``max_bits`` bits/token — the CCNet head-of-distribution keep
    (improbable-token documents are dropped; very-short documents pass,
    their few tokens are head tokens or they fail the quality gate
    instead)."""
    return lm_score(df, model_df=model_df).filter(
        F.col("bits_per_token") <= max_bits
    )


LM_FILTER_SQL = f"""
SELECT * FROM ({LM_SQL})
WHERE bits_per_token <= {LM_MAX_BITS}
"""


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm_score(load(spark, sf_dir, "documents"))


def q_lm_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm_filter(load(spark, sf_dir, "documents"))


def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return term_stats(load(spark, sf_dir, "documents"))


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocab_topk(load(spark, sf_dir, "documents"))


def q_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    enc = encode_documents(load(spark, sf_dir, "documents"))
    # ids as a space-joined string: the driver compare hashes scalar
    # columns, and engines stringify native arrays differently
    return enc.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.concat_ws(" ", F.col("ids").cast("array<string>")).alias("ids_str"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(load(spark, sf_dir, "documents"))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(load(spark, sf_dir, "documents"))


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_count(load(spark, sf_dir, "documents"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(load(spark, sf_dir, "documents"))


# --- chunking + deterministic sampling ---------------------------------------

CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = CHUNK_TOKENS,
    overlap: int = CHUNK_OVERLAP,
) -> DataFrame:
    """Split each document into fixed-size token windows with overlap —
    the tokenize-for-training step. One output row per chunk:
    ``(doc_id, chunk_idx, tok_start, n_chunk_tokens, chunk_text)``.

    Stride = chunk_tokens − overlap; the final chunk is the remainder
    (shorter, never empty); docs with ≤ chunk_tokens tokens yield exactly
    one chunk. Pure JVM expression work (slice over the token array +
    posexplode) — a per-row map with bounded fan-out, scan-shaped at any
    scale, no shuffle.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    # chunk starts: 0, stride, 2·stride, … — n_chunks = ceil((n − overlap)
    # / stride), at least 1 (so a short/empty doc still yields one chunk)
    starts = (
        f"transform(sequence(0, greatest(cast(ceil((size(t) - {overlap}) "
        f"/ {stride}) as int) - 1, 0)), i -> i * {stride})"
    )
    # NULL text emits no rows in BOTH engines (same NULL-through-greatest
    # hazard class as frame_sample: Spark would yield chunk_text='' where
    # DuckDB yields NULL — an oracle mismatch on any NULL-text row)
    chunked = df.filter(F.col("text").isNotNull()).select(
        "doc_id", tokens(F.col("text")).alias("t")
    ).select(
        "doc_id",
        "t",
        F.posexplode(F.expr(starts)).alias("chunk_idx", "tok_start"),
    )
    piece = F.slice(F.col("t"), F.col("tok_start") + 1, chunk_tokens)
    return chunked.select(
        "doc_id",
        "chunk_idx",
        "tok_start",
        F.size(piece).alias("n_chunk_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


CHUNK_SQL = f"""
WITH toks AS (
  SELECT doc_id, {tokens_sql('text')} AS t FROM documents
  WHERE text IS NOT NULL
),
chunks AS (
  SELECT doc_id, t,
         CAST(g.i AS INT) AS chunk_idx,
         CAST(g.i * {CHUNK_TOKENS - CHUNK_OVERLAP} AS INT) AS tok_start
  FROM toks,
       unnest(generate_series(0,
         greatest(CAST(ceil((len(t) - {CHUNK_OVERLAP})
                 / {CHUNK_TOKENS - CHUNK_OVERLAP}.0) AS INT) - 1, 0))) g(i)
)
SELECT doc_id, chunk_idx, tok_start,
       len(t[tok_start + 1 : tok_start + {CHUNK_TOKENS}]) AS n_chunk_tokens,
       array_to_string(t[tok_start + 1 : tok_start + {CHUNK_TOKENS}], ' ')
         AS chunk_text
FROM chunks
"""

SAMPLE_PCT = 10


def hash_sample(df: DataFrame, pct: int = SAMPLE_PCT) -> DataFrame:
    """Deterministic hash sampling: keep rows whose md5(doc_id) bucket
    falls under ``pct`` of 100. THE at-scale sampling method — stable
    across runs/engines/partitionings (no RNG state, no seed plumbing),
    stratifiable by construction (the kept set of a 10% sample is a
    superset of the 5% sample), and exactly reproducible in any engine
    that has md5 — unlike ``df.sample``, whose per-partition RNG draws
    change with the partitioning."""
    bucket = F.pmod(h60(F.col("doc_id").cast("string")), F.lit(100))
    return df.select("doc_id", "lang", "n_chars").filter(bucket < pct)


HASH_SAMPLE_SQL = f"""
SELECT doc_id, lang, n_chars FROM documents
WHERE {h60_sql('CAST(doc_id AS VARCHAR)')} % 100 < {SAMPLE_PCT}
"""

# Data-mixing defaults for the driver oracle: an explicit per-source keep
# percentage (sources absent from the map are dropped — a mix is a
# whitelist). Real pipelines tune these per corpus snapshot.
MIX_WEIGHTS = {"src0": 100, "src1": 75, "src2": 50, "src3": 25, "src4": 10}


def mix_sample(df: DataFrame, weights: dict | None = None) -> DataFrame:
    """Deterministic data-mixture sampling: keep each row with its
    source's configured percentage — the mixing step that turns per-source
    corpora into a weighted pretraining blend. Same md5-bucket discipline
    as ``hash_sample`` (stable across runs/engines/partitionings, and
    per-source nested: raising one source's weight only ADDS rows), keyed
    by doc_id so a document keeps/drops identically wherever it appears.
    Sources not in ``weights`` are dropped. Output keeps ``bucket`` for
    audit. Scale shape: a pure scan-side filter projection — the weight
    map folds into one CASE expression, no joins, no shuffle."""
    weights = MIX_WEIGHTS if weights is None else weights
    bucket = F.pmod(h60(F.col("doc_id").cast("string")), F.lit(100))
    pct = F.lit(-1)
    for src, p in sorted(weights.items()):
        pct = F.when(F.col("source") == src, F.lit(p)).otherwise(pct)
    return (
        df.select("doc_id", "source", "n_chars", bucket.alias("bucket"))
        .filter(F.col("bucket") < pct)
    )


_MIX_CASE = " ".join(
    f"WHEN source = '{s}' THEN {p}" for s, p in sorted(MIX_WEIGHTS.items())
)

MIX_SAMPLE_SQL = f"""
SELECT doc_id, source, n_chars,
       {h60_sql('CAST(doc_id AS VARCHAR)')} % 100 AS bucket
FROM documents
WHERE {h60_sql('CAST(doc_id AS VARCHAR)')} % 100
      < CASE {_MIX_CASE} ELSE -1 END
"""


# Temperature-flattened mixture: compute per-source sampling weights from
# corpus token shares (weight ∝ share^alpha, the multinomial-smoothing rule
# multilingual/multi-source pretraining uses to keep head sources from
# drowning tail sources), then apply them with the md5-bucket discipline.
# ``mix_sample`` above takes GIVEN percentages; this family derives them.

MIX_ALPHA = 0.5


def _pow_alpha_expr(x: str, alpha: float) -> str:
    """x^alpha for the IEEE-exact temperature ladder alpha ∈ {1, 0.75,
    0.5, 0.25} — compositions of sqrt (correctly rounded per IEEE 754 in
    every engine) and one multiply, so both engines produce bit-identical
    doubles. General pow() is NOT on the ladder deliberately: libm pow is
    not guaranteed correctly rounded, so a cross-engine last-ulp
    disagreement could survive the 6-dp round at a boundary."""
    if alpha == 1.0:
        return x
    if alpha == 0.5:
        return f"sqrt({x})"
    if alpha == 0.25:
        return f"sqrt(sqrt({x}))"
    if alpha == 0.75:
        return f"(sqrt({x}) * sqrt(sqrt({x})))"
    raise ValueError(
        f"alpha must be one of 1.0, 0.75, 0.5, 0.25 (IEEE-exact sqrt "
        f"ladder), got {alpha!r}"
    )


def mix_weights(df: DataFrame, alpha: float = MIX_ALPHA) -> DataFrame:
    """Per-source mixture weights from token shares: ``(source, n_docs,
    n_tokens, token_share, weight_rel, keep_pct)``.

    ``weight_rel = (n_tokens/max_tokens)^alpha`` — 1.0 for the biggest
    source, rising toward 1.0 for tail sources as alpha falls (alpha=1 is
    proportional sampling, alpha→0 is uniform). ``keep_pct`` is the
    round-half-up integer percentage ``temperature_sample`` feeds to the
    md5-bucket filter. Token counts are exact BIGINTs, the power ladder is
    IEEE-exact, so every output is cross-engine deterministic.

    Scale shape: one map-side-combined aggregate keyed by source (the
    domain cardinality), two scalar reductions over that tiny frame
    broadcast back — nothing bigger than the source list ever moves. The
    per-source frame feeds two plan branches (the output rows and the
    total/max reduction); Catalyst has no cross-branch subplan reuse, so
    it is eagerly localCheckpointed (one disclosed plan-time job) to keep
    the corpus scan count at one instead of two."""
    ntok = (
        F.when(F.col("text").isNotNull(), F.size(tokens(F.col("text"))))
        .otherwise(F.lit(0))
        .cast("long")
    )
    per = (
        df.groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum(ntok).alias("n_tokens"))
        .localCheckpoint(eager=True)
    )
    tot = per.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )
    pa = _pow_alpha_expr("cast(n_tokens as double)", alpha)
    pm = _pow_alpha_expr("cast(max_tokens as double)", alpha)
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr(
            "round(cast(n_tokens as double) / cast(total_tokens as double), 6)"
        ).alias("token_share"),
        F.expr(f"round({pa} / {pm}, 6)").alias("weight_rel"),
        F.expr(f"cast(floor(100.0 * ({pa} / {pm}) + 0.5) as int)").alias(
            "keep_pct"
        ),
    )


def temperature_sample(df: DataFrame, alpha: float = MIX_ALPHA) -> DataFrame:
    """Apply the temperature-derived per-source percentages as a
    deterministic mixture sample: ``(doc_id, source, bucket, keep_pct)``
    rows surviving ``md5_bucket(doc_id) < keep_pct``. The weights frame is
    source-cardinality-sized and broadcast, so the sample is one scan with
    a map-side hash join — the same at-scale shape as ``mix_sample`` with
    the weights computed instead of configured."""
    w = mix_weights(df, alpha).select("source", "keep_pct")
    bucket = F.pmod(h60(F.col("doc_id").cast("string")), F.lit(100))
    return (
        df.select("doc_id", "source", bucket.alias("bucket"))
        .join(F.broadcast(w), "source")
        .select("doc_id", "source", "bucket", "keep_pct")
        .filter(F.col("bucket") < F.col("keep_pct"))
    )


_PA = _pow_alpha_expr("cast(n_tokens as double)", MIX_ALPHA)
_PM = _pow_alpha_expr("cast(max_tokens as double)", MIX_ALPHA)

MIX_WEIGHTS_SQL = f"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(coalesce(len({tokens_sql('text')}), 0)) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         max(n_tokens) AS max_tokens
  FROM per
)
SELECT source, n_docs, n_tokens,
       round(cast(n_tokens as double) / cast(total_tokens as double), 6)
         AS token_share,
       round({_PA} / {_PM}, 6) AS weight_rel,
       CAST(floor(100.0 * ({_PA} / {_PM}) + 0.5) AS INT) AS keep_pct
FROM per, tot
"""

TEMPERATURE_SAMPLE_SQL = f"""
WITH w AS (SELECT source, keep_pct FROM ({MIX_WEIGHTS_SQL}))
SELECT d.doc_id, d.source,
       {h60_sql('CAST(d.doc_id AS VARCHAR)')} % 100 AS bucket,
       w.keep_pct
FROM documents d JOIN w USING (source)
WHERE {h60_sql('CAST(d.doc_id AS VARCHAR)')} % 100 < w.keep_pct
"""


def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mix_weights(load(spark, sf_dir, "documents"))


def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return temperature_sample(load(spark, sf_dir, "documents"))


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_stats(load(spark, sf_dir, "documents"))


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_filter(load(spark, sf_dir, "documents"))


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_documents(load(spark, sf_dir, "documents"))


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hash_sample(load(spark, sf_dir, "documents"))


def q_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mix_sample(load(spark, sf_dir, "documents"))


ORACLES = {
    "lang_id": LANG_ID_SQL,
    "quality_score": QUALITY_SQL,
    "token_count": TOKEN_COUNT_SQL,
    "fingerprint": FINGERPRINT_SQL,
    "repetition_stats": REPETITION_SQL,
    "repetition_filter": REPETITION_FILTER_SQL,
    "chunk_documents": CHUNK_SQL,
    "hash_sample": HASH_SAMPLE_SQL,
    "mix_sample": MIX_SAMPLE_SQL,
    "mix_weights": MIX_WEIGHTS_SQL,
    "temperature_sample": TEMPERATURE_SAMPLE_SQL,
    "term_stats": TERM_STATS_SQL,
    "vocab_topk": VOCAB_TOPK_SQL,
    "encode_documents": ENCODE_SQL,
    "lm_score": LM_SQL,
    "lm_filter": LM_FILTER_SQL,
    "tfidf_topterms": TFIDF_SQL,
}

QUERIES = {
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "token_count": q_token_count,
    "fingerprint": q_fingerprint,
    "repetition_stats": q_repetition_stats,
    "repetition_filter": q_repetition_filter,
    "chunk_documents": q_chunk_documents,
    "hash_sample": q_hash_sample,
    "mix_sample": q_mix_sample,
    "mix_weights": q_mix_weights,
    "temperature_sample": q_temperature_sample,
    "term_stats": q_term_stats,
    "vocab_topk": q_vocab_topk,
    "encode_documents": q_encode_documents,
    "lm_score": q_lm_score,
    "lm_filter": q_lm_filter,
    "tfidf_topterms": q_tfidf_topterms,
}
