"""Deduplication operators for large-scale training-data pipelines.

Exact, SimHash, MinHash+LSH, n-gram Jaccard and embedding-cosine near-dup —
each as a DataFrame operator with a DuckDB oracle. Every hash is derived from
md5 (cross-engine identical); every modular product stays under 2^48 so int64
arithmetic agrees between engines.

Scale notes (100 TB view):
* exact dedup — one hash aggregation, the map-side partial combine does most
  of the work; output is tiny (group fingerprints).
* simhash — explode + re-aggregate per doc: shuffle keyed by doc_id, no skew
  (doc_id unique); signature join afterwards is a narrow 8-byte key.
* minhash+LSH — the shuffle is the band-key self-join; band keys are
  (band_id, two 20-bit mins) → well spread. Candidate pairs ≪ n².
* embedding near-dup — brute-force pairs are bounded to a window here; the
  production path is ``similarity.lsh_bucketed_ann`` (bucket-join, not n²).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .common import cosine6, h28_sql, h60_sql, load, tokens, tokens_sql

# --- exact dedup -------------------------------------------------------------


def exact_dedup(df: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text fingerprint."""
    return (
        df.groupBy(F.md5(F.col("text")).alias("fp"))
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("keeper"),
        )
    )


EXACT_SQL = """
SELECT md5(text) AS fp, count(*) AS n_dups, min(doc_id) AS keeper
FROM documents GROUP BY md5(text)
"""

# --- simhash -----------------------------------------------------------------

SIMHASH_BITS = 16


def simhash(df: DataFrame) -> DataFrame:
    """16-bit SimHash over distinct whitespace tokens (unit weights)."""
    toks = df.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok")
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    bit_sums = [
        F.sum(
            (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    value = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        value = term if value is None else value + term
    return agg.select("doc_id", value.cast("long").alias("simhash"))


def _simhash_sql() -> str:
    h = h60_sql("u.tok")
    bit_sums = ",\n    ".join(
        f"sum((({h} >> {j}) & 1) * 2 - 1) AS b{j}" for j in range(SIMHASH_BITS)
    )
    value = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct({tokens_sql('text')})) AS tok
  FROM documents
), sums AS (
  SELECT doc_id, {bit_sums}
  FROM toks u GROUP BY doc_id
)
SELECT doc_id, CAST({value} AS BIGINT) AS simhash FROM sums
"""


SIMHASH_SQL = _simhash_sql()

# --- minhash + LSH -----------------------------------------------------------

MINHASH_PERMS = 8  # k permutations; bands of 2 → 4 band keys
MINHASH_P = 1_000_003
_MINHASH_AB = [(131 + 2 * i, 977 * i + 1) for i in range(MINHASH_PERMS)]


def minhash_signatures(df: DataFrame) -> DataFrame:
    """k-permutation MinHash signature per document (distinct tokens).

    Deliberately the explode → groupBy(doc_id) aggregate form, NOT a
    zero-shuffle ``array_min(transform(...))`` projection: the A/B
    (BENCH/BASELINE.md #18) measured the higher-order-function form ~2.9×
    slower on identical output — HOF lambdas are evaluated outside
    whole-stage codegen, while this form streams tokens through codegen'd
    partial aggregation and shuffles only one signature row per
    document."""
    toks = df.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok")
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 7), 16, 10).cast("long")
    aggs = [
        F.min((h * a + b) % MINHASH_P).alias(f"s{i}")
        for i, (a, b) in enumerate(_MINHASH_AB)
    ]
    return toks.groupBy("doc_id").agg(*aggs)


def _sig_mins_sql() -> str:
    """The k min-hash aggregate columns over an exploded-token alias ``u``."""
    h = h28_sql("u.tok")
    return ",\n    ".join(
        f"min(({h} * {a} + {b}) % {MINHASH_P}) AS s{i}"
        for i, (a, b) in enumerate(_MINHASH_AB)
    )


def _minhash_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct({tokens_sql('text')})) AS tok
  FROM documents
)
SELECT doc_id, {_sig_mins_sql()} FROM toks u GROUP BY doc_id
"""


MINHASH_SQL = _minhash_sql()


#: Per-band-key member cap: a key with more members than this switches from
#: the k² self-join to anchor-star pairs (each member paired with the key's
#: min doc_id). A k-duplicate cluster then emits O(k) rows per band instead
#: of O(k²) on one shuffle partition — the classic LSH skew bomb under
#: duplicate-heavy crawls — while union-find over the star still
#: reconstructs the full cluster. 256² ≈ 65k rows is the worst per-key join
#: output a single partition ever materializes.
BAND_KEY_CAP = 256


def _band_keys_col():
    """The 4 LSH band keys (band-index prefix + the band's two signature
    mins) as one array column over a ``minhash_signatures`` row."""
    return F.array(
        *[
            F.concat_ws(
                "_",
                F.lit(str(band)),
                F.col(f"s{2 * band}").cast("string"),
                F.col(f"s{2 * band + 1}").cast("string"),
            )
            for band in range(MINHASH_PERMS // 2)
        ]
    )


def lsh_candidate_pairs(df: DataFrame, band_cap: int = BAND_KEY_CAP) -> DataFrame:
    """MinHash-LSH candidate pairs: docs sharing any of 4 (2-row) bands.

    The band fan-out is a single ``explode`` over the signature row (NOT a
    union of per-band selects — that re-runs the signature aggregation once
    per band; measured 4× on the wide input). Band keys over ``band_cap``
    members degrade to anchor-star pairs (see BAND_KEY_CAP) so output and
    shuffle stay O(k) per key, never O(k²).
    """
    from pyspark.sql import Window

    sig = minhash_signatures(df)
    all_bands = sig.select("doc_id", F.explode(_band_keys_col()).alias("band_key"))
    w = Window.partitionBy("band_key")
    counted = all_bands.select(
        "doc_id",
        "band_key",
        F.count("*").over(w).alias("n_key"),
        F.min("doc_id").over(w).alias("anchor"),
    )
    small = counted.filter(F.col("n_key") <= band_cap)
    dense_pairs = (
        small.alias("l")
        .join(small.alias("r"), "band_key")
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
        )
    )
    star_pairs = (
        counted.filter(
            (F.col("n_key") > band_cap) & (F.col("doc_id") != F.col("anchor"))
        )
        .select(F.col("anchor").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return dense_pairs.unionByName(star_pairs).distinct()


def _band_selects_sql(src: str) -> str:
    """UNION ALL of the 4 per-band key selects over a signature CTE."""
    return "\nUNION ALL\n".join(
        f"SELECT doc_id, concat('{band}', '_', s{2 * band}::VARCHAR, '_', "
        f"s{2 * band + 1}::VARCHAR) AS band_key FROM {src}"
        for band in range(MINHASH_PERMS // 2)
    )


LSH_SQL = f"""
WITH sig AS ({MINHASH_SQL}),
bands AS ({_band_selects_sql("sig")}),
counted AS (
  SELECT doc_id, band_key,
         count(*) OVER (PARTITION BY band_key) AS n_key,
         min(doc_id) OVER (PARTITION BY band_key) AS anchor
  FROM bands
)
SELECT DISTINCT doc_a, doc_b FROM (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM counted l JOIN counted r USING (band_key)
  WHERE l.n_key <= {BAND_KEY_CAP} AND r.n_key <= {BAND_KEY_CAP} AND l.doc_id < r.doc_id
  UNION ALL
  SELECT anchor AS doc_a, doc_id AS doc_b
  FROM counted WHERE n_key > {BAND_KEY_CAP} AND doc_id <> anchor
)
"""

# --- n-gram Jaccard ----------------------------------------------------------

NGRAM_N = 3
NGRAM_DOC_CAP = 60  # pairwise window for the oracle-checked variant


def ngram_jaccard_pairs(df: DataFrame) -> DataFrame:
    """Character-3-gram Jaccard similarity for doc pairs under ``NGRAM_DOC_CAP``."""
    grams = (
        df.filter(F.col("doc_id") < NGRAM_DOC_CAP)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"array_distinct(transform(sequence(1, greatest(length(text) - {NGRAM_N - 1}, 1)), "
                    f"i -> substring(text, i, {NGRAM_N})))"
                )
            ).alias("gram"),
        )
    )
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    inter = (
        grams.alias("a")
        .join(grams.alias("b"), "gram")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("n_grams", "na")
        .join(sizes.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("n_grams", "nb")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )


NGRAM_SQL = f"""
WITH grams AS (
  -- per-row lateral series, exactly mirroring Spark's sequence() (a fixed
  -- 4096 bound silently diverged for any text longer than ~4100 chars)
  SELECT DISTINCT d.doc_id, substr(d.text, g.i, {NGRAM_N}) AS gram
  FROM documents d,
       unnest(generate_series(1, greatest(length(d.text) - {NGRAM_N - 1}, 1))) g(i)
  WHERE d.doc_id < {NGRAM_DOC_CAP}
), sizes AS (
  SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM grams a JOIN grams b USING (gram)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b,
       round(i.n_inter / (sa.n_grams + sb.n_grams - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
"""

# --- embedding-cosine near-dup ----------------------------------------------

NEARDUP_VEC_CAP = 120
NEARDUP_THRESH = 0.9


def embedding_neardup_pairs(
    df: DataFrame, vec_cap: int = NEARDUP_VEC_CAP, thresh: float = NEARDUP_THRESH
) -> DataFrame:
    """Pairs of near-duplicate embeddings (cosine ≥ thresh) in a bounded
    window — the brute-force correctness baseline; the scale path is LSH."""
    e = df.filter(F.col("vec_id") < vec_cap).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    return (
        e.alias("a")
        .join(e.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine6("a.emb", "b.emb").alias("cosine"),
        )
        .filter(F.col("cosine") >= thresh)
    )


NEARDUP_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
  WHERE vec_id < {NEARDUP_VEC_CAP}
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.emb, b.emb)
             / (sqrt(list_dot_product(a.emb, a.emb))
                * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.emb, b.emb)
      / (sqrt(list_dot_product(a.emb, a.emb))
         * sqrt(list_dot_product(b.emb, b.emb))) >= {NEARDUP_THRESH}
"""

# --- duplicate-span removal (C4-style) ---------------------------------------

SPAN_W = 8


def span_dedup(df: DataFrame) -> DataFrame:
    """Remove duplicated token spans from documents, C4-style: any
    ``SPAN_W``-token window whose exact text occurs more than once in the
    corpus is removed
    from every occurrence EXCEPT the first (first = lexicographic min of
    (doc_id, start)). C4 applies this at three-sentence granularity; tokens
    are the deterministic analog for newline-free extracted text. Output per
    document (text IS NOT NULL): ``(doc_id, n_tokens, n_removed,
    clean_text)`` with ``clean_text`` the space-joined surviving tokens in
    document order ('' when the whole document was a duplicate span run).

    Scale shape: shingle hashes are md5 of the ``SPAN_W``-token window; the
    keeper per hash comes from ``groupBy(h).agg(min(struct(doc_id, start)))`` — a
    map-side-combining hash aggregate, NOT a window over h, so a hot
    boilerplate shingle with 10^9 occurrences never sorts (or collects)
    in one task; the join back to occurrences is (many × 1) on h and AQE
    splits skewed partitions. Duplicate STARTS then collapse to one small
    per-doc covered-position array (collect_set of starts, expanded and
    deduplicated as array expressions), and reassembly is pure per-row
    array work on the token array: ``array_except(sequence(1, n), cov)``
    keeps surviving positions in document order with no per-token
    explode, no (doc_id, pos) shuffle join, and no collect_list sort —
    the round-6 rewrite of the round-5 shape, which exploded and
    re-shuffled every token of the corpus to anti-mark covered positions
    (guide §2.3: shuffle keys and metadata, not payloads; the only rows
    that shuffle now are shingle hashes and duplicate starts). Scans: 2×
    for shingles (keeper agg + occurrence join — Catalyst has no
    cross-branch reuse and the shingle stream is too large to checkpoint)
    + 1× for reassembly.
    """
    base = (
        df.filter(F.col("text").isNotNull())
        .select("doc_id", tokens(F.col("text")).alias("arr"))
        # zero-token docs emit no row (the posexplode form dropped them
        # implicitly; the array form must filter explicitly)
        .filter(F.size("arr") >= 1)
    )
    sh = (
        base.filter(F.size("arr") >= SPAN_W)
        .select(
            "doc_id",
            "arr",
            F.explode(
                F.sequence(F.lit(1), F.size("arr") - (SPAN_W - 1))
            ).alias("start"),
        )
        .select(
            "doc_id",
            "start",
            F.md5(
                F.concat_ws(" ", F.slice("arr", F.col("start"), SPAN_W))
            ).alias("h"),
        )
    )
    keepers = sh.groupBy("h").agg(
        F.count("*").alias("c"),
        F.min(F.struct("doc_id", "start")).alias("k"),
    )
    dups = (
        sh.join(keepers, "h")
        .filter(
            (F.col("c") > 1)
            & ~(
                (F.col("doc_id") == F.col("k.doc_id"))
                & (F.col("start") == F.col("k.start"))
            )
        )
        .select("doc_id", "start")
    )
    cov = dups.groupBy("doc_id").agg(
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.collect_set("start"),
                    lambda s: F.sequence(s, s + (SPAN_W - 1)),
                )
            )
        ).alias("cov")
    )
    kept_pos = F.array_except(
        F.sequence(F.lit(1), F.size("arr")), F.coalesce(F.col("cov"), F.array())
    )
    return base.join(cov, "doc_id", "left").select(
        "doc_id",
        F.size("arr").cast("long").alias("n_tokens"),
        F.coalesce(F.size("cov"), F.lit(0)).cast("long").alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(kept_pos, lambda p: F.element_at(F.col("arr"), p)),
        ).alias("clean_text"),
    )


SPAN_DEDUP_SQL = f"""
WITH base AS (
  SELECT doc_id, {tokens_sql('text')} AS arr
  FROM documents WHERE text IS NOT NULL
),
toks AS (
  SELECT doc_id, g.i AS pos, arr[g.i] AS tok
  FROM base, unnest(generate_series(1, len(arr))) g(i)
),
sh AS (
  SELECT doc_id, g.i AS start,
         md5(array_to_string(arr[g.i:g.i + {SPAN_W - 1}], ' ')) AS h
  FROM base, unnest(generate_series(1, len(arr) - {SPAN_W - 1})) g(i)
  WHERE len(arr) >= {SPAN_W}
),
dups AS (
  SELECT doc_id, start FROM (
    SELECT doc_id, start,
           row_number() OVER (PARTITION BY h ORDER BY doc_id, start) AS rn
    FROM sh
  ) WHERE rn > 1
),
cov AS (
  SELECT DISTINCT doc_id, pos FROM (
    SELECT doc_id, unnest(generate_series(start, start + {SPAN_W - 1})) AS pos
    FROM dups
  )
),
marked AS (
  SELECT t.doc_id, t.pos, t.tok, c.pos IS NOT NULL AS covered
  FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
)
SELECT doc_id,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       coalesce(string_agg(CASE WHEN NOT covered THEN tok END, ' '
                           ORDER BY pos), '') AS clean_text
FROM marked GROUP BY doc_id
"""

# --- winnowing fingerprints ---------------------------------------------------

WINNOW_K = 4  # gram length (tokens)
WINNOW_W = 4  # window length (grams)


def winnow_sketch(df: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03
    — the MOSS algorithm): hash every ``WINNOW_K``-token gram, slide a
    window of ``WINNOW_W`` consecutive grams, and select each window's
    minimum hash (ties → rightmost position). Guarantees every shared
    substring of length ≥ ``WINNOW_K + WINNOW_W - 1`` tokens contributes at
    least one common print, with sketch density ≈ 2/(WINNOW_W+1) — the
    robust local sampler the plain rolling-hash ``fingerprint`` operator
    is not. Output: distinct ``(doc_id, pos, gram_hash)`` selected prints,
    1-based gram positions.

    Short docs: ``n_grams < WINNOW_W`` collapses to a single window over all
    grams (the min of the whole doc is selected); ``n_tokens < WINNOW_K``
    yields no rows.

    Scale shape: gram explode → ONE exchange on doc_id with a per-doc
    sliding window frame (ROWS CURRENT..WINNOW_W-1 FOLLOWING over grams
    ordered by position) taking ``min(struct(hash, -pos))`` — the
    rightmost-min rule as a lexicographic min. Window j's min is evaluated at gram j and
    rows past the last window start are filtered, so the WINNOW_W× row
    duplication of the earlier membership-explode form never exists
    (round-6 A/B: 0.72× at sf1, identical rows; the short-doc single
    window falls out of frame truncation at the partition end). No joins,
    no corpus-wide state; per-key work is one doc's grams.
    """
    base = (
        df.filter(F.col("text").isNotNull())
        .select("doc_id", tokens(F.col("text")).alias("arr"))
        .filter(F.size("arr") >= WINNOW_K)
    )
    grams = base.select(
        "doc_id",
        "arr",
        (F.size("arr") - (WINNOW_K - 1)).alias("n_g"),
        F.explode(
            F.sequence(F.lit(1), F.size("arr") - (WINNOW_K - 1))
        ).alias("p"),
    ).select(
        "doc_id",
        "n_g",
        "p",
        F.conv(
            F.substring(
                F.md5(F.concat_ws(" ", F.slice("arr", F.col("p"), WINNOW_K))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("gh"),
    )
    from pyspark.sql import Window

    n_w = F.greatest(F.col("n_g") - (WINNOW_W - 1), F.lit(1))
    wspec = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    sel = grams.select(
        "doc_id",
        "p",
        "n_g",
        F.min(F.struct(F.col("gh"), (-F.col("p")).alias("np")))
        .over(wspec)
        .alias("m"),
    ).filter(F.col("p") <= n_w)
    return sel.select(
        "doc_id",
        (-F.col("m.np")).alias("pos"),
        F.col("m.gh").alias("gram_hash"),
    ).distinct()


WINNOW_SQL = f"""
WITH base AS (
  SELECT doc_id, {tokens_sql('text')} AS arr
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id, len(arr) - {WINNOW_K - 1} AS n_g, g.i AS p,
         {h60_sql(f"array_to_string(arr[g.i:g.i + {WINNOW_K - 1}], ' ')")} AS gh
  FROM base, unnest(generate_series(1, len(arr) - {WINNOW_K - 1})) g(i)
  WHERE len(arr) >= {WINNOW_K}
),
mem AS (
  SELECT doc_id, p, gh,
         unnest(generate_series(
           greatest(p - {WINNOW_W - 1}, 1),
           least(p, greatest(n_g - {WINNOW_W - 1}, 1)))) AS j
  FROM grams
),
sel AS (
  SELECT doc_id, j, p, gh,
         row_number() OVER (
           PARTITION BY doc_id, j ORDER BY gh ASC, p DESC) AS rn
  FROM mem
)
SELECT DISTINCT doc_id, p AS pos, gh AS gram_hash FROM sel WHERE rn = 1
"""

# --- incremental dedup -------------------------------------------------------
#
# The production recurring shape: a new crawl increment arrives and must be
# deduplicated against the ALREADY-CURATED corpus without re-processing the
# corpus — re-running corpus-wide dedup per crawl would re-shuffle 100 TB
# for every delivery. The corpus contributes only its distinct fingerprint
# set; the increment is flagged row-by-row with an audit column instead of
# silently dropped, mirroring ``corpus_keep``'s keep+reason discipline.


def dedup_increment(new_df: DataFrame, corpus_df: DataFrame) -> DataFrame:
    """Flag a crawl increment against an existing corpus:
    ``(doc_id, fp, dup_source, keep)`` for every increment row.

    ``fp`` is ``md5(text)`` (the ``exact_dedup`` key; NULL text → NULL fp).
    ``dup_source`` is ``'corpus'`` when the fingerprint already exists in
    the corpus, ``'increment'`` when a lower-doc_id increment row shares
    the fingerprint (first-seen-wins, the batch analog of the streaming
    first-seen dedup), else NULL; ``keep = dup_source IS NULL``. NULL-fp
    rows are always kept — an absent text cannot testify to duplication.

    Scale shape: the corpus side collapses to its distinct fingerprints
    (map-side-combined aggregate) before the equi-join, so the corpus text
    is never shuffled. The within-increment keeper is a per-fingerprint
    window min whose partition key salts NULL fps with a per-row hash —
    NULL-text rows land in singleton partitions, so they are never marked
    duplicates of each other and can never form a skewed NULL partition."""
    inc = new_df.select("doc_id", F.md5(F.col("text")).alias("fp"))
    corpus_fps = (
        corpus_df.select(F.md5(F.col("text")).alias("fp"))
        .filter(F.col("fp").isNotNull())
        .distinct()
        .withColumn("in_corpus", F.lit(True))
    )
    from pyspark.sql import Window

    part = F.coalesce(F.col("fp"), F.md5(F.col("doc_id").cast("string")))
    first_id = F.min("doc_id").over(Window.partitionBy(part))
    dup_source = (
        F.when(F.col("in_corpus"), F.lit("corpus"))
        .when(F.col("doc_id") > F.col("first_id"), F.lit("increment"))
        .otherwise(F.lit(None).cast("string"))
    )
    return (
        inc.withColumn("first_id", first_id)
        .join(corpus_fps, "fp", "left")
        .select(
            "doc_id",
            "fp",
            dup_source.alias("dup_source"),
            dup_source.isNull().alias("keep"),
        )
    )


#: driver split: corpus = md5-bucket(doc_id) < 60, increment = bucket >= 40 —
#: the same partitioning-independent bucket ``hash_sample`` uses. The two
#: OVERLAP on buckets 40-59, simulating a recrawl that re-fetches pages the
#: corpus already holds (the flag the operator exists to raise).
_INC_SPLIT = "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 100"

DEDUP_INCREMENT_SQL = f"""
WITH inc AS (
  SELECT doc_id, md5(text) AS fp FROM documents WHERE {_INC_SPLIT} >= 40
),
corpus AS (
  SELECT DISTINCT md5(text) AS fp FROM documents
  WHERE {_INC_SPLIT} < 60 AND text IS NOT NULL
),
flagged AS (
  SELECT i.doc_id, i.fp,
         min(i.doc_id) OVER (
           PARTITION BY coalesce(i.fp, md5(CAST(i.doc_id AS VARCHAR)))
         ) AS first_id,
         (c.fp IS NOT NULL) AS in_corpus
  FROM inc i LEFT JOIN corpus c ON i.fp = c.fp
)
SELECT doc_id, fp,
       CASE WHEN in_corpus THEN 'corpus'
            WHEN doc_id > first_id THEN 'increment'
            ELSE NULL END AS dup_source,
       (CASE WHEN in_corpus THEN 'corpus'
             WHEN doc_id > first_id THEN 'increment'
             ELSE NULL END) IS NULL AS keep
FROM flagged
"""


def q_dedup_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .common import h60

    docs = load(spark, sf_dir, "documents")
    bucket = F.pmod(h60(F.col("doc_id").cast("string")), F.lit(100))
    return dedup_increment(
        docs.filter(bucket >= 40), docs.filter(bucket < 60)
    )


# --- incremental NEAR-dup ----------------------------------------------------
#
# ``dedup_increment`` is the exact-fingerprint fast path; a recrawl mostly
# re-fetches pages that changed SLIGHTLY (timestamps, rotating ads), which an
# md5 never matches. This is the similarity path of the same delivery
# workflow: MinHash/LSH band keys of the increment joined against the
# corpus's band-key index, then the integer true-Jaccard verify. In
# production the corpus side of this plan — signatures + band keys — is a
# precomputed index updated per accepted delivery, not a per-delivery rescan
# of 100 TB of corpus text; corpus TEXT is read again only for the verified
# candidates' token sets.

#: Verification gate on LSH candidates, as percent (integer — see
#: ``jaccard_verified``), for both the increment check here and
#: ``clustering.dedup_clusters``. LSH candidates are high-recall/low-precision
#: BY DESIGN (4 bands of 2 over 8 minhash perms); taking the transitive
#: closure of raw candidates collapses a similar-ish corpus into one giant
#: cluster (measured: ALL 500 fixture docs in one component). Real pipelines
#: verify each candidate's TRUE similarity before union-find; median true
#: Jaccard of the fixture candidates is 0.59, and 0.8 keeps the ~14% that
#: are actual near-dups.
NEARDUP_VERIFY_PCT = 80


def jaccard_verified(a: Column, b: Column) -> Column:
    """True distinct-token Jaccard of token arrays ``a`` and ``b`` ≥
    NEARDUP_VERIFY_PCT/100, cross-multiplied in INTEGERS
    (``100·|A∩B| ≥ pct·|A∪B|``) — no float division, so Spark and the
    DuckDB oracle agree bit-for-bit with no rounding contract."""
    inter = F.size(F.array_intersect(a, b))
    return inter * 100 >= (F.size(a) + F.size(b) - inter) * NEARDUP_VERIFY_PCT


def neardup_increment(
    new_df: DataFrame,
    corpus_df: DataFrame,
    band_cap: int = BAND_KEY_CAP,
) -> DataFrame:
    """Flag increment docs that are NEAR-duplicates of the corpus:
    ``(doc_id, match_id, keep)`` for every increment row, where
    ``match_id`` is the smallest corpus doc_id whose true distinct-token
    Jaccard ≥ ``NEARDUP_VERIFY_PCT``/100 among LSH band-key candidates (NULL → no
    match, ``keep`` = true). NULL/empty-text rows have no signature, hence
    no candidates: always kept.

    Scale shape: the join is BIPARTITE on band keys — increment bands
    against corpus bands — never a corpus self-join. Corpus band keys over
    ``band_cap`` members keep only their anchor (min doc_id) as the
    family's representative, so per-key join output is bounded by
    |increment members| × band_cap (the boilerplate-template skew bomb
    degrades to anchor recall exactly like ``lsh_candidate_pairs``).
    Verification is the integer cross-multiply (no float rounding
    contract); corpus token arrays shuffle only for candidate doc_ids."""
    from pyspark.sql import Window

    inc_bands = minhash_signatures(new_df).select(
        "doc_id", F.explode(_band_keys_col()).alias("band_key")
    )
    cor_bands = minhash_signatures(corpus_df).select(
        F.col("doc_id").alias("corpus_id"),
        F.explode(_band_keys_col()).alias("band_key"),
    )
    w = Window.partitionBy("band_key")
    cor_kept = (
        cor_bands.select(
            "corpus_id",
            "band_key",
            F.count("*").over(w).alias("n_key"),
            F.min("corpus_id").over(w).alias("anchor"),
        )
        .filter(
            (F.col("n_key") <= band_cap) | (F.col("corpus_id") == F.col("anchor"))
        )
        .select("corpus_id", "band_key")
    )
    # The candidate pair list feeds two consumers (the corpus-side semi
    # filter and the verify join) and Catalyst has no cross-branch reuse,
    # so it is persisted LAZILY: the broadcast-build job below materializes
    # it, the verify join reuses the cached partitions, and no eager
    # blocking job is paid up front (round-6 A/B: lazy persist 0.60× vs
    # the round-5 shape; an eager localCheckpoint variant measured 1.16× —
    # the extra synchronous job cost more than the semi-join saved). The
    # candidate corpus ids then broadcast-SEMI-filter the corpus BEFORE
    # tokenization: corpus token arrays are built and shuffled only for
    # candidate doc_ids (previously cand.join(cor_toks) tokenized and
    # shuffled EVERY corpus row — the round-5 ADVICE finding). The id set
    # is one delivery's candidates (band-cap-bounded per increment band
    # key), not the corpus, so the broadcast is bounded. The cached frame
    # is candidate-pair-sized; a long-lived session owner can unpersist it
    # after consuming the result.
    cand = (
        inc_bands.join(cor_kept, "band_key")
        .select("doc_id", "corpus_id")
        .distinct()
        .persist()
    )
    inc_toks = new_df.select(
        "doc_id", F.array_distinct(tokens(F.col("text"))).alias("ta")
    )
    cor_toks = (
        corpus_df.select(F.col("doc_id").alias("corpus_id"), "text")
        .join(
            F.broadcast(cand.select("corpus_id").distinct()),
            "corpus_id",
            "semi",
        )
        .select(
            "corpus_id", F.array_distinct(tokens(F.col("text"))).alias("tb")
        )
    )
    matches = (
        cand.join(inc_toks, "doc_id")
        .join(cor_toks, "corpus_id")
        .filter(jaccard_verified(F.col("ta"), F.col("tb")))
        .groupBy("doc_id")
        .agg(F.min("corpus_id").alias("match_id"))
    )
    return (
        new_df.select("doc_id")
        .join(matches, "doc_id", "left")
        .select(
            "doc_id", "match_id", F.col("match_id").isNull().alias("keep")
        )
    )


_TOKS = tokens_sql("text")
_INTER = "len(list_intersect(ta, tb))"

NEARDUP_INCREMENT_SQL = f"""
WITH inc AS (
  SELECT doc_id, text FROM documents WHERE {_INC_SPLIT} >= 40
),
corpus AS (
  SELECT doc_id AS corpus_id, text FROM documents WHERE {_INC_SPLIT} < 60
),
inc_sig AS (
  SELECT doc_id, {_sig_mins_sql()}
  FROM (SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM inc) u
  GROUP BY doc_id
),
cor_sig AS (
  SELECT corpus_id AS doc_id, {_sig_mins_sql()}
  FROM (SELECT corpus_id, unnest(list_distinct({_TOKS})) AS tok FROM corpus) u
  GROUP BY corpus_id
),
inc_bands AS ({_band_selects_sql('inc_sig')}),
cor_bands AS (
  SELECT doc_id AS corpus_id, band_key
  FROM ({_band_selects_sql('cor_sig')})
),
cor_kept AS (
  SELECT corpus_id, band_key FROM (
    SELECT corpus_id, band_key,
           count(*) OVER (PARTITION BY band_key) AS n_key,
           min(corpus_id) OVER (PARTITION BY band_key) AS anchor
    FROM cor_bands
  ) WHERE n_key <= {BAND_KEY_CAP} OR corpus_id = anchor
),
cand AS (
  SELECT DISTINCT i.doc_id, c.corpus_id
  FROM inc_bands i JOIN cor_kept c USING (band_key)
),
inc_toks AS (SELECT doc_id, list_distinct({_TOKS}) AS ta FROM inc),
cor_toks AS (SELECT corpus_id, list_distinct({_TOKS}) AS tb FROM corpus),
verified AS (
  SELECT cand.doc_id, min(cand.corpus_id) AS match_id
  FROM cand
  JOIN inc_toks USING (doc_id)
  JOIN cor_toks USING (corpus_id)
  WHERE {_INTER} * 100 >= (len(ta) + len(tb) - {_INTER}) * {NEARDUP_VERIFY_PCT}
  GROUP BY cand.doc_id
)
SELECT i.doc_id, v.match_id, v.match_id IS NULL AS keep
FROM inc i LEFT JOIN verified v USING (doc_id)
"""


def q_neardup_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .common import h60

    docs = load(spark, sf_dir, "documents")
    bucket = F.pmod(h60(F.col("doc_id").cast("string")), F.lit(100))
    return neardup_increment(
        docs.filter(bucket >= 40), docs.filter(bucket < 60)
    )


# --- registry ----------------------------------------------------------------


def q_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load(spark, sf_dir, "documents"))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(load(spark, sf_dir, "documents"))


def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(load(spark, sf_dir, "documents"))


def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_candidate_pairs(load(spark, sf_dir, "documents"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(load(spark, sf_dir, "documents"))


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_neardup_pairs(load(spark, sf_dir, "embeddings"))


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return span_dedup(load(spark, sf_dir, "documents"))


def q_winnow_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_sketch(load(spark, sf_dir, "documents"))


QUERIES = {
    "dedup_spans": q_span_dedup,
    "winnow_sketch": q_winnow_sketch,
    "dedup_exact": q_exact,
    "dedup_simhash": q_simhash,
    "dedup_minhash": q_minhash,
    "dedup_lsh_pairs": q_lsh_pairs,
    "dedup_ngram_jaccard": q_ngram_jaccard,
    "dedup_embedding_neardup": q_embedding_neardup,
    "dedup_increment": q_dedup_increment,
    "dedup_neardup_increment": q_neardup_increment,
}

ORACLES = {
    "dedup_spans": SPAN_DEDUP_SQL,
    "winnow_sketch": WINNOW_SQL,
    "dedup_exact": EXACT_SQL,
    "dedup_simhash": SIMHASH_SQL,
    "dedup_minhash": MINHASH_SQL,
    "dedup_lsh_pairs": LSH_SQL,
    "dedup_ngram_jaccard": NGRAM_SQL,
    "dedup_embedding_neardup": NEARDUP_SQL,
    "dedup_increment": DEDUP_INCREMENT_SQL,
    "dedup_neardup_increment": NEARDUP_INCREMENT_SQL,
}
