"""Duplicate-cluster resolution: connected components + canonical keep-one.

Every dedup operator in this engine emits candidate PAIRS (`dedup.
lsh_candidate_pairs`, `similarity.knn_join`); a real training-data pipeline
needs the step after that — transitive closure into clusters and a
deterministic keep-one policy — or a 3-way duplicate chain A~B~C with no
A~C pair keeps two copies. This module supplies that step as a hash-min
label-propagation connected components over DataFrame joins, then composes
it with the existing pair generators:

* ``dedup_clusters``     — MinHash-LSH pairs → components over doc_id
* ``semantic_clusters``  — thresholded kNN graph → components over vec_id

Reference analog: the cascade's own NMS/union post-processing collapses
overlapping det boxes into one kept region (src/ocr_worker.cpp det
post-step); this is the corpus-level form of the same collapse.

Scale notes (100 TB view):
* Each hash-min iteration is ONE shuffle (join edges⋈labels on dst, then
  groupBy src min) — the standard Spark CC recipe (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14: hash-min /
  large-star-small-star family). LSH dup graphs are cliques and
  anchor-stars (the BAND_KEY_CAP degradation is star-shaped BY
  CONSTRUCTION), so diameter ≤ ~4 and the loop converges in 2-4 rounds on
  real crawls; thin-chain graphs converge in O(log diameter) via the
  adaptive pointer-jump (below).
* Lineage is truncated every iteration (``localCheckpoint``) — without it
  the plan doubles per round and the driver OOMs planning round ~15 at any
  scale. On a multi-executor cluster pass ``checkpoint_dir=`` to switch to
  reliable ``checkpoint`` (executor loss invalidates local checkpoints);
  local mode has no such failure domain.
* The giant-component hazard (one spam template duplicated 10^8 times) is
  bounded upstream: the pair generators' anchor-star caps keep per-key
  pair output O(k), and hash-min over a star converges in 2 rounds with
  the anchor's id as the label. The first CC_JUMP_AFTER rounds key every
  shuffle by NODE id (no single hot key even for a giant component); the
  pointer-jump rounds that follow DO key a join by comp label, but only
  engage for slow-converging thin-chain graphs, with AQE skew-join as the
  backstop — see ``connected_components``.
* Convergence check is a single ``count`` aggregate per round (changed
  labels), never a ``collect`` of labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .common import load, tokens, tokens_sql
from .dedup import LSH_SQL, NEARDUP_VERIFY_PCT, jaccard_verified, lsh_candidate_pairs
from .similarity import KNN_JOIN_SQL, knn_join

CC_MAX_ITER = 25
#: rounds of skew-free neighbor-min before the pointer-jump engages
CC_JUMP_AFTER = 3


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = CC_MAX_ITER,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Hash-min connected components over an undirected edge list.

    Returns ``(id, comp)`` for every node that appears in any edge, where
    ``comp`` is the minimum node id of the component. Nodes absent from
    ``edges`` (singletons) are simply absent — callers re-attach them with
    a left join + coalesce (see ``dedup_clusters``).

    Rounds 1..JUMP_AFTER are plain neighbor-min propagation — every join
    keys on NODE id, so a giant duplicate component creates no hot shuffle
    key, and the clique/star graphs the capped pair generators emit
    converge here (≤3 rounds). If convergence hasn't happened by then the
    graph has thin chains (a 30-link path of incrementally-edited pages —
    a shape the band caps do NOT bound), and later rounds add a
    pointer-jumping shortcut (``comp ← comp(comp)``) for O(log diameter)
    total rounds. The jump's hop join keys on the comp LABEL, which IS
    skewed for huge components — but huge components are exactly the ones
    that already converged before the jump engages, and AQE skew-join
    (on in session.py) backstops the residual case. ``max_iter`` of 25
    therefore covers diameters beyond 2^20; hitting it still raises
    ``RuntimeError`` as a safety net.

    ``checkpoint_dir`` switches the per-round lineage truncation from
    ``localCheckpoint`` (executor-local blocks — fine in local mode, LOST
    on executor failure) to a RELIABLE ``checkpoint`` into that directory
    (HDFS/object-store on a real cluster) — the cluster guidance above as
    a code path, not a comment. Same labels either way; the reliable mode
    just pays a write per round for fault tolerance.
    """
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

        def _ckpt(d: DataFrame) -> DataFrame:
            return d.checkpoint(eager=True)

    else:

        def _ckpt(d: DataFrame) -> DataFrame:
            return d.localCheckpoint(eager=True)

    sym = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    sym = sym.unionByName(
        sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    # materialize the edge list once; every iteration re-reads it
    sym = _ckpt(sym)

    # Round 0 is folded into initialization: with comp(x)=x, the first
    # neighbor-min propagation is exactly min(dst) per src, so labels start
    # at least(id, min(neighbor)) from ONE aggregate over the edge list —
    # this replaces both the distinct-node init and a full
    # join+aggregate+checkpoint+count round. Every node appears as a src in
    # the symmetrized edge list, so coverage is unchanged.
    labels = (
        sym.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("nbr"))
        .select("id", F.least(F.col("id"), F.col("nbr")).alias("comp"))
    )
    for rnd in range(max_iter):
        prop = (
            sym.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = labels.join(prop, "id", "left").select(
            "id",
            F.col("comp").alias("old_comp"),
            F.least(
                F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
            ).alias("comp"),
        )
        # the folded init counts as the first plain round
        if rnd < CC_JUMP_AFTER - 1:
            merged = _ckpt(stepped)
        else:
            # pointer jumping: a label is itself a node id in the same
            # component, so looking its label up and taking the min halves
            # the remaining distance to the component min every round.
            # stepped is checkpointed FIRST so the neighbor-propagation
            # subplan isn't recomputed for both sides of the self-join.
            stepped = _ckpt(stepped)
            hop = stepped.select(
                "id", F.col("comp").alias("hop_comp")
            ).alias("h")
            merged = (
                stepped.alias("s")
                .join(hop, F.col("s.comp") == F.col("h.id"), "left")
                .select(
                    F.col("s.id").alias("id"),
                    F.col("s.old_comp").alias("old_comp"),
                    F.least(
                        F.col("s.comp"),
                        F.coalesce(F.col("h.hop_comp"), F.col("s.comp")),
                    ).alias("comp"),
                )
            )
            merged = _ckpt(merged)
        changed = merged.filter(F.col("comp") < F.col("old_comp")).count()
        labels = merged.select("id", "comp")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations — "
        "pair-generator caps are likely broken (unbounded component diameter)"
    )


def _attach_labels(
    nodes: DataFrame, labels: DataFrame, id_col: str
) -> DataFrame:
    """All-rows cluster assignment: singletons label themselves."""
    comp = F.coalesce(F.col("comp"), F.col(id_col))
    return (
        nodes.join(labels.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            comp.alias("cluster_id"),
            (comp == F.col(id_col)).cast("int").alias("is_canonical"),
        )
    )


def verified_pairs(df: DataFrame) -> DataFrame:
    """LSH candidate pairs filtered to TRUE distinct-token Jaccard ≥
    NEARDUP_VERIFY_PCT/100 (the integer test ``dedup.jaccard_verified``).

    Scale: one extra shuffle joining the pair list (≪ n² rows by the band
    caps) against the per-doc token sets; intersection cost is per-pair
    O(|A|+|B|) — the standard candidate-verification stage of a MinHash
    dedup pipeline.
    """
    pairs = lsh_candidate_pairs(df)
    toks = df.select(
        "doc_id", F.array_distinct(tokens(F.col("text"))).alias("t")
    )
    return (
        pairs.join(
            toks.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("ta")),
            "doc_a",
        )
        .join(
            toks.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("tb")),
            "doc_b",
        )
        .filter(jaccard_verified(F.col("ta"), F.col("tb")))
        .select("doc_a", "doc_b")
    )


def dedup_clusters(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """Full near-dup resolution over `documents`: LSH candidate pairs →
    true-Jaccard verification → connected components →
    ``(doc_id, cluster_id, is_canonical)``.

    ``is_canonical`` = 1 on the minimum doc_id of each cluster — the
    deterministic keep-one policy; `filter(is_canonical = 1)` IS the
    deduplicated corpus. Every document gets a row (singletons are their
    own cluster), so the output is a drop-in dedup-key column for the
    whole table.
    """
    labels = connected_components(
        verified_pairs(df), "doc_a", "doc_b", checkpoint_dir=checkpoint_dir
    )
    return _attach_labels(df.select("doc_id"), labels, "doc_id")


#: Production default: 0.9 cosine is the conventional near-dup bar for
#: normalized text embeddings. The DRIVER entry passes 0.45 explicitly:
#: the synthetic fixture embeddings are decorrelated (max kNN cosine ≈
#: 0.51 at sf0.01), so 0.9 would make the oracle vacuously all-singleton;
#: 0.45 exercises real multi-node clusters on the same fixture.
SEMANTIC_THRESH = 0.9
SEMANTIC_DRIVER_THRESH = 0.45


def semantic_clusters(
    df: DataFrame,
    thresh: float = SEMANTIC_THRESH,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Semantic (embedding-space) dedup clusters: kNN edges with cosine ≥
    ``thresh`` → connected components → ``(vec_id, cluster_id,
    is_canonical)`` for every embedding row.

    The edge set comes from ``knn_join`` (bucketed, capped — never n²), so
    cluster recall inherits the bucket scheme's recall; that is the
    documented ANN trade, not a defect of the components step. The kNN
    cosines are the per-bucket matmul rounded half-up at 6 dp, checked
    against ``SEMANTIC_CLUSTERS_SQL`` by the driver.
    """
    pairs = (
        knn_join(df)
        .filter(F.col("cosine") >= thresh)
        .select("vec_id", "neighbor_id")
    )
    labels = connected_components(
        pairs, "vec_id", "neighbor_id", checkpoint_dir=checkpoint_dir
    )
    return _attach_labels(df.select("vec_id"), labels, "vec_id")


def _cc_sql(pairs_sql: str, src: str, dst: str) -> str:
    """Recursive-CTE min-label closure over a pair subquery.

    The ``c.comp < s.dst`` prune is safe for MIN propagation: the
    component minimum M is strictly below every other node id in the
    component, so M's path to any node always passes the prune; it only
    discards labels that can never be a component min, keeping the CTE
    linear instead of all-pairs.
    """
    return f"""
sym AS (
  SELECT {src} AS src, {dst} AS dst FROM ({pairs_sql})
  UNION
  SELECT {dst} AS src, {src} AS dst FROM ({pairs_sql})
),
cc(id, comp) AS (
  SELECT DISTINCT src, src FROM sym
  UNION
  SELECT s.dst, c.comp FROM cc c JOIN sym s ON s.src = c.id
  WHERE c.comp < s.dst
),
labels AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id)
"""


_VERIFIED_PAIRS_SQL = f"""
SELECT doc_a, doc_b FROM (
  SELECT p.doc_a, p.doc_b,
         len(list_intersect(a.t, b.t)) AS inter,
         len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS un
  FROM ({LSH_SQL}) p
  JOIN (SELECT doc_id, list_distinct({tokens_sql('text')}) AS t
        FROM documents) a ON a.doc_id = p.doc_a
  JOIN (SELECT doc_id, list_distinct({tokens_sql('text')}) AS t
        FROM documents) b ON b.doc_id = p.doc_b
)
WHERE inter * 100 >= un * {NEARDUP_VERIFY_PCT}
"""

DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_cc_sql(_VERIFIED_PAIRS_SQL, "doc_a", "doc_b")}
SELECT d.doc_id,
       coalesce(l.comp, d.doc_id) AS cluster_id,
       CAST(coalesce(l.comp, d.doc_id) = d.doc_id AS INT) AS is_canonical
FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
"""

SEMANTIC_CLUSTERS_SQL = f"""
WITH RECURSIVE knn AS ({KNN_JOIN_SQL}),
thresholded AS (
  SELECT vec_id, neighbor_id FROM knn WHERE cosine >= {SEMANTIC_DRIVER_THRESH}
),
{_cc_sql("SELECT * FROM thresholded", "vec_id", "neighbor_id")}
SELECT e.vec_id,
       coalesce(l.comp, e.vec_id) AS cluster_id,
       CAST(coalesce(l.comp, e.vec_id) = e.vec_id AS INT) AS is_canonical
FROM embeddings e LEFT JOIN labels l ON l.id = e.vec_id
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_clusters(load(spark, sf_dir, "documents"))


def q_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # driver threshold 0.45 — see SEMANTIC_DRIVER_THRESH
    return semantic_clusters(
        load(spark, sf_dir, "embeddings"), thresh=SEMANTIC_DRIVER_THRESH
    )


QUERIES = {
    "dedup_clusters": q_dedup_clusters,
    "sim_semantic_clusters": q_semantic_clusters,
}

ORACLES = {
    "dedup_clusters": DEDUP_CLUSTERS_SQL,
    "sim_semantic_clusters": SEMANTIC_CLUSTERS_SQL,
}
