"""Link-graph operators: crawl prioritization over the web graph.

A production crawler ranks its frontier by link authority — PageRank over
the host/page graph is the classic signal (alongside ``revisit_latest``'s
change-rate signal). This module implements a DETERMINISTIC integer
PageRank: ranks live in micro-units (``PR_SCALE``), the damping step is an
exact BIGINT division, and per-node contribution sums are integer adds —
order-independent, so Spark's arbitrary aggregation order and the DuckDB
oracle agree bit-for-bit with no float rounding contract (the same
discipline as ``clustering.verified_pairs``'s cross-multiplied Jaccard).

Scale shape (100 TB / 10^10-node graph): each iteration is ONE shuffle —
edges (out-degree attached by one window pass and eagerly checkpointed)
join the current rank vector on src, then hash-aggregate contributions by
dst. The
fixed-count loop references each round's rank vector exactly once, so the
unrolled lineage is LINEAR and the default 5 rounds run as one job —
round 6 removed the per-iteration eager localCheckpoint (pure fixed
overhead, A/B 0.83×); deep custom iteration counts still truncate lineage
every 8 rounds. Dangling-node mass leaks (the standard simplified
formulation) — ranks are a relative priority signal, not a probability.

Reference parity note: the reference engine has no graph stage; this is a
beyond-reference operator of the crawl-pipeline family (`revisit_latest`,
`domain_cap`, `url_canonicalize`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .common import h60, h60_sql, load

#: rank micro-units: node ranks are integers scaled by PR_SCALE
PR_SCALE = 1_000_000
#: damping factor as an integer percentage (0.85)
PR_DAMP_PCT = 85
#: fixed iteration count — the oracle unrolls exactly this many rounds
PR_ITERS = 5
#: rank of a page with no inbound links after round 1 — the floor a URL
#: absent from the graph is scheduled at
PR_BASE = (100 - PR_DAMP_PCT) * PR_SCALE // 100


def pagerank(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """Integer PageRank over a ``(src, dst)`` edge list: ``(node, rank)``
    after ``iters`` rounds, rank in ``PR_SCALE`` micro-units (BIGINT).

    Update rule (all-BIGINT, order-independent):
    ``rank'(n) = (100-d)·SCALE div 100 + Σ_{v→n} (d·rank(v)) div (100·outdeg(v))``
    with d = ``PR_DAMP_PCT``. Callers pass a deduplicated, self-loop-free
    edge list; dangling mass leaks (disclosed above). Initial rank is
    ``PR_SCALE`` for every node that appears as a src or dst."""
    from pyspark.sql import Window

    # out-degree as a WINDOW over the edge frame, not an agg + self-join:
    # the join form needed the edge list checkpointed first (its subtree
    # fed both join sides, CLAUDE.md #13), i.e. THREE eager setup jobs
    # (e, nodes, weighted). The window computes deg in the same pass, so
    # one checkpoint materializes the reusable (src, dst, deg) frame and
    # `nodes` derives from it — two setup jobs, one fewer join. Round-6
    # A/B at sf1: pagerank 0.71x, crawl_schedule 0.78x, identical rows.
    # Skew note: the window keys on src, so a pathological super-source
    # (one page with 10^8 outlinks) sorts its edges in one task; callers
    # pass deduplicated page-level edge lists where out-degree is bounded
    # by a page's link budget — per-dst IN-degree skew (the hub shape
    # PageRank exists to measure) lands on the per-round aggregate, which
    # map-side combines, not here.
    weighted = edges.select("src", "dst").withColumn(
        "deg", F.count("*").over(Window.partitionBy("src"))
    ).localCheckpoint(eager=True)
    nodes = (
        weighted.select(F.col("src").alias("node"))
        .unionByName(weighted.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ranks = nodes.withColumn("rank", F.lit(PR_SCALE).cast("long"))
    for i in range(iters):
        contrib = (
            weighted.join(ranks, weighted.src == ranks.node)
            .select(
                "dst",
                F.expr(f"({PR_DAMP_PCT} * rank) div (100 * deg)").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contrib, nodes.node == contrib.dst, "left").select(
            "node",
            (F.lit(PR_BASE) + F.coalesce(F.col("s"), F.lit(0)))
            .cast("long")
            .alias("rank"),
        )
        # The loop is FIXED-count with `ranks` referenced exactly once per
        # round, so the unrolled lineage is LINEAR (no cross-branch
        # replay, CLAUDE.md #13 does not bite) and the default 5 rounds
        # execute as ONE job instead of five eager checkpoint jobs —
        # round-6 A/B: the per-round eager localCheckpoint was pure fixed
        # overhead at every scale. Deep custom iteration counts still
        # truncate lineage every 8 rounds to bound plan depth.
        if i % 8 == 7 and i != iters - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def _pagerank_sql(edges_sql: str) -> str:
    """``PR_ITERS`` unrolled aggregation rounds as chained CTEs (a recursive
    CTE cannot aggregate in its recursive term, so the fixed iteration
    count is unrolled — same determinism the Spark loop has)."""
    rounds = []
    for i in range(1, PR_ITERS + 1):
        rounds.append(
            f"""r{i} AS (
  SELECT n.node,
         CAST({PR_BASE} + coalesce(s.s, 0) AS BIGINT) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst, CAST(sum(({PR_DAMP_PCT} * r.rank) // (100 * e.deg))
                  AS BIGINT) AS s
    FROM weighted e JOIN r{i - 1} r ON r.node = e.src
    GROUP BY e.dst
  ) s ON s.dst = n.node
)"""
        )
    chained = ",\n".join(rounds)
    return f"""
WITH edges AS ({edges_sql}),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
weighted AS (SELECT e.src, e.dst, o.deg FROM edges e JOIN outdeg o USING (src)),
r0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS rank FROM nodes),
{chained}
SELECT node, rank FROM r{PR_ITERS}
"""


# --- driver query --------------------------------------------------------
#
# The driver tables carry no link column (same disclosed convention as
# ``relational.revisit_latest``), so the crawl graph is synthesized
# deterministically from the fetch log: src = the fetching user's page id,
# dst = a hub page per event_type for even event_ids (5 event types → 5
# high-in-degree hubs, the authority skew PageRank exists to measure) and
# a near-uniform page otherwise. Self-loops dropped, edges deduplicated.

_EDGES_SQL = f"""
SELECT DISTINCT user_id AS src,
       CASE WHEN event_id % 2 = 0
            THEN {h60_sql('event_type')} % 1000
            ELSE event_id % 997 END AS dst
FROM events
WHERE user_id <> (CASE WHEN event_id % 2 = 0
                       THEN {h60_sql('event_type')} % 1000
                       ELSE event_id % 997 END)
"""

PAGERANK_SQL = _pagerank_sql(_EDGES_SQL)


def crawl_edges(events: DataFrame) -> DataFrame:
    """The synthesized crawl graph described above, as a DataFrame."""
    dst = F.when(
        F.pmod(F.col("event_id"), F.lit(2)) == 0,
        F.pmod(h60(F.col("event_type")), F.lit(1000)),
    ).otherwise(F.pmod(F.col("event_id"), F.lit(997)))
    return (
        events.select(F.col("user_id").alias("src"), dst.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pagerank(crawl_edges(load(spark, sf_dir, "events")))


# --- crawl scheduling (capstone composition) ------------------------------

def crawl_schedule(events: DataFrame) -> DataFrame:
    """The crawl-side capstone: what should the crawler fetch next?
    Composes the two scheduler signals this engine computes —
    ``relational.revisit_latest``'s content-churn accounting (how often a
    page CHANGES) and ``pagerank``'s link authority (how much a page
    MATTERS) — into one integer priority per URL:
    ``priority = rank · (1 + n_changes)``, all BIGINT (bit-exact
    cross-engine, like both constituents). Output: ``(url_key, rank,
    n_fetches, n_changes, priority)``; URLs whose host never entered the
    link graph schedule at the unlinked-page floor ``PR_BASE``.

    Scale shape: revisit is ONE shuffle on url_key; pagerank is one
    shuffle per iteration over the checkpointed edge frame; the final
    join keys the per-URL frame on an 8-byte host id against the (much
    smaller) per-node rank vector. Nothing rescans events beyond the two
    constituent scans."""
    from .relational import revisit_latest

    rev = revisit_latest(events).select(
        "url_key",
        "n_fetches",
        "n_changes",
        F.split(F.col("url_key"), ":").getItem(0).cast("long").alias("host"),
    )
    pr = pagerank(crawl_edges(events))
    rank = F.coalesce(F.col("rank"), F.lit(PR_BASE))
    return (
        rev.join(pr, rev.host == pr.node, "left")
        .select(
            "url_key",
            rank.alias("rank"),
            "n_fetches",
            "n_changes",
            (rank * (F.lit(1) + F.col("n_changes")))
            .cast("long")
            .alias("priority"),
        )
    )


def _crawl_schedule_sql() -> str:
    from .relational import REVISIT_SQL

    return f"""
WITH rev AS (SELECT * FROM ({REVISIT_SQL})),
pr AS (SELECT * FROM ({PAGERANK_SQL}))
SELECT r.url_key,
       coalesce(p.rank, {PR_BASE}) AS rank,
       r.n_fetches,
       r.n_changes,
       CAST(coalesce(p.rank, {PR_BASE}) * (1 + r.n_changes) AS BIGINT)
         AS priority
FROM rev r
LEFT JOIN pr p
  ON p.node = CAST(string_split(r.url_key, ':')[1] AS BIGINT)
"""


CRAWL_SCHEDULE_SQL = _crawl_schedule_sql()


def q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    return crawl_schedule(load(spark, sf_dir, "events"))


QUERIES = {
    "graph_pagerank": q_pagerank,
    "crawl_schedule": q_crawl_schedule,
}
ORACLES = {
    "graph_pagerank": PAGERANK_SQL,
    "crawl_schedule": CRAWL_SCHEDULE_SQL,
}
