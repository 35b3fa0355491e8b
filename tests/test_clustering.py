"""Connected-components dedup clustering (operators/clustering.py).

Oracle parity for the two driver entries runs in test_oracle_parity (the
registry auto-discovers them); here: the CC kernel itself against a pure-
Python union-find and the convergence guard.
"""

from __future__ import annotations

import pathlib
import sys

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from cpp_paddle_ocr_spark.operators.clustering import (  # noqa: E402
    connected_components,
    dedup_clusters,
)
from cpp_paddle_ocr_spark.operators.dedup import lsh_candidate_pairs  # noqa: E402

SF = "/root/testdata/sf0.001"


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _cc_dict(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    return {
        r["id"]: r["comp"] for r in connected_components(df).collect()
    }


def test_cc_hand_graph(spark):
    # chain (diameter 3) + clique + 2-cycle; node 99 never appears
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]
    got = _cc_dict(spark, edges)
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_cc_matches_union_find_on_lsh_pairs(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    edges = [
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(docs).collect()
    ]
    assert edges, "fixture should produce LSH candidate pairs"
    expected = _union_find(edges)
    assert _cc_dict(spark, edges) == expected


def test_cc_empty_edges(spark):
    df = spark.createDataFrame([], "src bigint, dst bigint")
    assert connected_components(df).count() == 0


def test_cc_long_chain_converges_by_pointer_jumping(spark):
    # path graph of diameter 39: plain hash-min would need 40 rounds and
    # trip max_iter=25; the comp(comp) shortcut converges in O(log d)
    edges = [(i, i + 1) for i in range(40)]
    got = _cc_dict(spark, edges)
    assert got == {i: 0 for i in range(41)}


def test_cc_nonconvergence_raises(spark):
    # chain of diameter 3 needs 3 propagation rounds; 2 must raise
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src bigint, dst bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2)


def test_cc_random_graphs_match_union_find(spark):
    # seeded random graphs spanning the shapes hash-min must handle:
    # sparse chains (long diameter), dense blobs, many tiny components
    import random

    rng = random.Random(4242)
    for n_nodes, n_edges in [(40, 20), (60, 120), (200, 80)]:
        nodes = rng.sample(range(10_000), n_nodes)
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(n_edges)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        assert _cc_dict(spark, edges) == _union_find(edges)


def test_dedup_clusters_covers_every_doc_once(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = dedup_clusters(docs)
    n = docs.count()
    assert out.count() == n
    assert out.select("doc_id").distinct().count() == n
    # exactly one canonical per cluster, and it is the cluster min
    agg = out.groupBy("cluster_id").agg(
        F.sum("is_canonical").alias("n_canon"),
        F.min("doc_id").alias("min_id"),
    )
    bad = agg.filter(
        (F.col("n_canon") != 1) | (F.col("min_id") != F.col("cluster_id"))
    ).count()
    assert bad == 0


def test_cc_reliable_checkpoint_mode_same_labels(spark, tmp_path):
    """checkpoint_dir= switches lineage truncation to reliable checkpoints
    (the multi-executor guidance as a code path); labels must be identical
    to the local-checkpoint default, and checkpoint files must land in the
    given directory."""
    import os

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 9)], "src bigint, dst bigint"
    )
    base = {
        (r.id, r.comp) for r in connected_components(edges).collect()
    }
    ckdir = str(tmp_path / "cc_ckpt")
    got = {
        (r.id, r.comp)
        for r in connected_components(edges, checkpoint_dir=ckdir).collect()
    }
    assert got == base
    assert any(os.scandir(ckdir)), "no reliable checkpoint data written"
