"""Paired sf0.1 ↔ sf1 scaling measurement → BENCH/sf1.json.

One decade of measured input scaling (10x rows per table, gen_sf1.py) for
every ``bench.OPERATOR_LEAVES`` query plus the extract headline.
Methodology per BENCH/BASELINE.md: this host's capacity drifts 2x+ on
minute scales, so isolated per-sf numbers are meaningless — each query runs
as interleaved (sf0.1, sf1) leg PAIRS within one session, and the statistic
is the MEDIAN of per-pair time ratios. A ratio ≤ 10 means the decade costs no more than
the data grew (sublinear/linear); the per-query scaling exponent is
log10(ratio).

Extract runs 2 pairs (costly); operator queries 3 pairs. Everything shares
one JVM — within-session pairing controls JIT state and host drift better
than fresh JVMs would control anything here, and it is the ratio we are
after, not the absolute time (the absolute headline lives in bench.py).

Usage: python scripts/bench_sf1_pairs.py [LEAF ...]   (requires
.benchdata/sf1 from gen_sf1.py and the 20k/200k extract fixtures from prior
bench.py runs — both are built automatically if absent). Leaf names run a
subset of the queries, merged into sf1.json.
"""

from __future__ import annotations

import json
import pathlib
import statistics
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import bench  # noqa: E402
from cpp_paddle_ocr_spark.session import get_spark  # noqa: E402
from __spark_entry__ import queries  # noqa: E402

SF_SMALL = "/root/testdata/sf0.1"
SF_BIG = str(ROOT / ".benchdata" / "sf1")

N_PAIRS = 3
N_EXTRACT_PAIRS = 2


def _run(fn, spark, sf_dir: str) -> float:
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    subset = set(sys.argv[1:])
    unknown = subset - set(bench.OPERATOR_LEAVES)
    if unknown:
        # fail BEFORE get_spark/fixture work: a typo'd name would otherwise
        # burn minutes, measure nothing, and still rewrite sf1.json
        raise SystemExit(f"unknown query names: {sorted(unknown)}")
    entry_queries = queries()
    query_set = [
        (n, entry_queries[n])
        for n in bench.OPERATOR_LEAVES
        if not subset or n in subset
    ]

    spark = get_spark(app_name="bench_sf1_pairs")
    spark.sparkContext.setLogLevel("ERROR")

    fix_small = bench.ensure_fixture(spark, 20_000)
    fix_big = bench.ensure_fixture(spark, 200_000)
    # all three markers: a partially generated dir (interrupted gen_sf1)
    # must be repaired, not trusted 45 minutes into the measurement loop
    if not all(
        pathlib.Path(SF_BIG, f"{t}.parquet", "_SUCCESS").exists()
        for t in ("documents", "embeddings", "events", "orders", "customer", "nation")
    ):
        import gen_sf1

        gen_sf1.generate_sf1(spark)

    results: dict[str, dict] = {}

    # warmup: one throwaway leg of each query at BOTH scales — sf0.1-only
    # warmup left the sf1 partition count's python-worker spinup (~5 s,
    # CLAUDE.md #12) inside the first measured sf1 leg (the round-4
    # sim_ivf_ann 9.88 cold-leg artifact)
    for name, fn in query_set:
        _run(fn, spark, SF_SMALL)
        _run(fn, spark, SF_BIG)

    for name, fn in query_set:
        pairs = []
        for _ in range(N_PAIRS):
            t_small = _run(fn, spark, SF_SMALL)
            t_big = _run(fn, spark, SF_BIG)
            pairs.append((round(t_small, 3), round(t_big, 3)))
        ratios = [b / s for s, b in pairs]
        results[name] = {
            "pairs_s": pairs,
            "ratio_median": round(statistics.median(ratios), 3),
        }
        print(name, results[name], flush=True)

    if not subset:  # extract legs only in full runs (too costly per subset)
        pairs = []
        out = str(ROOT / ".benchdata" / "out_pairs")
        for _ in range(N_EXTRACT_PAIRS):
            t_small, _ = bench.extract_pass(spark.read.parquet(fix_small), out)
            t_big, _ = bench.extract_pass(spark.read.parquet(fix_big), out)
            pairs.append((round(t_small, 3), round(t_big, 3)))
        ratios = [b / s for s, b in pairs]
        results["extract_pipeline"] = {
            "pairs_s": pairs,
            "ratio_median": round(statistics.median(ratios), 3),
        }
        print("extract_pipeline", results["extract_pipeline"], flush=True)

    target = ROOT / "BENCH" / "sf1.json"
    partial = False
    if subset and target.exists():
        prior = json.loads(target.read_text())
        prior["queries"].update(results)
        results = prior["queries"]
    elif subset:
        partial = True  # no prior file to merge into: say so in the output
    out = {
        "metric": "sf0.1->sf1 paired wall-time ratio (10x input rows)",
        "method": (
            f"interleaved (sf0.1, sf1) leg pairs in one session, median of "
            f"per-pair ratios; {N_PAIRS} pairs/query, {N_EXTRACT_PAIRS} "
            f"extract pairs (20k vs 200k docs); warmup leg per query"
        ),
        "linear_bound": 10.0,
        "queries": results,
    }
    if partial:
        out["partial"] = sorted(subset)
    (ROOT / "BENCH" / "sf1.json").write_text(json.dumps(out, indent=1))
    print("wrote BENCH/sf1.json")
    spark.stop()


if __name__ == "__main__":
    main()
