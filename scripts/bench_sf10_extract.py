"""Second measured decade for the HEADLINE only: 200k vs 2M docs.

BENCH/sf1.json covers sf0.1→sf1 for every operator; this script extends
the extraction pipeline — the north-rule metric — one more decade
(sf1→sf10, 2,000,000 synthetic pages ≈ 16 GB html) so the headline's
scaling exponent is measured across TWO decades, 20k → 2M docs.

Same methodology: interleaved (small, big) leg pairs in one session,
median of per-pair ratios (ratio ≤ 10 = at-worst-linear). Output appended
into BENCH/sf10_extract.json.

Usage: python scripts/bench_sf10_extract.py [n_pairs=2]
"""

from __future__ import annotations

import json
import pathlib
import statistics
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import bench  # noqa: E402
from cpp_paddle_ocr_spark.session import get_spark  # noqa: E402

N_SMALL = 200_000
N_BIG = 2_000_000


def main() -> None:
    n_pairs = int(sys.argv[1]) if len(sys.argv) > 1 else 2

    spark = get_spark(app_name="bench_sf10")
    spark.sparkContext.setLogLevel("ERROR")
    fix_small = bench.ensure_fixture(spark, N_SMALL)
    fix_big = bench.ensure_fixture(spark, N_BIG)

    out = str(ROOT / ".benchdata" / "out_sf10")
    pairs = []
    for i in range(n_pairs):
        t_s, n_s = bench.extract_pass(spark.read.parquet(fix_small), out)
        t_b, n_b = bench.extract_pass(spark.read.parquet(fix_big), out)
        pairs.append(
            {
                "small_s": round(t_s, 2),
                "big_s": round(t_b, 2),
                "small_docs_per_sec": round(n_s / t_s, 1),
                "big_docs_per_sec": round(n_b / t_b, 1),
                "ratio": round(t_b / t_s, 3),
            }
        )
        print(f"pair {i}: {pairs[-1]}", flush=True)

    out = {
        "metric": "extract decade 2: 200k vs 2M docs, paired wall-time ratio",
        "linear_bound": 10.0,
        "ratio_median": round(
            statistics.median(p["ratio"] for p in pairs), 3
        ),
        "pairs": pairs,
    }
    (ROOT / "BENCH" / "sf10_extract.json").write_text(json.dumps(out, indent=1))
    print("wrote BENCH/sf10_extract.json")
    spark.stop()


if __name__ == "__main__":
    main()
