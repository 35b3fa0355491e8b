"""N-vs-4N scaling-efficiency harness (north rule; target ≥0.8).

No real cluster exists in this sandbox, so the two-cluster-size criterion is
evidenced by running the IDENTICAL extraction job at two parallelism levels
on the same input and reporting throughput at both plus
``efficiency = (docs/s at 4N) / (4 × docs/s at N)``.

Methodology (each point matters; BENCH/BASELINE.md has the full analysis):

* **Two modes, one pairing table (``RUNS``).**
  - Thread mode → BENCH/scaling.json. PRIMARY ``local[2] → local[8]``: 4×
    the parallelism in the regime where this host itself can scale.
    SECONDARY ``local[8] → local[32]``, reported with the spin-loop
    hardware control measured in the same minutes: the host is a
    shared-tenant VM whose pure-compute rate scales 8→32 at only ~0.6-0.8
    depending on the minute, so the reader can separate engine scaling
    from host ceiling.
  - Executor mode → BENCH/scaling_executors.json. ``local-cluster[n, c,
    mem]`` runs real executor PROCESSES (own heaps, GC, shuffle servers
    and Python daemons), the closest available proxy to "N and 4N
    executors" on one box. The engine ships to them as engine.zip via
    ``addPyFile``, the spark-submit --py-files shape. PRIMARY 2 → 8
    executors × 1 core; SECONDARY 2 → 8 executors × 4 cores.
* **CPU affinity**: each leg runs in its own subprocess pinned with
  ``taskset -c`` so "N cores" means N cores.
* **Fresh JVM per leg + FULL warmup pass + best-of-2 timed passes**
  (``bench.extract_pass``).
* **Interleaved pairs**: the host drifts on minute scales, so legs are run
  (small, big) × pairs back-to-back and efficiency is the MEDIAN of the
  per-pair ratios — a slow minute hits both legs of a pair, not one.
* **No shuffle**: extraction is a pure map over the scan (shuffling raw
  html between executor JVMs measured ~2× slower end-to-end).
* Each output file records the run it measured; earlier runs live in git.

Usage: python scripts/bench_scaling.py   (``--leg MASTER`` runs one leg)
"""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from cpp_paddle_ocr_spark.fixtures import GOLDEN_OVERSIZE_MAX  # noqa: E402

N_DOCS = 24_000
PAIRS = 3
FIXTURE = ROOT / ".benchdata" / f"docs_n{N_DOCS}_o{GOLDEN_OVERSIZE_MAX}_f256"

#: one row per output file: (file, method, key of the secondary pairing,
#: (primary, secondary) pairings as (master at N, master at 4N, pairs)).
RUNS = (
    (
        "scaling.json",
        "taskset-pinned local[N] legs, fresh JVM per leg, full warmup pass, "
        "best-of-2 timed passes, (small,big) pairs interleaved, efficiency "
        "= median of paired ratios; no-shuffle map-over-scan",
        "secondary_8_to_32",
        (("local[2]", "local[8]", PAIRS), ("local[8]", "local[32]", 1)),
    ),
    (
        "scaling_executors.json",
        "local-cluster executor processes shipped engine.zip via addPyFile "
        "(--py-files shape), taskset-pinned, fresh JVMs, full warmup, "
        "best-of-2 per leg, interleaved (small,big) pairs, efficiency = "
        "median of paired ratios; no-shuffle map-over-scan",
        "secondary_4cores_per_exec",
        (
            ("local-cluster[2,1,5120]", "local-cluster[8,1,5120]", PAIRS),
            ("local-cluster[2,4,5120]", "local-cluster[8,4,5120]", 1),
        ),
    ),
)

SCAN_CONF = {
    "spark.ui.enabled": "false",
    # fixture files are ~0.9 MB; these bins give ~128 tasks (smooth waves,
    # bounded per-task arrow buffering) instead of defaultParallelism bins
    "spark.sql.files.maxPartitionBytes": "8m",
    "spark.sql.files.openCostInBytes": "1m",
    # 32-row columnar batches: 128 rows of multi-MB html per batch holds
    # hundreds of MB per in-flight task at high core counts
    "spark.sql.parquet.columnarReaderBatchSize": "32",
}


def _shape(master: str) -> tuple[int | None, int]:
    """``(executors, cores each)`` of a ``local-cluster[n, c, mem]``
    master, ``(None, N)`` of a ``local[N]`` one."""
    nums = [int(x) for x in master[master.index("[") + 1 : -1].split(",")]
    return (nums[0], nums[1]) if len(nums) == 3 else (None, nums[0])


def _cores(master: str) -> int:
    executors, cores_each = _shape(master)
    return (executors or 1) * cores_each


def ensure_fixture() -> None:
    if (FIXTURE / "_SUCCESS").exists():
        return
    from cpp_paddle_ocr_spark.session import get_spark
    from cpp_paddle_ocr_spark.sources.documents import generate_documents

    spark = get_spark(app_name="scaling-gen", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    generate_documents(
        spark, N_DOCS, oversize_max=GOLDEN_OVERSIZE_MAX, num_partitions=256
    ).write.mode("overwrite").parquet(str(FIXTURE))
    spark.stop()


def leg(master: str) -> None:
    """Timed run inside a taskset-pinned subprocess; prints docs/s."""
    from bench import extract_pass
    from cpp_paddle_ocr_spark.session import get_spark

    executors, cores_each = _shape(master)
    cores = _cores(master)
    conf = dict(SCAN_CONF)
    if executors:
        conf["spark.executor.memory"] = "4g"
        # each executor JVM sees the whole machine; bound its service
        # threads to its share of the pin
        conf["spark.executor.extraJavaOptions"] = (
            "-XX:+UseParallelGC "
            f"-XX:ParallelGCThreads={max(2, cores_each)} "
            f"-XX:ActiveProcessorCount={cores_each}"
        )
    spark = get_spark(
        app_name=f"scaling-{master}",
        master=master,
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    if executors:
        # rebuilt every leg: a stale zip silently ships an old kernel to
        # the executors; same recipe as spark-submit users
        subprocess.run(["sh", str(ROOT / "scripts" / "make_pyfiles.sh")], check=True)
        spark.sparkContext.addPyFile(str(ROOT / "engine.zip"))
    docs = spark.read.parquet(str(FIXTURE))
    out = str(ROOT / ".benchdata" / f"scaling_out_{cores}")
    extract_pass(docs, out)  # FULL warmup: C2 + python worker spawn/imports + page cache
    best = max(n / dt for dt, n in (extract_pass(docs, out) for _ in range(2)))
    print(f"RATE {best:.2f}", flush=True)
    spark.stop()


def _spin(seconds: float = 2.0) -> float:
    t0 = time.perf_counter()
    x, n = 1, 0
    while time.perf_counter() - t0 < seconds:
        for _ in range(100_000):
            x = (x * 1103515245 + 12345) & 0xFFFFFFFF
        n += 100_000
    return n / seconds


def spin_control(cores: int) -> float:
    """Per-core pure-compute rate (M iters/s) at ``cores`` active workers —
    the hardware control: no memory traffic, no Spark, no Python workers.
    (_spin must be module-level: Pool pickles the callable.)"""
    import multiprocessing as mp

    with mp.get_context("fork").Pool(cores) as pool:
        rates = pool.map(_spin, [2.0] * cores)
    return round(sum(rates) / len(rates) / 1e6, 2)


def run_leg(master: str) -> float:
    cmd = [
        "taskset", "-c", f"0-{_cores(master) - 1}",
        sys.executable, str(pathlib.Path(__file__).resolve()),
        "--leg", master,
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True)
    for line in out.stdout.splitlines():
        if line.startswith("RATE "):
            return float(line.split()[1])
    raise RuntimeError(f"no RATE in leg output: {out.stdout[-500:]} {out.stderr[-500:]}")


def paired(small: str, big: str, pairs: int) -> dict:
    ratios, raw = [], []
    for _ in range(pairs):
        rs = run_leg(small)
        rb = run_leg(big)
        raw.append({"small": round(rs, 2), "big": round(rb, 2)})
        ratios.append((rb / rs) / (_cores(big) / _cores(small)))
        print(f"PAIR {small}->{big}: {rs:.1f} -> {rb:.1f} "
              f"eff {ratios[-1]:.3f}", flush=True)
    ratios.sort()
    (exec_small, cores_each), (exec_big, _) = _shape(small), _shape(big)
    if exec_small is None:
        sizes = {"cores_small": _cores(small), "cores_big": _cores(big)}
    else:
        sizes = {
            "executors_small": exec_small,
            "executors_big": exec_big,
            "cores_per_executor": cores_each,
        }
    return {
        **sizes,
        "pairs": raw,
        "efficiencies": [round(r, 3) for r in ratios],
        "scaling_efficiency": round(ratios[len(ratios) // 2], 3),
    }


def write_result(out_file: pathlib.Path, result: dict) -> None:
    """Record the run measured, whatever an earlier file held."""
    out_file.parent.mkdir(exist_ok=True)
    out_file.write_text(json.dumps(result, indent=2))
    print(json.dumps(result))


def main() -> None:
    if "--leg" in sys.argv:
        leg(sys.argv[sys.argv.index("--leg") + 1])
        return
    ensure_fixture()

    for name, method, secondary_key, pairings in RUNS:
        primary, secondary = (paired(*p) for p in pairings)
        result = {
            "n_docs": N_DOCS,
            "method": method,
            **primary,
            "docs_per_sec_small": primary["pairs"][-1]["small"],
            "docs_per_sec_big": primary["pairs"][-1]["big"],
            "target": 0.8,
            "pass": primary["scaling_efficiency"] >= 0.8,
            secondary_key: secondary,
        }
        if _shape(pairings[0][0])[0] is None:  # thread mode: hardware control
            cores = sorted({_cores(m) for p in pairings for m in p[:2]})
            result["hardware_control"] = {
                f"spin_per_core_Mips_{c}": spin_control(c) for c in cores
            }
        write_result(ROOT / "BENCH" / name, result)


if __name__ == "__main__":
    main()
