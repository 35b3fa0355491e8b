"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_mix --seed 3 --seconds 10 --trace 0

Runs from the root of a source checkout, with a single driver process that
keeps one job in flight at a time (closed loop) on ``local[nproc]``. Every
file it writes goes under ``.perfbench_work/`` in the checkout. Human-readable
lines go first; the last line of stdout is the JSON result. See
``perfbench/LAYERS.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import statistics
import sys
import time
import uuid

ROOT = pathlib.Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
WORKLOADS = ("crawl_mix", "small_pages", "curation")
_THREAD_VARS = (
    "OMP_NUM_THREADS",
    "OPENBLAS_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
    "VECLIB_MAXIMUM_THREADS",
)
WARM_PAGES = 32  # fixture pages of the warm-up job in set-up


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be > 0")
    return args


def _driver_mem_gib() -> int:
    """A quarter of physical memory, within 1-4 GiB: the host is shared."""
    with open("/proc/meminfo") as f:
        total_kib = int(f.readline().split()[1])
    return max(1, min(4, total_kib // (4 * 1024 * 1024)))


def pin_environment() -> int:
    """Pin cores, memory, BLAS threads and every scratch path for this run;
    must happen before the JVM starts. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(cores)
    env["SPARK_GRAFT_DRIVER_MEM"] = f"{_driver_mem_gib()}g"
    for var in _THREAD_VARS:
        env[var] = "1"
    env["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    env["TMPDIR"] = str(tmp)
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return cores


def start_session(cores: int):
    """JVM + session, engine import, then one ``run_extract_job`` over a
    fixed page slice, in a single commit group, with one extraction task
    per core. It starts and warms every Python worker (the first pandas-UDF
    job pays the worker spin-up) and runs every code path of the job once.
    Its rows are checked against the committed golden rows, so that every
    run of every seed checks the extraction kernels. Returns the session
    and the number of pages whose rows are missing, duplicated or differ."""
    from pyspark.sql import functions as F

    from cpp_paddle_ocr_spark.fixtures import build_documents_pdf
    from cpp_paddle_ocr_spark.lineage import read_extracted, run_extract_job
    from cpp_paddle_ocr_spark.schemas import DOCUMENTS_SCHEMA
    from cpp_paddle_ocr_spark.session import get_spark

    from perfbench.extraction import golden_checksums
    from perfbench.inputs import OVERSIZE_MAX

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.defaultJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    pdf = build_documents_pdf(WARM_PAGES, oversize_max=OVERSIZE_MAX)
    warm = spark.createDataFrame(pdf, DOCUMENTS_SCHEMA).repartition(cores)
    out = str(WORK / "out" / "setup")
    shutil.rmtree(out, ignore_errors=True)
    run_extract_job(spark, warm, out, n_groups=1)
    rows = read_extracted(spark, out).select(
        "url", F.sha2("extracted_text", 256).alias("sha"), "success", "n_blocks"
    ).collect()
    print(f"setup parts: imports+session_s={t1 - t0:.3f} "
          f"warm_job_s={time.perf_counter() - t1:.3f}")
    golden = golden_checksums(pdf["url"])
    got = {r.url: (r.sha, bool(r.success), r.n_blocks) for r in rows}
    bad = {u for u in golden if got.get(u) != golden[u]} | (got.keys() - golden.keys())
    return spark, len(bad) + len(rows) - len(got)


def main(argv) -> int:
    args = _parse(argv)
    if not (ROOT / "cpp_paddle_ocr_spark" / "__init__.py").is_file():
        print(f"engine package cpp_paddle_ocr_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(ROOT / "tests")]
    from perfbench import inputs, probes

    age_at_main = probes.process_age_s()
    cores = pin_environment()
    run_id = uuid.uuid4().hex[:10]
    tracer = probes.Tracer(run_id, enabled=bool(args.trace))
    spin = [probes.host_spin_ms()]

    t0 = time.perf_counter()
    if args.workload == "curation":
        input_dir, fresh = inputs.curation_tables(WORK)
        routes = None
    else:
        n_files = 4 * cores
        input_dir, routes, fresh = inputs.pages_table(
            WORK, args.workload, args.seed, n_files
        )
    gen_s = time.perf_counter() - t0
    print(f"gen_s={gen_s:.3f} ({'generated' if fresh else 'cached'}) input={input_dir.name}")

    spark = None
    try:
        t_setup = time.perf_counter()
        spark, warm_bad = start_session(cores)
        setup_s = age_at_main + (time.perf_counter() - t_setup)
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        result = _measure(args, spark, cores, jvm_pid, input_dir, routes, tracer)
        result["failed"] += warm_bad
        result["attempted"] += WARM_PAGES
        spin.append(probes.host_spin_ms())
    finally:
        probes.stop_spark(spark)
        shutil.rmtree(WORK / "out", ignore_errors=True)

    failed, attempted = result["failed"], result["attempted"]
    print(f"setup_s={setup_s:.3f} cores={cores} "
          f"driver_mem={os.environ['SPARK_GRAFT_DRIVER_MEM']}")
    print(f"host.spin_ms before={spin[0]:.2f} after={spin[1]:.2f}")
    if "warm_s" in result:
        print(f"warm_s={result['warm_s']:.3f}")
    print(f"digests agree={len(set(result['digests'])) <= 1} "
          f"digest={result['digests'][0] if result['digests'] else '-'}")
    print(f"set-up job vs committed golden rows: {warm_bad} of {WARM_PAGES} differ")
    if routes is not None:
        print(f"output rows per checked job={result['row_counts']} "
              f"(input pages {len(routes)})")
    print(f"error_rate={failed / attempted:.6f} (failed {failed} of {attempted} "
          f"{'queries and set-up pages' if args.workload == 'curation' else 'pages'})")
    if args.trace:
        layers = result["layers"]
        layers["host.spin_ms"] = statistics.median(spin)
        path = WORK / "traces" / f"{args.workload}-s{args.seed}-{run_id}.json"
        path.parent.mkdir(parents=True, exist_ok=True)
        tracer.dump(path)
        print(f"spans={path.relative_to(ROOT)} ({len(tracer.spans)} spans)")
        ratio = layers["trace.layer_sum_over_wall"]
        print(f"layer_sum_check ratio={ratio:.3f} "
              f"{'ok' if abs(ratio - 1) <= 0.10 else 'OUTSIDE 10%'}")
        for name in sorted(layers):
            print(f"  {name} = {layers[name]:.6g}")
        metrics = {
            k: {"value": layers[k], "unit": u} for k, u in per_layer_units().items()
        }
    else:
        print("timed walls=" + ",".join(f"{w:.3f}" for w in result["walls"]))
        print(f"peak_rss_mib jvm={result['peak_jvm_mib']:.1f} "
              f"python={result['peak_rss_mib'] - result['peak_jvm_mib']:.1f} "
              f"processes={result['peak_procs']}")
        e2e = {
            "docs_per_s": (result["docs_per_s"], "docs/s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mib": (result["peak_rss_mib"], "MiB"),
            "ok_rate": (1.0 - failed / attempted, "ratio"),
        }
        for name, (v, unit) in e2e.items():
            print(f"{name} = {v:.6g} {unit}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    correct = failed == 0 and len(set(result["digests"])) <= 1
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


def per_layer_units() -> dict[str, str]:
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def _measure(args, spark, cores, jvm_pid, input_dir, routes, tracer) -> dict:
    if args.workload == "curation":
        from perfbench.curation import CurationBench

        bench = CurationBench(spark, WORK, input_dir, tracer)
        n_units = bench.n_docs
    else:
        from perfbench.extraction import ExtractionBench

        bench = ExtractionBench(spark, WORK, input_dir, routes, args.seed, tracer)
        n_units = bench.n_pages
    out = {}
    if args.workload == "curation":
        with tracer.span("warm"):
            out["warm_s"] = bench.warm_and_check()
    if args.trace:
        out["layers"] = _layers(args, bench, spark, cores, jvm_pid, n_units, tracer)
    else:
        out.update(bench.timed_loop(args.seconds, jvm_pid))
    out.update(
        digests=bench.digests,
        row_counts=getattr(bench, "row_counts", None),
        failed=len(bench.failed),
        attempted=bench.attempted,
    )
    return out


def _layers(args, bench, spark, cores, jvm_pid, n_units, tracer) -> dict:
    """Per-layer metrics of a traced run. Its untraced job (or passes) run
    interleaved with the traced ones and give the untraced wall, the Spark
    task totals and the tracing overhead."""
    from perfbench import probes

    status = probes.SparkStatus(spark.sparkContext)
    layers = {name: 0.0 for name in per_layer_units()}
    if args.workload == "curation":
        layers.update(bench.traced_passes(args.seconds))
        traced = tracer.durations("curation.pass")
    else:
        layers.update(bench.ladder(args.seconds, status))
        traced = tracer.durations("rung.job")
        with tracer.span("core"):
            layers.update(bench.core_pass())
    untraced = statistics.median(bench.untraced_walls)
    layers.update(status.summary("untraced", len(bench.untraced_walls)))
    layers["worker.rss_mib"] = probes.worker_rss_mib(jvm_pid)
    # extraction: the sum of the per-layer medians of per-round self times,
    # against the median untraced job; curation: traced vs untraced pass
    layer_sum = (
        statistics.median(traced)
        if args.workload == "curation"
        else layers["trace.layer_sum_s"]
    )
    layers["trace.layer_sum_over_wall"] = layer_sum / untraced
    layers["trace.overhead_docs_per_s"] = (
        n_units / statistics.median(traced) - n_units / untraced
    )
    if args.workload != "curation":
        layers["spark.efficiency"] = (n_units / untraced) / (
            cores * layers["core.docs_per_s_1t"]
        )
        # the curation layers, which no benchmarked workload runs, on the
        # fixed curation tables
        with tracer.span("probe.curation"):
            layers.update(_curation_probe(spark, tracer))
    return layers


def _curation_probe(spark, tracer) -> dict[str, float]:
    from perfbench import inputs
    from perfbench.curation import CurationBench

    table_dir, _ = inputs.curation_tables(WORK)
    return CurationBench(spark, WORK, table_dir, tracer).probe()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
