"""Production extraction job entry (SURVEY.md §3.1 Spark-native equivalent).

Usage:
    spark-submit --py-files engine.zip jobs/extract_job.py \
        --input /path/to/documents_parquet_or_iceberg_table \
        --output /path/to/out_dir \
        [--run-id RID] [--buckets N] [--groups G] \
        [--generate N]          # generate a fixture table instead of reading

Build engine.zip with scripts/make_pyfiles.sh. ``--input`` goes to
``lineage.run_extract_job`` as its ``source``, which picks the scan (pruned
per-group reads of an Iceberg table, else one cached scan); ``--buckets``
and ``--groups`` default to the job's own defaults. The job is resumable:
rerun with the same --run-id and --output after a failure and only
uncommitted lineage buckets are processed.
"""

from __future__ import annotations

import argparse
import inspect
import sys


def main(argv: list[str]) -> None:
    from cpp_paddle_ocr_spark.lineage import run_extract_job

    job = inspect.signature(run_extract_job).parameters
    p = argparse.ArgumentParser()
    p.add_argument("--input", default=None)
    p.add_argument("--output", required=True)
    p.add_argument("--run-id", default=None)
    p.add_argument("--buckets", type=int, default=job["n_buckets"].default)
    p.add_argument("--groups", type=int, default=job["n_groups"].default)
    p.add_argument("--generate", type=int, default=None)
    p.add_argument(
        "--status",
        action="store_true",
        help="print lineage/metrics summary for --output and exit "
        "(the 'status' verb of the reference's request router P5, "
        "src/ocr_ipc_service.cpp:438-448)",
    )
    args = p.parse_args(argv)
    if not (args.status or args.generate or args.input):
        p.error("one of --input / --generate is required")

    from pyspark.sql import SparkSession

    from cpp_paddle_ocr_spark.operators.extract import make_metrics
    from cpp_paddle_ocr_spark.sources.documents import generate_documents

    # don't tear down a session this entry didn't create (in-process
    # callers — tests, notebooks — own their session's lifecycle)
    owns_session = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName("extract-job").getOrCreate()
    if args.status:
        from pyspark.sql import functions as F

        from cpp_paddle_ocr_spark.lineage import has_lineage, read_lineage

        if not has_lineage(spark, args.output):
            print(f"nothing committed under {args.output}")
        else:
            lin = read_lineage(spark, args.output)
            summary = lin.groupBy("run_id").agg(
                F.countDistinct("bucket").alias("buckets"),
                F.sum("n_pages").alias("n_pages"),
                F.sum("n_ok").alias("n_ok"),
                F.sum("n_blocks").alias("n_blocks"),
                F.max("committed_at").alias("last_commit"),
            )
            summary.show(truncate=False)
        if owns_session:
            spark.stop()
        return

    source = generate_documents(spark, args.generate) if args.generate else args.input
    metrics = make_metrics(spark)
    run_id = run_extract_job(
        spark,
        source,
        args.output,
        run_id=args.run_id,
        n_buckets=args.buckets,
        n_groups=args.groups,
        metrics=metrics,
    )
    print(
        f"run_id={run_id} "
        + " ".join(f"{k}={v.value}" for k, v in metrics.items())
    )
    if owns_session:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
