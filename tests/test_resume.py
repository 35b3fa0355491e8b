"""Resume-from-checkpoint harness (SURVEY.md §5 plan item 5).

Kill the job after commit group k, rerun with the same run_id, verify:
completed buckets are skipped, the final table is byte-identical to a
clean run, and no url is duplicated.
"""

from __future__ import annotations

import pytest

from cpp_paddle_ocr_spark.lineage import (
    SimulatedFailure,
    completed_buckets,
    read_extracted,
    read_lineage,
    run_extract_job,
)
from cpp_paddle_ocr_spark.operators.extract import make_metrics
from cpp_paddle_ocr_spark.sources.documents import generate_documents

N = 100
BUCKETS = 16
GROUPS = 4


@pytest.fixture(scope="module")
def docs(spark):
    return generate_documents(spark, N, oversize_max=2_000_000).cache()


def _snapshot(spark, out_dir):
    return {
        r.url: (r.success, r.n_blocks, r.extracted_text)
        for r in read_extracted(spark, out_dir).collect()
    }


def test_kill_and_resume(spark, docs, tmp_path_factory):
    out_a = str(tmp_path_factory.mktemp("clean"))
    out_b = str(tmp_path_factory.mktemp("resumed"))

    # clean run
    run_extract_job(spark, docs, out_a, run_id="clean", n_buckets=BUCKETS, n_groups=GROUPS)
    clean = _snapshot(spark, out_a)
    assert len(clean) == N

    # killed run: fails after commit group 1 (2 of 4 groups committed)
    with pytest.raises(SimulatedFailure):
        run_extract_job(
            spark, docs, out_b, run_id="r1", n_buckets=BUCKETS,
            n_groups=GROUPS, fail_after_group=1,
        )
    done = completed_buckets(spark, out_b, "r1")
    assert 0 < len(done) < BUCKETS, "failure must land mid-job"

    # resume: only remaining buckets are processed
    m = make_metrics(spark)
    run_extract_job(
        spark, docs, out_b, run_id="r1", n_buckets=BUCKETS,
        n_groups=GROUPS, metrics=m,
    )
    resumed = _snapshot(spark, out_b)
    assert m["n_pages"].value < N, "resume must skip committed buckets"
    assert resumed == clean, "resumed output must be byte-identical to clean run"

    # lineage covers every bucket exactly once for the run
    lin = read_lineage(spark, out_b).filter("run_id = 'r1'")
    per_bucket = {r.bucket: r for r in lin.collect()}
    assert set(per_bucket) == set(range(BUCKETS))
    assert sum(r.n_pages for r in per_bucket.values()) == N


def test_rerun_completed_job_is_noop(spark, docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("noop"))
    run_extract_job(spark, docs, out, run_id="x", n_buckets=8, n_groups=2)
    m = make_metrics(spark)
    run_extract_job(spark, docs, out, run_id="x", n_buckets=8, n_groups=2, metrics=m)
    assert m["n_pages"].value == 0
    assert len(_snapshot(spark, out)) == N


def test_single_source_scan_per_job(spark, tmp_path_factory):
    # the source must be scanned ONCE per job regardless of n_groups (the
    # per-group filter used to re-scan it once per commit group): a canary
    # mapInPandas counts every source row that flows by — 8 groups over a
    # re-scanning design would count 8x
    import pandas as pd

    from cpp_paddle_ocr_spark.schemas import DOCUMENTS_SCHEMA

    src = str(tmp_path_factory.mktemp("scan_src") / "docs")
    generate_documents(spark, N, oversize_max=2_000_000).write.parquet(src)
    acc = spark.sparkContext.accumulator(0)

    def canary(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    docs_counted = spark.read.parquet(src).mapInPandas(canary, DOCUMENTS_SCHEMA)
    out = str(tmp_path_factory.mktemp("scan_out"))
    run_extract_job(
        spark, docs_counted, out, run_id="s", n_buckets=BUCKETS, n_groups=8
    )
    assert acc.value == N, f"source scanned {acc.value / N:.1f}x, expected 1x"
    assert len(_snapshot(spark, out)) == N


def test_commit_loop_job_budget(spark, docs, tmp_path_factory):
    # each commit group is one data write plus one lineage append; the
    # materializing stats pass adds a few fixed jobs (3 under AQE)
    sc = spark.sparkContext
    out = str(tmp_path_factory.mktemp("budget"))
    sc.setJobGroup("lineage-budget", "commit-loop job budget")
    try:
        run_extract_job(spark, docs, out, run_id="b", n_buckets=16, n_groups=GROUPS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("lineage-budget")
    assert len(jobs) <= 2 * GROUPS + 4, f"{len(jobs)} Spark jobs for {GROUPS} groups"


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_lineage_rows_match_output(spark, docs, tmp_path_factory, arrow):
    # more buckets than pages: empty buckets still get one all-zero row.
    # arrow=false is the bare session jobs/extract_job.py builds.
    import pathlib

    from pyspark.sql import functions as F

    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        out = str(tmp_path_factory.mktemp("lineage_rows"))
        run_extract_job(spark, docs, out, run_id="l", n_buckets=2 * N, n_groups=GROUPS)
    finally:
        spark.conf.set(key, prev)
    lin = read_lineage(spark, out).collect()
    assert sorted(r.bucket for r in lin) == list(range(2 * N))
    got = {r.bucket: (r.n_pages, r.n_ok, r.n_blocks) for r in lin}
    want = {
        r.bucket: (r.n_pages, r.n_ok, r.n_blocks)
        for r in read_extracted(spark, out)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.col("success").cast("long")).alias("n_ok"),
            F.sum(F.col("n_blocks").cast("long")).alias("n_blocks"),
        )
        .collect()
    }
    assert 0 < len(want) < 2 * N
    assert got == {b: want.get(b, (0, 0, 0)) for b in range(2 * N)}
    assert {r.transform for r in lin} == {"xxhash64"}
    assert len({r.wall_ms for r in lin}) == GROUPS
    files = list(pathlib.Path(out, "_lineage").glob("*.parquet"))
    assert len(files) == GROUPS, "one lineage file per commit group"


# ---------------------------------------------------------------------------
# The Iceberg bucket-spec pruning guard is untestable end-to-end without the
# runtime jar, but its DESCRIBE-parse is pure Python — pin both branches
# (round-3 verdict next-steps #6) with canned DESCRIBE rows.
# ---------------------------------------------------------------------------


def _desc_rows(*pairs):
    from types import SimpleNamespace

    return [SimpleNamespace(col_name=c, data_type=d) for c, d in pairs]


def test_bucket_spec_guard_confirms_match():
    from cpp_paddle_ocr_spark.lineage import verify_bucket_spec

    rows = _desc_rows(
        ("url", "string"),
        ("html", "binary"),
        ("# Partitioning", ""),
        ("Part 0", "bucket(64, url)"),
    )
    assert verify_bucket_spec(rows, "cat.db.docs", 64) is True
    # whitespace variants still match
    rows2 = _desc_rows(("Part 0", "bucket( 64 , url )"))
    assert verify_bucket_spec(rows2, "cat.db.docs", 64) is True


def test_bucket_spec_guard_raises_on_mismatch():
    import pytest

    from cpp_paddle_ocr_spark.lineage import verify_bucket_spec

    rows = _desc_rows(("Part 0", "bucket(32, url)"))
    with pytest.raises(RuntimeError, match="would not prune"):
        verify_bucket_spec(rows, "cat.db.docs", 64)


def test_bucket_spec_guard_best_effort_on_exotic_shapes():
    from cpp_paddle_ocr_spark.lineage import verify_bucket_spec

    # no partitioning info at all
    assert verify_bucket_spec(_desc_rows(("url", "string")), "t", 64) is False
    # partitioned, but not by bucket(url): days transform
    rows = _desc_rows(("Part 0", "days(warc_ts)"))
    assert verify_bucket_spec(rows, "t", 64) is False
    # rows without a data_type field (exotic catalog DESCRIBE shape)
    class Odd:
        pass

    assert verify_bucket_spec([Odd(), Odd()], "t", 64) is False
    # bucket transform over a different column is not OUR spec
    rows = _desc_rows(("Part 0", "bucket(64, doc_id)"))
    assert verify_bucket_spec(rows, "t", 64) is False
    # empty input
    assert verify_bucket_spec([], "t", 64) is False
