"""Resume-from-checkpoint harness (SURVEY.md §5 plan item 5).

Kill the job after commit group k, rerun with the same run_id, verify:
completed buckets are skipped, the final table is byte-identical to a
clean run, and no url is duplicated.
"""

from __future__ import annotations

import pytest

from cpp_paddle_ocr_spark.fixtures import GOLDEN_OVERSIZE_MAX
from cpp_paddle_ocr_spark.lineage import (
    SimulatedFailure,
    _committed,
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
    return generate_documents(spark, N, oversize_max=GOLDEN_OVERSIZE_MAX).cache()


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
    done = {b for b, _ in _committed(spark, out_b, "r1")}
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


def test_path_source_matches_dataframe_source(spark, docs, tmp_path_factory):
    # a string source is read by the job itself (sources.documents
    # .read_documents) and takes the same single-scan path as a DataFrame
    src = str(tmp_path_factory.mktemp("path_src") / "docs")
    docs.write.parquet(src)
    out_df = str(tmp_path_factory.mktemp("from_df"))
    out_path = str(tmp_path_factory.mktemp("from_path"))
    run_extract_job(spark, docs, out_df, run_id="d", n_buckets=BUCKETS, n_groups=GROUPS)
    run_extract_job(spark, src, out_path, run_id="p", n_buckets=BUCKETS, n_groups=GROUPS)
    from_path = _snapshot(spark, out_path)
    assert len(from_path) == N
    assert from_path == _snapshot(spark, out_df)
    lin = read_lineage(spark, out_path).collect()
    assert sorted(r.bucket for r in lin) == list(range(BUCKETS))
    assert {r.transform for r in lin} == {"xxhash64"}


def test_single_source_scan_per_job(spark, tmp_path_factory):
    # the source must be scanned ONCE per job regardless of n_groups (the
    # per-group filter used to re-scan it once per commit group): a canary
    # mapInPandas counts every source row that flows by — 8 groups over a
    # re-scanning design would count 8x
    import pandas as pd

    from cpp_paddle_ocr_spark.schemas import DOCUMENTS_SCHEMA

    src = str(tmp_path_factory.mktemp("scan_src") / "docs")
    generate_documents(spark, N, oversize_max=GOLDEN_OVERSIZE_MAX).write.parquet(src)
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
    # the fallback path writes every bucket once and each commit group
    # publishes from the driver (renames plus a lineage file, no Spark job),
    # so the job count does not grow with the group count: the
    # materializing stats pass over the bucket-clustered cache (3 jobs
    # under AQE) plus the one data write
    sc = spark.sparkContext
    docs.count()  # fill the input cache outside the counted jobs
    jobs = {}
    for n_groups in (1, GROUPS):
        out = str(tmp_path_factory.mktemp("budget"))
        sc.setJobGroup(f"lineage-budget-{n_groups}", "commit-loop job budget")
        try:
            run_extract_job(
                spark, docs, out, run_id="b", n_buckets=16, n_groups=n_groups
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[n_groups] = len(
            sc.statusTracker().getJobIdsForGroup(f"lineage-budget-{n_groups}")
        )
    assert jobs[1] == jobs[GROUPS] <= 5, f"Spark jobs per n_groups: {jobs}"


def test_one_data_file_per_bucket(spark, docs, tmp_path_factory):
    # the fallback cache is clustered by bucket, so a group writes each
    # bucket as one file, not one file per cache task per bucket
    import pathlib

    assert docs.rdd.getNumPartitions() > 1, "an unsplit input pins nothing"
    out = str(tmp_path_factory.mktemp("files"))
    run_extract_job(spark, docs, out, run_id="f", n_buckets=BUCKETS, n_groups=GROUPS)
    dirs = list(pathlib.Path(out, "extracted").glob("bucket=*"))
    assert len(dirs) > BUCKETS // 2
    per_dir = {d.name: len(list(d.glob("*.parquet"))) for d in dirs}
    assert max(per_dir.values()) == 1, per_dir


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


@pytest.fixture(scope="module")
def killed_run(spark, docs, tmp_path_factory):
    """A run killed after commit group 1 of 4: (out_dir, start, end), the
    bounds in epoch microseconds."""
    import time

    out = str(tmp_path_factory.mktemp("killed"))
    t0 = time.time()
    with pytest.raises(SimulatedFailure):
        run_extract_job(
            spark, docs, out, run_id="k", n_buckets=BUCKETS,
            n_groups=GROUPS, fail_after_group=1,
        )
    return out, int(t0 * 1e6), int(time.time() * 1e6) + 1


def test_killed_run_publishes_only_committed_buckets(spark, killed_run):
    # the groups after the failure stay in _staging, which the failed run
    # deletes: the output holds exactly the committed buckets
    import pathlib

    out = killed_run[0]
    done = {b for b, _ in _committed(spark, out, "k")}
    got = {r.bucket for r in read_extracted(spark, out).select("bucket").distinct().collect()}
    assert 0 < len(done) < BUCKETS
    assert got == done
    assert not pathlib.Path(out, "_staging").exists()


def test_stale_staging_files_do_not_publish(spark, docs, killed_run, tmp_path):
    # a crash that skipped the cleanup leaves files in _staging; the resumed
    # run's staging write must clear them, whether their bucket is committed
    # or still to do
    import shutil

    out = str(tmp_path / "out")
    shutil.copytree(killed_run[0], out)
    done = {b for b, _ in _committed(spark, out, "k")}
    for b in (0, min(set(range(BUCKETS)) - done)):
        stale = tmp_path / "out" / "_staging" / f"bucket={b}"
        stale.mkdir(parents=True)
        (stale / "part-x.parquet").write_bytes(b"not parquet")
    run_extract_job(spark, docs, out, run_id="k", n_buckets=BUCKETS, n_groups=GROUPS)
    clean = str(tmp_path / "clean")
    run_extract_job(spark, docs, clean, run_id="c", n_buckets=BUCKETS, n_groups=GROUPS)
    assert _snapshot(spark, out) == _snapshot(spark, clean)


def test_failed_publish_rename_raises(spark, docs, tmp_path, monkeypatch):
    # a FileSystem.rename that returns false must stop the job before the
    # group commits, not publish a group with missing buckets
    import pathlib

    from cpp_paddle_ocr_spark import lineage

    real = lineage._hadoop_path

    class NoRename:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def rename(self, src, dst):
            return False

    def no_rename(spark_, target):
        fs, path = real(spark_, target)
        return NoRename(fs), path

    monkeypatch.setattr(lineage, "_hadoop_path", no_rename)
    out = str(tmp_path / "out")
    with pytest.raises(OSError, match="could not rename staged"):
        run_extract_job(spark, docs, out, run_id="r", n_buckets=BUCKETS, n_groups=GROUPS)
    monkeypatch.undo()
    assert _committed(spark, out, "r") == set()
    assert not pathlib.Path(out, "_staging").exists()


def test_driver_written_lineage_reads_back(spark, killed_run):
    import pathlib

    from pyspark.sql import functions as F

    from cpp_paddle_ocr_spark.schemas import LINEAGE_SCHEMA

    out, start, end = killed_run
    names = sorted(p.name for p in pathlib.Path(out, "_lineage").iterdir())
    files = [n for n in names if n.endswith(".parquet")]
    assert len(files) == 2 and all(n.startswith("part-") for n in files), names
    lin = read_lineage(spark, out)
    assert [(f.name, f.dataType) for f in lin.schema] == [
        (f.name, f.dataType) for f in LINEAGE_SCHEMA
    ]
    rows = lin.withColumn("at_us", F.unix_micros("committed_at")).collect()
    assert sorted(r.bucket for r in rows) == sorted(b for b, _ in _committed(spark, out, "k"))
    assert len(rows) == 2 * BUCKETS // GROUPS
    assert all(r.committed_at is not None and start <= r.at_us <= end for r in rows)
    assert {r.transform for r in rows} == {"xxhash64"}


def test_dot_prefixed_lineage_file_is_ignored(spark, killed_run, tmp_path):
    # a crash between the write and the rename leaves a dot-prefixed file:
    # neither a complete one (rows for every bucket) nor a truncated one
    # may commit anything
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path / "out")
    shutil.copytree(killed_run[0], out)
    done = {b for b, _ in _committed(spark, out, "k")}
    assert 0 < len(done) < BUCKETS
    lin_dir = tmp_path / "out" / "_lineage"
    src = next(lin_dir.glob("part-*.parquet"))
    one = pq.read_table(src).slice(0, 1)
    every = pa.concat_tables(
        [one.set_column(1, "bucket", pa.array([b], pa.int32())) for b in range(BUCKETS)]
    )
    pq.write_table(every, lin_dir / ".part-complete.parquet")
    data = src.read_bytes()
    (lin_dir / ".part-torn.parquet").write_bytes(data[: len(data) // 2])
    assert {b for b, _ in _committed(spark, out, "k")} == done


def test_missing_lineage_sink_is_empty(spark, tmp_path):
    # a fresh out_dir has no lineage sink: nothing committed, no read tried
    assert _committed(spark, str(tmp_path / "fresh"), "k") == set()
    assert _committed(spark, str(tmp_path), "k") == set()


def test_unreadable_lineage_file_raises(spark, docs, killed_run, tmp_path):
    # a lineage sink that exists but cannot be read must stop the job, not
    # restart it from zero over committed buckets
    import shutil

    out = str(tmp_path / "out")
    shutil.copytree(killed_run[0], out)
    (tmp_path / "out" / "_lineage" / "part-garbage.parquet").write_bytes(b"not parquet")
    m = make_metrics(spark)
    with pytest.raises(Exception, match="(?i)parquet"):
        run_extract_job(
            spark, docs, out, run_id="k", n_buckets=BUCKETS, n_groups=GROUPS, metrics=m
        )
    assert m["n_pages"].value == 0


def test_spark_written_lineage_file_still_resumes(spark, docs, killed_run, tmp_path):
    # a lineage dir from before the driver writer holds Spark-written files
    # (INT96 committed_at); a mixed dir must read and resume must skip
    # the buckets those files commit
    import shutil

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    out = str(tmp_path / "out")
    shutil.copytree(killed_run[0], out)
    lin_dir = tmp_path / "out" / "_lineage"
    old = next(lin_dir.glob("part-*.parquet"))
    rows = pq.read_table(old).drop_columns(["committed_at", "transform"])
    old.unlink()
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        (
            spark.createDataFrame(
                rows,
                "run_id string, bucket int, n_pages long, n_ok long, n_blocks long, wall_ms double",
            )
            .coalesce(1)
            .withColumn("committed_at", F.current_timestamp())
            .withColumn("transform", F.lit("xxhash64"))
            .write.mode("append")
            .parquet(str(lin_dir))
        )
    finally:
        spark.conf.set(key, prev)
    kinds = {
        pq.ParquetFile(p).schema.column(6).physical_type
        for p in lin_dir.glob("part-*.parquet")
    }
    assert kinds == {"INT96", "INT64"}, "one legacy and one driver-written file"
    done = {b for b, _ in _committed(spark, out, "k")}
    assert set(rows.column("bucket").to_pylist()) <= done
    assert len(done) == 2 * BUCKETS // GROUPS
    committed_pages = sum(
        r.n_pages for r in read_lineage(spark, out).filter("run_id = 'k'").collect()
    )

    m = make_metrics(spark)
    run_extract_job(
        spark, docs, out, run_id="k", n_buckets=BUCKETS, n_groups=GROUPS, metrics=m
    )
    assert m["n_pages"].value == N - committed_pages
    lin = read_lineage(spark, out).filter("run_id = 'k'").collect()
    assert sorted(r.bucket for r in lin) == list(range(BUCKETS))
    urls = [r.url for r in read_extracted(spark, out).select("url").collect()]
    assert len(urls) == len(set(urls)) == N


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
