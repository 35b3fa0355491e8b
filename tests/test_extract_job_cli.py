"""CLI entry `jobs/extract_job.py` — the P5 request-router surface
(SURVEY.md §2): the `extract` verb end-to-end and the `--status` verb's
lineage summary, driven in-process (round-4 verdict item #7: the one §2 row
whose test column still said "manual"), over a generated table and over an
``--input`` parquet path."""

from __future__ import annotations

import pathlib
import re
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "jobs"))

from extract_job import main  # noqa: E402


def test_extract_job_and_status_verb(spark, tmp_path, capsys):
    out = str(tmp_path / "job_out")
    main(
        [
            "--generate", "60",
            "--output", out,
            "--buckets", "4",
            "--groups", "2",
        ]
    )
    run_line = capsys.readouterr().out
    m = re.search(r"run_id=(\S+)", run_line)
    assert m, run_line
    run_id = m.group(1)
    assert "n_pages=60" in run_line

    main(["--status", "--output", out])
    status_out = capsys.readouterr().out
    # the P5 'status' verb: one summary row for the run, with the lineage
    # totals the extract verb reported
    row = next(
        (ln for ln in status_out.splitlines() if run_id in ln), None
    )
    assert row is not None, status_out
    cells = [c.strip() for c in row.strip().strip("|").split("|")]
    assert cells[0] == run_id
    assert cells[1] == "4"    # buckets
    assert cells[2] == "60"   # n_pages

    # the test session must survive the in-process entry (it did not
    # create the session, so it must not stop it)
    assert spark.sparkContext._jsc is not None
    assert spark.range(1).count() == 1


def test_extract_job_reads_input_path(spark, tmp_path, capsys, golden_checksums):
    # --input goes to run_extract_job as its source string; the job reads it
    import hashlib

    from cpp_paddle_ocr_spark.fixtures import GOLDEN_OVERSIZE_MAX
    from cpp_paddle_ocr_spark.lineage import read_extracted
    from cpp_paddle_ocr_spark.sources.documents import generate_documents

    src = str(tmp_path / "docs")
    generate_documents(spark, 40, oversize_max=GOLDEN_OVERSIZE_MAX).write.parquet(src)
    out = str(tmp_path / "job_out")
    main(["--input", src, "--output", out, "--buckets", "4", "--groups", "2"])
    assert "n_pages=40" in capsys.readouterr().out
    rows = read_extracted(spark, out).collect()
    assert len(rows) == len({r.url for r in rows}) == 40
    for r in rows:
        digest, success, n_blocks = golden_checksums[r.url]
        assert (r.success, r.n_blocks) == (success, n_blocks)
        assert hashlib.sha256(r.extracted_text.encode()).hexdigest() == digest


def test_status_verb_before_first_commit(spark, tmp_path, capsys):
    # an output with no lineage sink yet (no group has committed) is a
    # status, not an error: one line, normal return
    (tmp_path / "fresh").mkdir()
    out = str(tmp_path / "fresh")
    main(["--status", "--output", out])
    assert capsys.readouterr().out == f"nothing committed under {out}\n"
