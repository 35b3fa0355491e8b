"""Extraction workloads (``crawl_mix``, ``small_pages``): the production
resumable job, its correctness gate, the traced layer ladder and the
single-thread pure-core stage pass."""

from __future__ import annotations

import collections
import functools
import hashlib
import pathlib
import shutil
import statistics
import time
import zlib

import pyarrow.parquet as pq

from . import probes

#: Committed reference rows of fixture ids below 2000: url, sha256 of
#: ``extracted_text``, success, n_blocks (``scripts/gen_golden.py``).
GOLDEN_TSV = pathlib.Path(__file__).resolve().parent.parent / "tests/golden/CHECKSUMS.tsv"
GOLDEN_SAMPLE = 16  # urls re-extracted by the golden extractor per run
CORE_SAMPLE = 40  # work-route pages in the single-thread stage pass
CORE_REPS = 3
LADDER = ("scan", "route", "arrow", "cascade", "parquet", "job")
ROUTES = ("empty", "oversized", "invalid", "work")
_ROW_COLS = ("success", "error", "n_blocks", "spans", "extracted_text")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def golden_checksums(urls) -> dict[str, tuple[str, bool, int]]:
    """The committed golden row of each of ``urls`` that has one."""
    want = set(urls)
    out = {}
    for line in GOLDEN_TSV.read_text(encoding="utf-8").splitlines():
        url, digest, success, n_blocks = line.split("\t")
        if url in want:
            out[url] = (digest, success == "1", int(n_blocks))
    return out


class ExtractionBench:
    def __init__(self, spark, work, input_dir, routes, seed, tracer):
        from cpp_paddle_ocr_spark.sources.documents import read_documents

        self.spark = spark
        self.work = work
        self.input_dir = input_dir
        self.routes = routes
        self.seed = seed
        self.tracer = tracer
        self.docs = read_documents(spark, str(input_dir))
        self.n_pages = len(routes)
        self.failed: set[tuple[int, str]] = set()
        self.attempted = 0
        self.golden = golden_checksums(routes)
        self.digests: list[str] = []
        self.row_counts: list[int] = []
        self.untraced_walls: list[float] = []  # full jobs of the ladder

    # -- the job -----------------------------------------------------------

    def _out(self, name: str) -> str:
        path = self.work / "out" / name
        shutil.rmtree(path, ignore_errors=True)
        return str(path)

    def run_job(self, name: str) -> tuple[float, str]:
        """One production job: ``run_extract_job`` with its own lineage
        layout (64 buckets in 8 commit groups), as the CLI runs it."""
        from cpp_paddle_ocr_spark.lineage import run_extract_job

        out = self._out(name)
        t0 = time.perf_counter()
        run_extract_job(self.spark, self.docs, out)
        return time.perf_counter() - t0, out

    def _rows(self, out: str) -> list:
        from pyspark.sql import functions as F

        from cpp_paddle_ocr_spark.lineage import read_extracted

        return (
            read_extracted(self.spark, out)
            .select(
                "url",
                F.sha2(F.to_json(F.struct(*_ROW_COLS)), 256).alias("h"),
                F.sha2(F.col("extracted_text"), 256).alias("text_sha"),
                "success",
                "n_blocks",
            )
            .collect()
        )

    def check_job(self, job_no: int, out: str) -> None:
        """Every input url must come back exactly once, on the success flag
        its route implies, and equal to the committed golden row if it has
        one. Each url that breaks any of these, and each output url that is
        not an input, is one failure. The first checked job also has a
        sample of its rows re-extracted by the golden extractor; the digests
        of all checked jobs of a run must agree."""
        rows = self._rows(out)
        if not self.row_counts:
            self._check_golden(job_no, out)
        self.attempted += self.n_pages
        self.row_counts.append(len(rows))
        seen = collections.Counter(r.url for r in rows)
        for r in rows:
            golden = self.golden.get(r.url)
            if (
                seen[r.url] != 1
                or r.url not in self.routes
                or (self.routes[r.url] == "work") != bool(r.success)
                or (golden is not None
                    and golden != (r.text_sha, bool(r.success), r.n_blocks))
            ):
                self.failed.add((job_no, r.url))
        for url in self.routes.keys() - seen.keys():
            self.failed.add((job_no, url))
        self.digests.append(
            hashlib.sha256("".join(sorted(r.h for r in rows)).encode()).hexdigest()
        )

    def _sample_urls(self) -> list[str]:
        def key(u: str) -> int:
            return zlib.crc32(f"{self.seed}/{u}".encode())

        return sorted(self.routes, key=key)[:GOLDEN_SAMPLE]

    def _input_html(self, urls) -> dict[str, bytes | None]:
        t = pq.read_table(self.input_dir, columns=["url", "html"])
        want = set(urls)
        return {
            u: h
            for u, h in zip(t.column("url").to_pylist(), t.column("html").to_pylist())
            if u in want
        }

    def _check_golden(self, job_no: int, out: str) -> None:
        from pyspark.sql import functions as F

        from cpp_paddle_ocr_spark.core.pipeline import extract_batch
        from cpp_paddle_ocr_spark.lineage import read_extracted

        urls = self._sample_urls()
        html = self._input_html(urls)
        got = {
            r.url: r
            for r in read_extracted(self.spark, out)
            .filter(F.col("url").isin(urls))
            .collect()
        }
        for url in urls:
            want = extract_batch([url], [html[url]]).iloc[0]
            row = got.get(url)
            if row is None or not (
                bool(row.success) == bool(want["success"])
                and row.error == want["error"]
                and row.extracted_text == want["extracted_text"]
                and [s.asDict() for s in row.spans] == list(want["spans"])
            ):
                self.failed.add((job_no, url))

    # -- untraced closed loop ------------------------------------------------

    def timed_loop(self, seconds: float, jvm_pid: int) -> dict:
        walls: list[float] = []
        with probes.RssSampler(jvm_pid) as rss:
            t_end = time.perf_counter() + seconds
            while time.perf_counter() < t_end or len(walls) < 2:
                wall, out = self.run_job(f"timed-{len(walls) % 2}")
                walls.append(wall)
                self.check_job(len(walls), out)  # outside the job's wall
        return {
            "walls": walls,
            "docs_per_s": self.n_pages / _median(walls),
            "peak_rss_mib": rss.peak_mib,
            "peak_jvm_mib": rss.peak_root / (1024 * 1024),
            "peak_procs": rss.peak_procs,
        }

    # -- traced ladder -------------------------------------------------------

    def ladder(self, budget_s: float, status) -> dict[str, float]:
        """Rounds of the six rungs over the same input until ``budget_s`` is
        spent (at least one round). A layer's self time is the median over
        rounds of its rung minus the rung below in the same round. One full
        job runs first, untimed: the first full job of a fresh JVM is by far
        its slowest. The same job then runs untraced, kept in
        ``untraced_walls``, right before and right after the first full-job
        rung: each job still runs a little faster than the one before, and
        the pair cancels that trend in the traced/untraced comparison. The first untraced job and the first
        full-job rung are checked."""
        from cpp_paddle_ocr_spark.operators.extract import extract, prepare_routed

        sc = self.spark.sparkContext
        batches = sc.accumulator(0)

        def identity(it):
            for pdf in it:
                batches.add(1)
                yield pdf

        routed = prepare_routed(self.docs)
        arrow = routed.mapInPandas(identity, routed.schema)

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        rungs = {
            "scan": lambda: noop(self.docs.select("url", "html")),
            "route": lambda: noop(routed),
            "arrow": lambda: noop(arrow),
            "cascade": lambda: noop(extract(self.docs)),
            "parquet": lambda: extract(self.docs)
            .write.mode("overwrite")
            .parquet(self._out("ladder-parquet")),
            "job": lambda: self.run_job("ladder-job"),
        }
        with self.tracer.span("warm"):
            self.run_job("ladder-warm")
        t_end = time.perf_counter() + budget_s
        rounds = 0
        with self.tracer.span("ladder"):
            while rounds < 1 or time.perf_counter() < t_end:
                for name in LADDER:
                    if rounds == 0 and name == "job":
                        sc.setJobGroup("untraced", "untraced job")
                        wall, untraced_out = self.run_job("ladder-untraced")
                        self.untraced_walls.append(wall)
                    sc.setJobGroup(f"rung-{name}-{rounds}", name)
                    with self.tracer.span(f"rung.{name}", round=rounds):
                        rungs[name]()
                if rounds == 0:
                    sc.setJobGroup("untraced", "untraced job")
                    self.untraced_walls.append(self.run_job("ladder-untraced-2")[0])
                    sc.setJobGroup("untimed", "benchmark bookkeeping")
                    self.check_job(1, untraced_out)
                    self.check_job(2, str(self.work / "out" / "ladder-job"))
                rounds += 1
        sc.setJobGroup("untimed", "benchmark bookkeeping")
        rung_s = [self.tracer.durations(f"rung.{n}") for n in LADDER]
        self_s = [_median(rung_s[0])] + [
            _median([b - a for a, b in zip(lo, hi)]) for lo, hi in zip(rung_s, rung_s[1:])
        ]
        layers = ("sources.scan_s", "extract.route_s", "extract.arrow_s",
                  "extract.cascade_s", "sink.parquet_s", "lineage.commit_s")
        out = dict(zip(layers, self_s))
        out.update({
            "trace.layer_sum_s": sum(self_s),
            "extract.arrow_batches": batches.value / rounds,
            "trace.ladder_rounds": float(rounds),
        })
        out.update(self._scan_stage(status))
        counts = {r: 0 for r in ROUTES}
        for row in routed.groupBy("route").count().collect():
            counts[ROUTES[row["route"]]] = row["count"]
        for r in ROUTES:
            out[f"extract.route_pages.{r}"] = float(counts[r])
        out.update(self._lineage_shape())
        return out

    def _scan_stage(self, status) -> dict[str, float]:
        """Scan tasks from the status API; bytes per scan task from the data
        (the parquet reader's own bytesRead metric stays near zero here)."""
        from pyspark.sql import functions as F

        jobs = status.group_jobs("rung-scan-0", expect=1)
        n_tasks = sum(s["numCompleteTasks"] for s in status.stages(jobs))
        per_task = [
            r["b"]
            for r in self.docs.groupBy(F.spark_partition_id())
            .agg(F.sum(F.length("url") + F.coalesce(F.length("html"), F.lit(0))).alias("b"))
            .collect()
        ]
        med = _median(per_task)
        return {
            "sources.scan_mib": sum(per_task) / (1024 * 1024),
            "sources.scan_tasks": float(n_tasks),
            "sources.task_max_over_median": max(per_task) / med if med else 0.0,
        }

    def _lineage_shape(self) -> dict[str, float]:
        from cpp_paddle_ocr_spark.lineage import read_lineage

        lin = read_lineage(self.spark, str(self.work / "out" / "ladder-job"))
        rows = lin.select("wall_ms").collect()
        return {
            "lineage.rows": float(len(rows)),
            "lineage.groups": float(len({r.wall_ms for r in rows})),
        }

    # -- single-thread pure-core stage pass ----------------------------------

    def core_pass(self) -> dict[str, float]:
        """Stage times from spans around each core call, per page, over the
        first work-route pages; checked against ``extract_batch``."""
        from cpp_paddle_ocr_spark.core.classify import classify_spans
        from cpp_paddle_ocr_spark.core.decode import recognize_spans
        from cpp_paddle_ocr_spark.core.detect import detect_page
        from cpp_paddle_ocr_spark.core.html_parse import parse_blocks
        from cpp_paddle_ocr_spark.core.pipeline import decode_html, extract_batch

        urls = [u for u, r in self.routes.items() if r == "work"][:CORE_SAMPLE]
        html = self._input_html(urls)
        htmls = [html[u] for u in urls]
        mismatches = 0
        for rep in range(CORE_REPS):
            span = functools.partial(self.tracer.span, rep=rep)
            kept = []
            n_det = 0
            for h in htmls:
                with span("core.parse"):
                    doc, _err = decode_html(h)
                    blocks = parse_blocks(doc)
                with span("core.det"):
                    spans = detect_page(doc, blocks)
                with span("core.cls"):
                    labels = classify_spans([s.text for s in spans])[0] if spans else []
                n_det += len(spans)
                kept.append([s for s, lab in zip(spans, labels) if lab == 0])
            with span("core.rec"):
                decoded = recognize_spans([s.text for sp in kept for s in sp])
            with span("core.assemble"):
                texts, cursor = [], 0
                for sp in kept:  # the document-order join of core.pipeline
                    mine = decoded[cursor : cursor + len(sp)]
                    cursor += len(sp)
                    order = sorted(range(len(sp)), key=lambda i: (sp[i].start, sp[i].block_id))
                    texts.append([mine[i][0].strip() for i in order])
            with span("core.batch"):
                ref = extract_batch(urls, htmls)
            joined = ["\n".join(x for x in lines if x) for lines in texts]
            mismatches += sum(a != b for a, b in zip(joined, ref["extracted_text"]))
        n_cls = sum(len(sp) for sp in kept)
        n_nonempty = sum(1 for lines in texts for x in lines if x)

        def ms_per_page(stage: str) -> float:
            per_rep = [
                sum(self.tracer.durations(f"core.{stage}", rep=r))
                for r in range(CORE_REPS)
            ]
            return 1000.0 * _median(per_rep) / len(urls)

        return {
            "core.parse_ms": ms_per_page("parse"),
            "core.det_ms": ms_per_page("det"),
            "core.cls_ms": ms_per_page("cls"),
            "core.rec_ms": ms_per_page("rec"),
            "core.assemble_ms": ms_per_page("assemble"),
            "core.docs_per_s_1t": 1000.0 / ms_per_page("batch"),
            "core.sample_pages": float(len(urls)),
            "core.det_candidates": float(n_det),
            "core.cls_survivors": float(n_cls),
            "core.rec_nonempty": float(n_nonempty),
            "core.cls_keep_ratio": n_cls / max(1, n_det),
            "core.rec_nonempty_ratio": n_nonempty / max(1, n_cls),
            "core.stage_mismatches": float(mismatches),
        }
