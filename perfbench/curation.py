"""Curation workload: a fixed list of corpus operators into a noop sink,
each checked against its DuckDB oracle from ``__spark_entry__.oracle_sql()``.
"""

from __future__ import annotations

import hashlib
import json
import statistics
import time

from . import probes

#: The cluster-resolution block (largest flat cost at sf1) plus the small
#: aggregate leaves that the ``common.load`` parallelism floor regressed.
QUERIES = (
    "corpus_keep",
    "dedup_clusters",
    "sim_semantic_clusters",
    "status_agg",
    "domain_stats",
    "window_dedup",
    "threshold_filter",
)
TABLES = ("documents", "embeddings")
_UNTRACED = probes.Tracer("untraced", enabled=False)


def _normalized(pdf, norm) -> list[list[str]]:
    cols = sorted(pdf.columns)
    return sorted(
        [norm(v) for v in row] for row in pdf[cols].itertuples(index=False)
    ) + [cols]


class CurationBench:
    def __init__(self, spark, work, table_dir, tracer):
        import __spark_entry__
        import oracle_utils

        self.spark = spark
        self.work = work
        self.table_dir = str(table_dir)
        self.tracer = tracer
        self.oracle_utils = oracle_utils
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.n_docs = spark.read.parquet(f"{self.table_dir}/documents.parquet").count()
        self.failed: set[tuple[int, str]] = set()
        self.attempted = 0
        self.digests: list[str] = []
        self.untraced_walls: list[float] = []  # passes of a traced run

    def _oracle_rows(self, name: str) -> list[list[str]]:
        """DuckDB answer, cached per (tables, oracle SQL): the tables do not
        depend on the seed, so the oracle runs once per checkout."""
        sql = self.oracles[name]
        key = hashlib.md5(f"{self.table_dir}\n{sql}".encode()).hexdigest()[:16]
        path = self.work / "oracle" / f"{name}-{key}.json"
        if path.exists():
            return json.loads(path.read_text())
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:  # oracle_utils.duck_con wants all ten tables
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.table_dir}/{t}.parquet')"
                )
            rows = _normalized(con.execute(sql).fetchdf(), self.oracle_utils._norm)
        finally:
            con.close()
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(rows))
        return rows

    def warm_and_check(self) -> float:
        """Warm-up pass that collects every query's rows and compares them,
        order-independently, with the oracle's."""
        t0 = time.perf_counter()
        digest = hashlib.sha256()
        for name in QUERIES:
            pdf = self.queries[name](self.spark, self.table_dir).toPandas()
            got = _normalized(pdf, self.oracle_utils._norm)
            self.attempted += 1
            if got != self._oracle_rows(name):
                self.failed.add((0, name))
            digest.update(json.dumps([name, got]).encode())
        self.digests.append(digest.hexdigest())
        return time.perf_counter() - t0

    def run_query(self, name: str) -> float:
        t0 = time.perf_counter()
        self.queries[name](self.spark, self.table_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.perf_counter() - t0

    def one_pass(self, tracer) -> float:
        t_pass = time.perf_counter()
        for name in QUERIES:
            with tracer.span(f"curation.{name}"):
                self.run_query(name)
        return time.perf_counter() - t_pass

    def timed_loop(self, seconds: float, jvm_pid: int) -> dict:
        """Closed loop over the query list in order, one query at a time,
        until ``seconds`` are spent (at least one full pass). A pass costs
        the sum of the per-query median times."""
        times: dict[str, list[float]] = {q: [] for q in QUERIES}
        n = 0
        with probes.RssSampler(jvm_pid) as rss:
            t_end = time.perf_counter() + seconds
            while n < len(QUERIES) or time.perf_counter() < t_end:
                name = QUERIES[n % len(QUERIES)]
                times[name].append(self.run_query(name))
                n += 1
        pass_s = sum(statistics.median(v) for v in times.values())
        return {
            "walls": [sum(v) for v in zip(*times.values())],  # complete passes
            "docs_per_s": self.n_docs / pass_s,
            "peak_rss_mib": rss.peak_mib,
            "peak_jvm_mib": rss.peak_root / (1024 * 1024),
            "peak_procs": rss.peak_procs,
        }

    def traced_passes(self, budget_s: float) -> dict[str, float]:
        """Pairs of an untraced and a traced pass until ``budget_s`` is spent
        (at least one pair); per-query medians from the spans."""
        sc = self.spark.sparkContext
        n = 0
        t_end = time.perf_counter() + budget_s
        with self.tracer.span("curation.traced"):
            while n < 1 or time.perf_counter() < t_end:
                sc.setJobGroup(f"untraced-{n}", "untraced pass")
                self.untraced_walls.append(self.one_pass(_UNTRACED))
                sc.setJobGroup(f"traced-{n}", "traced pass")
                with self.tracer.span("curation.pass"):
                    self.one_pass(self.tracer)
                n += 1
        sc.setJobGroup("untimed", "benchmark bookkeeping")
        return self._layer_times()

    def probe(self) -> dict[str, float]:
        """The curation layers in a run of another workload: one traced
        pass, first-run compile costs included."""
        self.one_pass(self.tracer)
        return self._layer_times()

    def _layer_times(self) -> dict[str, float]:
        from cpp_paddle_ocr_spark.operators.common import load

        out = {
            f"curation.{q}_s": statistics.median(self.tracer.durations(f"curation.{q}"))
            for q in QUERIES
        }
        for t in TABLES:
            out[f"common.load_partitions.{t}"] = float(
                load(self.spark, self.table_dir, t).rdd.getNumPartitions()
            )
        return out
