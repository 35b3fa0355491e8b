"""Measurement probes: spans, memory sampling, the Spark status API and a
host-contention spin probe. All of them observe the engine from outside."""

from __future__ import annotations

import contextlib
import json
import os
import signal
import statistics
import subprocess
import threading
import time
import urllib.request

_MIB = 1024 * 1024
_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_age_s() -> float:
    """Seconds since this process was created (Linux ``/proc``)."""
    start_ticks = int(_start_ticks(os.getpid()))  # clock ticks since boot
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf(
        "SC_CLK_TCK"
    )


def host_spin_ms() -> float:
    """Fixed pure-Python compute probe; a slow reading flags a run that
    landed in a contended window on a shared host."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(400_000):
        acc = (acc + i * i) & 0xFFFFFFFF
    return (time.perf_counter() - t0) * 1000.0


class Tracer:
    """In-memory spans (name, start, end, parent, run id); a no-op when off."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str, **match) -> list[float]:
        """Durations of the spans called ``name`` whose attributes match."""
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and all(s.get(k) == v for k, v in match.items())
        ]

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it covered by its child spans."""
        s = self.spans[sid]
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == sid
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (s["end"] - s["start"]) - covered

    def dump(self, path) -> None:
        for s in self.spans:
            s["self_s"] = self.self_time(s["id"])
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f, indent=1)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        fields = _stat_fields(int(name)) if name.isdigit() else []
        if len(fields) > 1:
            kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def rss_bytes(pid: int) -> int:
    """Resident memory of one process."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, ValueError, IndexError):
        return 0


def pss_bytes(pid: int) -> int:
    """Proportional resident memory (PSS): pages a forked Python worker
    still shares with its daemon are split between them, not counted twice.
    Costlier to read than RSS, so it is used for the small processes only."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return 0


def is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip().startswith("python")
    except OSError:
        return False


class RssSampler:
    """Peak memory of the JVM (RSS) plus its Python descendants (PSS),
    sampled every ``interval`` s."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self.peak_root = 0  # the root's share of the peak sample
        self.peak_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            # only Python descendants: a child caught between the JVM's
            # vfork and its exec still maps the JVM's memory
            workers = [p for p in process_tree(self.root_pid)[1:] if is_python(p)]
            root = rss_bytes(self.root_pid)
            total = root + sum(pss_bytes(p) for p in workers)
            if total > self.peak:
                self.peak, self.peak_root = total, root
                self.peak_procs = 1 + len(workers)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mib(self) -> float:
        return self.peak / _MIB


def worker_rss_mib(jvm_pid: int) -> float:
    """Mean PSS of the Python worker processes under the JVM."""
    pids = [p for p in process_tree(jvm_pid) if p != jvm_pid and is_python(p)]
    if not pids:
        return 0.0
    return statistics.fmean(pss_bytes(p) for p in pids) / _MIB


class SparkStatus:
    """Reader for the driver's local REST status API (``/api/v1``)."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def group_jobs(self, prefix: str, expect: int | None = None, wait_s=20.0):
        """Finished jobs of the job groups named ``prefix...``; waits for the
        listener to catch up."""
        deadline = time.monotonic() + wait_s
        while True:
            jobs = [
                j
                for j in self._get("/jobs")
                if j.get("jobGroup", "").startswith(prefix)
                and j["status"] != "RUNNING"
            ]
            if expect is None or len(jobs) >= expect or time.monotonic() > deadline:
                return jobs
            time.sleep(0.2)

    def stages(self, jobs) -> list[dict]:
        out = []
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            for att in self._get(f"/stages/{sid}"):
                if att["status"] != "COMPLETE":
                    continue  # skipped (reused shuffle output) stages
                att["tasks"] = list(
                    self._get(
                        f"/stages/{sid}/{att['attemptId']}/taskList?length=100000"
                    )
                )
                out.append(att)
        return out

    def summary(self, prefix: str, n_units: int) -> dict[str, float]:
        """Task, GC and shuffle totals of the job groups named ``prefix...``,
        per unit of work."""
        jobs = self.group_jobs(prefix)
        stages = self.stages(jobs)
        durs = [t["duration"] for s in stages for t in s["tasks"] if "duration" in t]
        n = max(1, n_units)
        return {
            "spark.jobs": len(jobs) / n,
            "spark.tasks": sum(s["numCompleteTasks"] for s in stages) / n,
            "spark.task_p50_ms": float(statistics.median(durs)) if durs else 0.0,
            "spark.task_max_ms": float(max(durs)) if durs else 0.0,
            "spark.gc_ms": sum(
                t.get("taskMetrics", {}).get("jvmGcTime", 0)
                for s in stages
                for t in s["tasks"]
            )
            / n,
            "spark.shuffle_mib": sum(
                s["shuffleReadBytes"] + s["shuffleWriteBytes"] for s in stages
            )
            / _MIB
            / n,
        }


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the gateway JVM, and wait until the JVM and
    every process it started (the Python daemon and workers) have ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = (
        [(p, _start_ticks(p)) for p in process_tree(proc.pid)]
        if proc is not None
        else []
    )
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout)
    deadline = time.monotonic() + timeout
    for pid, start in tree:
        while _alive(pid, start) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid, start):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


def _stat_fields(pid: int) -> list[str]:
    """``/proc/<pid>/stat`` fields after the command name (field 3 on)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return []


def _start_ticks(pid: int) -> str | None:
    fields = _stat_fields(pid)
    return fields[19] if len(fields) > 19 else None


def _alive(pid: int, start: str | None) -> bool:
    """True while the process that had ``pid`` at ``start`` runs: a zombie
    awaiting its reaper has ended, and a reused pid is another process."""
    fields = _stat_fields(pid)
    return len(fields) > 19 and fields[0] != "Z" and fields[19] == start
