"""Measurement plumbing: process-tree CPU and memory from ``/proc``,
spans around layer calls, and per-layer Spark metrics from the
driver's status REST API.

Spans live in memory and are written once, when the run ends. A span
is ``(span_id, name, start, end, parent, run_id)``; layer spans also
carry the Spark job group set for the call, which is how their jobs,
stages and SQL executions are found afterwards.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1e6


# ---------------------------------------------------------------- /proc


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces: fields start after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants: the
    JVM, Spark's Python daemon and workers, and any subprocess."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """utime + stime of every live process in the tree, plus the
    cutime + cstime of children they have already reaped."""
    total = 0
    for p in tree_pids() if pids is None else pids:
        f = _stat_fields(p)
        if f is not None:
            # fields 14-17 of stat(5), counted after the ')' split
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def tree_rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / MB


class RssSampler:
    """Peak of the tree's summed resident set (``peak_mb``) and of its
    Python processes alone (``py_peak_mb``: this process and Spark's
    Python workers, without the JVM), sampled every ``interval``
    seconds in a daemon thread (descendants are re-listed once a
    second, so new Python workers are seen)."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self.py_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pids, listed = tree_pids(), time.monotonic()
        py = [p for p in pids if not _is_jvm(p)]
        while not self._stop.is_set():
            if time.monotonic() - listed > 1.0:
                pids, listed = tree_pids(), time.monotonic()
                py = [p for p in pids if not _is_jvm(p)]
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pids))
            self.py_peak_mb = max(self.py_peak_mb, tree_rss_mb(py))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def jvm_live_heap_mb(spark) -> float:
    """JVM heap in use after full collections: what the program still
    holds (caches, broadcasts, session state) once its garbage is
    gone. Unlike the JVM's resident set, it does not depend on how far
    the collector chose to grow the heap. Objects that Spark's
    ContextCleaner releases only after a collection need further
    ones, so this collects until two readings in a row agree."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = None
    for _ in range(8):
        jvm.java.lang.System.gc()
        used = bean.getHeapMemoryUsage().getUsed() / MB
        if last is not None and abs(used - last) < 1.0:
            break
        last = used
        time.sleep(0.5)
    return used


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    span_id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    run_id: str
    group: str | None = None
    counters: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a
    no-op, so untraced iterations pay nothing. Layer spans set a
    Spark job group named after the span for the duration of the
    call."""

    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: bool = True):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"{self.run_id}/{sid}/{name}" if layer else None
        s = Span(sid, name, time.time(), 0.0, parent, self.run_id, group)
        self.spans.append(s)
        self._stack.append(sid)
        if group:
            self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            s.end = time.time()
            self._stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part its child spans cover."""
        return span.wall - _union(
            [(c.start, c.end) for c in self.children(span)], span.start, span.end
        )

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------- Spark REST

_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
PYTHON_METRICS = ("data sent to Python workers", "data returned from Python workers")


def _size_bytes(text: str) -> float:
    """Bytes of a SQL size metric: plain (``12.3 MiB``) or with a
    per-task breakdown whose first figure is the total."""
    m = _SIZE.search(text)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    dt = datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


class StatusApi:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the status store holds the final metrics of finished jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()


def layer_metrics(api: StatusApi, spans: list[Span]) -> dict[int, dict]:
    """Spark-side metrics of each layer span, keyed by span id."""
    api.drain()
    jobs_by_group: dict[str, list[dict]] = {}
    for j in api.get("/jobs"):
        if j.get("jobGroup"):
            jobs_by_group.setdefault(j["jobGroup"], []).append(j)
    stages: dict[int, list[dict]] = {}
    for st in api.get("/stages"):
        stages.setdefault(st["stageId"], []).append(st)
    executions = api.get("/sql?details=true&planDescription=false&length=100000")
    out = {}
    for s in spans:
        if not s.group:
            continue
        jobs = jobs_by_group.get(s.group, [])
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {i for j in jobs for i in j["stageIds"]}
        ran = [
            a
            for i in stage_ids
            for a in stages.get(i, [])
            if a["status"] == "COMPLETE" and a["numCompleteTasks"] > 0
        ]
        m = {
            "run_s": sum(a["executorRunTime"] for a in ran) / 1e3,
            "cpu_s": sum(a["executorCpuTime"] for a in ran) / 1e9,
            "gc_s": sum(a["jvmGcTime"] for a in ran) / 1e3,
            "shuffle_read_mb": sum(a["shuffleReadBytes"] for a in ran) / MB,
            "shuffle_write_mb": sum(a["shuffleWriteBytes"] for a in ran) / MB,
            "spill_mb": sum(a["diskBytesSpilled"] for a in ran) / MB,
            "read_mb": sum(a["inputBytes"] for a in ran) / MB,
            "tasks": sum(a["numCompleteTasks"] for a in ran),
            "skew": 1.0,
        }
        job_spans = [
            (_epoch(j.get("submissionTime")), _epoch(j.get("completionTime")))
            for j in jobs
        ]
        covered = _union(
            [(a, b) for a, b in job_spans if a and b], s.start, s.end
        )
        m["driver_s"] = s.wall - covered
        if ran:
            heavy = max(ran, key=lambda a: a["executorRunTime"])
            q = api.get(
                f"/stages/{heavy['stageId']}/{heavy['attemptId']}"
                "/taskSummary?quantiles=0.5,1.0"
            )
            med, mx = q["duration"]
            m["skew"] = mx / med if med > 0 else 1.0
        py = 0.0
        for e in executions:
            if job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", [])):
                for node in e.get("nodes", []):
                    for metric in node.get("metrics", []):
                        if metric["name"] in PYTHON_METRICS:
                            py += _size_bytes(metric["value"])
        m["python_mb"] = py / MB
        out[s.span_id] = m
    return out
