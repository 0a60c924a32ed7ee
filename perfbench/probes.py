"""Measurement probes that sit outside the engine.

- :class:`Sampler`: one thread that samples the resident memory of this
  process tree (driver, JVM, Python workers, pipe children) from
  ``/proc`` and the bytes under the engine's scratch root.
- :class:`Spans`: an in-memory span recorder written out at the end of
  a traced run.
- :class:`StatusStore`: reads Spark's own status stores (jobs, stages,
  SQL plan metrics) through py4j and attributes them to job groups the
  benchmark set before each call.
"""

from __future__ import annotations

import ctypes
import html
import json
import os
import platform
import re
import threading
import time
from collections import defaultdict

import numpy as np


def _children(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except FileNotFoundError:
            continue
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


_syscall = ctypes.CDLL(None, use_errno=True).syscall
_syscall.argtypes = [ctypes.c_long] * 6
_syscall.restype = ctypes.c_long
_SYS_KCMP = {"x86_64": 312, "aarch64": 272}.get(platform.machine())
_KCMP_VM = 1


def _same_address_space(a: int, b: int) -> bool:
    """Whether two processes share one address space (kcmp(2))."""
    if _SYS_KCMP is None:
        return False
    return _syscall(_SYS_KCMP, a, b, _KCMP_VM, 0, 0) == 0


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of ``root`` and all its descendants.
    PSS splits pages shared between processes (a forked Python worker
    and its daemon) among them, so the sum counts each page once.  A
    child caught between vfork and exec (the JVM spawns helpers such as
    ``readlink`` that way) still runs in its parent's address space and
    would report the parent's whole PSS a second time, so it is
    skipped."""
    total, stack, seen = 0, [(root, None)], set()
    while stack:
        pid, parent = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            if parent is None or not _same_address_space(parent, pid):
                total += _pss_bytes(pid)
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        stack.extend((child, pid) for child in _children(pid))
    return total


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except FileNotFoundError:
                continue
    return total


def hd_quantile(values, p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a weighted mean of
    all order statistics with Beta(p(n+1), (1-p)(n+1)) weights.  Unlike a
    single order statistic it does not jump across the gap between two
    clusters of values (such as a batch workload's fast and slow queries),
    so it repeats better from run to run."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = np.linspace(0.0, 1.0, 20001)[1:-1]
    logpdf = (a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
    pdf = np.exp(logpdf - logpdf.max())
    cdf = np.concatenate([[0.0], np.cumsum(pdf)])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, np.concatenate([[0.0], grid]), cdf)
    return float(np.diff(edges) @ x)


def latency_percentiles(values) -> tuple[float, float]:
    """(p50, p90) by :func:`hd_quantile`."""
    return hd_quantile(values, 0.5), hd_quantile(values, 0.9)


class Sampler:
    """Peak process-tree resident memory (PSS) and peak scratch bytes, sampled every
    ``interval`` seconds by a single daemon thread."""

    def __init__(self, scratch_dir: str, interval: float = 0.2):
        self.scratch_dir = scratch_dir
        self.interval = interval
        self.peak_rss = 0
        self.peak_scratch = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        self.peak_rss = max(self.peak_rss, tree_pss_bytes(os.getpid()))
        self.peak_scratch = max(self.peak_scratch, dir_bytes(self.scratch_dir))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "Sampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


class Spans:
    """Spans kept in memory: name, start, end, parent id and attributes."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def open(self, name: str, **attrs) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": sid, "parent": parent, "name": name,
                           "start": time.time(), "end": None, **attrs})
        self._stack.append(sid)
        return sid

    def close(self, sid: int | None = None, **attrs) -> float:
        """Close span ``sid``, by default the innermost open one."""
        sid = self._stack[-1] if sid is None else sid
        span = self.spans[sid]
        span["end"] = time.time()
        span.update(attrs)
        self._stack.remove(sid)
        return span["end"] - span["start"]

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """A finished top-level span (such as a micro-batch reported after
        the fact)."""
        self.spans.append({"id": len(self.spans), "parent": None, "name": name,
                           "start": start, "end": end, **attrs})


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric value as a number in base units
    (bytes, seconds, or a plain count), read from its leading number."""
    m = _TOTAL.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


# (plan node name prefix, SQL metric name) -> per-layer metric name
_SQL_METRICS = {
    ("Scan parquet", "number of files read"): "io.files_read",
    ("Scan parquet", "size of files read"): "io.read_bytes",
    ("Scan parquet", "scan time"): "io.scan_s",
    ("BroadcastExchange", "data size"): "spark.broadcast_bytes",
    ("BroadcastExchange", "time to collect"): "spark.broadcast_collect_s",
    ("", "data sent to Python workers"): "python.sent_bytes",
    ("", "data returned from Python workers"): "python.returned_bytes",
    ("", "time to start Python workers"): "python.worker_start_s",
    ("", "time to initialize Python workers"): "python.worker_init_s",
    ("", "time to run Python workers"): "python.worker_run_s",
}


class StatusStore:
    """Counters from Spark's status stores, attributed by job group.

    Reads go through py4j into the live ``AppStatusStore`` (jobs and
    stages, serialized to JSON in the JVM so each read is one round
    trip) and the ``SQLAppStatusStore`` (per-node SQL metrics, read from
    the plan graph's DOT rendering); the engine is not instrumented.
    Only traced runs create one.
    """

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._app = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._group_of_job: dict[int, str] = {}
        self._seen_exec: set[int] = set()
        self.read_s = 0.0

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def collect(self) -> dict[str, dict[str, float]]:
        """Counters of every job and SQL execution finished since the last
        call, summed per job group."""
        t0 = time.perf_counter()
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for job in self._json(self._app.jobsList(None)):
            jid = job["jobId"]
            if jid in self._group_of_job or job["status"] == "RUNNING":
                continue
            group = job.get("jobGroup") or "-"
            self._group_of_job[jid] = group
            c = out[group]
            c["spark.jobs"] += 1
            for sid in job["stageIds"]:
                st = self._json(self._app.lastStageAttempt(sid))
                if st["status"] == "SKIPPED":
                    continue
                c["spark.stages"] += 1
                c["spark.tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                c["spark.executor_run_s"] += st["executorRunTime"] / 1e3
                c["spark.executor_cpu_s"] += st["executorCpuTime"] / 1e9
                c["spark.gc_s"] += st["jvmGcTime"] / 1e3
                c["spark.shuffle_read_bytes"] += st["shuffleReadBytes"]
                c["spark.shuffle_write_bytes"] += st["shuffleWriteBytes"]
                c["spark.spill_bytes"] += st["diskBytesSpilled"]
        for ex in self._json(self._sql.executionsList()):
            eid = ex["executionId"]
            if eid in self._seen_exec or ex.get("completionTime") is None:
                continue
            self._seen_exec.add(eid)
            jobs = [int(j) for j in ex.get("jobs") or {}]
            group = self._group_of_job.get(min(jobs), "-") if jobs else "-"
            dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
            c = out[group]
            for node, metric, text in _dot_metrics(dot):
                key = next((v for (pre, m), v in _SQL_METRICS.items()
                            if m == metric and node.startswith(pre)), None)
                if key:
                    c[key] += parse_metric(text)
        self.read_s += time.perf_counter() - t0
        return out


_LABEL = re.compile(r'label="(.*?)" tooltip=', re.S)
_MULTI = " total (min, med, max"


def _dot_metrics(dot: str):
    """(node name, metric name, formatted total) for every node label of
    a plan graph's DOT rendering.  A label is ``<b>Name</b>`` then one
    ``<br>``-separated line per metric: ``name: value`` for one task, or
    ``name total (min, med, max (stageId: taskId))`` followed by a line
    that starts with the total."""
    for label in _LABEL.findall(dot):
        if "<b>" not in label:
            continue
        head, _, body = label.partition("</b>")
        node = html.unescape(head.split("<b>", 1)[1])
        lines = body.split("<br>")
        for i, line in enumerate(lines):
            if _MULTI in line and i + 1 < len(lines):
                yield node, html.unescape(line.split(_MULTI, 1)[0]), lines[i + 1]
            elif ": " in line and "(" not in line.split(": ", 1)[0]:
                metric, _, text = line.partition(": ")
                yield node, html.unescape(metric), text
