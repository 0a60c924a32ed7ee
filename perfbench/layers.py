"""Per-layer metrics of a traced run.

Layers are named after the engine's modules: ``session``, ``queries``
(builder call and result action), Spark execution (status store,
attributed per job group), ``io`` (parquet scan nodes),
``operators.stream`` / ``operators.pipe`` (the Python-worker nodes),
``scratch`` and ``streaming.core`` (a ``StreamingQueryListener``).
Batch values are medians over the timed passes of per-pass totals;
``event_stream`` values are per run.  The trace file holds every metric
of ``PER_LAYER``, with 0 where a layer does not run in that workload;
the printed result holds the ``PRINTED`` subset.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

from perfbench.batch import QUERIES
from perfbench.probes import Spans, StatusStore

MB = 1e6

# name -> unit, in the order they are printed
PER_LAYER = {
    "session.start_s": "s",
    "session.pool_warm_s": "s",
    "session.warm_pass_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.action_s": "s",
    "queries.action_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.broadcast_mb": "MB",
    "spark.broadcast_collect_s": "s",
    "io.files_read": "count",
    "io.read_mb": "MB",
    "io.scan_s": "s",
    "python.sent_mb": "MB",
    "python.returned_mb": "MB",
    "python.worker_start_s": "s",
    "python.worker_init_s": "s",
    "python.worker_run_s": "s",
    "scratch.peak_mb": "MB",
    "stream.batches": "count",
    "stream.batch_s_p50": "s",
    "stream.add_batch_s": "s",
    "stream.commit_s": "s",
    "stream.state_rows": "count",
    "stream.state_mb": "MB",
    "stream.state_commit_s": "s",
    "stream.state_stores": "count",
    "stream.backlog_files_end": "count",
    "stream.generator_late_s": "s",
    "trace.pass_s": "s",
    "trace.status_read_s": "s",
}
for _q in QUERIES:
    PER_LAYER[f"q.{_q}.s"] = "s"
    PER_LAYER[f"q.{_q}.jobs"] = "count"

# Times that only one workload measures (or that are often exactly 0:
# GC with a small pre-touched heap, worker start-up after pool warm-up).
# They would print as a constant 0 on the other workload, so they stay in
# the trace file's table and are left out of the printed result.
TRACE_FILE_ONLY = {
    "queries.build_s", "queries.action_s", "spark.gc_s",
    "spark.broadcast_collect_s", "io.scan_s", "python.worker_start_s",
    "stream.batch_s_p50", "stream.add_batch_s", "stream.commit_s",
    "stream.state_commit_s", "stream.generator_late_s",
    *(f"q.{q}.s" for q in QUERIES),
}
PRINTED = [name for name in PER_LAYER if name not in TRACE_FILE_ONLY]


def _spark_counters(c: dict[str, float]) -> dict[str, float]:
    """Status-store counters of one pass or run in printed units."""
    out = {k: c.get(k, 0.0) for k in (
        "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
        "spark.executor_cpu_s", "spark.gc_s", "spark.broadcast_collect_s",
        "io.files_read", "io.scan_s", "python.worker_start_s",
        "python.worker_init_s", "python.worker_run_s")}
    for src, dst in (
        ("spark.shuffle_read_bytes", "spark.shuffle_read_mb"),
        ("spark.shuffle_write_bytes", "spark.shuffle_write_mb"),
        ("spark.spill_bytes", "spark.spill_mb"),
        ("spark.broadcast_bytes", "spark.broadcast_mb"),
        ("io.read_bytes", "io.read_mb"),
        ("python.sent_bytes", "python.sent_mb"),
        ("python.returned_bytes", "python.returned_mb"),
    ):
        out[dst] = c.get(src, 0.0) / MB
    return out


def _sum(groups: dict[str, dict[str, float]], keep) -> dict[str, float]:
    total: dict[str, float] = defaultdict(float)
    for g, c in groups.items():
        if keep(g):
            for k, v in c.items():
                total[k] += v
    return total


def _table(values: dict[str, float]) -> dict[str, dict]:
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit in PER_LAYER.items()}


class _Tracer:
    def __init__(self, spark) -> None:
        self.spans = Spans()
        self.status = StatusStore(spark)
        self.groups: dict[str, dict[str, float]] = {}
        self.extra: dict = {}

    def _collect(self) -> None:
        for g, c in self.status.collect().items():
            acc = self.groups.setdefault(g, defaultdict(float))
            for k, v in c.items():
                acc[k] += v

    def write(self, trace_dir: str, args, metrics: dict) -> str:
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        with open(path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "seconds": args.seconds, "per_layer": metrics,
                       "groups": self.groups, "spans": self.spans.spans,
                       **self.extra}, f, indent=1, default=str)
        return path


class BatchTracer(_Tracer):
    """Spans pass -> execution -> build/action; Spark counters are read
    after each pass, outside the timed region."""

    def begin_pass(self, pass_no: int) -> None:
        self._pass = self.spans.open("pass", pass_no=pass_no)

    def end_pass(self) -> None:
        self.spans.close(self._pass)
        self._collect()

    def begin(self, kind: str, query: str) -> None:
        self.spans.open(kind, query=query)

    def end(self) -> None:
        self.spans.close()

    def metrics(self, res, session_s: float, pool_s: float, warm_s: float,
                scratch_peak: int) -> dict:
        passes = sorted({e.pass_no for e in res.executions})

        def per_pass(keep) -> dict[str, float]:
            rows = [_spark_counters(_sum(self.groups, lambda g, p=p: g.startswith(f"p{p}:") and keep(g)))
                    for p in passes]
            return {k: statistics.median(r[k] for r in rows) for k in rows[0]}

        v: dict[str, float] = per_pass(lambda g: True)
        v["queries.build_jobs"] = per_pass(lambda g: g.endswith(":build"))["spark.jobs"]
        v["queries.action_jobs"] = per_pass(lambda g: g.endswith(":action"))["spark.jobs"]
        v["queries.build_s"] = statistics.median(
            sum(e.build_s for e in res.executions if e.pass_no == p) for p in passes)
        v["queries.action_s"] = statistics.median(
            sum(e.action_s for e in res.executions if e.pass_no == p) for p in passes)
        for q in {e.query for e in res.executions}:
            v[f"q.{q}.s"] = statistics.median(e.total_s for e in res.executions if e.query == q)
            v[f"q.{q}.jobs"] = per_pass(lambda g, q=q: g.split(":")[1] == q)["spark.jobs"]
        v.update({
            "session.start_s": session_s, "session.pool_warm_s": pool_s,
            "session.warm_pass_s": warm_s, "scratch.peak_mb": scratch_peak / MB,
            "trace.pass_s": statistics.median(res.passes),
            "trace.status_read_s": self.status.read_s,
        })
        return _table(v)


class _ProgressListener(StreamingQueryListener):
    def __init__(self, sink: list) -> None:
        self.sink = sink

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.sink.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class StreamTracer(_Tracer):
    """Per-run Spark counters plus one span per micro-batch from the
    progress the listener receives."""

    def __init__(self, spark) -> None:
        super().__init__(spark)
        self.progress: list[dict] = []
        self.listener = _ProgressListener(self.progress)
        self.extra["progress"] = self.progress

    def metrics(self, res, latencies: list[float], pass_s: float, session_s: float,
                pool_s: float, warm_s: float, scratch_peak: int) -> dict:
        self._collect()
        v = _spark_counters(_sum(self.groups, lambda g: True))
        first_due = min(res.due.values())
        # micro-batches that started after the offered load began
        measured = [p for p in self.progress if p.get("numInputRows", 0) > 0
                    and _epoch(p["timestamp"]) >= first_due - 1.0]
        for p in self.progress:
            start = _epoch(p["timestamp"])
            self.spans.add("micro_batch", start, start + p["batchDuration"] / 1e3,
                           batch_id=p["batchId"], rows=p.get("numInputRows", 0))
        last_state = (self.progress[-1].get("stateOperators") or [{}])[0] if self.progress else {}
        v.update({
            "session.start_s": session_s, "session.pool_warm_s": pool_s,
            "session.warm_pass_s": warm_s, "scratch.peak_mb": scratch_peak / MB,
            "stream.batches": len(measured),
            "stream.batch_s_p50": statistics.median(p["batchDuration"] / 1e3 for p in measured) if measured else 0.0,
            "stream.add_batch_s": sum(p["durationMs"].get("addBatch", 0) for p in measured) / 1e3,
            "stream.commit_s": sum(p["durationMs"].get("commitOffsets", 0)
                                   + p["durationMs"].get("walCommit", 0) for p in measured) / 1e3,
            "stream.state_rows": last_state.get("numRowsTotal", 0),
            "stream.state_mb": last_state.get("memoryUsedBytes", 0) / MB,
            "stream.state_commit_s": sum((p.get("stateOperators") or [{}])[0].get("commitTimeMs", 0)
                                         for p in measured) / 1e3,
            "stream.state_stores": last_state.get("numStateStoreInstances", 0),
            "stream.backlog_files_end": res.backlog_files_end,
            "stream.generator_late_s": max(res.late_s) if res.late_s else 0.0,
            "trace.pass_s": pass_s,
            "trace.status_read_s": self.status.read_s,
        })
        self.extra["latencies_s"] = latencies
        return _table(v)


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
