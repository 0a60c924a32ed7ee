"""Benchmark of the spark-graft engine on local[4].

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Workloads: ``batch`` (closed-loop passes over relational, stream() and
curation queries of the registry, see ``batch.py``) and ``event_stream``
(open-loop file stream through the streaming layer, see ``events.py``).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is a separate
run that records spans and reads Spark's status stores, prints the
per-layer metrics and writes spans plus the per-layer table to
``perfbench/.work/traces/``.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes (fixtures, Spark local dirs, temp files,
checkpoints, the engine's scratch root) stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CPUS = 4
# a fixed, pre-touched heap keeps the JVM's share of peak RSS the same in
# every run; what varies is the engine's Python workers and children
DRIVER_MEM = "1g"
WORKLOAD_NAMES = ("batch", "event_stream")


def _isolate(run_dir: str) -> None:
    """Point every temp/local dir of this process, the JVM and the Python
    workers into ``run_dir`` and make the engine importable in Spark's
    Python workers and pipe children, which do not inherit sys.path."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData'
        f' -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch" pyspark-shell'
    )
    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def start_session(spark_holder: list):
    """``get_spark`` on local[CPUS], then one trivial task per core
    through each Python worker pool (mapInPandas and mapInArrow keep
    separate pools).  Returns the session and the two phases' seconds."""
    from streaming_spark import get_spark
    from streaming_spark.operators.stream import stream, stream_arrow

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=CPUS)
    spark_holder.append(spark)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    warm = spark.range(0, CPUS, 1, CPUS)
    stream(warm, lambda pdf: pdf, warm.schema).count()
    stream_arrow(warm, lambda b: b, warm.schema).count()
    return spark, t1 - t0, time.perf_counter() - t1


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run_batch(args, run_dir: str, spark_holder: list) -> dict:
    from perfbench import layers
    from perfbench.batch import BatchResult, BatchWorkload
    from perfbench.fixtures import ensure_fixtures
    from perfbench.probes import Sampler, latency_percentiles
    from streaming_spark.scratch import scratch_root

    sf_dir = ensure_fixtures(WORK)
    res = BatchResult()
    with Sampler(scratch_root()) as sampler:
        spark, session_s, pool_s = start_session(spark_holder)
        tracer = layers.BatchTracer(spark) if args.trace else None
        wl = BatchWorkload(spark, sf_dir, args.seed, tracer)
        t0 = time.perf_counter()
        oracle_s = wl.warm_and_verify(res)
        warm_s = time.perf_counter() - t0 - oracle_s
        res.setup_s = session_s + pool_s + warm_s
        wl.run(res, args.seconds)
    # every query is verified once in set-up and then executed per pass
    failed = len(res.setup_failures) + sum(not e.ok for e in res.executions)
    attempted = len(wl.queries) + len(res.executions)
    for msg in res.setup_failures:
        print(f"setup failure: {msg}", file=sys.stderr)
    for e in res.executions:
        if not e.ok:
            print(f"failed execution: {e.query} pass {e.pass_no}: {e.error}", file=sys.stderr)
    if args.trace:
        metrics = tracer.metrics(res, session_s, pool_s, warm_s, sampler.peak_scratch)
        tracer.write(os.path.join(WORK, "traces"), args, metrics)
        metrics = {k: metrics[k] for k in layers.PRINTED}
    else:
        p50, p90 = latency_percentiles([e.total_s for e in res.executions])
        metrics = {
            "setup_s": _metric(res.setup_s, "s"),
            "pass_s": _metric(statistics.median(res.passes), "s"),
            "latency_p50_s": _metric(p50, "s"),
            "latency_p90_s": _metric(p90, "s"),
            "peak_rss_mb": _metric(sampler.peak_rss / 1e6, "MB"),
        }
        print(f"# {len(res.passes)} passes, {len(res.executions)} executions", file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def run_stream(args, run_dir: str, spark_holder: list) -> dict:
    from perfbench import layers
    from perfbench.events import EventStream, StreamResult
    from perfbench.probes import Sampler, latency_percentiles
    from streaming_spark.scratch import scratch_root

    res = StreamResult()
    with Sampler(scratch_root()) as sampler:
        es = EventStream(run_dir, args.seed, args.seconds)
        spark, session_s, pool_s = start_session(spark_holder)
        tracer = layers.StreamTracer(spark) if args.trace else None
        t0 = time.perf_counter()
        es.start(spark, res, listener=tracer.listener if tracer else None)
        warm_s = time.perf_counter() - t0
        res.setup_s = session_s + pool_s + warm_s
        es.offer(args.seconds)
        es.drain_and_check()
    lat = sorted(es.file_latencies())
    failed = res.missing_events + res.wrong_events
    if failed:
        print(f"event_stream: {res.missing_events} events missing, "
              f"{res.wrong_events} wrong", file=sys.stderr)
    if args.trace:
        metrics = tracer.metrics(res, lat, es.pass_s(), session_s, pool_s, warm_s,
                                 sampler.peak_scratch)
        tracer.write(os.path.join(WORK, "traces"), args, metrics)
        metrics = {k: metrics[k] for k in layers.PRINTED}
    else:
        p50, p90 = latency_percentiles(lat)
        metrics = {
            "setup_s": _metric(res.setup_s, "s"),
            "pass_s": _metric(es.pass_s(), "s"),
            "latency_p50_s": _metric(p50, "s"),
            "latency_p90_s": _metric(p90, "s"),
            "peak_rss_mb": _metric(sampler.peak_rss / 1e6, "MB"),
        }
        print(f"# {len(lat)} latency samples, generator late by at most "
              f"{max(res.late_s):.4f} s", file=sys.stderr)
    return {"correct": failed == 0, "attempted": res.attempted_events,
            "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=WORK)
    _isolate(run_dir)
    spark_holder: list = []
    try:
        # fail fast, before any set-up, when the engine is not importable
        import streaming_spark  # noqa: F401

        runner = run_stream if args.workload == "event_stream" else run_batch
        out = runner(args, run_dir, spark_holder)
    finally:
        if spark_holder:
            _stop_spark(spark_holder[0])
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
