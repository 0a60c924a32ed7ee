"""STRUCTURED-STREAMING scaling measurement — the one operator family
whose 100 TB question is not shuffle volume but STATE: per-partition
state-store open/commit cost (measured at fixture scale in CLAUDE.md /
VERDICT r8 #4), watermark advancement across micro-batches, and the
per-key state footprint of custom stateful operators.  This sweep runs
the engine's three streaming spines against generated event corpora of
N = 100k .. 4M rows (deterministic: every column a pure splitmix64
function of event_id, ts ascending 1 s per event so the corpus spans
N/3600 one-hour windows), staged as mtime-ordered part files exactly
like the fixture streams, and checks every arm EXACT against its batch
twin:

- ``stream_rollup_partials`` (stateless spine, q_streaming_incremental_
  rollup's shape): per-micro-batch groupBy partials landed idempotently,
  merged at read time.  Counts must equal the batch groupBy exactly;
  float sums within 1e-6 (summation order differs by construction).
- ``stream_stateful_rolling_mean`` (applyInPandasWithState spine,
  q_streaming_rolling_mean's operator): per-key rolling mean carried
  across batches, state bounded at width-1 floats/key, U = N/100 keys.
  Run at BOTH the fixture-sized state-partition count (8) and the
  default 32 at the largest point — the knob the stream runners size
  (state-store cost is per partition per batch, not per row).
  Row-for-row equality against the batch keyed-window twin at EVERY
  point (join on (user_id, event_id), max |Δ| must be 0 within 1e-9).
- ``stream_windowed_agg`` (watermark spine): withWatermark("ts", "2
  hours") + tumbling 1-hour window in APPEND mode, run with a sentinel
  file that drives the watermark past everything real so every window
  flushes (the _run_until_watermark contract); per-window counts must
  equal the batch groupBy(window) exactly.  State here is the open-
  window frontier — watermark eviction is what keeps it O(windows in
  the lateness horizon), not O(N), which is the scale argument.

Every arm's JSON line also carries the query's own state-store counters,
read from ``q.recentProgress``: ``batches`` (micro-batches executed),
``commit_ms_p50`` (per-batch median of ``commitTimeMs`` summed over the
query's stateful operators) and ``state_stores`` (per-batch median of
``numStateStoreInstances``), so a wall-clock finding can be checked
against commit time × store count.

Usage:
    PYTHONPATH=/root/repo python scripts/stress_streaming.py [max_n]
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import statistics
import sys
import time

import numpy as np
import pandas as pd

from streaming_spark import get_spark, scratch

BASE_EPOCH = 1_700_000_000  # fixed so ts is a pure function of event_id
KEY_DIV = 100  # U = N/100 keys -> ~100 events/key


def _mix64(x: np.ndarray) -> np.ndarray:
    # deliberately a LOCAL copy of stress_ann._mix64 (same constants):
    # the generator closure ships to Python workers, and a function
    # pickled by reference to the `stress_ann` module fails there with
    # ModuleNotFoundError (measured) — __main__-defined functions
    # pickle by value and ship fine.  The alternative is
    # sc.addPyFile("stress_ann.py") à la stress_pipeline; a one-liner
    # copy is simpler than coupling this sweep's workers to that file.
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def stage_events(spark, n: int, shards: int) -> tuple[str, str]:
    """Generate and stage the event corpus as ``shards`` mtime-ordered
    part files (one per contiguous event_id range, so arrival order is
    event-time order — the same per-key in-order contract the fixture
    streams document), plus a sentinel file (user_id = -1, ts one week
    past the end) for the watermark arm.  Returns (stream_dir,
    batch_table_dir).

    The mtime/sentinel mechanics mirror windows.py's
    _stage_stream_dir (ascending utimes ending near NOW so the LRU
    scratch sweep never victimizes live stream input; far-future
    sentinel row to drive the watermark) — kept separate because that
    helper re-materializes FIXTURE tables while this stages a generated
    corpus; a contract change there must be mirrored here."""
    d = scratch.scratch_dir(f"stress_stream_{n}", pin=True)
    t = d + "/t"
    n_keys = max(1, n // KEY_DIV)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            h = _mix64(ids.astype(np.uint64))
            yield pd.DataFrame(
                {
                    "event_id": ids,
                    "ts": pd.to_datetime(BASE_EPOCH + ids, unit="s"),
                    "user_id": (h % np.uint64(n_keys)).astype(np.int64),
                    "value": _mix64(h).astype(np.float64) / 2**64,
                }
            )

    (
        spark.range(0, n, 1, shards)
        .mapInPandas(
            gen, "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE"
        )
        .write.parquet(t)
    )
    # one part file per contiguous range; name order == id order
    stream_dir = d + "/stream"
    os.makedirs(stream_dir)
    parts = sorted(
        e for e in os.listdir(t) if e.startswith("part-") and e.endswith(".parquet")
    )
    base = int(time.time()) - len(parts) - 3
    for i, e in enumerate(parts):
        dst = os.path.join(stream_dir, f"part-{i:05d}.parquet")
        os.link(os.path.join(t, e), dst)
        os.utime(dst, (base + i, base + i))
    # sentinel: drives the watermark past every real event (windows.py
    # _stage_stream_dir's mechanism)
    sent = pd.DataFrame(
        {
            "event_id": [-1],
            "ts": [pd.to_datetime(BASE_EPOCH + n + 7 * 86400, unit="s")],
            "user_id": [-1],
            "value": [0.0],
        }
    )
    spath = os.path.join(stream_dir, f"part-{len(parts):05d}.parquet")
    # µs timestamps: pandas defaults to TIMESTAMP(NANOS), which the µs
    # stream schema would misread (the events-fixture quirk, CLAUDE.md)
    sent.to_parquet(
        spath, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    os.utime(spath, (base + len(parts), base + len(parts)))
    return stream_dir, t


def progress_counters(q) -> dict:
    """State-store counters of a finished query from its progress
    records; triggers that ran no batch carry no ``addBatch`` time."""
    ran = [p for p in q.recentProgress if "addBatch" in p["durationMs"]]
    ops = [p.get("stateOperators") or [] for p in ran]
    return {
        "batches": len(ran),
        "commit_ms_p50": statistics.median(
            [sum(o["commitTimeMs"] for o in b) for b in ops] or [0]
        ),
        "state_stores": statistics.median(
            [sum(o["numStateStoreInstances"] for o in b) for b in ops] or [0]
        ),
    }


def _read_stream(spark, schema, stream_dir: str, files_per_trigger: int):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(stream_dir)
    )


def run_point(spark, n: int, shards: int, timeout_s: int = 1200) -> None:
    from pyspark.sql import functions as F

    from streaming_spark.queries.windows import (
        _land_batch,
        _run_foreach_batch,
        _run_until_watermark,
    )
    from streaming_spark.streaming.core import stateful_rolling_mean

    stream_dir, t = stage_events(spark, n, shards)
    batch = spark.read.parquet(t)
    schema = batch.schema
    real = lambda df: df.filter(F.col("user_id") >= 0)  # noqa: E731
    fpt = max(1, shards // 8)  # ~8 micro-batches per run
    tag = {"n": n, "shards": shards, "keys": max(1, n // KEY_DIV)}

    # --- stateless per-batch partial rollup -------------------------
    sink = scratch.scratch_dir("ssink") + "/rollup"
    t0 = time.perf_counter()
    q = _run_foreach_batch(
        real(_read_stream(spark, schema, stream_dir, fpt)),
        lambda df, bid: _land_batch(
            df.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("s")
            ),
            bid,
            sink,
        ),
        "stress_rollup",
        timeout_s=timeout_s,
    )
    merged = (
        spark.read.parquet(sink)
        .groupBy("user_id")
        .agg(F.sum("cnt").alias("cnt"), F.sum("s").alias("s"))
    )
    # the clock covers the stream run + materializing the streamed
    # RESULT; batch-twin verification runs strictly after it (one
    # timer boundary for every arm — the cross-arm table depends on it)
    keys_out = merged.count()
    elapsed = time.perf_counter() - t0
    twin = real(batch).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("s")
    )
    bad = (
        merged.alias("m")
        .join(twin.alias("b"), "user_id", "full")
        .filter(
            (F.col("m.cnt") != F.col("b.cnt"))
            | F.col("m.cnt").isNull()
            | F.col("b.cnt").isNull()
            | (F.abs(F.col("m.s") - F.col("b.s")) > 1e-6)
        )
        .count()
    )
    print(
        json.dumps(
            {
                "op": "stream_rollup_partials",
                **tag,
                "seconds": round(elapsed, 2),
                "keys_out": keys_out,
                "mismatch": int(bad),
                **progress_counters(q),
            }
        ),
        flush=True,
    )

    # --- stateful rolling mean (state-partition A/B at the largest n)
    parts_ab = (8, 32) if n >= 1_000_000 else (8,)
    for sp in parts_ab:
        sink = scratch.scratch_dir("ssink") + "/roll"
        t0 = time.perf_counter()
        q = _run_foreach_batch(
            stateful_rolling_mean(
                real(_read_stream(spark, schema, stream_dir, fpt))
            ),
            lambda df, bid: _land_batch(df, bid, sink),
            "stress_rolling_mean",
            timeout_s=timeout_s,
            state_partitions=sp,
        )
        streamed = spark.read.parquet(sink)
        rows_out = streamed.count()
        elapsed = time.perf_counter() - t0
        from pyspark.sql import Window

        w = (
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(-2, 0)
        )
        twin = real(batch).select(
            "user_id",
            "event_id",
            F.avg("value").over(w).alias("rolling_mean"),
        )
        bad = (
            streamed.select("user_id", "event_id", "rolling_mean")
            .alias("s")
            .join(twin.alias("b"), ["user_id", "event_id"], "full")
            .filter(
                F.col("s.rolling_mean").isNull()
                | F.col("b.rolling_mean").isNull()
                | (
                    F.abs(F.col("s.rolling_mean") - F.col("b.rolling_mean"))
                    > 1e-9
                )
            )
            .count()
        )
        print(
            json.dumps(
                {
                    "op": f"stream_stateful_rolling_mean(p={sp})",
                    **tag,
                    "seconds": round(elapsed, 2),
                    "rows_out": rows_out,
                    "mismatch": int(bad),
                    **progress_counters(q),
                }
            ),
            flush=True,
        )

    # --- stream-stream interval join (the state-heaviest primitive:
    # FOUR stores per partition per side) — inner join, so availableNow
    # needs no sentinel flush; watermark + the 1h time bound keep join
    # state at the lateness horizon (~hours of events), never O(N)
    cond = (
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    # the batch twin is state-partition-independent: compute its pair
    # set ONCE (bounded: ~events/user per hour x keys, ~90k here)
    b = real(batch)
    bl = b.filter(F.col("event_id") % 2 == 0).select(
        F.col("user_id").alias("l_user"),
        F.col("event_id").alias("l_event"),
        F.col("ts").alias("l_ts"),
    )
    br = b.filter(F.col("event_id") % 2 == 1).select(
        F.col("user_id").alias("r_user"),
        F.col("event_id").alias("r_event"),
        F.col("ts").alias("r_ts"),
    )
    twin_pairs = {
        (r[0], r[1])
        for r in bl.join(br, cond, "inner")
        .select("l_event", "r_event")
        .collect()
    }
    for sp in parts_ab:
        sink = scratch.scratch_dir("ssink") + "/join"
        left = (
            real(_read_stream(spark, schema, stream_dir, fpt))
            .filter(F.col("event_id") % 2 == 0)
            .withWatermark("ts", "2 hours")
            .select(
                F.col("user_id").alias("l_user"),
                F.col("event_id").alias("l_event"),
                F.col("ts").alias("l_ts"),
            )
        )
        right = (
            real(_read_stream(spark, schema, stream_dir, fpt))
            .filter(F.col("event_id") % 2 == 1)
            .withWatermark("ts", "2 hours")
            .select(
                F.col("user_id").alias("r_user"),
                F.col("event_id").alias("r_event"),
                F.col("ts").alias("r_ts"),
            )
        )
        t0 = time.perf_counter()
        q = _run_foreach_batch(
            left.join(right, cond, "inner"),
            lambda df, bid: _land_batch(df, bid, sink),
            "stress_join",
            timeout_s=timeout_s,
            state_partitions=sp,
        )
        got_pairs = {
            (r[0], r[1])
            for r in spark.read.parquet(sink)
            .select("l_event", "r_event")
            .collect()
        }
        elapsed = time.perf_counter() - t0
        print(
            json.dumps(
                {
                    "op": f"stream_stream_join(p={sp})",
                    **tag,
                    "seconds": round(elapsed, 2),
                    "pairs_out": len(got_pairs),
                    "mismatch": len(got_pairs ^ twin_pairs),
                    **progress_counters(q),
                }
            ),
            flush=True,
        )

    # --- watermarked tumbling-window aggregate (append mode) --------
    t0 = time.perf_counter()
    agg = (
        _read_stream(spark, schema, stream_dir, fpt)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), (F.col("user_id") >= 0).alias("r"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    q = _run_until_watermark(
        agg,
        f"stress_win_{n}",
        dt.datetime.fromtimestamp(
            BASE_EPOCH + n + 1, dt.timezone.utc
        ).replace(tzinfo=None),
        timeout_s=timeout_s,
    )
    got = {
        (r["window"]["start"], r["cnt"])
        for r in spark.table(q.name).filter("r").collect()
    }
    elapsed = time.perf_counter() - t0
    want = {
        (r["window"]["start"], r["cnt"])
        for r in real(batch)
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    print(
        json.dumps(
            {
                "op": "stream_windowed_agg",
                **tag,
                "seconds": round(elapsed, 2),
                "windows": len(want),
                "mismatch": len(got ^ want),
                **progress_counters(q),
            }
        ),
        flush=True,
    )

    for p in (stream_dir, t):
        scratch.unpin(os.path.dirname(p))
    shutil.rmtree(os.path.dirname(stream_dir), ignore_errors=True)


def main() -> None:
    max_n = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    spark = get_spark(app_name="stress-streaming")
    # warm pools + checkpoint machinery, bounded by the caller's cap
    run_point(spark, min(20_000, max_n), 8)
    for n, shards in ((100_000, 16), (1_000_000, 32), (4_000_000, 64)):
        if n > max_n:
            continue
        run_point(spark, n, shards)


if __name__ == "__main__":
    main()
