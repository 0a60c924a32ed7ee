"""Open-loop event stream: ``read_events_stream`` ->
``stateful_rolling_mean`` -> ``foreach_batch_stream`` into a sink the
benchmark owns.

While the query runs on Spark's own threads, the benchmark's main thread
publishes one parquet file of ``EVENTS_PER_FILE`` events every
``1 / FILES_PER_S`` seconds (write under a temp name, then rename into
the watched directory), on a schedule that does not wait for the engine.
A file's latency runs from the moment it was due to the sink's commit of
the micro-batch holding its events, so a stall shows both in the file it
delays and in every file queued behind it; a file that never reaches the
sink counts as a failure and with the whole drain wait as its latency.
All events are drawn from the seed before the stream starts; publishing
only writes.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from perfbench.fixtures import events_frame, write_parquet
from streaming_spark.streaming.core import (
    foreach_batch_stream,
    read_events_stream,
    stateful_rolling_mean,
)

FILES_PER_S = 10.0
EVENTS_PER_FILE = 80
N_USERS = 200
# state partitions sized to the 4 cores: under the session default (32)
# each micro-batch opens 32 state stores and takes ~7 s here, so a run
# would hold two batches
STATE_PARTITIONS = 4
# every file must reach the sink within this long after the offered load ends
DRAIN_S = 30.0
WARM_FILES = 2
WIDTH = 3


@dataclass
class StreamResult:
    setup_s: float = 0.0
    due: dict[int, float] = field(default_factory=dict)  # file -> due time
    late_s: list[float] = field(default_factory=list)  # generator lateness
    commits: list[tuple[int, float, pd.DataFrame]] = field(default_factory=list)
    backlog_files_end: int = 0
    wrong_events: int = 0
    missing_events: int = 0
    attempted_events: int = 0


def reference_rolling_mean(events: pd.DataFrame, width: int = WIDTH) -> dict[int, float]:
    """event_id -> mean of the user's last ``width`` values in (ts,
    event_id) order, computed the same way as the operator (sequential
    Python float sums) so the comparison is exact."""
    out: dict[int, float] = {}
    tails: dict[int, list[float]] = {}
    for uid, eid, v in events.sort_values(["ts", "event_id"])[
        ["user_id", "event_id", "value"]
    ].itertuples(index=False):
        tail = tails.setdefault(int(uid), [])
        tail.append(float(v))
        if len(tail) > width:
            tail.pop(0)
        out[int(eid)] = sum(tail) / len(tail)
    return out


class EventStream:
    def __init__(self, work_dir: str, seed: int, seconds: float):
        self.src = os.path.join(work_dir, "events-in")
        self.tmp = os.path.join(work_dir, "events-tmp")
        self.checkpoint = os.path.join(work_dir, "checkpoint")
        os.makedirs(self.src)
        os.makedirs(self.tmp)
        rng = np.random.default_rng(seed)
        n_files = WARM_FILES + int(seconds * FILES_PER_S)
        per_file_s = 1.0 / FILES_PER_S
        self.files = [
            events_frame(
                rng, i * EVENTS_PER_FILE, EVENTS_PER_FILE, N_USERS,
                np.datetime64("2024-01-01", "us") + np.timedelta64(int(i * per_file_s * 1e6), "us"),
                per_file_s,
            )
            for i in range(n_files)
        ]
        self.file_of_event = np.repeat(np.arange(n_files), EVENTS_PER_FILE)
        self.query = None

    def _publish(self, i: int) -> None:
        tmp = os.path.join(self.tmp, f"part-{i:06d}.parquet")
        write_parquet(self.files[i], tmp)
        os.rename(tmp, os.path.join(self.src, f"part-{i:06d}.parquet"))

    def start(self, spark: SparkSession, result: StreamResult, listener=None) -> None:
        """Start the query and wait until the warm-up files are committed."""
        self.spark = spark
        self.result = result
        self.committed_files: set[int] = set()
        self._cv = threading.Condition()

        def sink(df, batch_id: int) -> None:
            pdf = df.toPandas()
            t = time.time()
            files = set(self.file_of_event[pdf["event_id"].to_numpy()].tolist()) if len(pdf) else set()
            with self._cv:
                result.commits.append((batch_id, t, pdf))
                self.committed_files |= files
                self._cv.notify_all()

        for i in range(WARM_FILES):
            self._publish(i)
        self.spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
        if listener is not None:
            self.spark.streams.addListener(listener)
        rolling = stateful_rolling_mean(read_events_stream(self.spark, self.src, max_files_per_trigger=1000))
        writer = foreach_batch_stream(rolling, lambda pdf: pdf, rolling.schema, sink)
        self.query = writer.option("checkpointLocation", self.checkpoint).start()
        self._wait_for(set(range(WARM_FILES)), timeout=120)

    def _wait_for(self, files: set[int], timeout: float) -> bool:
        deadline = time.time() + timeout
        with self._cv:
            while not files <= self.committed_files:
                left = deadline - time.time()
                if left <= 0 or (self.query is not None and self.query.exception() is not None):
                    return False
                self._cv.wait(min(left, 0.5))
        return True

    def offer(self, seconds: float) -> None:
        """Open-loop generator: publish files on a fixed schedule."""
        res = self.result
        t0 = time.time()
        first = WARM_FILES
        n = len(self.files) - first
        for k in range(n):
            due = t0 + k / FILES_PER_S
            now = time.time()
            if due > now:
                time.sleep(due - now)
            res.late_s.append(max(0.0, time.time() - due))
            self._publish(first + k)
            res.due[first + k] = due
        with self._cv:
            res.backlog_files_end = len(set(res.due) - self.committed_files)

    def drain_and_check(self) -> None:
        res = self.result
        self._wait_for(set(res.due), timeout=DRAIN_S)
        self.drain_end = time.time()
        self.query.stop()
        emitted = pd.concat([p for _, _, p in res.commits] or [pd.DataFrame(
            {"user_id": [], "event_id": [], "rolling_mean": []})], ignore_index=True)
        measured = set(res.due)
        want = reference_rolling_mean(pd.concat(self.files, ignore_index=True))
        got = dict(zip(emitted["event_id"].tolist(), emitted["rolling_mean"].tolist()))
        ids = [e for e in want if self.file_of_event[e] in measured]
        res.attempted_events = len(ids)
        res.missing_events = sum(1 for e in ids if e not in got)
        res.wrong_events = sum(1 for e in ids if e in got and got[e] != want[e])
        # every emitted row, warm-up included, must be right and emitted once
        if len(emitted) != emitted["event_id"].nunique():
            res.wrong_events += len(emitted) - emitted["event_id"].nunique()

    def _arrivals(self) -> dict[int, float]:
        """Measured file -> time the sink committed its events (the end
        of the drain wait for a file that never arrived)."""
        first_commit: dict[int, float] = {}
        for _, t, pdf in self.result.commits:
            for f in set(self.file_of_event[pdf["event_id"].to_numpy()].tolist()):
                first_commit.setdefault(f, t)
        return {f: first_commit.get(f, self.drain_end) for f in self.result.due}

    def file_latencies(self) -> list[float]:
        due = self.result.due
        return [t - due[f] for f, t in self._arrivals().items()]

    def pass_s(self) -> float:
        """From the first measured file's due time until the sink held
        every measured file."""
        return max(self._arrivals().values()) - min(self.result.due.values())
