"""Streaming checkpoints under the engine's checkpoint file manager.

``get_spark`` makes Spark write state-store deltas and the offset and
commit logs through ``FileSystemBasedCheckpointFileManager``.  These tests
pin the manager the engine's sessions resolve, the no-overwrite rename the
offset log relies on to refuse a second writer of a batch, and that a
stateful query restarted on its checkpoint resumes its offsets and keyed
state exactly.
"""

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError

from streaming_spark.streaming import read_events_stream, stateful_rolling_mean

FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _manager(spark, path):
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    cfm = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    return cfm.create(jvm.org.apache.hadoop.fs.Path(path.as_uri()), conf)


def test_checkpoint_manager_is_filesystem_based(spark, tmp_path):
    mgr = _manager(spark, tmp_path)
    assert mgr.getClass().getName() == FS_MANAGER


def test_create_atomic_refuses_to_overwrite(spark, tmp_path):
    """A log entry written with ``overwriteIfPossible=false`` onto an
    existing file must fail and leave the first writer's bytes: that is
    how the offset log detects a concurrent writer of the same batch."""
    mgr = _manager(spark, tmp_path)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    (tmp_path / "0").write_text("first")

    fresh = mgr.createAtomic(Path((tmp_path / "1").as_uri()), False)
    fresh.write(65)
    fresh.close()
    assert (tmp_path / "1").read_text() == "A"

    out = mgr.createAtomic(Path((tmp_path / "0").as_uri()), False)
    out.write(66)
    with pytest.raises(Py4JJavaError) as err:
        out.close()
    assert is_instance_of(
        spark.sparkContext._gateway,
        err.value.java_exception,
        "org.apache.hadoop.fs.FileAlreadyExistsException",
    )
    assert (tmp_path / "0").read_text() == "first"


N_USERS = 5
EVENTS_PER_FILE = 40
WIDTH = 3


def _write_event_files(src, first: int, count: int, rng) -> pd.DataFrame:
    """Write files ``first .. first+count-1`` of an in-order event stream
    (one file per micro-batch, ts ascending across files) and return
    their events."""
    frames = []
    now = int(time.time())
    for i in range(first, first + count):
        ids = np.arange(i * EVENTS_PER_FILE, (i + 1) * EVENTS_PER_FILE, dtype=np.int64)
        pdf = pd.DataFrame(
            {
                "event_id": ids,
                "ts": pd.to_datetime(1_700_000_000 + ids, unit="s").astype("datetime64[us]"),
                "user_id": rng.integers(0, N_USERS, len(ids)).astype(np.int64),
                "value": rng.random(len(ids)),
            }
        )
        path = os.path.join(src, f"part-{i:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        # the file source takes files in mtime order
        os.utime(path, (now - 100 + i, now - 100 + i))
        frames.append(pdf)
    return pd.concat(frames, ignore_index=True)


def _reference_rolling_mean(events: pd.DataFrame) -> dict[int, float]:
    """event_id -> mean of the user's last WIDTH values, summed in the
    operator's order so floats compare exactly."""
    out, tails = {}, {}
    for uid, eid, v in events.sort_values(["ts", "event_id"])[
        ["user_id", "event_id", "value"]
    ].itertuples(index=False):
        tail = tails.setdefault(uid, [])
        tail.append(float(v))
        if len(tail) > WIDTH:
            tail.pop(0)
        out[int(eid)] = sum(tail) / len(tail)
    return out


def test_stateful_stream_restart_resumes_offsets_and_state(spark, tmp_path):
    """Run ``stateful_rolling_mean`` to the end of 3 files, stop, add 2
    files, restart on the same checkpoint: the two runs together emit
    every event exactly once with the rolling mean over ALL events, so
    the restart neither replays committed offsets nor loses the keyed
    tails carried across the stop."""
    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    rng = np.random.default_rng(7)
    batches: list[tuple[int, pd.DataFrame]] = []

    def run() -> None:
        rolled = stateful_rolling_mean(read_events_stream(spark, src), width=WIDTH)
        q = (
            rolled.writeStream.foreachBatch(
                lambda df, bid: batches.append((bid, df.toPandas()))
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "stream did not finish"
        assert q.exception() is None

    events = _write_event_files(src, 0, 3, rng)
    run()
    first_ids = [bid for bid, _ in batches]
    events = pd.concat([events, _write_event_files(src, 3, 2, rng)], ignore_index=True)
    run()
    second_ids = [bid for bid, _ in batches[len(first_ids):]]

    assert first_ids and second_ids
    assert min(second_ids) > max(first_ids), "restart replayed a committed batch"
    got = pd.concat([pdf for _, pdf in batches], ignore_index=True)
    assert got["event_id"].is_unique
    want = _reference_rolling_mean(events)
    assert dict(zip(got["event_id"].tolist(), got["rolling_mean"].tolist())) == want
    # the second run starts from carried tails: each of its users
    # already had events before the restart
    late = events[events["event_id"] >= 3 * EVENTS_PER_FILE]
    early = events[events["event_id"] < 3 * EVENTS_PER_FILE]
    assert set(late["user_id"]) <= set(early["user_id"])
