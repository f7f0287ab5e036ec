"""Checkpoint manager scoping and restart of the stateful flagship join.

Local sessions checkpoint through Spark's FileSystem-based manager
(session.checkpoint_conf). Every way a session reaches the engine must
carry it, and the stream-stream join must still deliver each event once
across a stop and restart on the same checkpoint, since the manager
decides how offset logs and state-store deltas are renamed into place.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from collections import Counter

from conftest import envelope

from evaluate_human_balance_with_spark_streaming_spark.plans.stedi import (
    flagship_pipeline,
)
from evaluate_human_balance_with_spark_streaming_spark.session import (
    CHECKPOINT_MANAGER_KEY,
    FS_CHECKPOINT_MANAGER,
    apply_runtime_conf,
    checkpoint_conf,
)
from evaluate_human_balance_with_spark_streaming_spark.sources.files import (
    stream_json_dir,
)
from evaluate_human_balance_with_spark_streaming_spark.streaming.runner import (
    replay_session,
    start_query,
)


def test_checkpoint_manager_on_every_session_path(spark):
    """The get_spark session, a bare newSession() handed in and passed
    through apply_runtime_conf, and the replay session all carry the
    FileSystem-based manager."""
    assert spark.conf.get(CHECKPOINT_MANAGER_KEY) == FS_CHECKPOINT_MANAGER
    bare = spark.newSession()
    apply_runtime_conf(bare)
    assert bare.conf.get(CHECKPOINT_MANAGER_KEY) == FS_CHECKPOINT_MANAGER
    assert replay_session(spark).conf.get(CHECKPOINT_MANAGER_KEY) == FS_CHECKPOINT_MANAGER


def test_checkpoint_manager_scoped_to_local_default_fs(spark):
    """HDFS and object-store defaults keep Spark's FileContext manager,
    whose rename is atomic there; the FS-based one is atomic only on a
    local filesystem."""
    assert checkpoint_conf("file:///") == {CHECKPOINT_MANAGER_KEY: FS_CHECKPOINT_MANAGER}
    assert checkpoint_conf("hdfs://nn:8020") == {}
    assert checkpoint_conf("s3a://bucket") == {}
    remote = spark.newSession()
    remote.conf.set("fs.defaultFS", "hdfs://nn:8020")
    apply_runtime_conf(remote)
    assert remote.conf.get(CHECKPOINT_MANAGER_KEY, None) is None


def _drop(directory: str, name: str, lines: list[str]) -> None:
    """Write one JSON-lines file and rename it into the watched
    directory, so the file source never lists a partial file."""
    staged = os.path.join(os.path.dirname(directory), f".{name}")
    with open(staged, "w") as f:
        f.writelines(json.dumps({"value": v}) + "\n" for v in lines)
    os.rename(staged, os.path.join(directory, name))


def _customers(ids: range) -> list[str]:
    return [
        envelope(
            {
                "customerName": f"C{i}",
                "email": f"c{i}@x.io",
                "birthDay": f"{1950 + i % 50}-01-01",
            }
        )
        for i in ids
    ]


def _events(ids: range, first_score: int) -> tuple[list[str], list[tuple]]:
    """One risk event per customer id; scores are unique, so each
    expected output row names exactly one event."""
    wire, rows = [], []
    for n, i in enumerate(ids):
        score = float(first_score + n) + 0.5
        wire.append(
            json.dumps(
                {"customer": f"c{i}@x.io", "score": score,
                 "riskDate": "2020-09-14T07:54:06.417Z"}
            )
        )
        rows.append((f"c{i}@x.io", score, f"c{i}@x.io", str(1950 + i % 50)))
    return wire, rows


def test_flagship_join_restart_emits_each_event_once(spark):
    """Stop the stream-stream join mid-stream and restart it on the same
    checkpoint: join state (customers seen before the stop) survives,
    and the file sink holds every event row exactly once."""
    base = tempfile.mkdtemp(prefix="ehb-restart-")
    cust_dir, risk_dir = os.path.join(base, "cust"), os.path.join(base, "risk")
    out_dir, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    os.makedirs(cust_dir)
    os.makedirs(risk_dir)
    wire = "value string"
    joined = flagship_pipeline(
        stream_json_dir(spark, cust_dir, wire, max_files_per_trigger=100),
        stream_json_dir(spark, risk_dir, wire, max_files_per_trigger=100),
    )

    def start(available_now: bool):
        return start_query(joined, "parquet", ckpt, options={"path": out_dir},
                           trigger_available_now=available_now)

    def sink_rows() -> list[tuple]:
        # Only batches the sink's _spark_metadata log has committed.
        sink = spark.read.schema(joined.schema).parquet(out_dir)
        return [tuple(r) for r in sink.collect()]

    expected: list[tuple] = []
    _drop(cust_dir, "c0.json", _customers(range(0, 20)))
    wire_rows, rows = _events(range(0, 20), 0)
    _drop(risk_dir, "r0.json", wire_rows)
    expected += rows
    q = start(available_now=False)
    try:
        deadline = time.time() + 120
        while time.time() < deadline and q.isActive:
            if len(sink_rows()) >= len(expected):
                break
            time.sleep(0.2)
        assert len(sink_rows()) == len(expected), "first batch never committed"
        # More input while the query runs, then stop it mid-stream.
        _drop(cust_dir, "c1.json", _customers(range(20, 30)))
        wire_rows, rows = _events(range(10, 30), 100)
        _drop(risk_dir, "r1.json", wire_rows)
        expected += rows
        time.sleep(0.3)
    finally:
        q.stop()
    # Input that arrives while the query is down: old customers join
    # only through the state restored from the checkpoint.
    wire_rows, rows = _events(range(0, 30), 200)
    _drop(risk_dir, "r2.json", wire_rows)
    expected += rows
    q = start(available_now=True)
    assert q.awaitTermination(120), "restarted drain did not finish"
    assert q.exception() is None
    got = Counter(sink_rows())
    assert [r for r, n in got.items() if n > 1] == []
    assert set(got) == set(expected)
