"""Streaming-path integration tests: the same pipelines that pass batch
must pass as real streams (file source, multi-batch replay, availableNow
drain into a memory sink) — Structured Streaming's batch≡stream promise,
verified rather than assumed."""

from __future__ import annotations

import json
import os
import tempfile
from collections import Counter

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from evaluate_human_balance_with_spark_streaming_spark.plans import stedi
from evaluate_human_balance_with_spark_streaming_spark.sources.files import (
    stream_parquet_dir,
)
from evaluate_human_balance_with_spark_streaming_spark.streaming.aggregates import (
    windowed_quality,
)
from evaluate_human_balance_with_spark_streaming_spark.streaming.runner import (
    run_to_memory,
)
from evaluate_human_balance_with_spark_streaming_spark.streaming.stateful import (
    running_risk_state,
)

WIRE_SCHEMA = StructType([StructField("value", StringType())])


def wire_stream(spark, values: list[str], n_files: int = 2):
    """values → parquet dir → file stream with one file per micro-batch."""
    path = os.path.join(tempfile.mkdtemp(prefix="ehb-test-stream-"), "data")
    spark.createDataFrame([(v,) for v in values], "value string").repartition(
        n_files
    ).write.mode("overwrite").parquet(path)
    return stream_parquet_dir(spark, path, WIRE_SCHEMA, max_files_per_trigger=1)


def risk_json(customer: str, score: float, ts: str = "2020-09-14T07:54:06.417Z") -> str:
    return json.dumps({"customer": customer, "score": score, "riskDate": ts})


def test_risk_parse_runs_as_stream(spark):
    stream = wire_stream(spark, [risk_json("a@b.c", 1.5), risk_json("d@e.f", -2.0)])
    out = run_to_memory(stedi.parse_risk_events(stream))
    got = {(r.customer, r.score) for r in out.collect()}
    assert got == {("a@b.c", 1.5), ("d@e.f", -2.0)}


def test_run_to_memory_timeout_cleans_up_sink_and_checkpoint(spark):
    """A drain timeout must not leak the memory-sink temp view (pins
    rows in the driver) or the throwaway checkpoint dir (runner.py
    timeout path)."""
    import pytest

    stream = wire_stream(spark, [risk_json("a@b.c", 1.5)])
    views_before = {t.name for t in spark.catalog.listTables()}
    ckpt_root = tempfile.gettempdir()
    ckpts_before = {
        d for d in os.listdir(ckpt_root) if d.startswith("ehb-ckpt-")
    }
    # 1 ms: the drain can't finish (query start alone is >100 ms), so
    # _await_bounded takes the timeout path deterministically.
    with pytest.raises(TimeoutError):
        run_to_memory(stedi.parse_risk_events(stream), timeout_sec=1e-3)
    assert {t.name for t in spark.catalog.listTables()} == views_before
    ckpts_after = {
        d for d in os.listdir(ckpt_root) if d.startswith("ehb-ckpt-")
    }
    assert ckpts_after == ckpts_before


def test_stream_stream_join_accumulates_state_across_batches(spark):
    from conftest import envelope as shared_envelope

    # The OTHER observed wire variant: ch/score as strings, no
    # redundant twin — the decode chain must tolerate both shapes.
    def envelope(email: str, birth: str) -> str:
        return shared_envelope(
            {"customerName": "n", "email": email, "birthDay": birth},
            ch="false",
            twin=False,
            entry_score="0.0",
        )

    # Customer arrives in one micro-batch, risk events spread over
    # batches — the join must still match them all (unbounded state,
    # SURVEY §2.4: state is never evicted in parity mode).
    cust_stream = wire_stream(
        spark, [envelope("a@b.c", "1990-01-01"), envelope("x@y.z", "1980-05-05")], 2
    )
    risk_stream = wire_stream(
        spark,
        [risk_json("a@b.c", 1.0), risk_json("a@b.c", 2.0), risk_json("x@y.z", 3.0)],
        3,
    )
    out = run_to_memory(stedi.flagship_pipeline(cust_stream, risk_stream))
    rows = out.collect()
    assert len(rows) == 3
    assert {(r.email, r.score, r.birthYear) for r in rows} == {
        ("a@b.c", 1.0, "1990"),
        ("a@b.c", 2.0, "1990"),
        ("x@y.z", 3.0, "1980"),
    }


def test_windowed_aggregate_streaming_matches_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from evaluate_human_balance_with_spark_streaming_spark.sources.testdata import (
        load_table,
    )

    events = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value", "user_id"
    )
    batch = {
        (r.window_day, r.event_type): (r.n_events, r.avg_value)
        for r in windowed_quality(events, "ts", "1 day").collect()
    }
    # The extra_aggs hook (the batch twin's exact countDistinct — the
    # aggregate streaming state cannot afford) extends, never alters,
    # the shared aggregates. Since r04 this is the hook's oracle:
    # q_windowed_quality is unregistered (50-row registry cap funds
    # stream_session_quality), so the equivalence is pinned here —
    # n_users VALUES included, against an independently-expressed
    # reference (distinct rows → count, date_trunc instead of window;
    # a `>= 1` sanity bound would let a miswired countDistinct ship).
    # Called through q_windowed_quality ITSELF — the batch entry
    # point's own glue (load_table wiring + its extra_aggs call) must
    # execute here, not a hand-built equivalent that would let the
    # entry point rot uncovered (review finding).
    from evaluate_human_balance_with_spark_streaming_spark.plans.analytics import (
        q_windowed_quality,
    )

    extra = {
        (r.window_day, r.event_type): (r.n_events, r.avg_value, r.n_users)
        for r in q_windowed_quality(spark, sf_dir).collect()
    }
    assert {k: v[:2] for k, v in extra.items()} == batch
    expected_users = {
        (r.d, r.event_type): r.n
        for r in events.select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("d"),
            "event_type",
            "user_id",
        )
        .distinct()
        .groupBy("d", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {k: v[2] for k, v in extra.items()} == expected_users

    path = os.path.join(tempfile.mkdtemp(prefix="ehb-test-win-"), "data")
    events.repartition(3).write.mode("overwrite").parquet(path)
    stream = stream_parquet_dir(
        spark,
        path,
        StructType.fromDDL("ts timestamp, event_type string, value double"),
        max_files_per_trigger=1,
    )
    streamed = {
        (r.window_day, r.event_type): (r.n_events, r.avg_value)
        for r in run_to_memory(
            windowed_quality(stream, "ts", "1 day"), output_mode="complete"
        ).collect()
    }
    assert streamed == batch


def test_stateful_risk_state_final_counts(spark):
    stream = wire_stream(
        spark,
        [
            risk_json("a@b.c", 1.0),
            risk_json("a@b.c", 3.0),
            risk_json("x@y.z", -1.0),
        ],
        3,
    )
    out = run_to_memory(
        running_risk_state(stedi.parse_risk_events(stream)),
        output_mode="update",
    )
    # Update mode re-emits per batch; the max n_assessments per customer
    # is the final state.
    final = (
        out.groupBy("customer")
        .agg(
            F.max("n_assessments").alias("n"),
        )
        .collect()
    )
    got = {(r.customer, r.n) for r in final}
    assert got == {("a@b.c", 2), ("x@y.z", 1)}


def test_stateful_risk_ignores_null_scores_like_sql_aggregates(spark):
    """A malformed payload parses to (customer, null score); the
    stateful op must IGNORE it like F.avg does — one NaN folded into
    the running total would poison every later emission for that
    customer via the persisted state."""
    stream = wire_stream(
        spark,
        [
            risk_json("a@b.c", 2.0),
            json.dumps({"customer": "a@b.c", "score": None,
                        "riskDate": "2020-09-14T07:54:06.417Z"}),
            risk_json("a@b.c", 4.0),
        ],
        3,
    )
    out = run_to_memory(
        running_risk_state(stedi.parse_risk_events(stream)),
        output_mode="update",
    )
    rows = out.orderBy(F.col("n_assessments").desc()).collect()
    final = rows[0]
    assert final.n_assessments == 2          # null NOT counted
    assert final.avg_score == 3.0            # (2+4)/2, no NaN poisoning
    assert final.min_score == 2.0 and final.max_score == 4.0


def test_risk_aggregate_null_scores_dont_pass_the_gate(spark):
    """The relational risk aggregate must use the SAME n_assessments
    definition as its stateful twin above: non-null scores only. A
    customer with four malformed payloads (null scores) and zero real
    assessments must not pass the >=4 gate and be reported as an
    all-null aggregate row; null scores also must not inflate the
    count of a customer with real scores."""
    from evaluate_human_balance_with_spark_streaming_spark.streaming.aggregates import (
        risk_score_per_customer,
    )

    risk = spark.createDataFrame(
        [("ghost@x.y", None)] * 4
        + [("real@x.y", 1.0), ("real@x.y", None), ("real@x.y", 2.0),
           ("real@x.y", 3.0), ("real@x.y", 4.0)],
        "customer string, score double",
    )
    rows = {r.customer: r for r in risk_score_per_customer(risk).collect()}
    assert set(rows) == {"real@x.y"}
    assert rows["real@x.y"].n_assessments == 4
    assert rows["real@x.y"].avg_score == 2.5


def test_run_to_memory_cleans_checkpoint_when_start_rejects_plan(spark):
    """A plan rejected at start() time (unwatermarked aggregate in
    append mode) must not leak its ehb-ckpt-* temp dir — repeated
    failing starts would otherwise accumulate for the session's life."""
    import glob

    import pytest

    stream = wire_stream(spark, [risk_json("a@b.c", 1.0)], 1)
    bad = stedi.parse_risk_events(stream).groupBy("customer").count()
    before = set(glob.glob(os.path.join(tempfile.gettempdir(), "ehb-ckpt-*")))
    with pytest.raises(Exception):
        run_to_memory(bad, output_mode="append")
    after = set(glob.glob(os.path.join(tempfile.gettempdir(), "ehb-ckpt-*")))
    assert after == before


def test_foreach_batch_collects_all_batches(spark):
    from evaluate_human_balance_with_spark_streaming_spark.streaming.runner import (
        run_foreach_batch,
    )

    stream = wire_stream(spark, [risk_json("a@b.c", 1.0), risk_json("b@c.d", 2.0)], 2)
    seen: dict[int, int] = {}

    def sink(batch_df, batch_id):
        seen[batch_id] = batch_df.count()

    run_foreach_batch(stedi.parse_risk_events(stream), sink)
    assert sum(seen.values()) == 2
    assert len(seen) >= 2  # one micro-batch per file


def test_concurrent_multi_sink_same_stream(spark):
    """The reference author intended console+kafka concurrently but
    blocked on awaitTermination (SURVEY §2.2); verify two sinks off one
    source both drain when started together."""
    import tempfile as _tf
    import uuid as _uuid

    stream = wire_stream(spark, [risk_json("a@b.c", 1.0), risk_json("b@c.d", 2.0)], 2)
    parsed = stedi.parse_risk_events(stream)
    names = [f"ms_{_uuid.uuid4().hex[:8]}" for _ in range(2)]
    queries = [
        parsed.writeStream.format("memory")
        .queryName(n)
        .outputMode("append")
        .option("checkpointLocation", _tf.mkdtemp(prefix="ehb-ms-"))
        .trigger(availableNow=True)
        .start()
        for n in names
    ]
    for q in queries:
        q.awaitTermination(120)
    counts = [spark.table(n).count() for n in names]
    assert counts == [2, 2]


def test_drop_duplicates_within_watermark(spark):
    """Bounded-state streaming dedup: duplicates inside the watermark
    window are dropped across micro-batches."""
    import datetime as dt
    import os as _os
    import tempfile as _tf

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0)),
        (1, dt.datetime(2024, 1, 1, 0, 0, 30)),  # dup inside watermark
        (2, dt.datetime(2024, 1, 1, 0, 1, 0)),
    ]
    df = spark.createDataFrame(rows, "k bigint, ts timestamp")
    path = _os.path.join(_tf.mkdtemp(prefix="ehb-ddww-"), "data")
    df.repartition(3).write.mode("overwrite").parquet(path)
    stream = stream_parquet_dir(
        spark,
        path,
        StructType.fromDDL("k bigint, ts timestamp"),
        max_files_per_trigger=1,
    )
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(["k"])
    out = run_to_memory(deduped)
    assert sorted(r.k for r in out.collect()) == [1, 2]


def test_watermark_drops_late_rows_in_append_window(spark):
    """Append-mode windowed aggregate with a watermark: a row arriving
    after its window's watermark has passed is DROPPED (the late-data
    semantics the reference never chose, SURVEY §2.7)."""
    import datetime as dt
    import os as _os
    import tempfile as _tf

    from pyspark.sql.types import StructType

    import time as _time

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    # Watermark mechanics (verified empirically): the watermark for
    # batch N comes from batch N-1's max event time, and a window is
    # evicted+emitted at the end of the first batch whose watermark
    # passes its end — so a "late" row is only guaranteed-dropped two
    # batches after the advancing row. Files are written with strictly
    # increasing mtimes; the file source serves them oldest-first, one
    # per micro-batch.
    batches = [
        [(base, 1.0)],                                       # the window under test
        [(base + dt.timedelta(hours=2), 5.0)],               # advances event time
        [(base + dt.timedelta(hours=2, minutes=1), 6.0)],    # watermark passes 00:10 → evict+emit
        [(base + dt.timedelta(minutes=1), 100.0)],           # LATE: window already closed
    ]
    path = _os.path.join(_tf.mkdtemp(prefix="ehb-late-"), "data")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "ts timestamp, value double").coalesce(1).write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(path)
        _time.sleep(1.5)
    stream = stream_parquet_dir(
        spark,
        path,
        StructType.fromDDL("ts timestamp, value double"),
        max_files_per_trigger=1,
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .select(F.date_format("w.start", "HH:mm").alias("w_start"), "n", "total")
    )
    out = run_to_memory(agg, output_mode="append")
    rows = {r.w_start: (r.n, r.total) for r in out.collect()}
    # The 00:00 window emitted exactly once, WITHOUT the late 100.0 row;
    # the 02:00 windows are still open (watermark never passed them) so
    # append mode correctly emits nothing for them.
    assert rows == {"00:00": (1, 1.0)}


def test_checkpoint_prevents_reprocessing(spark):
    """Restarting a query on the SAME checkpoint processes nothing new —
    offsets are committed; the at-least-once contract comes from sink
    replay, not source re-reads."""
    import tempfile as _tf
    import uuid as _uuid

    stream_vals = [risk_json("a@b.c", 1.0), risk_json("b@c.d", 2.0)]
    stream = wire_stream(spark, stream_vals, 2)
    parsed = stedi.parse_risk_events(stream)
    ckpt = _tf.mkdtemp(prefix="ehb-ckpt-resume-")
    out_dir = _tf.mkdtemp(prefix="ehb-ckpt-out-") + "/data"

    def drain():
        # File sink (memory sink can't recover from a checkpoint).
        q = (
            parsed.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out_dir).count()

    assert drain() == 2
    assert drain() == 2  # restart on same checkpoint: nothing reprocessed


def test_pipelines_tolerate_empty_input(spark):
    """Zero-row inputs flow through every parity pipeline without error
    (an empty micro-batch is routine in production)."""
    empty = spark.createDataFrame([], "value string")
    assert stedi.customer_pipeline(empty).count() == 0
    assert stedi.parse_risk_events(empty).count() == 0
    assert stedi.flagship_pipeline(empty, empty).count() == 0


def test_streaming_session_window_emits_closed_session(spark):
    """session_window on a stream (append + watermark): a session
    closes once the watermark passes its end and emits exactly once."""
    import datetime as dt
    import os as _os
    import tempfile as _tf
    import time as _time

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    batches = [
        [("u1", base), ("u1", base + dt.timedelta(minutes=10))],  # one session
        [("u1", base + dt.timedelta(hours=3))],                   # advances time
        [("u1", base + dt.timedelta(hours=3, minutes=1))],        # passes watermark
        [("u1", base + dt.timedelta(hours=3, minutes=2))],        # triggers eviction batch
    ]
    path = _os.path.join(_tf.mkdtemp(prefix="ehb-sess-"), "data")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "user_id string, ts timestamp").coalesce(
            1
        ).write.mode("overwrite" if i == 0 else "append").parquet(path)
        _time.sleep(1.5)
    stream = stream_parquet_dir(
        spark,
        path,
        StructType.fromDDL("user_id string, ts timestamp"),
        max_files_per_trigger=1,
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.date_format("w.start", "HH:mm").alias("start"), "n")
    )
    out = run_to_memory(agg, output_mode="append")
    rows = {(r.user_id, r.start): r.n for r in out.collect()}
    # The 00:00 session (2 events, merged by the 30-min gap) closed and
    # emitted; the 03:00 session is still open → absent.
    assert rows == {("u1", "00:00"): 2}


def test_watermarked_flagship_plans_state_eviction(spark, sf_dir):
    """The production flagship variant must declare watermarks on BOTH
    join sides and a time-bounded join condition — the preconditions
    under which Spark plans state EVICTION for the symmetric hash join
    (vs the reference's unbounded state, sparkpykafkajoin.py:196-198).
    Asserted on the streaming plan, not just claimed."""
    from evaluate_human_balance_with_spark_streaming_spark.plans import stedi
    from evaluate_human_balance_with_spark_streaming_spark.streaming.stream_queries import (
        _WIRE_TS_SCHEMA,
        _cust_ts_wire,
        _open_wire,
        _risk_wire,
    )

    redis_stream = _open_wire(spark, _cust_ts_wire(spark, sf_dir), _WIRE_TS_SCHEMA)
    events_stream = _open_wire(spark, _risk_wire(spark, sf_dir))
    joined = stedi.flagship_pipeline_watermarked(redis_stream, events_stream)
    assert joined.isStreaming
    plan = joined._jdf.queryExecution().analyzed().toString()
    assert plan.count("EventTimeWatermark") == 2, plan
    # Time-bounded condition on both event-time columns.
    assert "riskDate" in plan and "cust_ts" in plan
    # The batch twin of the same pipeline matches the band-join oracle
    # (stream_flagship_join_watermarked in the correctness gate); here
    # assert the streaming run also produces the in-band rows only.
    out = run_to_memory(joined, output_mode="append")
    assert out.count() > 0


def test_stream_session_quality_matches_batch_and_sentinel_never_leaks(
    spark, sf_dir
):
    """The sentinel-flush replay (stream_session_quality): APPEND-mode
    streaming session_window over the multi-batch random-order replay
    must equal the batch session_window over the same events, and the
    wire's flush sentinel (user −1, whose session can never finalize —
    the watermark trails it by the full delay) must not leak a row.
    Also pins the pushdown trap: there is deliberately no sentinel
    filter in the plan (a grouping-column predicate pushes below the
    watermark node and freezes the watermark — measured 0 rows)."""
    from evaluate_human_balance_with_spark_streaming_spark.sources.testdata import (
        load_table,
    )
    from evaluate_human_balance_with_spark_streaming_spark.streaming.stream_queries import (
        q_stream_session_quality,
    )

    streamed = {
        (r.user_id, r.session_start): r.n_events
        for r in q_stream_session_quality(spark, sf_dir).collect()
    }
    batch = {
        (r.user_id, r.session_start): r.n_events
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
        .collect()
    }
    assert streamed == batch
    assert all(uid >= 0 for uid, _ in streamed)


def test_replay_session_no_data_batches_flag_is_keyed_and_isolated(spark):
    """r17: ``no_data_batches=False`` must yield a DISTINCT cached
    session with the conf pinned at construction, leaving both the
    default replay session and the caller untouched — the watermarked
    flagship replay skips its trailing no-data batch, while the
    session-window replay (whose append emission happens IN that
    batch) keeps the default."""
    from evaluate_human_balance_with_spark_streaming_spark.streaming.runner import (
        replay_session,
    )

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    rs_default = replay_session(spark)
    rs_nodata = replay_session(spark, no_data_batches=False)
    assert rs_nodata is not rs_default
    assert rs_nodata.conf.get(key) == "false"
    # Default replay session and caller keep Spark's default (true).
    assert rs_default.conf.get(key).lower() == "true"
    assert spark.conf.get(key).lower() == "true"
    # Both flavors are cached independently.
    assert replay_session(spark, no_data_batches=False) is rs_nodata
    assert replay_session(spark) is rs_default


def test_replay_session_isolates_conf_from_caller(spark):
    """VERDICT r05 item 4: replays run on an isolated ``newSession``
    with the small replay width pinned at construction — the caller's
    session conf is byte-identical across a full replay (the previous
    set/restore around start() left a window where a concurrently
    planned query silently planned at the replay width)."""
    from evaluate_human_balance_with_spark_streaming_spark.streaming.runner import (
        REPLAY_SHUFFLE_PARTITIONS,
        replay_session,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    rs = replay_session(spark)
    assert rs is not spark
    assert rs.sparkContext is spark.sparkContext
    assert rs.conf.get(key) == str(REPLAY_SHUFFLE_PARTITIONS)
    assert replay_session(spark) is rs  # cached — not one SessionState per call
    stream = wire_stream(rs, [risk_json("a@b.c", 1.0), risk_json("d@e.f", 2.0)])
    out = run_to_memory(stedi.parse_risk_events(stream))
    # The memory-sink view lives in the replay session's catalog, and
    # the result is readable from the returned frame.
    assert out.sparkSession is rs
    assert out.count() == 2
    assert spark.conf.get(key) == before


def test_replay_session_cache_keys_on_application_id(spark):
    """ADVICE r06: the replay-session cache must not key on
    id(sparkContext) — after a context stop/restart CPython can reuse
    the old object's id and hand back a session bound to the DEAD
    context. Keyed on applicationId (minted per context launch),
    entries from any other context launch are evicted on the next
    call."""
    from evaluate_human_balance_with_spark_streaming_spark.streaming import (
        runner,
    )

    rs = runner.replay_session(spark)
    app_id = spark.sparkContext.applicationId
    assert any(k[0] == app_id for k in runner._REPLAY_SESSIONS)
    # A cache entry left by a previous (now dead) context launch: the
    # next call must evict it rather than let the dict grow for the
    # process's life — and must still return the live cached session.
    runner._REPLAY_SESSIONS[("local-000-dead-app", 4)] = rs
    assert runner.replay_session(spark) is rs
    assert ("local-000-dead-app", 4) not in runner._REPLAY_SESSIONS


def _staggered_wire_copy(src: str, dst: str) -> str:
    """Private copy of a materialized wire dir with part-file mtimes
    strictly increasing in lexical order. FileStreamSource batches
    files by (modification time, path); a single parquet write can
    leave every part file with the SAME mtime, making batch
    composition depend on tie-breaking — fine on this filesystem,
    not guaranteed portable. Staggering pins the replay's batch
    composition (and therefore watermark advancement and eviction
    timing) by construction."""
    import shutil as _sh

    _sh.copytree(src, dst)
    t0 = os.path.getmtime(dst) - 3600
    for i, name in enumerate(sorted(os.listdir(dst))):
        os.utime(os.path.join(dst, name), (t0 + 10 * i, t0 + 10 * i))
    return dst


def test_watermarked_flagship_tight_delay_actually_evicts_state(
    spark, sf_dir, tmp_path
):
    """VERDICT r07 item 3: the REGISTERED watermarked flagship (40-day
    delay) proves plan shape only — over a wire spanning ~30 days of
    event time its watermark never passes any row's band inside a
    bounded replay, so a regression in state EVICTION would surface
    nowhere. This pins the machinery: under a production-tight 1-minute
    delay the same plan must (a) report numRowsRemoved > 0 in the join's
    stateOperators telemetry mid-replay, and (b) still emit EXACTLY the
    in-band subset — the same band join run as a batch plan over the
    same wire files (measured here: 2 micro-batches, 526 state rows
    evicted, 755 output rows, zero lost to eviction — the replay
    delivers every in-band match before its partner's state leaves the
    store)."""
    from evaluate_human_balance_with_spark_streaming_spark.streaming import (
        stream_queries as sq,
    )
    from evaluate_human_balance_with_spark_streaming_spark.streaming.runner import (
        replay_session,
    )

    rs = replay_session(spark)
    cust_path = _staggered_wire_copy(
        sq._cust_ts_wire(spark, sf_dir), str(tmp_path / "cust_ts")
    )
    risk_path = _staggered_wire_copy(
        sq._risk_wire(spark, sf_dir), str(tmp_path / "risk")
    )
    tight = stedi.flagship_pipeline_watermarked(
        sq._open_wire(rs, cust_path, sq._WIRE_TS_SCHEMA),
        sq._open_wire(rs, risk_path),
        watermark="1 minutes",
    )
    # Multisets, not sets (ADVICE r08): the band join may emit
    # duplicate rows, and an eviction that dropped one copy of a
    # duplicate would be invisible to set equality.
    progress: list[dict] = []
    got = Counter(
        tuple(r) for r in run_to_memory(tight, progress_out=progress).collect()
    )

    removed = sum(
        op.get("numRowsRemoved") or 0
        for p in progress
        for op in (p.get("stateOperators") or [])
    )
    assert len(progress) >= 2  # a real multi-batch replay, not one gulp
    assert removed > 0  # rows actually left the state store

    # The in-band truth: the SAME pipeline builder on batch frames
    # (no watermarks on batch inputs) is a plain band join — the
    # output eviction must never change.
    cust_b = rs.read.schema(sq._WIRE_TS_SCHEMA).parquet(cust_path)
    risk_b = rs.read.schema(sq._WIRE_SCHEMA).parquet(risk_path)
    expected = Counter(
        tuple(r)
        for r in stedi.flagship_pipeline_watermarked(cust_b, risk_b).collect()
    )
    assert got == expected


def test_stream_replays_drain_in_multiple_data_batches(spark, sf_dir, monkeypatch):
    """Every registered ``stream_*`` replay drains in at least 2
    micro-batches that read input: a replay that collapsed into one
    batch would stop exercising cross-batch state and would time one
    batch's fixed cost instead of a stream's."""
    from evaluate_human_balance_with_spark_streaming_spark import caching
    from evaluate_human_balance_with_spark_streaming_spark.plans.registry import (
        all_queries,
    )
    from evaluate_human_balance_with_spark_streaming_spark.streaming import (
        stream_queries,
    )

    progress: dict[str, list[dict]] = {}
    current = ""

    def recording(*args, **kwargs):
        assert "progress_out" not in kwargs
        return run_to_memory(
            *args, progress_out=progress.setdefault(current, []), **kwargs
        )

    monkeypatch.setattr(stream_queries, "run_to_memory", recording)
    replays = {n: fn for n, fn in all_queries().items() if n.startswith("stream_")}
    assert len(replays) == 8
    for current, fn in replays.items():
        fn(spark, sf_dir).count()
        caching.release_managed()
    batches = {
        name: sum(1 for p in prog if p["numInputRows"] > 0)
        for name, prog in progress.items()
    }
    assert set(batches) == set(replays)
    assert {n: b for n, b in batches.items() if b < 2} == {}
