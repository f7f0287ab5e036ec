"""Registered queries that exercise the REAL streaming path: file
stream source → pipeline → availableNow → memory sink, then hand the
materialized table to the driver.

The flagship streaming query shares its oracle with the batch flagship
— stream(decode+join) must hash-match the relational derivation, which
certifies both the pipeline and its incrementalization. Every query
here carries an oracle: even the stateful pandas op is hash-checked,
because its registered form collapses the per-batch update stream to
final state, which IS relational (per-batch emission granularity is
pinned by unit tests instead).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..plans import stedi
from ..plans.registry import register
from ..plans.stedi_queries import (
    _SQL_BIRTH_YEAR,
    _SQL_EMAIL_FROM_CUST,
    _SQL_EMAIL_FROM_USER,
)
from ..sources.files import stream_parquet_dir
from ..sources.testdata import (
    _email_from_custkey,
    load_table,
    stedi_customers_wire,
    stedi_customers_wire_ts,
    stedi_risk_wire,
)
from .aggregates import windowed_quality
from .runner import replay_session, run_to_memory
from .stateful import running_risk_state

_WIRE_SCHEMA = StructType([StructField("value", StringType())])

# One materialized dir per (tag, n_files) per process: the wire
# derivations are deterministic functions of the test tables, and
# several stream queries replay the SAME wire feed (risk wire feeds
# flagship, watermarked, stateful and enrich; tags embed sf_dir so
# scale factors never collide) — re-encoding 100k json
# envelopes + a parquet write per query is pure fixed cost (~1-2s each
# at sf0.1). Each query still gets its own stream reader + checkpoint;
# only the immutable input files are shared.
_WIRE_CACHE: dict[tuple[str, int], str] = {}


def _materialize(wire_df: DataFrame, tag: str, n_files: int) -> str:
    key = (tag, n_files)
    if key not in _WIRE_CACHE:
        safe = "".join(c if c.isalnum() or c in "-." else "_" for c in tag)
        path = os.path.join(tempfile.mkdtemp(prefix=f"ehb-stream-{safe}-"), "data")
        wire_df.repartition(n_files).write.mode("overwrite").parquet(path)
        _WIRE_CACHE[key] = path
    return _WIRE_CACHE[key]


# --- Wire builders ----------------------------------------------------
# ONE builder per wire feed, returning the materialized dir; tag, file
# count and derivation live in exactly one place. The first run of a
# query in a process pays the ~1-2s encode+write; bench.py's best-of-3
# timing treats that first rep as the query's warm-up, and the later
# reps replay the cached wire.


def _cust_wire(spark: SparkSession, sf_dir: str) -> str:
    return _materialize(stedi_customers_wire(spark, sf_dir), f"cust@{sf_dir}", 4)


def _cust_ts_wire(spark: SparkSession, sf_dir: str) -> str:
    return _materialize(
        stedi_customers_wire_ts(spark, sf_dir), f"cust-ts@{sf_dir}", 4
    )


def _risk_wire(spark: SparkSession, sf_dir: str) -> str:
    return _materialize(stedi_risk_wire(spark, sf_dir), f"risk@{sf_dir}", 4)


def _win_wire(spark: SparkSession, sf_dir: str) -> str:
    events = load_table(spark, sf_dir, "events")
    return _materialize(
        events.select("ts", "event_type", "value"), f"win@{sf_dir}", 4
    )


def _dup_ts_wire(spark: SparkSession, sf_dir: str) -> str:
    """ONE doubled-events wire serves both dedup queries:
    stream_dedup_exact reads it with a 3-column schema (parquet column
    pruning drops ts at the scan) while the within-watermark variant
    reads all 4 — no second full materialization.

    8 files read at 4 per trigger (r17; was 6 at 2): the replay drains
    in 2 micro-batches of 4 parallel scan tasks instead of 3 batches
    of 2 — one fewer round of per-batch machinery (plan + state
    commit + offset/commit log) and twice the scan parallelism, while
    duplicates still land in different batches (hash-spread over 8
    files) so cross-batch dedup state is exercised exactly as before
    (measured 1.35 → 1.03 s on the sf0.1 watermarked replay; results
    identical by construction — dedup output is order-insensitive)."""
    slim_ts = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    return _materialize(slim_ts.union(slim_ts), f"dup-ts@{sf_dir}", 8)


_WIRE_TS_SCHEMA = StructType(
    [StructField("value", StringType()), StructField("cust_ts", TimestampType())]
)


def _open_wire(
    spark: SparkSession,
    path: str,
    schema: StructType = _WIRE_SCHEMA,
    max_files_per_trigger: int = 2,
) -> DataFrame:
    """Open a materialized wire dir as a file *stream* (multiple
    micro-batches — a real replay, not a single-batch degenerate
    case). Two files per trigger by default: still ≥2 batches of
    cross-batch state per source, at half the per-batch fixed cost
    (measured 21s → 7s on the flagship join at sf0.1; per-batch
    granularity is separately pinned by the streaming unit tests).
    Callers with more wire files override the trigger width to keep
    the batch count at 2-3 (see _dup_ts_wire / the session replay)."""
    return stream_parquet_dir(
        spark, path, schema, max_files_per_trigger=max_files_per_trigger
    )


@register(
    "stream_flagship_join",
    oracle=f"""
        WITH cust AS (
            SELECT {_SQL_EMAIL_FROM_CUST} AS email,
                   {_SQL_BIRTH_YEAR} AS birthYear
            FROM customer
        ),
        risk AS (
            SELECT {_SQL_EMAIL_FROM_USER} AS customer,
                   CAST(value AS FLOAT) AS score
            FROM events
        )
        SELECT r.customer, r.score, c.email, c.birthYear
        FROM risk r JOIN cust c ON r.customer = c.email
    """,
    tags=("streaming", "J1"),
)
def q_stream_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship join run AS A STREAM: both wire feeds replayed as
    multi-batch file streams, stream-stream inner join with symmetric
    hash state, drained via availableNow into a memory sink. Must
    hash-match the same relational oracle as the batch flagship.

    The streams are built on ``replay_session(spark)`` — the
    conf-isolated small-shuffle-width session — so the replay's state
    width never touches the caller's session conf (VERDICT r05 item 4;
    same pattern in every stream_* query here)."""
    rs = replay_session(spark)
    redis_stream = _open_wire(rs, _cust_wire(spark, sf_dir))
    events_stream = _open_wire(rs, _risk_wire(spark, sf_dir))
    joined = stedi.flagship_pipeline(redis_stream, events_stream)
    return run_to_memory(joined, output_mode="append")


@register(
    "stream_flagship_join_watermarked",
    oracle=f"""
        WITH cust AS (
            SELECT {_SQL_EMAIL_FROM_CUST} AS email,
                   {_SQL_BIRTH_YEAR} AS birthYear,
                   TIMESTAMP '2024-01-01 00:00:00'
                       + ((c_custkey % 30) * 86400 + c_custkey % 86400)
                         * INTERVAL 1 SECOND AS cust_ts
            FROM customer
        ),
        risk AS (
            SELECT {_SQL_EMAIL_FROM_USER} AS customer,
                   CAST(value AS FLOAT) AS score,
                   date_trunc('milliseconds', ts) AS risk_ts
            FROM events
        )
        SELECT r.customer, r.score, c.email, c.birthYear
        FROM risk r JOIN cust c
          ON r.customer = c.email
         AND r.risk_ts >= c.cust_ts - INTERVAL 15 DAY
         AND r.risk_ts <= c.cust_ts + INTERVAL 15 DAY
    """,
    tags=("streaming", "J1", "watermark"),
)
def q_stream_flagship_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship join the way PRODUCTION would run it: watermarks on
    both sides + a time-bounded join condition, so the
    StreamingSymmetricHashJoin plans state EVICTION instead of the
    reference's grow-forever state (plan shape asserted in
    tests/test_streaming.py). The wide watermark delay means the
    bounded replay emits every in-band match, so the relational band
    join is an exact oracle; risk event times are truncated to
    milliseconds by the wire format, which the oracle replays.

    The replay session disables no-data micro-batches (r17): an INNER
    stream-stream join emits every match the moment both rows have
    arrived — the trailing no-data batch exists only to advance the
    watermark and evict state, and a bounded drain discards that state
    wholesale at stop. Skipping it removes a full per-batch machinery
    cycle (measured 4.5 → 2.8 s at sf0.1, rows byte-identical; the
    eviction machinery itself stays pinned by
    tests/test_streaming.py's tight-watermark cases, which keep
    no-data batches on)."""
    rs = replay_session(spark, no_data_batches=False)
    redis_stream = _open_wire(
        rs, _cust_ts_wire(spark, sf_dir), _WIRE_TS_SCHEMA
    )
    events_stream = _open_wire(rs, _risk_wire(spark, sf_dir))
    joined = stedi.flagship_pipeline_watermarked(redis_stream, events_stream)
    return run_to_memory(joined, output_mode="append")


@register(
    "stream_windowed_quality",
    oracle="""
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS window_day,
               event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(CAST(value AS DECIMAL(18,2)))::DOUBLE / COUNT(*), 6) AS avg_value
        FROM events
        GROUP BY 1, 2
    """,
    tags=("streaming", "watermark", "phase3"),
)
def q_stream_windowed_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregate over a replayed event
    stream (complete output mode so every window surfaces for the
    oracle; production uses append + watermark eviction)."""
    stream = _open_wire(
        replay_session(spark),
        _win_wire(spark, sf_dir),
        StructType.fromDDL("ts timestamp, event_type string, value double"),
    )
    agg = windowed_quality(stream, ts_col="ts", window_size="1 day")
    return run_to_memory(agg, output_mode="complete")


def _session_wire(spark: SparkSession, sf_dir: str) -> str:
    """Wire dir for the streaming sessionization replay: the slim
    (user_id, ts) event feed as 4 parquet files, plus a SENTINEL event
    (user_id −1, event time 400 days past the feed's max) appended as
    a 5th file with a strictly later modification time. The file
    stream processes files in mtime order, so the sentinel lands in
    the final micro-batch and advances the watermark past every real
    session's end + gap — the production "flush/punctuation event"
    pattern that closes idle sessions so APPEND mode can emit them.
    The sentinel's own session can never close (the watermark trails
    it by the full delay), so it never reaches the sink."""
    key = (f"session@{sf_dir}", 5)
    if key not in _WIRE_CACHE:
        path = os.path.join(tempfile.mkdtemp(prefix="ehb-stream-session-"), "data")
        events = load_table(spark, sf_dir, "events").select("user_id", "ts")
        events.repartition(4).write.mode("overwrite").parquet(path)
        sentinel = events.groupBy().agg(
            F.lit(-1).cast("bigint").alias("user_id"),
            (F.max("ts") + F.expr("INTERVAL 400 DAYS")).alias("ts"),
        )
        before = {f for f in os.listdir(path) if f.startswith("part")}
        sentinel.coalesce(1).write.mode("append").parquet(path)
        # The file source orders files by modification time; the two
        # writes normally land milliseconds apart, but make the
        # ordering DETERMINISTIC rather than probabilistic — bump the
        # sentinel file a full minute forward so it can never tie with
        # (or precede) a main file and jump the watermark mid-replay.
        now = max(
            os.path.getmtime(os.path.join(path, f)) for f in before
        )
        for f in os.listdir(path):
            if f.startswith("part") and f not in before:
                os.utime(os.path.join(path, f), (now + 60, now + 60))
        _WIRE_CACHE[key] = path
    return _WIRE_CACHE[key]


@register(
    "stream_session_quality",
    # Same relational derivation as the batch twin
    # (plans/analytics_ext.py::q_session_window_stats): gap
    # sessionization via LAG + running sum — a new session starts iff
    # the inactivity gap STRICTLY exceeds 1 hour. The stream must reproduce it
    # exactly through session_window merge semantics + watermark
    # eviction; the sentinel is invisible here because it exists only
    # on the wire, not in the events table.
    oracle="""
        WITH seq AS (
            SELECT user_id, ts, event_id,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
            FROM events
        ),
        flagged AS (
            SELECT user_id, ts, event_id,
                   -- STRICT >: an exact-gap event merges into the
                   -- session (see q_session_window_stats oracle).
                   CASE WHEN prev_ts IS NULL
                             OR epoch(ts) - epoch(prev_ts) > 3600
                        THEN 1 ELSE 0 END AS new_session
            FROM seq
        ),
        numbered AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               COUNT(*) AS n_events
        FROM numbered
        GROUP BY user_id, session_id
    """,
    tags=("streaming", "session-window", "watermark"),
)
def q_stream_session_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING session_window aggregate in APPEND mode with real
    state eviction — the sessionized realization of the reference's
    risk-quality stub (sparkpyoptionalriskquality.py:1-3) on the
    streaming path the reference actually ran. Event-time sessions
    (1h inactivity gap) per user over a multi-batch replay arriving in
    RANDOM time order (the wire files are hash-partitioned, so micro-
    batches interleave early and late events — session state genuinely
    merges windows across batches); the 90-day watermark exceeds the
    feed's 30-day span, so nothing is dropped as late, and the
    sentinel flush event (see _session_wire) advances the watermark at
    end-of-replay so every real session finalizes and APPENDS. Tight-
    watermark eviction mid-stream is pinned separately by
    tests/test_streaming.py::test_streaming_session_window_emits_closed_session.

    Three files per trigger (r17): the 5-file wire (4 main + sentinel,
    mtime-ordered) drains as {m1,m2,m3}, {m4, sentinel}, {no-data
    emit} — the sentinel rides the LAST data batch instead of paying
    its own 1-row micro-batch (measured 2.0 → 1.6 s at sf0.1).
    Watermark semantics are unchanged: the watermark is advanced from
    a batch's max event time only AFTER the batch completes, so the
    sentinel cannot evict the main events it shares batch 2 with, and
    the final no-data batch (which this replay MUST keep — it is
    where every closed session is emitted in append mode) still sees
    the fully-advanced watermark. Two data batches keep cross-batch
    session-state merging exercised."""
    stream = _open_wire(
        replay_session(spark),
        _session_wire(spark, sf_dir),
        StructType.fromDDL("user_id bigint, ts timestamp"),
        max_files_per_trigger=3,
    )
    sessions = (
        stream.withWatermark("ts", "90 days")
        .groupBy(F.session_window("ts", "1 hour").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        # Deliberately NO user_id filter against the sentinel: Catalyst
        # pushes a grouping-column predicate below the watermark node
        # to the scan, which drops the sentinel BEFORE the event-time
        # tracker and freezes the watermark (measured: 0 rows emit).
        # The sentinel cannot leak anyway — its session end trails the
        # watermark by the full delay, so it never finalizes; a wire or
        # delay change that broke that would surface as a hash
        # mismatch (phantom user −1 row) in the driver compare.
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )
    return run_to_memory(sessions, output_mode="append")


@register(
    "stream_stateful_risk",
    # The raw update stream (one emission per customer per batch) isn't
    # SQL-replayable, but the query COLLAPSES it to final state per
    # customer — and final state is: count of non-null scores. COUNT
    # (value) mirrors the op's null-tolerance; HAVING mirrors its
    # emit-nothing-until-a-real-score behavior (stateful.py:48-52).
    oracle=f"""
        SELECT {_SQL_EMAIL_FROM_USER} AS customer,
               COUNT(value) AS n_assessments
        FROM events
        GROUP BY 1
        HAVING COUNT(value) > 0
    """,
    tags=("streaming", "stateful", "pandas-udf"),
)
def q_stream_stateful_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState running per-customer risk aggregate over a
    replayed risk stream; emits the latest state per customer per batch
    (update mode), collapsed to final state so the relational derivation
    is an exact oracle. Per-batch emission granularity is pinned by unit
    tests (tests/test_streaming.py)."""
    risk = stedi.parse_risk_events(
        _open_wire(replay_session(spark), _risk_wire(spark, sf_dir))
    )
    out = running_risk_state(risk)
    updates = run_to_memory(out, output_mode="update")
    # Collapse per-batch updates to the final state per customer.
    return (
        updates.groupBy("customer")
        .agg(F.max("n_assessments").alias("n_assessments"))
        .orderBy("customer")
    )


@register(
    "stream_dedup_exact",
    oracle="""
        SELECT event_id, user_id, event_type
        FROM events
    """,
    tags=("streaming", "dedup"),
)
def q_stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the events table is replayed TWICE (union
    of two copies, spread over multi-file micro-batches so duplicates
    arrive in different batches) and dropDuplicates on event_id must
    reduce it back to exactly the original rows — state carries seen
    keys across batches. Production bounds that state with
    dropDuplicatesWithinWatermark (stream_dedup_within_watermark); this
    replay never SELECTS the event-time column — its 3-column read
    schema prunes ts at the parquet scan — so state is O(distinct keys)
    as in the reference's own unbounded-state join. The wire dir is
    shared with the watermarked variant (one materialization, two read
    schemas)."""
    stream = _open_wire(
        replay_session(spark),
        _dup_ts_wire(spark, sf_dir),
        StructType.fromDDL("event_id bigint, user_id bigint, event_type string"),
        max_files_per_trigger=4,
    )
    deduped = stream.dropDuplicates(["event_id"])
    return run_to_memory(deduped, output_mode="append")


@register(
    "stream_dedup_within_watermark",
    oracle="""
        SELECT event_id, user_id, event_type
        FROM events
    """,
    tags=("streaming", "dedup", "watermark"),
)
def q_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-scale answer to stream_dedup_exact's O(distinct
    keys) state: dropDuplicatesWithinWatermark keeps a seen-key only
    until the event-time watermark passes it, so state is O(keys per
    watermark window) — bounded — instead of O(all keys ever).

    The replay doubles the events table (duplicates spread across
    micro-batches) with the real event-time column; the watermark delay
    here exceeds the table's full time span, so no row is ever late and
    every duplicate collapses — the relational dedup is an exact
    oracle. Actual state EVICTION under a tight watermark is pinned by
    tests/test_streaming.py::test_drop_duplicates_within_watermark;
    this row certifies the operator's dedup semantics across batches
    through the driver. ts is projected away post-dedup: the oracle
    compares identity columns (raw nanos-precision timestamps don't
    round-trip the driver's pandas fetch).

    no_data_batches=False (r17): append-mode dedup emits a first-seen
    row in the batch it arrives — the watermark only EVICTS state, so
    the trailing no-data batch (which appeared once the wire packed
    into 2 data triggers) is a pure machinery cycle for a bounded
    drain; skipping it keeps the replay at exactly 2 micro-batches.
    Same reasoning as the watermarked flagship; eviction semantics
    stay pinned by tests/test_streaming.py's tight-watermark case."""
    stream = _open_wire(
        replay_session(spark, no_data_batches=False),
        _dup_ts_wire(spark, sf_dir),
        StructType.fromDDL(
            "event_id bigint, user_id bigint, event_type string, ts timestamp"
        ),
        max_files_per_trigger=4,
    )
    deduped = (
        stream.withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return run_to_memory(deduped, output_mode="append")


@register(
    "stream_static_enrich",
    oracle=f"""
        WITH risk AS (
            SELECT {_SQL_EMAIL_FROM_USER} AS customer,
                   CAST(value AS FLOAT) AS score
            FROM events
        ),
        dim AS (
            SELECT {_SQL_EMAIL_FROM_CUST} AS email,
                   c_mktsegment
            FROM customer
        )
        SELECT r.customer, r.score, d.c_mktsegment
        FROM risk r JOIN dim d ON r.customer = d.email
    """,
    tags=("streaming", "stream-static-join"),
)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join: the streaming risk feed enriched against the
    static customer dimension — no state store at all (the static side
    is joined per micro-batch, broadcast when small). The third join
    flavor next to batch-batch and stream-stream; at scale this is the
    dimension-enrichment pattern where only the stream shuffles."""
    rs = replay_session(spark)
    risk_stream = stedi.parse_risk_events(
        _open_wire(rs, _risk_wire(spark, sf_dir))
    )
    # The static dim loads on the SAME replay session — a join across
    # DataFrames from two sessions is undefined.
    dim = load_table(rs, sf_dir, "customer").select(
        _email_from_custkey(F.col("c_custkey")).alias("email"),
        "c_mktsegment",
    )
    # UNHINTED: the customer dim scales with SF — the threshold
    # broadcasts it per micro-batch while it fits (the classic
    # enrichment plan) and the stream-static equi-join degrades to a
    # shuffle join beyond (review finding).
    enriched = risk_stream.join(
        dim, risk_stream["customer"] == dim["email"]
    ).select("customer", "score", "c_mktsegment")
    return run_to_memory(enriched)
