"""Streaming query lifecycle helpers.

``run_to_memory`` is the test/oracle harness: drain a bounded stream
(availableNow trigger) into a named memory sink and hand back the
result as a batch DataFrame — this is how the driver's DuckDB oracle
certifies the *streaming* path, not just the batch one.

``start_query`` is the production shape: explicit checkpoint, chosen
output mode, any sink format; start several and await any — the
concurrent multi-sink the reference author evidently intended
(its second writeStream was unreachable behind awaitTermination,
reference sparkpykafkajoin.py:218-221).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..caching import on_release

# Default shuffle width for bounded replays (state-store count per
# stateful op per micro-batch == shuffle partitions). Measured on the
# sf0.1 flagship replay: 8 parts ≈ 2.8s, 4 ≈ 2.5s, 2 ≈ 2.3s — 4 keeps
# some join parallelism while halving store open/commit count. On a
# cluster-sized job, size this to cores via the ``width`` argument.
REPLAY_SHUFFLE_PARTITIONS = 4


def _replay_scratch_dir() -> str | None:
    """Parent dir for THROWAWAY bounded-replay checkpoints (r16, guide
    §6 I/O): an availableNow → memory-sink drain writes a state-store
    delta + offset/commit log per micro-batch per partition and the
    whole tree is deleted the moment the drain ends, so — like shuffle
    scratch — it belongs on the fastest local medium, not the durable
    one. A RAM-backed /dev/shm cut the sf0.1 watermarked-dedup replay
    from 2.6 s to 1.5 s flat by removing disk latency. The checkpoint
    files cost more than I/O, though: without a native libhadoop,
    Spark's default FileContext checkpoint manager forks
    `readlink`/`chmod` for every file, on any medium. The
    FileSystem-based manager set in session.apply_runtime_conf renames
    in-process, and sessions get_spark launches locally also create
    files through session.NO_FORK_FS_CLASS, which sets their modes
    in-process; other sessions still fork `chmod` per file created.
    Production queries (start_query) keep their
    EXPLICIT durable checkpoint_location — this only routes the
    self-deleting replay scratch. Override with
    SPARK_GRAFT_REPLAY_SCRATCH (any existing dir; e.g. a cluster's
    local-SSD scratch mount); None falls back to the system tempdir."""
    override = os.environ.get("SPARK_GRAFT_REPLAY_SCRATCH")
    for cand in ([override] if override else []) + ["/dev/shm"]:
        if cand and os.path.isdir(cand) and os.access(cand, os.W_OK):
            if override and cand != override:
                # ADVICE r16: an operator pointing replays at
                # cluster-local SSD must hear that the override was
                # rejected, not silently get RAM-backed scratch.
                print(
                    f"# replay scratch override {override!r} is not a "
                    f"writable directory; falling back to {cand!r}",
                    file=sys.stderr,
                )
            return cand
    if override:
        print(
            f"# replay scratch override {override!r} is not a writable "
            "directory; falling back to the system tempdir",
            file=sys.stderr,
        )
    return None

# One replay session per (SparkContext, width): newSession() would
# otherwise rebuild a SessionState (catalog, conf, listener wiring) per
# replay query. Keyed by applicationId, not id(sparkContext): after a
# context stop/restart in one process, the CPython allocator can hand
# the new SparkContext the old object's id, which would return a cached
# replay session bound to the DEAD context (ADVICE r06). applicationId
# is minted per context launch (local mode: "local-<ms timestamp>"), so
# a restarted context always misses the cache; entries for dead
# contexts are evicted on the next call (the dict otherwise holds one
# session per width for the process's whole life).
_REPLAY_SESSIONS: dict[tuple[str, int, bool], SparkSession] = {}


def replay_session(
    spark: SparkSession,
    width: int = REPLAY_SHUFFLE_PARTITIONS,
    no_data_batches: bool = True,
) -> SparkSession:
    """An ISOLATED session (own SQL conf + catalog, shared SparkContext
    and state-store provider) for bounded memory-sink replays, with
    ``spark.sql.shuffle.partitions`` pinned small at construction.

    A streaming query creates one state store per shuffle partition per
    stateful operator PER MICRO-BATCH; at replay-test scale that fixed
    cost dwarfs the data, so replays want a small width — but pinning it
    by set/restore on the CALLER's session (the previous form of this
    code) left a window where a concurrently planned query silently
    planned at the replay width (VERDICT r05: the same hazard class as
    the CC global pin removed that round). Conf on a ``newSession`` is
    set once at construction and never touches the caller's session — a
    test pins the caller conf byte-identical across a replay.

    The effective width is floored by the caller's own shuffle width
    (review finding: the old set/restore used min(prev, 4), and a
    narrow box — e.g. SPARK_GRAFT_CPUS=1 → session width 1 — should
    not have its replays pay 4× the state-store open/commit count the
    pin exists to minimize).

    ``no_data_batches=False`` (r17, guide §1/§2 fixed-cost removal)
    disables ``spark.sql.streaming.noDataMicroBatches.enabled`` on the
    returned session: a bounded availableNow drain whose OUTPUT is not
    watermark-gated (stream-stream INNER joins — matches emit when the
    data arrives; watermarks there only bound state, which the drain
    discards wholesale at stop) pays a full extra micro-batch cycle
    (plan + 4×state-store open/commit + sink round-trip, measured
    ~0.7-1.7 s on the sf0.1 watermarked flagship) purely to advance
    the watermark and evict state nobody will read again. Callers
    whose emission DOES ride the watermark (append-mode aggregations:
    the session-window replay emits its closed sessions in exactly
    that final no-data batch) must keep the default True — flipping
    it there drops rows, which the oracle would catch as a hash
    mismatch."""
    from ..session import apply_runtime_conf

    try:
        width = max(
            1, min(int(spark.conf.get("spark.sql.shuffle.partitions")), width)
        )
    except (ValueError, TypeError):
        # Auto-tuning platforms report a non-numeric width; keep the
        # requested replay width.
        pass
    app_id = spark.sparkContext.applicationId
    for stale in [k for k in _REPLAY_SESSIONS if k[0] != app_id]:
        del _REPLAY_SESSIONS[stale]
    key = (app_id, width, no_data_batches)
    sess = _REPLAY_SESSIONS.get(key)
    if sess is None:
        sess = spark.newSession()
        # newSession inherits only context-level (builder-time) conf;
        # re-apply the runtime tuning the parent may carry, then pin
        # the replay width — both are session CONSTRUCTION, the one
        # place conf mutation belongs.
        apply_runtime_conf(sess)
        sess.conf.set("spark.sql.shuffle.partitions", str(width))
        if not no_data_batches:
            sess.conf.set(
                "spark.sql.streaming.noDataMicroBatches.enabled", "false"
            )
        _REPLAY_SESSIONS[key] = sess
    return sess


def _await_bounded(query: StreamingQuery, timeout_sec: int, what: str) -> None:
    """Wait for an availableNow drain to finish; a timeout RAISES after
    stopping the query — returning the partial sink contents would feed
    silently truncated rows to the oracle/bench instead of failing
    loudly."""
    finished = query.awaitTermination(timeout_sec)
    if not finished:
        query.stop()
        raise TimeoutError(
            f"{what} did not drain within {timeout_sec}s; raise timeout_sec "
            "or shrink the replay"
        )


def run_to_memory(
    stream_df: DataFrame,
    output_mode: str = "append",
    timeout_sec: int = 300,
    progress_out: list | None = None,
) -> DataFrame:
    """Drain a bounded streaming DataFrame into a memory sink and return
    the materialized result. availableNow processes everything the
    source has, in bounded micro-batches, then stops — the broker-free
    way to run a full replay (same semantics as the reference's
    startingOffsets=earliest).

    ``progress_out``, when given, receives the per-micro-batch
    StreamingQueryProgress dicts after the drain — the
    ``stateOperators`` telemetry (rows kept/evicted, state memory)
    lives there and ONLY there, and the query handle this helper hides
    is the only place to read it (the eviction-machinery test and
    scripts/state_store_report.py both consume this feed).

    Runs under whatever session ``stream_df`` was built on (the query
    captures that session's conf at start, and the memory sink registers
    its view in that session's catalog). For the small-state replays the
    registered ``stream_*`` queries run, build the stream on
    ``replay_session(spark)`` — the conf-isolated small-width session —
    instead of the old set/restore of ``spark.sql.shuffle.partitions``
    around start(), which mutated the caller's session globally for the
    duration of the call."""
    spark = stream_df.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    checkpoint = tempfile.mkdtemp(prefix="ehb-ckpt-", dir=_replay_scratch_dir())
    try:
        query = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
    except BaseException:
        # start() itself rejected the plan (e.g. unwatermarked append
        # aggregate): nothing is running, but the checkpoint dir was
        # already created — reclaim it or repeated failing starts
        # accumulate ehb-ckpt-* dirs in /tmp for the session's life.
        shutil.rmtree(checkpoint, ignore_errors=True)
        raise
    try:
        _await_bounded(query, timeout_sec, f"memory-sink replay {name}")
    except BaseException:
        # The drain failed: nothing will ever consume the sink, so the
        # deferred-release path below never runs — reclaim the
        # partially-filled memory view (which pins rows in the driver)
        # and the throwaway checkpoint now, then re-raise. Stop the
        # query FIRST: _await_bounded only stops on ITS timeout path —
        # a KeyboardInterrupt/py4j error mid-await would otherwise
        # leave the query writing into the checkpoint while rmtree
        # races it (stop() twice is harmless). Each step is isolated so
        # a failing dropTempView (e.g. a dead gateway after the
        # interrupt) can't mask the original exception or skip rmtree.
        for cleanup in (
            query.stop,
            lambda: spark.catalog.dropTempView(name),
        ):
            try:
                cleanup()
            except Exception:
                pass
        shutil.rmtree(checkpoint, ignore_errors=True)
        raise
    if progress_out is not None:
        # The availableNow query has terminated; its handle still
        # serves recentProgress (bounded replays run far fewer
        # micro-batches than the 100-entry retention default).
        progress_out.extend(json.loads(p.json) for p in query.recentProgress)
    # The memory sink pins the full result in the driver until dropped;
    # release it (and the throwaway checkpoint dir) with the same
    # deferred lifecycle as the persist barriers: after the consuming
    # query has been evaluated, on the next release_managed() sweep.
    def _drop(spark=spark, name=name, checkpoint=checkpoint):
        spark.catalog.dropTempView(name)
        shutil.rmtree(checkpoint, ignore_errors=True)

    on_release(_drop)
    return spark.table(name)


def start_query(
    df: DataFrame,
    sink_format: str,
    checkpoint_location: str,
    output_mode: str = "append",
    options: dict[str, str] | None = None,
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Start one sink with an explicit checkpoint (the reference
    checkpointed only its Kafka sink; we checkpoint every query)."""
    writer = (
        df.writeStream.format(sink_format)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_location)
    )
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_foreach_batch(
    stream_df: DataFrame,
    batch_fn,
    output_mode: str = "append",
    timeout_sec: int = 300,
) -> None:
    """Drain a bounded stream through ``foreachBatch`` — the custom-sink
    escape hatch (idempotent writes keyed on batch_id give effective
    exactly-once on top of the at-least-once replay contract).
    ``batch_fn(batch_df, batch_id)`` runs on the driver per micro-batch
    with a *batch* DataFrame."""
    checkpoint = tempfile.mkdtemp(prefix="ehb-ckpt-feb-", dir=_replay_scratch_dir())
    try:
        query = (
            stream_df.writeStream.foreachBatch(batch_fn)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
    except BaseException:
        shutil.rmtree(checkpoint, ignore_errors=True)  # same as run_to_memory
        raise
    try:
        _await_bounded(query, timeout_sec, "foreachBatch drain")
    except BaseException:
        # Stop FIRST on non-timeout failures (_await_bounded stops only
        # on ITS timeout path): a KeyboardInterrupt/py4j error mid-await
        # would otherwise leave the query invoking batch_fn against a
        # checkpoint the finally below is deleting (stop twice is
        # harmless; same discipline as run_to_memory).
        try:
            query.stop()
        except Exception:
            pass
        raise
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)


def await_any(spark: SparkSession) -> None:
    """Block until any active stream terminates — the correct way to run
    concurrent sinks (console + kafka, etc.)."""
    spark.streams.awaitAnyTermination()
