#!/usr/bin/env python
"""Guarded re-record of BENCH_BASELINE.json's per-query bars.

``python bench.py`` times the suite and checks it against fixed bars;
it never writes them. This script is the one path that does:

1. time the suite with bench.py's own ``run_suite``, bracketed by a
   scan and a stream calibration probe before and after, and the
   1-minute loadavg before and after;
2. write the calibrated artifact to BENCH_SELF.json and, with
   ``SPARK_GRAFT_RECORD_BASELINE=1``, to BENCH_BASELINE.json, refusing
   a recording whose probes exceed the clean pins (CLEAN_PROBE.json,
   else the pinned constants) by more than 5%, whose scale factor
   differs from the standing bars', or whose median per-query ratio to
   the standing bars exceeds 1.10.

Without ``SPARK_GRAFT_RECORD_BASELINE`` the run is a dry run: the
calibrated artifact shows whether the window qualified.
``SPARK_GRAFT_BASELINE_FORCE=1`` records on new hardware or a new
scale, still only on an idle loadavg. ``SPARK_GRAFT_DERIVE_CLEAN_PROBE=1``
instead re-derives the clean-box pins into CLEAN_PROBE.json
(``SPARK_GRAFT_DERIVE_FORCE=1`` for a move to slower hardware).
``SPARK_GRAFT_SF_DIR`` picks the data, as for bench.py.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import bench  # noqa: E402

# Calibration probe constants — FROZEN. Changing either invalidates
# every recorded probe baseline; do not touch without re-recording
# BENCH_BASELINE.json on a known-idle box.
CALIBRATION_ROWS = 8_000_000
CALIBRATION_PARTITIONS = 32

# Streaming calibration probe constants — FROZEN, same rule. The r05
# artifact could not adjudicate its own drift story: the three
# replay-based queries ran 1.19-1.44x raw over baseline on a
# loadavg-3.6 box while the scan-shaped probe credited only 1.055x —
# state-store open/commit and micro-batch scheduling are taxed by
# background load far harder than a codegen scan, so the streaming
# family needs ITS OWN code-frozen drift signal (VERDICT r05 item 2).
# The probe is a fixed bounded replay: an 8-file parquet wire read 2
# files per trigger (4 micro-batches), a watermarked windowed
# aggregate (one stateful op), drained availableNow into a memory
# sink on the same small-width replay session the stream_* queries
# use — the cost is almost entirely per-batch fixed machinery, which
# is the point.
STREAM_CALIBRATION_ROWS = 65_536
STREAM_CALIBRATION_FILES = 8

# The clean-box probe reference (r04, verified-idle recording: loadavg
# 0.34, probe 0.455 vs an independent 0.454 clean run) and the
# idleness bar a DELIBERATE baseline re-record must clear. Enforced in
# code (VERDICT r04 item 3): the first r04 baseline was recorded under
# residual load (probe 0.508, loadavg_pre 4.59) and caught only by
# hand — ~12% of slack would have been permanently baked into every
# per-query bar. SPARK_GRAFT_RECORD_BASELINE=1 routes the artifact
# through record_baseline() below, which refuses a loaded recording.
CLEAN_PROBE_S = 0.454
BASELINE_MAX_PROBE_RATIO = 1.05

# The clean-box STREAM-probe reference, same role for the replay cost
# class (ADVICE r06: the scan probe is blind to state-store/scheduling
# load, so a re-record on a box loaded only in that class would pin an
# inflated stream baseline unchecked). Value = the r06 verified-idle
# baseline recording's own stream_probe_s (loadavg_pre 0.017, scan
# probe 0.335 — the first recording made after the stream probe
# existed, on the cleanest window observed on this box).
CLEAN_STREAM_PROBE_S = 1.337

# Portable re-derivation of the clean-probe references (VERDICT r06
# item 4): CLEAN_PROBE_S / CLEAN_STREAM_PROBE_S hard-pin ONE box, and
# a hardware move used to force SPARK_GRAFT_BASELINE_FORCE. Instead,
# SPARK_GRAFT_DERIVE_CLEAN_PROBE=1 python bench_record.py runs ONLY the two
# probes under the same evidence bar the original pins carried —
# idle loadavg (force_idleness bar) up front, settled probe series —
# and writes them plus the evidence to CLEAN_PROBE.json. When that
# file exists it overrides the constants everywhere the pins are read
# (_clean_probe_reference), so a new box re-derives its references
# with recorded evidence instead of a hand-edited constant. Through
# r13 this repo intentionally shipped NO CLEAN_PROBE.json — the
# constants WERE the reference on the original box. As of r14 a
# derived CLEAN_PROBE.json ships deliberately: the stream class's
# clean floor shifted structurally on the same box (three rounds /
# 37+ recordings never ≤1.10x of the 1.337 s pin, then a controlled
# experiment reproduced the elevation on scan-clean windows and cleared checkpoint-I/O substrate and
# state-store provider as causes — SCALING.md r14), so the r06-pinned
# window no longer exists on the current host and judging recordings
# against it permanently refuses them. The shipped file was derived
# under this path's own idle + settled-series + vs-standing gates;
# the constants below stay as the historical record and the fallback.
CLEAN_PROBE_FILE = "CLEAN_PROBE.json"


def _clean_probe_reference(here: str | None = None) -> dict:
    """The clean-box probe references: CLEAN_PROBE.json (a derived
    recording with evidence, see above) when present, else the pinned
    constants. Returns {"probe_s": float, "stream_probe_s": float,
    "derived": bool}."""
    here = here or HERE
    path = os.path.join(here, CLEAN_PROBE_FILE)
    if os.path.exists(path):
        try:
            with open(path) as f:
                d = json.load(f)
            # Shape-check before use: a valid-JSON-but-wrong-shaped
            # file (top-level list, non-numeric values) must fall back
            # to the constants, not crash the record gate at the end
            # of a full bench run (a TypeError from
            # float(list) escaped the old OSError/ValueError net).
            def _num(v) -> bool:
                # bool is an int subclass: a corrupted {"probe_s":
                # true} would otherwise derive a 1.0s reference
                # instead of falling back to the constants (ADVICE
                # r07).
                return isinstance(v, (int, float)) and not isinstance(v, bool)

            if (
                isinstance(d, dict)
                and _num(d.get("probe_s"))
                and _num(d.get("stream_probe_s"))
                and d["probe_s"] > 0
                and d["stream_probe_s"] > 0
            ):
                return {
                    "probe_s": float(d["probe_s"]),
                    "stream_probe_s": float(d["stream_probe_s"]),
                    "derived": True,
                }
        except (OSError, ValueError):
            pass
    return {
        "probe_s": CLEAN_PROBE_S,
        "stream_probe_s": CLEAN_STREAM_PROBE_S,
        "derived": False,
    }


def _probe_settled(
    series: list[float],
    min_reps: int = 3,
    stable_ratio: float = 1.3,
    target_s: float | None = None,
) -> bool:
    """True when the probe-rep ``series`` has reached steady state:
    at least ``min_reps`` reps ran, the LATEST rep is within
    ``stable_ratio`` of the running min, and — when the recorded probe
    baseline ``target_s`` is known — the min has actually reached the
    neighborhood of that baseline. The target anchor is what makes the
    decision sound: the fresh-JVM settling curve (measured 5.2 → 3.2 →
    3.0 → 2.7 → 0.6 s while the tiered compiler drains) has a FALSE
    PLATEAU at ~3 s where consecutive reps agree within 10% yet sit 5x
    above steady state; only the frozen baseline can tell that plateau
    from the real floor. With NO baseline (target_s None — the
    first-ever recording) this returns False unconditionally so the
    caller runs all max_reps: settling early on a local criterion
    would record a mid-descent rep as the baseline that inflates
    every future bar. On a genuinely degraded box the target is
    never reached, the caller runs to max_reps, and the min measures
    the contention — which is exactly what the rep series in the
    artifact documents. Pure so the gate tests pin it
    without a Spark session."""
    if target_s is None:
        # No recorded baseline (first-ever recording): there is no
        # anchor that can tell the false plateau from the real floor
        # — every local criterion (latest-vs-min, last-two-agreement)
        # is satisfied by the measured slow-descent curve, and a
        # baseline recorded mid-descent would inflate every future
        # bar. Never settle early; the caller runs all max_reps.
        return False
    if len(series) < min_reps or series[-1] > stable_ratio * min(series):
        return False
    return min(series) <= stable_ratio * target_s


def calibration_probe(
    spark,
    min_reps: int = 3,
    max_reps: int = 12,
    stable_ratio: float = 1.3,
    target_s: float | None = None,
) -> tuple[float, list[float]]:
    """Seconds for the frozen probe plan (32-way parallel md5 over a
    range + hash aggregate — pure generated data, no I/O, all
    whole-stage-codegen JVM work, the cost class where environmental
    drift shows up first) plus the full rep series for the artifact.

    The probe doubles as a JIT-SETTLE BARRIER: on a fresh local JVM the
    first reps measure the tiered-compilation backlog, not the box —
    measured settling curve 5.2 → 3.2 → 3.0 → 2.7 → 0.6 s over ~15 s
    on an IDLE machine, and worse right after the suite warmups queue
    their own compilation. A fixed best-of-3 recorded that backlog as
    "drift" (r04: probe_pre 8-24 s vs probe_post 0.46 s) and let the
    first timed queries absorb the residue as phantom regressions. So:
    rep until ``_probe_settled`` (latest rep near the running min AND,
    when the recorded baseline ``target_s`` is known, the min has
    reached that baseline's neighborhood — the anchor that defeats the
    curve's false plateau at ~3 s), up to ``max_reps``; return the
    min. On a warm settled session this exits in ``min_reps`` reps; on
    a genuinely loaded box it runs to ``max_reps`` and the min still
    reflects the contention, with the rep series in the JSON to
    adjudicate."""
    from pyspark.sql import functions as F

    series: list[float] = []
    for _ in range(max(1, max_reps)):
        t0 = time.time()
        (
            spark.range(0, CALIBRATION_ROWS, 1, CALIBRATION_PARTITIONS)
            .select(F.md5(F.col("id").cast("string")).alias("h"))
            .groupBy(F.substring("h", 1, 2).alias("b"))
            .agg(F.count(F.lit(1)).alias("c"), F.max("h").alias("m"))
            .count()
        )
        series.append(round(time.time() - t0, 3))
        if _probe_settled(series, min_reps, stable_ratio, target_s):
            break
    return min(series), series


_STREAM_PROBE_INPUT: str | None = None


def _stream_probe_input(spark) -> str:
    """Write the probe's fixed wire input once per process (input
    preparation, not the measured cost)."""
    global _STREAM_PROBE_INPUT
    if _STREAM_PROBE_INPUT is None:
        import tempfile

        from pyspark.sql import functions as F

        path = os.path.join(tempfile.mkdtemp(prefix="ehb-bench-sprobe-"), "data")
        (
            spark.range(0, STREAM_CALIBRATION_ROWS, 1, STREAM_CALIBRATION_FILES)
            .select(
                F.col("id"),
                F.timestamp_seconds(F.col("id") % 600).alias("ts"),
                (F.col("id") % 64).alias("k"),
            )
            .write.mode("overwrite")
            .parquet(path)
        )
        _STREAM_PROBE_INPUT = path
    return _STREAM_PROBE_INPUT


def streaming_calibration_probe(
    spark,
    min_reps: int = 3,
    max_reps: int = 8,
    stable_ratio: float = 1.3,
    target_s: float | None = None,
) -> tuple[float, list[float]]:
    """Seconds for the frozen REPLAY-shaped probe: a bounded 4-micro-
    batch file-stream replay of a fixed wire through a watermarked
    windowed aggregate into a memory sink, on the replay session —
    the state-store open/commit + micro-batch scheduling cost class
    the scan probe is blind to. Same settle/rep protocol as
    calibration_probe (``_probe_settled``, anchored to the recorded
    stream-probe baseline when known); returns (min, full series)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from evaluate_human_balance_with_spark_streaming_spark.caching import (
        managed_mark,
        release_managed_since,
    )
    from evaluate_human_balance_with_spark_streaming_spark.sources.files import (
        stream_parquet_dir,
    )
    from evaluate_human_balance_with_spark_streaming_spark.streaming.runner import (
        replay_session,
        run_to_memory,
    )

    path = _stream_probe_input(spark)
    rs = replay_session(spark)
    schema = StructType.fromDDL("id bigint, ts timestamp, k bigint")
    series: list[float] = []
    mark = managed_mark()
    for _ in range(max(1, max_reps)):
        t0 = time.time()
        stream = stream_parquet_dir(rs, path, schema, max_files_per_trigger=2)
        agg = (
            stream.withWatermark("ts", "30 seconds")
            .groupBy(F.window("ts", "60 seconds").alias("w"), F.col("k"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("s"))
        )
        run_to_memory(agg, output_mode="complete").count()
        series.append(round(time.time() - t0, 3))
        if _probe_settled(series, min_reps, stable_ratio, target_s):
            break
    # Drop ONLY the probe reps' own memory-sink views + checkpoint
    # dirs (everything registered past the mark) — a process-wide
    # release_managed() here would also unpersist any caller's
    # built-but-unevaluated barriers and silently re-arm their guarded
    # recomputes (ADVICE r06).
    release_managed_since(mark)
    return min(series), series



def _loadavg() -> list[float]:
    try:
        # AttributeError too: platforms without os.getloadavg (e.g.
        # Windows) fail at attribute lookup, not with OSError.
        return list(os.getloadavg())
    except (OSError, AttributeError):
        return []


def _read_bench_json(path: str) -> dict:
    """Read a bench artifact: either a wrapper ({n, rc, cpus, sf,
    tail, parsed: {...}}) or a bare artifact such as BENCH_SELF.json."""
    with open(path) as f:
        d = json.load(f)
    return d.get("parsed") or d


def _unsettled_series_error(
    series: list[float], label: str, tail: int = 3, max_ratio: float = 1.3
) -> str | None:
    """Why a probe series is NOT settled evidence for a permanent
    clean-probe reference, or None. The series must END near its
    minimum: external load arriving mid-derivation inflates the late
    reps while an early clean minimum survives, so a minimum the last
    ``tail`` reps never re-approach (within ``max_ratio``) means the
    recorded value describes a window the box can no longer
    reproduce. The bar is 1.3 — the measured WITHIN-session idle
    scan-probe variance span on this box (~1.3× peak-to-trough after
    settling, e.g. 0.378-0.486 in the first live derivation), so an
    honest idle run whose last reps land on the jitter peak is still
    admitted (ADVICE r07: the earlier 1.25 bar sat BELOW the variance
    its own comment cited and would have refused exactly that run),
    while a real load wave inflates reps 2-4× and is still caught.
    Pure, for the gate tests."""
    if len(series) < tail + 1:
        return f"{label} probe series too short ({len(series)} reps) to settle"
    lo = min(series)
    tail_lo = min(series[-tail:])
    if lo > 0 and tail_lo / lo > max_ratio:
        return (
            f"{label} probe series did not settle: best rep {lo}s but the "
            f"last {tail} reps bottom at {tail_lo}s "
            f"({tail_lo / lo:.2f}x > {max_ratio}) — load arrived "
            "mid-derivation; rerun on a quiet window"
        )
    return None


# A re-derivation whose values sit far ABOVE the standing reference
# is almost certainly a hypervisor wave the loadavg-pre gate cannot
# see, not the box's clean floor: the r14 diagnosis campaign's second
# derivation attempt read the SCAN probe at 1.904 s — 4.2x the
# standing reference — at loadavg_pre 0.20, and the settle-tail check
# passed because the series ended near its (inflated) minimum. A
# genuine box move to >=1.5x-slower hardware is the one case that
# legitimately reads this way; it must say so explicitly with
# SPARK_GRAFT_DERIVE_FORCE=1.
DERIVE_MAX_VS_STANDING = 1.5


def _derivation_vs_standing_error(
    probe_s: float,
    stream_probe_s: float,
    ref: dict,
    env: dict | None = None,
    max_ratio: float = DERIVE_MAX_VS_STANDING,
) -> str | None:
    """Why a derived recording is NOT acceptable as the new clean
    reference relative to the standing one, or None. Pure, for the
    gate tests.

    ADVICE r14: once a derived CLEAN_PROBE.json stands, the "standing
    reference" IS the previous derivation, so judging only against it
    lets successive derivations each drift up to max_ratio of the last
    — 1.5^n compounding loosening without FORCE ever being set. Each
    pin is therefore judged against min(standing, original pinned
    constant): cumulative drift from CLEAN_PROBE_S /
    CLEAN_STREAM_PROBE_S is capped at max_ratio on this box forever.
    A genuine move to >=max_ratio-slower hardware must say so with
    SPARK_GRAFT_DERIVE_FORCE=1 on each derivation — loud is the point.
    A junk standing pin (hand-built ref on a fresh box) still judges
    nothing for that label, preserving the first-derive path."""
    env = os.environ if env is None else env
    if (env.get("SPARK_GRAFT_DERIVE_FORCE") or "").strip() == "1":
        return None
    for label, now, pin, const in (
        ("scan", probe_s, ref.get("probe_s"), CLEAN_PROBE_S),
        ("stream", stream_probe_s, ref.get("stream_probe_s"), CLEAN_STREAM_PROBE_S),
    ):
        if not _pos_num(pin):
            continue
        bound = min(pin, const)
        if now / bound > max_ratio:
            src = (
                "standing"
                if bound == pin
                else "pinned-constant (cumulative-drift bound)"
            )
            return (
                f"{label} probe {now}s reads {now / bound:.2f}x of the "
                f"{src} {bound}s reference (> {max_ratio}x) — a wave "
                "the loadavg gate cannot see, not a clean floor; for a "
                "genuine hardware move set SPARK_GRAFT_DERIVE_FORCE=1"
            )
    return None


def derive_clean_probe(here: str | None = None) -> int:
    """Re-derive the clean-box probe references on NEW hardware and
    write them to CLEAN_PROBE.json (VERDICT r06 item 4) — the portable
    replacement for hand-editing CLEAN_PROBE_S after a box move. The
    recording must carry the SAME evidence class the original pins
    did, enforced in code:

    - idle 1-minute loadavg BEFORE the warmups (the FORCE bar:
      max(1.0, 10% of cpus)) — sustained pre-existing load refused
      up front, matching force_idleness_error's pre-only gate (a
      post gate would measure the derivation's OWN Spark work and
      self-refuse every honest run);
    - settled probe series (both probes run their full max_reps, and
      _unsettled_series_error refuses a minimum the last reps never
      re-approach — the signature of load arriving mid-derivation),
      with the full series and loadavg_post stored in the artifact
      for audit.

    Refusal exits 1 and writes nothing. On the ORIGINAL box this path
    is never needed — the constants are the reference and the repo
    ships no CLEAN_PROBE.json."""
    here = here or HERE
    bar = max(1.0, FORCE_MAX_LOADAVG_FRAC * (os.cpu_count() or 8))
    la_pre = _loadavg()
    if not la_pre or la_pre[0] > bar:
        print(
            f"# CLEAN-PROBE DERIVATION REFUSED: loadavg_pre "
            f"{la_pre[0] if la_pre else 'unavailable'} exceeds {bar:.1f} "
            "— the reference must be derived on an idle box",
            file=sys.stderr,
        )
        return 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from evaluate_human_balance_with_spark_streaming_spark.session import get_spark

    spark = get_spark("ehb-derive-clean-probe")
    # With no baseline anchor (target_s) the settle heuristic can't
    # declare stability, so both probes deliberately run their FULL
    # max_reps — more tail samples behind the recorded minimum,
    # exactly what a permanent reference wants.
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    probe_s, series = calibration_probe(spark)
    stream_probe_s, sseries = streaming_calibration_probe(spark)
    # Deliberately NO loadavg_post refusal: the derivation's own
    # full-width Spark work pushes the 1-minute loadavg far past the
    # idle bar on any box (a post gate self-refuses
    # every honest derivation), which is the same reason
    # force_idleness_error gates loadavg_pre only. Mid-derivation
    # EXTERNAL load is instead caught by the settled-tail check: load
    # arriving partway inflates the late reps, so a minimum that the
    # tail never re-approaches is refused. Sustained pre-existing
    # load is the loadavg_pre gate's job. loadavg_post is still
    # recorded in the artifact for audit.
    la_post = _loadavg()
    bench.shutdown_spark(spark)
    tail_err = _unsettled_series_error(series, "scan") or _unsettled_series_error(
        sseries, "stream"
    )
    if tail_err:
        print(
            f"# CLEAN-PROBE DERIVATION REFUSED: {tail_err}; nothing written",
            file=sys.stderr,
        )
        return 1
    vs_err = _derivation_vs_standing_error(
        probe_s, stream_probe_s, _clean_probe_reference(here)
    )
    if vs_err:
        print(
            f"# CLEAN-PROBE DERIVATION REFUSED: {vs_err}; nothing written",
            file=sys.stderr,
        )
        return 1
    artifact = {
        "probe_s": probe_s,
        "stream_probe_s": stream_probe_s,
        "probe_series": series,
        "stream_probe_series": sseries,
        "loadavg_pre": la_pre,
        "loadavg_post": la_post,
        "cpus": os.cpu_count(),
        "rows": CALIBRATION_ROWS,
        "stream_rows": STREAM_CALIBRATION_ROWS,
    }
    path = os.path.join(here, CLEAN_PROBE_FILE)
    with open(path, "w") as f:
        json.dump(artifact, f)
        f.write("\n")
    print(f"# CLEAN PROBE derived to {path}: {json.dumps(artifact)}")
    return 0


def baseline_recording_error(
    probe_s: float | None,
    pinned: float = CLEAN_PROBE_S,
    max_ratio: float = BASELINE_MAX_PROBE_RATIO,
    stream_probe_s: float | None = None,
    stream_pinned: float | None = None,
) -> str | None:
    """Why this recording must NOT become BENCH_BASELINE.json, or None
    if it qualifies. The bar is the recording's own calibration probe
    vs the pinned clean-box probe: a baseline recorded under load bakes
    its slack into every future per-query bar (the r04 failure, caught
    by hand — probe 0.508 vs 0.454 ≈ 12% of permanent
    slack). In code, not convention (VERDICT r04 item 3). Pure so the
    gate tests pin it without a Spark session.

    When ``stream_pinned`` is given, the recording's STREAM probe is
    held to the same ratio against it — a box loaded only in the
    state-store/scheduling cost class passes the scan check while
    pinning an inflated stream baseline (ADVICE r06, the exact blind
    spot r05 documented for the scan probe); a recording that carries
    no stream probe at all is refused under that mode too."""
    if not probe_s:
        return (
            "recording carries no calibration probe — a baseline "
            "without its own idleness evidence cannot be validated"
        )
    ratio = probe_s / pinned
    if ratio > max_ratio:
        return (
            f"recording's probe {probe_s}s is {ratio:.3f}x the pinned "
            f"clean-box probe {pinned}s (> {max_ratio}) — the box was "
            "not idle; rerun on a quiet machine (or, for a genuine "
            "hardware change, set SPARK_GRAFT_BASELINE_FORCE=1 and "
            "document the new box in SCALING.md)"
        )
    if stream_pinned:
        if not stream_probe_s:
            return (
                "recording carries no stream calibration probe — the "
                "replay cost class has its own load blind spot and a "
                "baseline must carry both probes' idleness evidence"
            )
        sratio = stream_probe_s / stream_pinned
        if sratio > max_ratio:
            return (
                f"recording's stream probe {stream_probe_s}s is "
                f"{sratio:.3f}x the pinned clean-box stream probe "
                f"{stream_pinned}s (> {max_ratio}) — the box was loaded "
                "in the state-store/micro-batch cost class even though "
                "the scan probe passed; rerun on a quiet machine"
            )
    return None


# FORCE re-records (hardware change: the pinned CLEAN_PROBE_S no
# longer describes the box) skip the probe-ratio check but must still
# carry SOME idleness evidence (ADVICE r05: an unconditional escape
# hatch trades away the very check the gate adds): the recording's own
# 1-minute loadavg_pre must sit under this fraction of the cpu count
# (floored at 1.0). The r04 loaded-recording incident (loadavg 4.59 on
# 32 cpus) stays refused even under FORCE.
FORCE_MAX_LOADAVG_FRAC = 0.10


def force_idleness_error(artifact: dict) -> str | None:
    """Why a FORCE re-record still must not land, or None. Pure for
    the gate tests."""
    load = artifact.get("load") or {}
    la = load.get("loadavg_pre") or []
    cpus = load.get("cpus") or os.cpu_count() or 8
    bar = max(1.0, FORCE_MAX_LOADAVG_FRAC * cpus)
    if not la:
        return (
            "FORCE re-record carries no loadavg_pre evidence — a "
            "hardware-change recording still has to prove the new box "
            "was idle"
        )
    if la[0] > bar:
        return (
            f"FORCE re-record's loadavg_pre {la[0]:.2f} exceeds "
            f"{bar:.1f} ({FORCE_MAX_LOADAVG_FRAC:.0%} of {cpus} cpus) — "
            "even a hardware-change re-record must be made on an idle box"
        )
    return None


# Full-re-record ratchet guard (r14 field finding): the first
# recording the re-pinned probe gates accepted read 1.13-1.52x the
# standing baseline on 22 of 24 queries (median 1.26x) — its settled
# probe windows were genuinely clean (scan 0.346 s = 0.85x of pin)
# but a hypervisor wave crossed the suite BETWEEN the brackets
# (loadavg_pre 5-min tail 4.5). The probes bracket a recording; they
# do not cover it. Since the r13 campaign floors prove the standing
# batch bars are still reachable on this box (11/24 at/below
# baseline), a recording whose MEDIAN per-query ratio vs the standing
# baseline exceeds this bar is a loaded window, not a new truth —
# refused without FORCE. Median, not max: a single structurally
# shifted family (the 5 stream queries of 24) cannot move the median,
# while a mid-suite wave inflates the board across families.
RECORD_MAX_MEDIAN_VS_STANDING = 1.10


def _record_vs_standing_error(
    new_queries: dict,
    standing_queries: dict,
    max_median: float = RECORD_MAX_MEDIAN_VS_STANDING,
) -> str | None:
    """Why a full baseline re-record is a ratchet relative to the
    standing one, or None. Pure, for the gate tests."""
    ratios = []
    for name, old in (standing_queries or {}).items():
        new = (new_queries or {}).get(name)
        if _pos_num(old) and _pos_num(new):
            ratios.append(new / old)
    if len(ratios) < 3:
        return None  # too little overlap to judge (fresh repo, renames)
    med = sorted(ratios)[len(ratios) // 2]
    if med > max_median:
        return (
            f"median per-query ratio {med:.2f}x vs the standing baseline "
            f"across {len(ratios)} shared queries (> {max_median}x) — a "
            "mid-suite wave the probe brackets missed, not a clean "
            "recording (the brackets bound the suite's ends, not its "
            "middle); re-recording this would loosen every per-query bar"
        )
    return None


def maybe_record_baseline(artifact: dict, here: str | None = None) -> int:
    """When SPARK_GRAFT_RECORD_BASELINE=1, write ``artifact`` to
    BENCH_BASELINE.json — REFUSING a recording whose own probe fails
    baseline_recording_error (exit 1, nothing written), so the
    idleness protocol cannot be skipped by discipline lapse. The
    previous convention (`python bench.py > BENCH_BASELINE.json`)
    validated nothing. SPARK_GRAFT_BASELINE_FORCE=1 overrides for a
    documented hardware change, loudly — but still requires the
    recording's own loadavg to show an idle box (force_idleness_error;
    ADVICE r05). Returns an exit-code contribution (0 ok / 1 refused).

    Only this script's main() calls it; bench.py never writes the
    bars."""
    if not os.environ.get("SPARK_GRAFT_RECORD_BASELINE"):
        return 0
    here = here or HERE
    path = os.path.join(here, "BENCH_BASELINE.json")
    # A recording at a different scale factor than the standing
    # baseline silently re-anchors every per-query bar to a different
    # workload (an sf0.001 run would have recorded 15 s
    # "baselines" for sf0.1 queries). Scale changes ride the same
    # loud path as hardware changes: FORCE, which still demands an
    # idle box below.
    base_sf = _baseline_sf(here)
    art_sf = artifact.get("sf")
    # ADVICE r11: a missing artifact sf is a MISMATCH, not a bye — a
    # hand-fed or pre-sf artifact of unknown scale must not silently
    # re-anchor a standing sf'd baseline without FORCE.
    if (
        base_sf
        and (not art_sf or art_sf != base_sf)
        and not os.environ.get("SPARK_GRAFT_BASELINE_FORCE")
    ):
        print(
            f"# BASELINE REFUSED: recording at "
            f"sf={art_sf if art_sf else 'unknown'} against a "
            f"standing sf={base_sf} baseline re-anchors every "
            "per-query bar to a different workload; use "
            "SPARK_GRAFT_BASELINE_FORCE=1 for a deliberate scale move",
            file=sys.stderr,
        )
        return 1
    cal = artifact.get("calibration") or {}
    ref = _clean_probe_reference(here)
    err = baseline_recording_error(
        cal.get("probe_s"),
        pinned=ref["probe_s"],
        stream_probe_s=cal.get("stream_probe_s"),
        stream_pinned=ref["stream_probe_s"],
    )
    if err:
        if not os.environ.get("SPARK_GRAFT_BASELINE_FORCE"):
            print(f"# BASELINE REFUSED: {err}", file=sys.stderr)
            return 1
        ferr = force_idleness_error(artifact)
        if ferr:
            print(f"# BASELINE REFUSED even under FORCE: {ferr}", file=sys.stderr)
            return 1
        print(f"# BASELINE FORCED despite: {err}", file=sys.stderr)
    try:
        standing_q = (_read_bench_json(path)).get("queries") or {}
    except Exception:
        standing_q = {}
    rerr = _record_vs_standing_error(artifact.get("queries") or {}, standing_q)
    if rerr:
        if not os.environ.get("SPARK_GRAFT_BASELINE_FORCE"):
            print(f"# BASELINE REFUSED: {rerr}", file=sys.stderr)
            return 1
        ferr = force_idleness_error(artifact)
        if ferr:
            print(f"# BASELINE REFUSED even under FORCE: {ferr}", file=sys.stderr)
            return 1
        print(f"# BASELINE FORCED despite: {rerr}", file=sys.stderr)
    # The artifact's calibration.clean_probe was stamped by
    # calibrated_artifact from this script's OWN directory; with a custom
    # ``here`` this gate may have judged against a different
    # reference. The RECORDED baseline must carry the reference
    # actually enforced, or its audit trail lies.
    cal["clean_probe"] = dict(ref)
    artifact["calibration"] = cal
    with open(path, "w") as f:
        json.dump(artifact, f)
        f.write("\n")
    print(f"# BASELINE recorded to {path}", file=sys.stderr)
    return 0


def _pos_num(v) -> bool:
    """True iff ``v`` is a positive finite number and not a JSON
    boolean — the one probe-value validity predicate, shared by the
    record and derivation gates and the baseline readers so it cannot
    drift between them (a negative probe ratio compares 'clean')."""
    return (
        isinstance(v, (int, float))
        and not isinstance(v, bool)
        and math.isfinite(v)
        and v > 0
    )


def _baseline_calibration_value(key: str, here: str | None = None) -> float | None:
    """A calibration field recorded in BENCH_BASELINE.json, or None."""
    here = here or HERE
    try:
        art = _read_bench_json(os.path.join(here, "BENCH_BASELINE.json"))
    except (OSError, ValueError):
        return None
    v = (art.get("calibration") or {}).get(key)
    return v if _pos_num(v) else None


def _baseline_probe(here: str | None = None) -> float | None:
    """The scan-probe seconds recorded with the standing bars."""
    return _baseline_calibration_value("probe_s", here)


def _baseline_stream_probe(here: str | None = None) -> float | None:
    """The stream-probe seconds recorded with the standing bars."""
    return _baseline_calibration_value("stream_probe_s", here)


def _baseline_sf(here: str | None = None) -> float | None:
    """The scale factor the standing bars were timed at, or None."""
    return bench.read_baseline(os.path.join(here or HERE, "BENCH_BASELINE.json"))["sf"]


def calibrated_artifact(artifact: dict, calibration: dict, load: dict) -> dict:
    """bench.py's artifact plus the evidence a recording is judged on:
    the probe windows with the standing bars' own probes next to them,
    the clean-box reference in force and the load block."""
    cal = dict(calibration)
    cal["baseline_s"] = _baseline_probe()
    cal["stream_baseline_s"] = _baseline_stream_probe()
    cal["clean_probe"] = _clean_probe_reference()
    return dict(artifact, calibration=cal, load=dict(load))


def main() -> int:
    if os.environ.get("SPARK_GRAFT_DERIVE_CLEAN_PROBE"):
        return derive_clean_probe()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod
    from evaluate_human_balance_with_spark_streaming_spark.caching import release_managed
    from evaluate_human_balance_with_spark_streaming_spark.session import get_spark

    load_pre = _loadavg()
    spark = get_spark("ehb-bench")
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    probe_base = _baseline_probe()
    probe_pre, probe_pre_series = calibration_probe(spark, target_s=probe_base)
    sprobe_base = _baseline_stream_probe()
    sprobe_pre, sprobe_pre_series = streaming_calibration_probe(
        spark, target_s=sprobe_base
    )
    timings, series, exec_blocks, wall_s = bench.run_suite(
        spark, entrymod.queries(), sf_dir
    )
    release_managed()
    probe_post, probe_post_series = calibration_probe(spark, target_s=probe_base)
    sprobe_post, sprobe_post_series = streaming_calibration_probe(
        spark, target_s=sprobe_base
    )
    calibration = {
        "probe_s": min(probe_pre, probe_post),
        "probe_pre_s": probe_pre,
        "probe_post_s": probe_post,
        "probe_pre_series": probe_pre_series,
        "probe_post_series": probe_post_series,
        "rows": CALIBRATION_ROWS,
        "stream_probe_s": min(sprobe_pre, sprobe_post),
        "stream_probe_pre_s": sprobe_pre,
        "stream_probe_post_s": sprobe_post,
        "stream_probe_pre_series": sprobe_pre_series,
        "stream_probe_post_series": sprobe_post_series,
        "stream_rows": STREAM_CALIBRATION_ROWS,
    }
    load = {
        "loadavg_pre": load_pre,
        "loadavg_post": _loadavg(),
        "cpus": os.cpu_count(),
    }
    artifact = calibrated_artifact(
        bench.build_artifact(
            timings, series, exec_blocks, bench.sf_of(sf_dir), wall_s,
            bench.read_baseline(),
        ),
        calibration,
        load,
    )
    code = bench.finish(artifact, spark)
    return max(code, maybe_record_baseline(artifact))


if __name__ == "__main__":
    raise SystemExit(main())
