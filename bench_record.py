#!/usr/bin/env python
"""Guarded re-record of BENCH_BASELINE.json's per-query bars.

``python bench.py`` times the suite and checks it against fixed bars;
it never writes them. This script is the one path that does, and it
records only from a run it can show was made on an idle box:

1. wait (bounded, ``SPARK_GRAFT_WAIT_IDLE`` seconds, default 600) for
   the 1-minute loadavg to drop under max(1.0, 10% of cpus);
2. admit the suite only once a settled scan calibration probe reads
   within PROBE_ADMIT_RATIO of the clean-box pin (CLEAN_PROBE.json,
   else the pinned constants), within what is left of the same budget;
3. time the suite with bench.py's own ``run_suite``, bracketed by a
   scan and a stream calibration probe before and after;
4. write the calibrated artifact to BENCH_SELF.json and, with
   ``SPARK_GRAFT_RECORD_BASELINE=1``, to BENCH_BASELINE.json, refusing
   a recording whose probes exceed the clean pins by more than 5%,
   whose scale factor differs from the standing bars', or whose median
   per-query ratio to the standing bars exceeds 1.10.

Without ``SPARK_GRAFT_RECORD_BASELINE`` the run is a dry run: the
calibrated artifact shows whether the window qualified. Knobs:
``SPARK_GRAFT_RECORD_BASELINE_QUERIES=a,b`` patches only the named
bars, and only downward; ``SPARK_GRAFT_BASELINE_FORCE=1`` records on
new hardware or a new scale, still only on an idle loadavg;
``SPARK_GRAFT_PROBE_ADMIT_RATIO`` sets the admission bar.
``SPARK_GRAFT_DERIVE_CLEAN_PROBE=1`` instead re-derives the clean-box
pins into CLEAN_PROBE.json (``SPARK_GRAFT_DERIVE_FORCE=1`` for a move
to slower hardware).
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
# window no longer exists on the current host and judging probe_clean
# against it permanently reads false. The shipped file was derived
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


# Default pre-suite idle-wait budget when SPARK_GRAFT_WAIT_IDLE is
# unset. 600 s spans one measured wave
# cadence on this box (external load arrives roughly every 10-20 min;
# the r08 overnight campaign measured a ~10-min cadence), so polling
# across it very likely catches a gap; on an idle box wait_for_idle
# returns without sleeping, so the default costs nothing there. Set
# SPARK_GRAFT_WAIT_IDLE=0 to opt out entirely.
#
# Small-box caveat (ADVICE r08): wait_for_idle's release condition
# also requires la5 <= 2*bar, and on <=10 cpus the bar clamps to 1.0,
# so a box with chronic background la5 > 2.0 burns this whole budget
# before proceeding even when la1 is idle. That is accepted, not
# fixed by scaling the guard off cpus: the suggested
# max(2*bar, 0.25*cpus) would loosen THIS 32-cpu box's guard from 6.4
# to 8.0 and re-admit the measured mid-wave release (la1 3.03 with
# la5 still 6.55 — suite ran 1.07x with probes 1.23x/1.19x). A
# chronically loaded small box should opt out or tune the budget via
# SPARK_GRAFT_WAIT_IDLE; the wait proceeds either way after the
# budget, so nothing hangs.
DEFAULT_IDLE_WAIT_S = 600.0


def idle_wait_budget_s(env: dict | None = None) -> float:
    """Parse SPARK_GRAFT_WAIT_IDLE (seconds to wait, at most, for the
    1-minute loadavg to drop under the idleness bar before the timed
    suite). DEFAULT_IDLE_WAIT_S when unset or unparseable — so a
    knob-free invocation inherits the idleness protocol — and 0 only
    on an explicit non-positive value (the opt-out). Pure, for the
    gate tests."""
    env = os.environ if env is None else env
    if "SPARK_GRAFT_WAIT_IDLE" not in env:
        return DEFAULT_IDLE_WAIT_S
    raw = env["SPARK_GRAFT_WAIT_IDLE"]
    # `SPARK_GRAFT_WAIT_IDLE= python bench_record.py` (or an empty
    # interpolated shell variable) is the common idiom for disabling a
    # knob: a deliberate blank is an opt-out, not a typo.
    if isinstance(raw, str) and not raw.strip():
        return 0.0
    try:
        budget = float(raw)
    except (TypeError, ValueError):
        # Set but unusable: fall back to the (bounded) default rather
        # than silently disabling the protection a typo meant to tune.
        return DEFAULT_IDLE_WAIT_S
    # Explicit <= 0 is the opt-out (including -inf). Then float()
    # accepts 'inf'/'1e400': an infinite budget would
    # make wait_for_idle's `while waited < budget_s` loop forever on a
    # loaded box — the exact caller-timeout hang the wait exists to
    # avoid. NaN compares false on both tests and would skip the cap.
    # Both fall back to the bounded default. Cap at one hour: longer
    # than any measured load wave on this box, still bounded.
    if budget <= 0:
        return 0.0
    if not math.isfinite(budget):
        return DEFAULT_IDLE_WAIT_S
    return min(budget, 3600.0)


def wait_for_idle(
    budget_s: float,
    poll_s: float = 5.0,
    cpus: int | None = None,
    loadavg_fn=None,
    sleep_fn=None,
) -> dict:
    """Optionally wait out a load wave before the timed suite (VERDICT
    r07 item 2): two rounds running, the per-round bench artifact landed
    on loaded windows (loadavg 3.57, then 6.55 — this box's external
    load arrives in ~20-minute waves) while hand-invoked idle runs
    told the true story; the idleness machinery only protected runs
    whose INVOKER checked /proc/loadavg first. By default (budget
    ``DEFAULT_IDLE_WAIT_S``, tunable via
    ``SPARK_GRAFT_WAIT_IDLE=<seconds>``, ``=0`` to opt out), main()
    polls the 1-minute loadavg until it sits under the FORCE idleness
    bar
    (max(1.0, 10% of cpus) — the same threshold force_idleness_error
    holds baseline re-records to) or the budget expires, then proceeds
    EITHER WAY: the wait improves the window when it can and documents
    the refusal when it cannot, so a bounded caller timeout is never
    risked. Returns the evidence dict recorded under
    ``load.idle_wait`` in the artifact:

      {"requested_s", "waited_s", "polls", "bar",
       "loadavg_first", "loadavg_last", "satisfied"}

    Injectable clock/loadavg for Spark-free gate tests."""
    loadavg_fn = loadavg_fn or _loadavg
    sleep_fn = sleep_fn or time.sleep
    cpus = cpus or os.cpu_count() or 8
    bar = max(1.0, FORCE_MAX_LOADAVG_FRAC * cpus)

    def _idle(la: list[float]) -> bool:
        # The 1-minute average alone released a window mid-wave on
        # this box (measured: released at la1 3.03 while la5 was
        # still 6.55 — the wave resumed and the suite ran 1.07x with
        # probes 1.23x/1.19x). Also require the 5-minute average
        # under 2x the bar: after a real wave la5 decays through
        # 2*bar within a few minutes, so the extra condition delays
        # release slightly but refuses the eye of a passing storm.
        return bool(la) and la[0] <= bar and (len(la) < 2 or la[1] <= 2 * bar)

    la = loadavg_fn()
    first = la[0] if la else None
    out = {
        "requested_s": budget_s,
        "waited_s": 0.0,
        "polls": 1,
        "bar": bar,
        "loadavg_first": first,
        "loadavg_last": first,
        "satisfied": _idle(la),
    }
    if out["satisfied"] or not la or budget_s <= 0:
        return out
    print(
        f"# WAIT_IDLE: loadavg {la[0]:.2f} > bar {bar:.1f}; polling up "
        f"to {budget_s:.0f}s for the wave to pass",
        file=sys.stderr,
    )
    waited = 0.0
    while waited < budget_s:
        step = min(poll_s, budget_s - waited)
        sleep_fn(step)
        waited += step
        la = loadavg_fn()
        out["polls"] += 1
        out["loadavg_last"] = la[0] if la else None
        if _idle(la):
            out["satisfied"] = True
            break
    out["waited_s"] = round(waited, 1)
    if not out["satisfied"]:
        print(
            f"# WAIT_IDLE REFUSED: loadavg still {out['loadavg_last']} "
            f"after {waited:.0f}s — proceeding anyway; the artifact's "
            "probes will document the load",
            file=sys.stderr,
        )
    return out


# Probe-gated suite admission (VERDICT r12 item 1). The loadavg-based
# wait_for_idle cannot see host-level contention: the r12 bench
# artifact shows the idle wait "satisfied" at loadavg 3.10 immediately
# before a 23 s scan-probe spike, and the whole 16-run r12 campaign
# never found a probe-clean window while every loadavg read idle —
# the guest's /proc/loadavg is blind to the hypervisor-level load the
# probes measure directly. So after loadavg passes AND the warmups +
# first settled scan probe have run, the suite is released only once
# that probe's settled min sits within PROBE_ADMIT_RATIO of the
# clean-box pin (0.454 s) — retrying the probe on a poll cadence
# within the same bounded budget wait_for_idle draws from, and
# proceeding EITHER WAY when the budget expires (never-block: a
# bounded caller timeout is never risked; the refusal is logged like
# WAIT_IDLE REFUSED and recorded in the artifact). The bar is
# deliberately LOOSER than BASELINE_MAX_PROBE_RATIO (1.05): admission
# improves the measurement window when it can; probe_clean stays the
# strict box-absolute verdict on whatever window actually ran.
PROBE_ADMIT_RATIO = 1.15


def _admit_ratio_from_env(env=None) -> float:
    """Admission bar override: SPARK_GRAFT_PROBE_ADMIT_RATIO=<float>.

    The 1.15 default is right for ordinary suite runs (admission
    improves the window when it can; probe_clean stays the strict
    verdict). A baseline-TIGHTENING campaign (VERDICT r15 item 1) has
    the opposite economics: a warm-but-admitted window burns a whole
    ~6-min suite run to produce a stamp-only patch, while the run's
    only purpose was to observe a near-floor window — there a
    stricter bar (e.g. 1.02) plus a bigger SPARK_GRAFT_WAIT_IDLE
    budget holds out for the clean stretch instead. Opt-in per
    process; never-block is preserved either way (budget exhausted →
    logged refusal, suite proceeds, the 1.05x record gate still
    adjudicates). Unparseable or non-positive values fall back to the
    default loudly rather than silently gating on garbage."""
    raw = (env if env is not None else os.environ).get(
        "SPARK_GRAFT_PROBE_ADMIT_RATIO"
    )
    if raw is None or not str(raw).strip():
        return PROBE_ADMIT_RATIO
    try:
        v = float(raw)
    except ValueError:
        v = -1.0
    if v <= 0:
        print(
            f"# PROBE_ADMIT_RATIO ignored (unparseable/non-positive: "
            f"{raw!r}); using default {PROBE_ADMIT_RATIO}",
            file=sys.stderr,
        )
        return PROBE_ADMIT_RATIO
    return v
# Poll cadence between probe re-runs: the box's load arrives in
# ~10-20-minute waves (SCALING.md r07/r08), and each probe re-run
# itself costs seconds of evidence-gathering wall — 20 s spacing
# samples a wave edge a few times without burning the budget on
# back-to-back probes.
PROBE_ADMIT_POLL_S = 20.0


def probe_admission(
    probe_fn,
    pin_s: float | None,
    budget_s: float,
    ratio: float = PROBE_ADMIT_RATIO,
    poll_s: float = PROBE_ADMIT_POLL_S,
    sleep_fn=None,
    clock=None,
    reprobe_fn=None,
) -> tuple[dict, float, list[float]]:
    """Release the timed suite only on a scan-probe-clean window, or
    after ``budget_s`` of bounded retrying — never block. ``probe_fn``
    is a zero-arg callable returning ``(settled_min_s, series)`` (a
    closure over the live calibration_probe); it runs at least once.
    ``reprobe_fn`` (default: ``probe_fn``) runs the RETRY attempts —
    main() passes a shorter-rep probe there, because the first probe
    doubles as the 12-rep JIT-settle barrier while a retry only needs
    to sense the window on an already-settled plan (measured on the
    r13 smoke: a full settle probe on a loaded window cost 190 s of
    the budget in one attempt; a 4-rep window sample costs a fraction
    of that and the budget buys several looks at the wave instead of
    one). Returns ``(evidence, probe_min_s, series)`` where
    ``probe_min_s`` / ``series`` are the FINAL attempt's — the window
    the suite actually enters. Earlier attempts' mins stay visible in
    ``evidence["attempt_mins"]`` (load-arrival evidence, same role as
    the pre-probe spike series the r12 artifact carried).

    Evidence dict (recorded under ``load.probe_admission``):
    ``{"requested_s", "waited_s", "attempts", "ratio", "pin_s",
    "bar_s", "attempt_mins", "satisfied"}``. ``satisfied`` is None
    when no valid pin exists (nothing to judge against — a single
    probe runs and the suite proceeds; no evidence is recorded as
    clean). ``waited_s`` is the wall from admission start, INCLUDING
    the mandatory first probe — so on a loaded box it can exceed a
    small ``requested_s`` (the budget bounds the RETRYING, which the
    loop condition measures on the same clock): a loaded box makes
    each probe itself slow, and that elapsed time must count against
    the bound or the never-block guarantee quietly weakens.
    Injectable ``sleep_fn``/``clock`` for Spark-free gate tests."""
    sleep_fn = sleep_fn or time.sleep
    clock = clock or time.monotonic
    reprobe_fn = reprobe_fn or probe_fn
    t0 = clock()
    best, series = probe_fn()
    evidence = {
        "requested_s": budget_s,
        "waited_s": 0.0,
        "attempts": 1,
        "ratio": ratio,
        "pin_s": pin_s if _pos_num(pin_s) else None,
        "bar_s": None,
        "attempt_mins": [best],
        "satisfied": None,
    }
    if not _pos_num(pin_s):
        # No clean pin to judge against (corrupt CLEAN_PROBE.json
        # shape falls back to constants upstream, so this is a
        # hand-fed/test case): proceed on the single probe, satisfied
        # stays None — absence of a bar is not evidence of a clean
        # window. waited_s still records the mandatory first probe's
        # wall so the evidence dict is consistent on every path
        # (ADVICE r13).
        evidence["waited_s"] = round(clock() - t0, 1)
        return evidence, best, series
    bar = ratio * pin_s
    evidence["bar_s"] = round(bar, 3)
    evidence["satisfied"] = best <= bar
    if evidence["satisfied"] or budget_s <= 0:
        evidence["waited_s"] = round(clock() - t0, 1)
        if not evidence["satisfied"]:
            # Dirty first probe with no retry budget left (the idle
            # wait consumed it all): still a refusal, and stderr must
            # say so or the artifact's satisfied=False has no log twin
            # (ADVICE r13).
            print(
                f"# PROBE_ADMISSION REFUSED: scan probe {best}s "
                f"({best / pin_s:.2f}x of pin) and no retry budget "
                "remains — proceeding anyway; probe_clean and the rep "
                "series document the window",
                file=sys.stderr,
            )
        return evidence, best, series
    print(
        f"# PROBE_ADMISSION: scan probe {best}s > bar {bar:.3f}s "
        f"({ratio}x of {pin_s}s pin); re-probing up to {budget_s:.0f}s "
        "for a clean window",
        file=sys.stderr,
    )
    while (clock() - t0) < budget_s:
        sleep_fn(min(poll_s, max(0.0, budget_s - (clock() - t0))))
        if (clock() - t0) >= budget_s:
            break
        best, series = reprobe_fn()
        evidence["attempts"] += 1
        evidence["attempt_mins"].append(best)
        if best <= bar:
            evidence["satisfied"] = True
            break
    evidence["waited_s"] = round(clock() - t0, 1)
    if not evidence["satisfied"]:
        print(
            f"# PROBE_ADMISSION REFUSED: scan probe still {best}s "
            f"({best / pin_s:.2f}x of pin) after "
            f"{evidence['waited_s']:.0f}s / {evidence['attempts']} "
            "attempts — proceeding anyway; probe_clean and the rep "
            "series document the window",
            file=sys.stderr,
        )
    return evidence, best, series



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


def _patch_baseline_queries(
    artifact: dict, names_csv: str, path: str, ref: dict
) -> int:
    """Targeted reps-parity patch (VERDICT r13 item 2 / r12 item 5):
    update ONLY the named queries in the standing BENCH_BASELINE.json,
    and only DOWNWARD — min(observed, standing) — so a patch can
    tighten a bar or stamp the standing value as already at the
    multi-rep floor, but can never loosen the gate (the full-record
    ratchet above is exactly the failure a window-of-the-day patch
    would reintroduce). The probe + sf gates in maybe_record_baseline
    have already passed when this runs. Each patch appends a
    provenance record under ``patches`` (names, old/new values, the
    recording window's probes and loadavg, the clean reference
    enforced) so every entry in the file remains traceable to the
    recording that produced it; ``reps_overrides`` for the named
    queries are merged in from the patching artifact, which is what
    stamps the reps parity."""
    try:
        standing = _read_bench_json(path)
    except Exception as e:
        print(
            f"# BASELINE PATCH REFUSED: no readable standing baseline at "
            f"{path} ({e}) — a patch needs a baseline to patch; run a "
            "full record first",
            file=sys.stderr,
        )
        return 1
    names = [n.strip() for n in names_csv.split(",") if n.strip()]
    art_q = artifact.get("queries") or {}
    std_q = standing.get("queries") or {}
    missing = [n for n in names if not _pos_num(art_q.get(n))]
    absent = [n for n in names if n not in std_q]
    if not names or missing or absent:
        print(
            f"# BASELINE PATCH REFUSED: unpatchable queries — not in this "
            f"recording: {missing}; not in the standing baseline: {absent}",
            file=sys.stderr,
        )
        return 1
    patched: dict[str, dict] = {}
    stamped: dict[str, dict] = {}
    for n in names:
        new, old = art_q[n], std_q[n]
        if new < old:
            std_q[n] = new
            patched[n] = {"from": old, "to": new}
        else:
            stamped[n] = {"standing": old, "observed": new}
    overrides = dict(standing.get("reps_overrides") or {})
    for n in names:
        reps = (artifact.get("reps_overrides") or {}).get(n)
        if reps:
            overrides[n] = reps
    standing["reps_overrides"] = overrides
    standing["value"] = round(sum(std_q.values()), 3)
    # ADVICE r14/r15: a tightening patch must not leave derived
    # sibling fields describing the PRE-patch recording. wall_s (one
    # recording's wall clock) and the whole comparable block are both
    # that recording's view — sum_now was computed over the GATED
    # subset (queries present in the then-prior baseline), so setting
    # it to the full-suite value here (the r14 fix) silently
    # conflated the comparable subset with the suite sum whenever the
    # standing baseline carried an entry the prior baseline lacked.
    # Neither field can be recomputed faithfully once per-query
    # values mix recording vintages, so both are dropped and the
    # drops noted in the provenance record. The timing string stays
    # accurate as written ("floored per reps_overrides" — the
    # overrides were just merged above). Stamp-only patches (patched
    # empty) change no value, so nothing is stale and nothing moves.
    dropped_stale: list[str] = []
    if patched:
        for stale in ("comparable", "wall_s"):
            if stale in standing:
                del standing[stale]
                dropped_stale.append(stale)
    cal = artifact.get("calibration") or {}
    standing.setdefault("patches", []).append(
        {
            "queries": names,
            "patched": patched,
            "stamped": stamped,
            "dropped_stale": dropped_stale,
            "sf": artifact.get("sf"),
            "reps_overrides": {
                n: (artifact.get("reps_overrides") or {}).get(n) for n in names
            },
            "calibration": {
                k: cal.get(k)
                for k in (
                    "probe_s",
                    "probe_pre_s",
                    "probe_post_s",
                    "stream_probe_s",
                    "stream_probe_pre_s",
                    "stream_probe_post_s",
                )
            },
            "loadavg_pre": (artifact.get("load") or {}).get("loadavg_pre"),
            "clean_probe": dict(ref),
        }
    )
    with open(path, "w") as f:
        json.dump(standing, f)
        f.write("\n")
    print(
        f"# BASELINE PATCHED at {path}: tightened {sorted(patched)} "
        f"(stamped-at-floor {sorted(stamped)})",
        file=sys.stderr,
    )
    return 0


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
    names_csv = (os.environ.get("SPARK_GRAFT_RECORD_BASELINE_QUERIES") or "").strip()
    if names_csv:
        # Targeted reps-parity patch: same sf + probe gates as a full
        # record (they just passed above), but only the named entries
        # change, and only downward.
        return _patch_baseline_queries(artifact, names_csv, path, ref)
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


def probe_clean_flag(
    probe_s: float | None,
    stream_probe_s: float | None,
    ref: dict,
    max_ratio: float = BASELINE_MAX_PROBE_RATIO,
) -> bool:
    """True iff BOTH calibration probes sit within ``max_ratio`` of
    their clean-box reference pins — the exact condition the r08
    closing campaign used to partition its tally into probe-clean
    (0.950/0.951/0.992x) vs probe-elevated (1.00-1.15x) runs. Emitted
    as a top-level artifact field (VERDICT r08 item 6) so a reader
    gets the partition from the artifact alone instead of recomputing
    it from calibration. A run with a missing probe is NOT clean: no
    evidence is not evidence of idleness. The predicate IS the
    baseline-record idleness rule (one implementation: two
    copies of the two-probe-vs-pins rule could drift apart, making
    the artifact's flag disagree with what the record gate actually
    enforces); the two callers differ only in INPUTS (ADVICE r09):
    calibrated_artifact feeds this flag the scan probe's worst pre/post
    window (_worst_probe) and the stream probe's settled post window
    (_settled_stream_probe), while the record gate judges the
    recorded min(pre, post) — so flag-true implies gate-pass, never
    the reverse. Pure, for Spark-free gate tests."""
    return (
        baseline_recording_error(
            probe_s,
            pinned=ref["probe_s"],
            max_ratio=max_ratio,
            stream_probe_s=stream_probe_s,
            stream_pinned=ref["stream_probe_s"],
        )
        is None
    )


def _pos_num(v) -> bool:
    """True iff ``v`` is a positive finite number and not a JSON
    boolean — the one probe-value validity predicate, shared by the
    window pickers below so it cannot drift between them (it
    once existed twice three lines apart, and the fallback scalar
    skipped it entirely — a junk recorded probe_s of True or a
    negative value sailed into probe_clean_flag where a negative
    ratio compares 'clean')."""
    return (
        isinstance(v, (int, float))
        and not isinstance(v, bool)
        and math.isfinite(v)
        and v > 0
    )


def _worst_probe(calibration: dict, key: str) -> float | None:
    """The WORST (max) of the pre- and post-suite probe windows for
    ``key``, falling back to the recorded ``{key}_s`` when the
    per-window values are absent (old artifacts, unit tests that pass
    a single probe). ADVICE r09: the artifact's ``{key}_s`` is
    min(pre, post) — judging probe_clean on it marks a run clean when
    ONE window was quiet even if the other was heavily loaded
    (SCALING.md r09 run 5 passed 'clean' yet ran 1.049x). Feeds the
    probe_clean flag's SCAN input only: the scan probe's two windows
    are symmetric instruments (pre/post both span 0.32-0.42 across
    every recorded artifact), so the worst of them is honest box-load
    evidence. The STREAM probe's windows are NOT symmetric — see
    _settled_stream_probe. The baseline-RECORD gate keeps judging
    min() (its established protocol: the box was demonstrably clean
    at probe time, and the recording also needs loadavg evidence), so
    flag-true implies gate-pass but not vice versa."""
    windows = [
        v
        for v in (calibration.get(f"{key}_pre_s"), calibration.get(f"{key}_post_s"))
        if v is not None
    ]
    valid = [v for v in windows if _pos_num(v)]
    fallback = calibration.get(f"{key}_s")
    if len(valid) < len(windows):
        # ADVICE r10: a PRESENT-but-junk window (JSON true, a negative)
        # is corrupt evidence, not absence — returning the lone quiet
        # window would let it mark the run clean, and if the recorded
        # scalar exceeded that survivor the documented 'flag-true
        # implies gate-pass' invariant would break. Fold the recorded
        # scalar in and judge the max of scalar + surviving windows;
        # without a valid scalar to anchor that invariant (the record
        # gate judges the scalar and would itself refuse a junk one)
        # the probe is missing (no evidence is not evidence of
        # idleness).
        if not _pos_num(fallback):
            return None
        return max(valid + [fallback])
    if valid:
        # ADVICE r11: fold a valid recorded scalar in even when a
        # window is simply ABSENT (not junk). probe_s is min(pre,post)
        # by construction, so on any self-consistent artifact this is
        # a no-op — but a hand-fed artifact whose scalar exceeds the
        # lone surviving window could otherwise read probe_clean=true
        # while the baseline-record gate (which judges the scalar)
        # refuses, breaking flag-true-implies-gate-pass.
        if _pos_num(fallback):
            return max(valid + [fallback])
        return max(valid)
    return fallback if _pos_num(fallback) else None


def _settled_stream_probe(calibration: dict) -> float | None:
    """The POST-suite window of the stream probe — the settled
    instrument the probe_clean flag judges the stream family on —
    falling back to the recorded ``stream_probe_s`` (min of windows)
    when the post window is absent.

    Why post, not worst-of-windows like the scan probe: the stream
    PRE window runs immediately after the streaming warmup, while the
    state-store maintenance threads and micro-batch machinery it just
    spawned are still draining, and that drain — not box load — sets
    its floor. Measured: across every artifact that records the
    windows (r06-r10, 14 runs, including loadavg-0.00 boxes and the
    r9 per-round run judged clean under the old min() rule) the pre
    window's settle floor is 1.50-1.78 s against the 1.337 s settled
    pin — it has NEVER read within the 1.05x tolerance, anywhere.
    Gating probe_clean on worst-of-windows therefore made the flag
    degenerate (r10: seven strict runs on windows down to loadavg
    0.01, zero clean — a flag that cannot be true partitions
    nothing). The post window is the same instrument fully settled;
    it is >= the recorded min() by construction, so judging it keeps
    the flag at least as strict as the r9 min() rule while staying
    satisfiable on a genuinely idle box. The pre window stays in the
    sidecar artifact as load-arrival evidence (it DOES spike under
    real waves: 1.78 on the r9 cadence run that read 1.197x)."""
    v = calibration.get("stream_probe_post_s")
    if _pos_num(v):
        return v
    fallback = calibration.get("stream_probe_s")
    return fallback if _pos_num(fallback) else None



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
    the clean-box reference in force, the load block and the top-level
    ``probe_clean`` flag (scan probe on its worst window, stream probe
    on its settled post window)."""
    ref = _clean_probe_reference()
    cal = dict(calibration)
    cal["baseline_s"] = _baseline_probe()
    cal["stream_baseline_s"] = _baseline_stream_probe()
    cal["clean_probe"] = dict(ref)
    return dict(
        artifact,
        calibration=cal,
        load=dict(load),
        probe_clean=probe_clean_flag(
            _worst_probe(cal, "probe"), _settled_stream_probe(cal), ref
        ),
    )


def main() -> int:
    if os.environ.get("SPARK_GRAFT_DERIVE_CLEAN_PROBE"):
        return derive_clean_probe()
    idle_wait = wait_for_idle(idle_wait_budget_s())
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod
    from evaluate_human_balance_with_spark_streaming_spark.caching import release_managed
    from evaluate_human_balance_with_spark_streaming_spark.session import get_spark

    load_pre = _loadavg()
    spark = get_spark("ehb-bench")
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    probe_base = _baseline_probe()
    probe_admit, probe_pre, probe_pre_series = probe_admission(
        lambda: calibration_probe(spark, target_s=probe_base),
        pin_s=_clean_probe_reference()["probe_s"],
        budget_s=max(
            0.0, float(idle_wait.get("requested_s") or 0.0) - idle_wait["waited_s"]
        ),
        ratio=_admit_ratio_from_env(),
        reprobe_fn=lambda: calibration_probe(
            spark, min_reps=2, max_reps=4, target_s=probe_base
        ),
    )
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
        "idle_wait": idle_wait,
        "probe_admission": probe_admit,
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
