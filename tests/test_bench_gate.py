"""bench.py's contract with its callers, pinned without a Spark session:
the fixed regression check against BENCH_BASELINE.json, the last stdout
line, the BENCH_SELF.json layout, and the teardown order (artifact,
streams, session, then the metric line). The second half pins
bench_record.py, the guarded path that re-records the bars: the idle
wait, the probe admission, the calibration probes' settle and clean
rules, the clean-probe pin and its derivation, and the record gates."""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402

import bench  # noqa: E402
import bench_record as rec  # noqa: E402
from bench import check, find_regressions, finish, metric_line  # noqa: E402


@pytest.fixture(autouse=True)
def _no_ambient_record_knobs(monkeypatch):
    """A shell with a re-record knob exported must not steer the
    record gates under test."""
    for k in ("SPARK_GRAFT_RECORD_BASELINE", "SPARK_GRAFT_BASELINE_FORCE",
              "SPARK_GRAFT_RECORD_BASELINE_QUERIES", "SPARK_GRAFT_DERIVE_FORCE",
              "SPARK_GRAFT_PROBE_ADMIT_RATIO", "SPARK_GRAFT_WAIT_IDLE"):
        monkeypatch.delenv(k, raising=False)


def _artifact(timings, sf=0.1, bars=None):
    baseline = {"sf": 0.1, "queries": bars if bars is not None else dict(timings)}
    series = {n: [t, t] for n, t in timings.items()}
    return bench.build_artifact(timings, series, {}, sf, 9.9, baseline)


def test_find_regressions_flags_only_over_factor():
    bars = {"a": 1.0, "b": 1.0, "c": 0.0, "d": 2.0, "e": 1.0, "f": 1.0}
    timings = {"a": 2.5, "b": 2.0, "c": 99.0, "e": 1.0, "f": 1.0, "g": 50.0}
    out = find_regressions(timings, bars)
    # a: over 2x; b: exactly 2x is not over; c: zero bar; g: no bar.
    assert set(out) - {"__suite__"} == {"a"}
    assert out["a"] == {"now": 2.5, "baseline": 1.0}


def test_suite_backstop_keeps_per_query_culprits():
    bars = {n: 1.0 for n in "abcd"}
    # A uniform 1.6x trips no per-query bar, only the 1.5x sum check.
    out = find_regressions({n: 1.6 for n in "abcd"}, bars)
    assert out == {"__suite__": {"now": 6.4, "baseline": 4.0}}
    # Exactly 1.5x on the sum is not over.
    assert find_regressions({n: 1.5 for n in "abcd"}, bars) == {}
    # One 5x culprit also moves the sum: both entries are kept.
    out = find_regressions({"a": 5.0, "b": 1.0, "c": 1.0, "d": 1.0}, bars)
    assert set(out) == {"a", "__suite__"}
    # Ungated queries count in neither the sum nor the bars' sum.
    assert find_regressions({"a": 1.0, "z": 100.0}, bars) == {}


def test_sf_mismatch_skips_regression_gate(capsys):
    baseline = {"sf": 0.1, "queries": {"q": 1.0}}
    assert check({"q": 99.0}, 0.001, baseline) is None
    assert "SF MISMATCH" in capsys.readouterr().err
    assert check({"q": 99.0}, 0.1, baseline)["q"] == {"now": 99.0, "baseline": 1.0}
    # Unchecked stays null on the metric line, distinct from {} (checked, clean).
    assert json.loads(metric_line(_artifact({"q": 9.0}, sf=0.001)))["regressions"] is None
    assert json.loads(metric_line(_artifact({"q": 1.0})))["regressions"] == {}


def test_unknown_run_sf_is_a_mismatch_not_a_bye():
    baseline = {"sf": 0.1, "queries": {"q": 1.0}}
    assert check({"q": 99.0}, 0.0, baseline) is None
    assert bench.sf_of("/data/not-a-scale") == 0.0
    assert bench.sf_of("/data/sf0.1/") == 0.1


def test_gate_fails_run_on_regression_by_default(tmp_path, capsys):
    spark = _FakeSpark([])
    side = str(tmp_path / "BENCH_SELF.json")
    assert finish(_artifact({"q": 1.0}), spark, side) == 0
    assert finish(_artifact({"q": 2.1}, bars={"q": 1.0}), spark, side) == 1
    # A uniform 1.6x regresses only the sum, and that fails the run too.
    slow = _artifact({"a": 1.6, "b": 1.6}, bars={"a": 1.0, "b": 1.0})
    assert finish(slow, spark, side) == 1
    # Unchecked (sf mismatch) is not a failure.
    assert finish(_artifact({"q": 9.0}, sf=0.001, bars={"q": 1.0}), spark, side) == 0
    capsys.readouterr()


def test_baseline_precedence(tmp_path):
    bars = {"q": 1.0}
    (tmp_path / "BENCH_BASELINE.json").write_text(json.dumps({"sf": 0.1, "queries": bars}))
    # Per-round recordings and hand-kept extras are not bars.
    (tmp_path / "BENCH_r99.json").write_text(json.dumps({"sf": 0.1, "queries": {"q": 9.0, "x": 1.0}}))
    (tmp_path / "BENCH_BASELINE_EXTRA.json").write_text(json.dumps({"queries": {"y": 1.0}}))
    assert bench.read_baseline(str(tmp_path / "BENCH_BASELINE.json")) == {"sf": 0.1, "queries": bars}
    assert bench.BASELINE_FILE == os.path.join(bench.HERE, "BENCH_BASELINE.json")
    # The shipped file holds a bar for every HEADLINE query, at sf0.1.
    shipped = bench.read_baseline()
    assert shipped["sf"] == 0.1 and set(bench.HEADLINE) <= set(shipped["queries"])


def test_baseline_empty_dir(tmp_path):
    assert bench.read_baseline(str(tmp_path / "BENCH_BASELINE.json")) == {"sf": None, "queries": {}}


def test_compact_line_fits_driver_tail_capture():
    # Worst case: all 24 long names, three-digit timings, every query
    # and the sum regressed.
    timings = {n: 123.456 for n in bench.HEADLINE}
    art = _artifact(timings, bars={n: 0.123 for n in bench.HEADLINE})
    assert set(art["regressions"]) == set(bench.HEADLINE) | {"__suite__"}
    line = metric_line(art)
    assert len(line) < bench.LINE_MAX
    parsed = json.loads(line)
    assert tuple(parsed) == bench.LINE_KEYS
    assert parsed["regressions"]["__suite__"] == round(24 * 123.456 / (24 * 0.123), 2)
    assert parsed["queries"] == timings


def test_report_carries_reps_overrides():
    art = _artifact({"q": 1.0})
    assert art["reps_overrides"] == dict(sorted(bench.QUERY_REPS.items()))
    assert json.loads(metric_line(art))["reps_overrides"] == art["reps_overrides"]


def test_write_self_artifact_sidecar(tmp_path, monkeypatch):
    art = _artifact({"q": 1.25}, bars={})
    assert set(art) == set(bench.LINE_KEYS) | {"timing", "series", "exec"}
    assert art["value"] == 1.25 and art["series"] == {"q": [1.25, 1.25]}
    path = tmp_path / "BENCH_SELF.json"
    bench.write_self_artifact(art, str(path))
    raw = path.read_text()
    assert raw.endswith("\n") and json.loads(raw) == art
    # A failed write keeps the previous file whole and leaves no temp.
    def broken_replace(src, dst):
        raise OSError("simulated ENOSPC")

    monkeypatch.setattr(bench.os, "replace", broken_replace)
    bench.write_self_artifact({"metric": "other"}, str(path))
    assert json.loads(path.read_text()) == art
    assert [p.name for p in tmp_path.iterdir()] == ["BENCH_SELF.json"]


def test_bench_reads_only_the_data_path_env():
    with open(os.path.join(bench.HERE, "bench.py")) as f:
        src = f.read()
    names = set(re.findall(r"environ(?:\.get)?\(?\[?\"(\w+)\"", src))
    assert names == {"SPARK_GRAFT_SF_DIR"}
    assert "getenv" not in src


def test_exec_block_is_perfbench_exec_metrics():
    import worker

    assert bench.exec_metrics is worker.exec_metrics


def test_run_suite_best_of_reps_under_job_groups(monkeypatch, capsys):
    log: list = []
    spark = _FakeSpark(log)
    first, floored = bench.HEADLINE[0], next(iter(bench.QUERY_REPS))

    class _DF:
        def count(self):
            return 7

    def build(name):
        def run(s, sf_dir):
            log.append(name)
            return _DF()

        return run

    qs = {n: build(n) for n in (first, floored, "not_headline")}
    monkeypatch.setattr(bench, "exec_metrics", lambda s, groups: {"jobs": groups})
    timings, series, blocks, wall_s = bench.run_suite(spark, qs, "/d")
    # Each query's reps run under its own job group, with no untimed
    # warm-up run; names outside HEADLINE never run.
    n_floor = bench.QUERY_REPS[floored]
    assert log == (
        [("group", first, first)] + [first] * bench.REPS
        + [("group", floored, floored)] + [floored] * n_floor
    )
    assert list(timings) == [first, floored]
    assert [len(series[first]), len(series[floored])] == [bench.REPS, n_floor]
    assert timings[first] == min(series[first])
    assert blocks == {first: {"jobs": [first]}, floored: {"jobs": [floored]}}
    assert "MISSING" in capsys.readouterr().err


class _FakeStream:
    def __init__(self, log, name, raise_on_stop=False):
        self._log, self._name, self._raise = log, name, raise_on_stop

    def stop(self):
        self._log.append(f"stream_stop:{self._name}")
        if self._raise:
            raise RuntimeError("dying stream")


class _FakeStreams:
    def __init__(self, active):
        self.active = active


class _FakeContext:
    def __init__(self, log):
        self._log = log

    def setJobGroup(self, group, desc):
        self._log.append(("group", group, desc))


class _FakeSpark:
    """Duck-typed session whose stop() prints the shutdown noise a
    state-store maintenance thread can put on stdout."""

    def __init__(self, log, streams=(), artifact_path=None):
        self.log = log
        self.streams = _FakeStreams(list(streams))
        self.sparkContext = _FakeContext(log)
        self._artifact_path = artifact_path

    def stop(self):
        if self._artifact_path is not None:
            self.log.append(f"artifact_on_disk:{os.path.exists(self._artifact_path)}")
        self.log.append("spark_stop")
        print("WARN Could not unload state store provider (fake)")


def test_shutdown_spark_stops_streams_then_session():
    log: list[str] = []
    fake = _FakeSpark(log, streams=[_FakeStream(log, "a", raise_on_stop=True),
                                    _FakeStream(log, "b")])
    bench.shutdown_spark(fake)
    assert log == ["stream_stop:a", "stream_stop:b", "spark_stop"]


def test_metric_line_emitted_after_session_teardown(tmp_path, capsys):
    side = tmp_path / "BENCH_SELF.json"
    log: list[str] = []
    fake = _FakeSpark(log, streams=[_FakeStream(log, "s")], artifact_path=str(side))
    art = _artifact({"q": 1.0})
    assert finish(art, fake, str(side)) == 0
    # The artifact is on disk before the session stops; streams stop
    # before the session.
    assert log == ["stream_stop:s", "artifact_on_disk:True", "spark_stop"]
    out_lines = capsys.readouterr().out.strip().splitlines()
    assert any("Could not unload state store" in ln for ln in out_lines[:-1])
    line = json.loads(out_lines[-1])
    full = json.loads(side.read_text())
    for k in bench.LINE_KEYS:
        assert line[k] == full[k]


def test_gate_lenient_optout_and_clean_pass(tmp_path, monkeypatch, capsys):
    """There is no lenient opt-out: with the old SPARK_GRAFT_BENCH_LENIENT
    exported a regression still fails the run, and a clean run passes."""
    monkeypatch.setenv("SPARK_GRAFT_BENCH_LENIENT", "1")
    bars = {"q": 1.0, "r": 1.0, "s": 1.0}
    spark, side = _FakeSpark([]), str(tmp_path / "BENCH_SELF.json")
    assert finish(_artifact({"q": 5.0, "r": 1.0, "s": 1.0}, bars=bars), spark, side) == 1
    assert finish(_artifact({"q": 1.2, "r": 1.0, "s": 1.0}, bars=bars), spark, side) == 0
    capsys.readouterr()


def test_report_and_gate_never_records_baseline(tmp_path, monkeypatch, capsys):
    """bench.py never writes the bars, whatever the environment says;
    re-recording is bench_record.py's job."""
    monkeypatch.setenv("SPARK_GRAFT_RECORD_BASELINE", "1")
    with open(bench.BASELINE_FILE, "rb") as f:
        before = f.read()
    side = str(tmp_path / "BENCH_SELF.json")
    assert finish(_artifact({"q": 0.5}, bars={}), _FakeSpark([]), side) == 0
    with open(bench.BASELINE_FILE, "rb") as f:
        assert f.read() == before
    capsys.readouterr()


def test_compact_line_preserves_ungated_null_through_rungs():
    """The line has one form. An unchecked run's ``regressions: null``
    stays distinct from {} (checked, none found) in it, with all 24
    names in the query map."""
    timings = {n: 123.456 for n in bench.HEADLINE}
    line = metric_line(_artifact(timings, sf=0.001, bars={n: 0.1 for n in bench.HEADLINE}))
    assert len(line) < bench.LINE_MAX
    parsed = json.loads(line)
    assert "regressions" in parsed and parsed["regressions"] is None


def test_self_artifact_mode_and_failure_fallback(tmp_path, capsys):
    """The sidecar gets the ordinary file mode, so whoever collects it
    can read it, and an unwritable destination fails soft: reported on
    stderr, never raised."""
    dst = tmp_path / "SELF.json"
    art = _artifact({"q": 1.0})
    umask = os.umask(0o022)
    os.umask(umask)
    bench.write_self_artifact(art, str(dst))
    assert (os.stat(dst).st_mode & 0o777) == (0o666 & ~umask)
    assert json.loads(dst.read_text()) == art
    # The "directory" is a file: denial that bites even as root.
    not_a_dir = tmp_path / "not_a_dir"
    not_a_dir.write_text("occupied")
    bench.write_self_artifact(art, str(not_a_dir / "SELF.json"))
    assert "not written" in capsys.readouterr().err


def test_self_artifact_unserializable_failure_is_honest(tmp_path, capsys):
    """An artifact that will not serialize is reported, not raised (a
    raise would skip the session's stop and the metric line), and the
    previous sidecar stays whole."""
    path = tmp_path / "SELF.json"
    path.write_text('{"metric": "previous"}\n')
    bench.write_self_artifact({"metric": "x", "value": object()}, str(path))
    assert "not written" in capsys.readouterr().err
    assert json.loads(path.read_text()) == {"metric": "previous"}
    assert [p.name for p in tmp_path.iterdir()] == ["SELF.json"]



# ---------------------------------------------------------------------------
# bench_record.py: the guarded re-record path



def test_report_carries_calibration_and_load(monkeypatch, tmp_path):
    """The calibrated artifact carries what adjudicates a recording:
    the probe windows next to the probes recorded with the standing
    bars, and loadavg before/after, on top of bench.py's artifact,
    which passes through unchanged."""
    monkeypatch.setattr(rec, "_baseline_probe", lambda here=None: 0.8)
    monkeypatch.setattr(rec, "_baseline_stream_probe", lambda here=None: None)
    base = _artifact({"q": 1.4, "r": 1.6, "new_q": 2.0}, bars={"q": 1.0, "r": 1.0})
    load = {"loadavg_pre": [0.1, 0.2, 0.3], "loadavg_post": [30.0, 10.0, 4.0], "cpus": 32}
    art = rec.calibrated_artifact(
        base, {"probe_s": 1.0, "probe_pre_s": 1.1, "probe_post_s": 1.0}, load
    )
    assert art["calibration"]["baseline_s"] == 0.8
    assert art["calibration"]["stream_baseline_s"] is None
    assert art["calibration"]["probe_pre_s"] == 1.1
    assert {k: art[k] for k in base} == base
    # The stdout line stays bench.py's; load and the probe windows
    # live in the full BENCH_SELF.json.
    assert tuple(json.loads(bench.metric_line(art))) == bench.LINE_KEYS
    side = tmp_path / "BENCH_SELF.json"
    bench.write_self_artifact(art, str(side))
    full = json.loads(side.read_text())
    assert full["load"]["loadavg_post"] == [30.0, 10.0, 4.0]
    assert full["calibration"]["probe_pre_s"] == 1.1


def test_probe_settle_decision():
    """The probe's settle barrier is anchored to the recorded probe
    baseline (r04: a fresh JVM's tiered-compiler backlog produced a
    5.2→3.2→3.0→2.7→0.6s descending series with a FALSE PLATEAU at
    ~3s; a fixed best-of-3 recorded that plateau as box drift and the
    first timed query absorbed the rest as a phantom regression)."""
    from bench_record import _probe_settled

    base = 0.455  # the recorded BENCH_BASELINE probe
    # The false plateau: reps agree within 10% but sit 6x above the
    # baseline — must NOT settle where best-of-3 used to stop.
    assert not _probe_settled([5.2, 3.2, 3.0], target_s=base)
    assert not _probe_settled([5.2, 3.2, 3.0, 2.7], target_s=base)
    # Settles once a rep reaches the baseline's neighborhood AND the
    # latest rep is near the running min.
    assert _probe_settled([5.2, 3.2, 3.0, 2.7, 0.9, 0.5, 0.55], target_s=base)
    # A rep at 2x the baseline is still outside its neighborhood even
    # when the series has flattened there.
    assert not _probe_settled([5.2, 3.2, 0.9], target_s=base)
    # A warm session settles immediately at min_reps.
    assert _probe_settled([0.5, 0.52, 0.51], target_s=base)
    # Never before min_reps, even when flat and at target.
    assert not _probe_settled([0.5, 0.5], target_s=base)
    # Without a recorded baseline (first-ever recording) NOTHING can
    # tell the false plateau from the floor, so the barrier never
    # settles early — the caller runs all max_reps and the recording
    # is made from a fully-drained JVM (a local
    # criterion would record a mid-descent rep as the baseline that
    # inflates every future bar).
    assert not _probe_settled([0.5, 0.52, 0.51], target_s=None)
    assert not _probe_settled([5.2, 3.2, 2.7], target_s=None)
    # A genuinely loaded box never reaches the target → caller runs to
    # max_reps and the min reflects the contention (that is what drift
    # credit + the artifact's rep series are for).
    assert not _probe_settled([4.0, 2.0, 2.1, 2.05], target_s=base)


def test_baseline_recording_error_enforces_idleness():
    """VERDICT r04 item 3: a BENCH_BASELINE re-record must prove its
    own idleness IN CODE — a probe more than 5% over the pinned
    clean-box reference (the first r04 baseline shipped with probe
    0.508 vs 0.454 ≈ 12% of permanent slack and was caught only in
    a later check) is refused, a missing probe is refused, a clean probe
    passes."""
    from bench_record import CLEAN_PROBE_S, baseline_recording_error

    # The loaded r04 recording that motivated the rule.
    err = baseline_recording_error(0.508)
    assert err is not None and "not idle" in err
    # No probe at all — nothing to validate against.
    assert baseline_recording_error(None) is not None
    assert baseline_recording_error(0.0) is not None
    # The actual accepted r04 re-record.
    assert baseline_recording_error(0.455) is None
    # Exactly at the bar passes; a hair over does not.
    assert baseline_recording_error(round(CLEAN_PROBE_S * 1.05, 6)) is None
    assert baseline_recording_error(CLEAN_PROBE_S * 1.06) is not None


def test_maybe_record_baseline_refuses_loaded_box(tmp_path, monkeypatch, capsys):
    """The writer half of the idleness rule: with RECORD_BASELINE set,
    a loaded recording exits 1 and writes NOTHING; a clean recording
    lands in BENCH_BASELINE.json; FORCE overrides loudly (documented
    hardware-change escape hatch) — but ONLY with the recording's own
    loadavg evidence of an idle box (ADVICE r05: the escape hatch must
    not also skip the idleness check it exists to route around)."""
    from bench_record import maybe_record_baseline

    idle_load = {"loadavg_pre": [0.2, 0.3, 0.4], "cpus": 32}
    busy_load = {"loadavg_pre": [4.59, 4.0, 3.5], "cpus": 32}  # the r04 incident
    loaded = {
        "calibration": {"probe_s": 0.6},
        "queries": {"q": 1.0},
        "load": idle_load,
    }
    # A qualifying recording now needs BOTH probes clean (ADVICE r06:
    # the scan probe is blind to state-store-class load).
    clean = {
        "calibration": {"probe_s": 0.455, "stream_probe_s": 1.34},
        "queries": {"q": 1.0},
    }
    path = tmp_path / "BENCH_BASELINE.json"

    # Env unset: no-op regardless of artifact health.
    monkeypatch.delenv("SPARK_GRAFT_RECORD_BASELINE", raising=False)
    assert maybe_record_baseline(loaded, str(tmp_path)) == 0
    assert not path.exists()

    monkeypatch.setenv("SPARK_GRAFT_RECORD_BASELINE", "1")
    monkeypatch.delenv("SPARK_GRAFT_BASELINE_FORCE", raising=False)
    assert maybe_record_baseline(loaded, str(tmp_path)) == 1
    assert not path.exists()
    assert "BASELINE REFUSED" in capsys.readouterr().err

    # Scan probe clean but stream probe missing or loaded: refused —
    # the state-store cost class carries its own idleness evidence.
    scan_only = {"calibration": {"probe_s": 0.455}, "queries": {"q": 1.0}}
    assert maybe_record_baseline(scan_only, str(tmp_path)) == 1
    assert not path.exists()
    assert "no stream calibration probe" in capsys.readouterr().err
    stream_loaded = {
        "calibration": {"probe_s": 0.455, "stream_probe_s": 1.6},
        "queries": {"q": 1.0},
    }
    assert maybe_record_baseline(stream_loaded, str(tmp_path)) == 1
    assert not path.exists()
    assert "stream probe" in capsys.readouterr().err

    assert maybe_record_baseline(clean, str(tmp_path)) == 0
    assert json.loads(path.read_text())["calibration"]["probe_s"] == 0.455

    # FORCE with idle-box loadavg evidence: lands, loudly.
    path.unlink()
    monkeypatch.setenv("SPARK_GRAFT_BASELINE_FORCE", "1")
    assert maybe_record_baseline(loaded, str(tmp_path)) == 0
    assert json.loads(path.read_text())["calibration"]["probe_s"] == 0.6
    assert "BASELINE FORCED" in capsys.readouterr().err

    # FORCE on a busy box (r04's loadavg 4.59 on 32 cpus) or with no
    # loadavg at all: still refused, nothing written.
    path.unlink()
    assert maybe_record_baseline(dict(loaded, load=busy_load), str(tmp_path)) == 1
    assert "REFUSED even under FORCE" in capsys.readouterr().err
    no_evidence = {k: v for k, v in loaded.items() if k != "load"}
    assert maybe_record_baseline(no_evidence, str(tmp_path)) == 1
    assert not path.exists()


def test_force_idleness_error_bar():
    from bench_record import force_idleness_error

    ok = {"load": {"loadavg_pre": [0.07, 0.1, 1.0], "cpus": 32}}
    assert force_idleness_error(ok) is None
    # 10% of 32 cpus = 3.2 — at the bar passes, over does not.
    assert force_idleness_error(
        {"load": {"loadavg_pre": [3.2, 0, 0], "cpus": 32}}
    ) is None
    assert force_idleness_error(
        {"load": {"loadavg_pre": [3.3, 0, 0], "cpus": 32}}
    ) is not None
    # Few-core box: the bar floors at 1.0, not 0.1*cpus.
    assert force_idleness_error(
        {"load": {"loadavg_pre": [0.9, 0, 0], "cpus": 4}}
    ) is None
    assert force_idleness_error({}) is not None


def test_stream_probe_baseline_precedence(tmp_path):
    """The probes recorded with the standing bars anchor the settle
    barrier; they come from BENCH_BASELINE.json alone, like the bars."""
    (tmp_path / "BENCH_r3.json").write_text(
        json.dumps(
            {"parsed": {"calibration": {"probe_s": 0.5, "stream_probe_s": 0.8}}}
        )
    )
    assert rec._baseline_stream_probe(str(tmp_path)) is None
    (tmp_path / "BENCH_BASELINE.json").write_text(
        json.dumps({"calibration": {"probe_s": 0.45, "stream_probe_s": 0.7}})
    )
    assert rec._baseline_stream_probe(str(tmp_path)) == 0.7
    assert rec._baseline_probe(str(tmp_path)) == 0.45
    # Artifacts predating the stream probe: None.
    assert rec._baseline_stream_probe(str(tmp_path / "nowhere")) is None


def test_clean_probe_reference_file_overrides_constants(tmp_path):
    """The portable clean-probe path (VERDICT r06 item 4): with no
    CLEAN_PROBE.json the pinned constants are the reference; a derived
    recording overrides both pins; a malformed/partial file falls back
    to the constants instead of crashing the record gate."""
    from bench_record import (
        CLEAN_PROBE_S,
        CLEAN_STREAM_PROBE_S,
        _clean_probe_reference,
    )

    ref = _clean_probe_reference(str(tmp_path))
    assert ref == {
        "probe_s": CLEAN_PROBE_S,
        "stream_probe_s": CLEAN_STREAM_PROBE_S,
        "derived": False,
    }

    (tmp_path / "CLEAN_PROBE.json").write_text(
        json.dumps({"probe_s": 0.9, "stream_probe_s": 2.5})
    )
    ref = _clean_probe_reference(str(tmp_path))
    assert ref == {"probe_s": 0.9, "stream_probe_s": 2.5, "derived": True}

    # Partial (missing stream probe) and malformed files: constants.
    (tmp_path / "CLEAN_PROBE.json").write_text(json.dumps({"probe_s": 0.9}))
    assert _clean_probe_reference(str(tmp_path))["derived"] is False
    (tmp_path / "CLEAN_PROBE.json").write_text("not json")
    assert _clean_probe_reference(str(tmp_path))["derived"] is False


def test_record_gate_judges_against_derived_reference(tmp_path, monkeypatch, capsys):
    """After a box move, maybe_record_baseline must judge idleness
    against the DERIVED reference, not the dead box's constants — the
    whole point of the portability path."""
    from bench_record import maybe_record_baseline

    # On the new (slower) box the constants would refuse this probe.
    (tmp_path / "CLEAN_PROBE.json").write_text(
        json.dumps({"probe_s": 0.9, "stream_probe_s": 2.5})
    )
    monkeypatch.setenv("SPARK_GRAFT_RECORD_BASELINE", "1")
    monkeypatch.delenv("SPARK_GRAFT_BASELINE_FORCE", raising=False)
    artifact = {
        "calibration": {"probe_s": 0.92, "stream_probe_s": 2.55},
        "queries": {"q": 1.0},
    }
    assert maybe_record_baseline(artifact, str(tmp_path)) == 0
    assert (tmp_path / "BENCH_BASELINE.json").exists()
    # Loaded relative to the derived reference: still refused.
    (tmp_path / "BENCH_BASELINE.json").unlink()
    artifact["calibration"]["stream_probe_s"] = 2.9
    assert maybe_record_baseline(artifact, str(tmp_path)) == 1
    assert not (tmp_path / "BENCH_BASELINE.json").exists()
    assert "stream probe" in capsys.readouterr().err


def test_derive_clean_probe_refuses_loaded_box(tmp_path, monkeypatch, capsys):
    """The derivation path carries the original pins' evidence bar: a
    loaded box is refused BEFORE any Spark work, and nothing is
    written."""
    monkeypatch.setattr(rec, "_loadavg", lambda: [25.0, 20.0, 18.0])
    assert rec.derive_clean_probe(str(tmp_path)) == 1
    assert not (tmp_path / "CLEAN_PROBE.json").exists()
    assert "DERIVATION REFUSED" in capsys.readouterr().err
    # No loadavg facility at all: same refusal (no evidence != idle).
    monkeypatch.setattr(rec, "_loadavg", lambda: [])
    assert rec.derive_clean_probe(str(tmp_path)) == 1
    assert not (tmp_path / "CLEAN_PROBE.json").exists()


def test_unsettled_series_error():
    """The derivation's mid-run-load evidence (a
    loadavg_post gate measured the derivation's own Spark work and
    self-refused every honest run): a series whose tail re-approaches
    its minimum settles; a clean early minimum the tail never touches
    again means load arrived mid-derivation."""
    from bench_record import _unsettled_series_error

    # Settled: tail bottoms within 15% of the best rep.
    assert _unsettled_series_error([0.9, 0.5, 0.46, 0.44, 0.45], "scan") is None
    # Load arrived mid-derivation: early 0.4 minimum, tail stuck ~0.8.
    err = _unsettled_series_error([0.4, 0.45, 0.80, 0.82, 0.85], "scan")
    assert err is not None and "did not settle" in err
    # Too short to be evidence at all.
    assert _unsettled_series_error([0.4, 0.41], "stream") is not None


def test_clean_probe_reference_wrong_shape_falls_back(tmp_path):
    """Valid JSON with the wrong SHAPE (top-level list, non-numeric
    values) must fall back to the constants, not crash the record
    gate at the end of a full bench run (a TypeError
    escaped the old except net)."""
    from bench_record import _clean_probe_reference

    for bad in ("[0.9, 2.5]", '{"probe_s": [1], "stream_probe_s": 2.5}',
                '{"probe_s": 0, "stream_probe_s": 2.5}'):
        (tmp_path / "CLEAN_PROBE.json").write_text(bad)
        assert _clean_probe_reference(str(tmp_path))["derived"] is False


def test_clean_probe_reference_bool_falls_back(tmp_path):
    """ADVICE r07: bool is an int subclass, so a corrupted
    {"probe_s": true} passed the old isinstance numeric check and
    derived a 1.0s reference. Booleans must fall back to the
    constants like any other wrong shape."""
    from bench_record import _clean_probe_reference

    (tmp_path / "CLEAN_PROBE.json").write_text(
        '{"probe_s": true, "stream_probe_s": 2.5}'
    )
    ref = _clean_probe_reference(str(tmp_path))
    assert ref["derived"] is False
    assert ref["probe_s"] != 1.0


def test_unsettled_series_bar_admits_measured_idle_variance():
    """ADVICE r07: the 1.25 bar sat BELOW the measured ~1.3x
    within-session idle jitter its own comment cited — an honest
    derivation whose global minimum lands early and whose tail bottom
    sits on the documented variance peak (0.378 -> 0.486 ~= 1.286x)
    was refused. The bar now matches the measured span."""
    from bench_record import _unsettled_series_error

    # The exact measured-idle shape the old bar refused: early clean
    # minimum 0.378, every tail rep on the jitter peak 0.486
    # (tail_lo/lo = 1.286 — between the two bars, so this series
    # DISCRIMINATES them; a tail that dips below 1.25x of the minimum
    # would pass either bar and pin nothing).
    peak_tail = [0.378, 0.45, 0.486, 0.486, 0.486]
    assert _unsettled_series_error(peak_tail, "scan") is None
    assert (  # the old bar really did refuse it — the regression guard
        _unsettled_series_error(peak_tail, "scan", max_ratio=1.25) is not None
    )
    # A real load wave (2x+) is still refused.
    assert (
        _unsettled_series_error([0.378, 0.40, 0.80, 0.85, 0.82], "scan")
        is not None
    )


def test_idle_wait_budget_parsing():
    """SPARK_GRAFT_WAIT_IDLE defaults ON (bounded) so an
    env-var-free invocation inherits the idleness protocol — the r07
    verdict's motivation; unset and unparseable values fall back to
    the bounded default, and only an explicit non-positive value opts
    out. Every branch stays finite (never-block guarantee)."""
    from bench_record import DEFAULT_IDLE_WAIT_S, idle_wait_budget_s

    assert 0.0 < DEFAULT_IDLE_WAIT_S <= 3600.0  # bounded by design
    assert idle_wait_budget_s({}) == DEFAULT_IDLE_WAIT_S
    # Set-but-junk falls back to the default rather than silently
    # disabling the protection a typo meant to tune.
    assert (
        idle_wait_budget_s({"SPARK_GRAFT_WAIT_IDLE": "banana"})
        == DEFAULT_IDLE_WAIT_S
    )
    # Explicit non-positive is the opt-out — including -inf, which is
    # a valid float the pre-default code also mapped to no-wait
    # (the opt-out check must precede the isfinite
    # fallback).
    assert idle_wait_budget_s({"SPARK_GRAFT_WAIT_IDLE": "-5"}) == 0.0
    assert idle_wait_budget_s({"SPARK_GRAFT_WAIT_IDLE": "0"}) == 0.0
    assert idle_wait_budget_s({"SPARK_GRAFT_WAIT_IDLE": "-inf"}) == 0.0
    # A deliberate blank (`SPARK_GRAFT_WAIT_IDLE= python rec.py`,
    # or an empty interpolated shell variable) is the common idiom
    # for disabling a knob: opt-out, not a typo.
    assert idle_wait_budget_s({"SPARK_GRAFT_WAIT_IDLE": ""}) == 0.0
    assert idle_wait_budget_s({"SPARK_GRAFT_WAIT_IDLE": "  "}) == 0.0
    assert idle_wait_budget_s({"SPARK_GRAFT_WAIT_IDLE": "600"}) == 600.0
    # float() accepts 'inf'/'1e400'/'nan': an
    # infinite budget would make wait_for_idle loop forever on a
    # loaded box — the never-block guarantee must hold; both fall back
    # to the bounded default, and any finite budget is capped at one
    # hour.
    assert (
        idle_wait_budget_s({"SPARK_GRAFT_WAIT_IDLE": "inf"})
        == DEFAULT_IDLE_WAIT_S
    )
    assert (
        idle_wait_budget_s({"SPARK_GRAFT_WAIT_IDLE": "1e400"})
        == DEFAULT_IDLE_WAIT_S
    )
    assert (
        idle_wait_budget_s({"SPARK_GRAFT_WAIT_IDLE": "nan"})
        == DEFAULT_IDLE_WAIT_S
    )
    assert idle_wait_budget_s({"SPARK_GRAFT_WAIT_IDLE": "7200"}) == 3600.0


def test_wait_for_idle_already_idle_returns_immediately():
    """An idle box (1-min loadavg under the FORCE bar) must not sleep
    at all — the wait is for load waves, not a fixed delay."""
    from bench_record import wait_for_idle

    slept: list[float] = []
    out = wait_for_idle(
        600.0,
        cpus=32,
        loadavg_fn=lambda: [0.45, 0.7, 1.7],
        sleep_fn=slept.append,
    )
    assert out["satisfied"] is True
    assert out["waited_s"] == 0.0 and slept == []
    assert out["bar"] == pytest.approx(3.2)


def test_wait_for_idle_waits_out_a_load_wave():
    """The r07 bench artifact's loadavg-6.55 window: the wait polls
    until the wave passes, then releases the suite with the improved
    window recorded."""
    from bench_record import wait_for_idle

    series = [[6.55, 5.0, 4.0], [5.2, 5.0, 4.1], [2.9, 4.2, 4.0]]
    calls = {"n": 0}

    def fake_loadavg():
        la = series[min(calls["n"], len(series) - 1)]
        calls["n"] += 1
        return la

    slept: list[float] = []
    out = wait_for_idle(
        600.0, poll_s=5.0, cpus=32, loadavg_fn=fake_loadavg,
        sleep_fn=slept.append,
    )
    assert out["satisfied"] is True
    assert out["loadavg_first"] == 6.55 and out["loadavg_last"] == 2.9
    assert out["polls"] == 3 and slept == [5.0, 5.0]
    assert out["waited_s"] == 10.0


def test_wait_for_idle_refusal_is_bounded_and_documented(capsys):
    """A wave that outlasts the budget must NOT block the caller:
    the wait gives up at the budget, logs the refusal, and the
    artifact records satisfied=False for the judge."""
    from bench_record import wait_for_idle

    slept: list[float] = []
    out = wait_for_idle(
        12.0, poll_s=5.0, cpus=32, loadavg_fn=lambda: [8.0, 7.0, 6.0],
        sleep_fn=slept.append,
    )
    assert out["satisfied"] is False
    assert out["waited_s"] == pytest.approx(12.0)
    assert slept == [5.0, 5.0, 2.0]  # bounded: never sleeps past budget
    assert "WAIT_IDLE REFUSED" in capsys.readouterr().err


def test_wait_for_idle_zero_budget_never_sleeps():
    """With the explicit opt-out (SPARK_GRAFT_WAIT_IDLE=0 → budget 0)
    a loaded box proceeds straight to the suite without sleeping."""
    from bench_record import wait_for_idle

    slept: list[float] = []
    out = wait_for_idle(
        0.0, cpus=32, loadavg_fn=lambda: [8.0, 7.0, 6.0],
        sleep_fn=slept.append,
    )
    assert out["satisfied"] is False and slept == []


def test_artifact_surfaces_clean_probe_reference(monkeypatch):
    """VERDICT r07 item 5: the clean-probe reference the record gate
    judges against must be visible in every calibrated artifact
    (calibration.clean_probe with a derived flag), not only at
    recording time."""
    monkeypatch.setattr(rec, "_baseline_probe", lambda here=None: 0.4)
    monkeypatch.setattr(rec, "_baseline_stream_probe", lambda here=None: 1.3)
    # Constants in force (no CLEAN_PROBE.json next to the script).
    monkeypatch.setattr(
        rec,
        "_clean_probe_reference",
        lambda here=None: {"probe_s": 0.335, "stream_probe_s": 1.337,
                           "derived": False},
    )
    cal = {"probe_s": 0.4, "stream_probe_s": 1.3}
    art = rec.calibrated_artifact(_artifact({"q": 1.0}), cal, {})
    cp = art["calibration"]["clean_probe"]
    assert cp == {"probe_s": 0.335, "stream_probe_s": 1.337, "derived": False}

    # A derived reference flips the flag and carries its values.
    monkeypatch.setattr(
        rec,
        "_clean_probe_reference",
        lambda here=None: {"probe_s": 0.412, "stream_probe_s": 1.931,
                           "derived": True},
    )
    art = rec.calibrated_artifact(_artifact({"q": 1.0}), cal, {})
    assert art["calibration"]["clean_probe"]["derived"] is True


def test_recorded_baseline_carries_the_enforced_clean_probe(tmp_path, monkeypatch):
    """With a custom ``here`` the record gate can judge
    against a different CLEAN_PROBE.json than the one calibrated_artifact
    stamped into the artifact (rec.py's own dir). The RECORDED
    baseline must carry the reference the gate actually enforced."""
    import bench_record as b

    (tmp_path / "CLEAN_PROBE.json").write_text(
        '{"probe_s": 0.412, "stream_probe_s": 1.931}'
    )
    monkeypatch.setenv("SPARK_GRAFT_RECORD_BASELINE", "1")
    art = {
        "calibration": {
            "probe_s": 0.40,
            "stream_probe_s": 1.90,
            # What a run on the DEFAULT dir (constants) stamped:
            "clean_probe": {"probe_s": 0.454, "stream_probe_s": 1.337,
                            "derived": False},
        }
    }
    assert b.maybe_record_baseline(art, here=str(tmp_path)) == 0
    rec = json.loads((tmp_path / "BENCH_BASELINE.json").read_text())
    cp = rec["calibration"]["clean_probe"]
    assert cp == {"probe_s": 0.412, "stream_probe_s": 1.931, "derived": True}


def test_wait_for_idle_refuses_the_eye_of_a_wave():
    """Measured failure (SCALING.md r08): the 1-minute average dipped
    to 3.03 mid-wave while the 5-minute average was still 6.55; the
    wait released and the suite ran straight into the wave's
    resumption. The release condition now also requires the 5-minute
    average under 2x the bar."""
    from bench_record import wait_for_idle

    series = [
        [3.03, 6.55, 4.40],  # the live mid-wave dip: la5 still hot
        [2.90, 6.50, 4.40],
        [0.90, 2.10, 3.00],  # the wave genuinely over
    ]
    calls = {"n": 0}

    def fake_loadavg():
        la = series[min(calls["n"], len(series) - 1)]
        calls["n"] += 1
        return la

    slept: list[float] = []
    out = wait_for_idle(
        600.0, poll_s=5.0, cpus=32, loadavg_fn=fake_loadavg,
        sleep_fn=slept.append,
    )
    assert out["satisfied"] is True
    assert out["polls"] == 3  # the two mid-wave dips did NOT release
    assert out["loadavg_last"] == 0.90


def test_probe_clean_flag_truth_table():
    """VERDICT r08 item 6: the probe-clean partition is a pure
    predicate — both probes within the ratio of their clean-box pins;
    a missing probe is NOT clean (no evidence is not evidence of
    idleness)."""
    ref = {"probe_s": 1.0, "stream_probe_s": 2.0}
    assert rec.probe_clean_flag(1.04, 2.08, ref, max_ratio=1.05) is True
    assert rec.probe_clean_flag(1.06, 2.0, ref, max_ratio=1.05) is False
    assert rec.probe_clean_flag(1.0, 2.2, ref, max_ratio=1.05) is False
    assert rec.probe_clean_flag(None, 2.0, ref) is False
    assert rec.probe_clean_flag(1.0, None, ref) is False
    assert rec.probe_clean_flag(0.0, 2.0, ref) is False


def test_artifact_probe_clean_field(monkeypatch):
    """The artifact says probe_clean itself (VERDICT r08 item 6) —
    true when both probes sit within BASELINE_MAX_PROBE_RATIO of the
    clean-probe reference, false otherwise."""
    monkeypatch.setattr(
        rec,
        "_clean_probe_reference",
        lambda here=None: {
            "probe_s": 1.0,
            "stream_probe_s": 2.0,
            "derived": False,
        },
    )
    for probe, sprobe, want in [(1.0, 2.0, True), (1.2, 2.0, False)]:
        art = rec.calibrated_artifact(
            _artifact({"q": 1.0}),
            {"probe_s": probe, "stream_probe_s": sprobe},
            {},
        )
        assert art["probe_clean"] is want


def test_worst_probe_junk_window_cannot_hide_behind_quiet_one():
    """ADVICE r10: with exactly one valid window and one PRESENT-but-
    junk window, _worst_probe used to return the lone valid window —
    a corrupt loaded window let the quiet one mark the run clean, and
    a recorded scalar above the survivor broke the 'flag-true implies
    gate-pass' invariant. Junk windows now fold the recorded scalar
    back in (max), and with nothing valid left the probe is missing,
    not clean."""
    # Quiet valid pre + junk post + larger recorded scalar: the scalar
    # must win (gate judges it; the flag may not read below the gate).
    assert rec._worst_probe(
        {"probe_s": 0.5, "probe_pre_s": 0.35, "probe_post_s": True}, "probe"
    ) == 0.5
    # Junk window with the surviving window ABOVE the scalar: keep the
    # worse (max) of the two.
    assert rec._worst_probe(
        {"probe_s": 0.4, "probe_pre_s": -3.0, "probe_post_s": 0.6}, "probe"
    ) == 0.6
    # Junk window and junk scalar: no evidence is not evidence of
    # idleness.
    assert rec._worst_probe(
        {"probe_s": True, "probe_pre_s": 0.35, "probe_post_s": float("nan")},
        "probe",
    ) is None
    # Both windows ABSENT (old artifacts) still falls back to the
    # scalar; with one window absent and one valid the scalar folds
    # into the max too (ADVICE r11: probe_s is min(pre,post) by
    # construction so this is a no-op on consistent artifacts, but a
    # hand-fed scalar ABOVE the lone surviving window must not let
    # probe_clean read true while the record gate judging the scalar
    # fails).
    assert rec._worst_probe({"probe_s": 0.4}, "probe") == 0.4
    assert rec._worst_probe({"probe_s": 0.4, "probe_post_s": 0.37}, "probe") == 0.4
    assert rec._worst_probe({"probe_s": 0.3, "probe_post_s": 0.37}, "probe") == 0.37


def test_baseline_record_refuses_sf_mismatch(tmp_path, monkeypatch, capsys):
    """A recording at a different scale factor than the
    standing baseline silently re-anchors every per-query bar to a
    different workload — refused without FORCE, like a hardware
    change."""
    monkeypatch.setenv("SPARK_GRAFT_RECORD_BASELINE", "1")
    monkeypatch.delenv("SPARK_GRAFT_BASELINE_FORCE", raising=False)
    monkeypatch.setattr(rec, "_baseline_sf", lambda here=None: 0.1)
    art = {
        "sf": 0.001,
        "calibration": {"probe_s": 0.4, "stream_probe_s": 1.3},
        "load": {"loadavg_pre": [0.1], "cpus": 32},
    }
    assert rec.maybe_record_baseline(art, here=str(tmp_path)) == 1
    assert "sf=0.001 against a standing sf=0.1" in capsys.readouterr().err
    assert not (tmp_path / "BENCH_BASELINE.json").exists()

    # ADVICE r11: a MISSING artifact sf is a mismatch too — a hand-fed
    # or pre-sf artifact of unknown scale must not re-anchor a
    # standing sf'd baseline without FORCE.
    no_sf = {
        "calibration": {"probe_s": 0.4, "stream_probe_s": 1.3},
        "load": {"loadavg_pre": [0.1], "cpus": 32},
    }
    assert rec.maybe_record_baseline(no_sf, here=str(tmp_path)) == 1
    assert "sf=unknown against a standing sf=0.1" in capsys.readouterr().err
    assert not (tmp_path / "BENCH_BASELINE.json").exists()


def test_probe_pickers_reject_junk_fallback_scalars():
    """The windowed paths validated pre/post values but both
    fallbacks passed the recorded scalar through unvalidated — a
    junk probe_s (JSON true, a negative, inf) reached probe_clean_flag
    where a negative ratio compares 'clean'."""
    for junk in (True, -1.0, 0, float("inf"), float("nan"), "fast"):
        assert rec._worst_probe({"probe_s": junk}, "probe") is None
        assert rec._settled_stream_probe({"stream_probe_s": junk}) is None
    assert rec._worst_probe({}, "probe") is None
    assert rec._settled_stream_probe({}) is None


def test_probe_clean_judged_on_worst_window(monkeypatch):
    """ADVICE r09: probe_s is min(pre, post), so a run whose post
    window caught a load wave used to read probe_clean=true. The flag
    judges the SCAN probe's worst window (symmetric instrument) and
    the STREAM probe's settled POST window — its pre window is
    structurally warmup-confounded (measured floor 1.50-1.78 vs the
    1.337 pin on 14/14 recorded artifacts including idle boxes, so a
    worst-window stream gate can never pass; r10 deconfound). A
    single-probe calibration (no pre/post detail) falls back to
    probe_s / stream_probe_s."""
    monkeypatch.setattr(
        rec, "_clean_probe_reference",
        lambda here=None: {"probe_s": 1.0, "stream_probe_s": 2.0,
                           "derived": False},
    )

    def flag_for(cal):
        return rec.calibrated_artifact(_artifact({"q": 1.0}), cal, {})["probe_clean"]

    # Clean scan pre window, loaded scan post window: min() says
    # clean, worst window says NOT clean.
    assert flag_for({"probe_s": 1.0, "probe_pre_s": 1.0, "probe_post_s": 1.4,
                     "stream_probe_s": 2.0}) is False
    # Both windows clean on both probes -> clean.
    assert flag_for({"probe_s": 1.0, "probe_pre_s": 1.02, "probe_post_s": 1.0,
                     "stream_probe_s": 2.0, "stream_probe_pre_s": 2.04,
                     "stream_probe_post_s": 2.0}) is True
    # Stream post window loaded -> not clean (post IS the judged
    # window, and it is >= the recorded min by construction).
    assert flag_for({"probe_s": 1.0, "stream_probe_s": 2.0,
                     "stream_probe_pre_s": 2.0,
                     "stream_probe_post_s": 2.3}) is False
    # Warmup-confounded stream PRE window with a settled clean post:
    # clean — the exact shape every idle-box run records (r10: pre
    # 1.5-1.66 vs pin 1.337 on loadavg-0.00 windows), which a
    # worst-window stream gate mis-read as load.
    assert flag_for({"probe_s": 1.0, "probe_pre_s": 1.0, "probe_post_s": 1.0,
                     "stream_probe_s": 2.0, "stream_probe_pre_s": 2.4,
                     "stream_probe_post_s": 2.02}) is True
    # Fallback: no window detail, judged on probe_s itself.
    assert flag_for({"probe_s": 1.0, "stream_probe_s": 2.0}) is True
    assert rec._worst_probe({"probe_s": 0.4}, "probe") == 0.4
    assert rec._worst_probe(
        {"probe_s": 0.4, "probe_pre_s": 0.5, "probe_post_s": 0.45}, "probe"
    ) == 0.5
    # _settled_stream_probe: post window when present, else the
    # recorded scalar; junk post values fall through.
    assert rec._settled_stream_probe(
        {"stream_probe_s": 1.3, "stream_probe_pre_s": 1.6,
         "stream_probe_post_s": 1.35}
    ) == 1.35
    assert rec._settled_stream_probe({"stream_probe_s": 1.3}) == 1.3
    assert rec._settled_stream_probe(
        {"stream_probe_s": 1.3, "stream_probe_post_s": True}
    ) == 1.3
    assert rec._settled_stream_probe(
        {"stream_probe_s": 1.3, "stream_probe_post_s": 0.0}
    ) == 1.3


def _fake_probe_seq(mins):
    """A probe_fn whose successive calls return the given settled
    mins (series = [min] for brevity); records call count."""
    calls = {"n": 0}

    def fn():
        i = min(calls["n"], len(mins) - 1)
        calls["n"] += 1
        return mins[i], [mins[i]]

    fn.calls = calls
    return fn


class _FakeClock:
    """Deterministic clock: advances only via explicit sleep."""

    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t

    def sleep(self, s):
        self.t += s


def test_probe_admission_truth_table():
    """The admission truth table (VERDICT r12 item 1): clean first
    probe releases immediately; a dirty probe retries on the poll
    cadence within the budget and releases the moment a window reads
    clean; budget exhaustion proceeds with satisfied=False (never
    block); a missing pin judges nothing (satisfied=None)."""
    pin = 0.454
    bar = rec.PROBE_ADMIT_RATIO * pin

    # 1. Clean first window: one attempt, no waiting.
    clk = _FakeClock()
    ev, best, series = rec.probe_admission(
        _fake_probe_seq([0.46]), pin, 600.0, sleep_fn=clk.sleep, clock=clk
    )
    assert ev["satisfied"] is True
    assert ev["attempts"] == 1 and ev["attempt_mins"] == [0.46]
    assert best == 0.46 and series == [0.46]
    assert ev["bar_s"] == round(bar, 3)

    # 2. Dirty then clean: retries until the clean window, returns
    #    the ADMITTED window's value (the one the suite enters).
    clk = _FakeClock()
    fn = _fake_probe_seq([2.0, 1.1, 0.45])
    ev, best, series = rec.probe_admission(
        fn, pin, 600.0, sleep_fn=clk.sleep, clock=clk
    )
    assert ev["satisfied"] is True
    assert ev["attempts"] == 3 and fn.calls["n"] == 3
    assert ev["attempt_mins"] == [2.0, 1.1, 0.45]
    assert best == 0.45

    # 3. Never clean: bounded retries, refusal recorded, proceeds —
    #    and the budget bounds the wall (poll 20s → ~30 attempts in
    #    600s, never an unbounded loop).
    clk = _FakeClock()
    fn = _fake_probe_seq([3.0])
    ev, best, series = rec.probe_admission(
        fn, pin, 100.0, sleep_fn=clk.sleep, clock=clk
    )
    assert ev["satisfied"] is False
    assert best == 3.0
    assert ev["waited_s"] <= 100.0 + rec.PROBE_ADMIT_POLL_S
    assert ev["attempts"] == fn.calls["n"] >= 2

    # 4. Zero budget + dirty: single probe, immediate refusal.
    clk = _FakeClock()
    ev, best, _ = rec.probe_admission(
        _fake_probe_seq([3.0]), pin, 0.0, sleep_fn=clk.sleep, clock=clk
    )
    assert ev["satisfied"] is False and ev["attempts"] == 1

    # 5. No pin (None / junk): nothing to judge — one probe,
    #    satisfied stays None (absence of a bar is not cleanliness).
    for junk in (None, 0.0, True, float("nan")):
        clk = _FakeClock()
        ev, best, _ = rec.probe_admission(
            _fake_probe_seq([3.0]), junk, 600.0, sleep_fn=clk.sleep, clock=clk
        )
        assert ev["satisfied"] is None and ev["attempts"] == 1
        assert ev["pin_s"] is None and ev["bar_s"] is None


def test_probe_admission_budget_counts_probe_time():
    """The never-block bound must count the probes' own wall, not
    just the sleeps — on a loaded box each settled probe can itself
    take tens of seconds (r12: a 23 s probe rep), and a sleep-only
    budget would overrun by attempts x probe-cost."""
    clk = _FakeClock()

    def slow_probe():
        clk.sleep(50.0)  # each probe costs 50s of wall
        return 3.0, [3.0]

    ev, _, _ = rec.probe_admission(
        slow_probe, 0.454, 120.0, sleep_fn=clk.sleep, clock=clk
    )
    assert ev["satisfied"] is False
    # 50 (probe) + 20 (poll) + 50 (probe) + 20 (poll) = 140 > 120:
    # the loop must stop by then, not keep probing.
    assert ev["attempts"] <= 3
    assert clk.t <= 120.0 + rec.PROBE_ADMIT_POLL_S + 50.0


def test_admit_ratio_env_override():
    """VERDICT r15 item 1 support: a tightening campaign can demand a
    stricter admission bar (SPARK_GRAFT_PROBE_ADMIT_RATIO) so runs
    hold out for near-pin windows instead of burning a suite run on a
    warm window's stamp-only patch. Default unchanged; garbage values
    fall back loudly rather than gating on nonsense."""
    assert rec._admit_ratio_from_env(env={}) == rec.PROBE_ADMIT_RATIO
    assert rec._admit_ratio_from_env(
        env={"SPARK_GRAFT_PROBE_ADMIT_RATIO": ""}
    ) == rec.PROBE_ADMIT_RATIO
    assert rec._admit_ratio_from_env(
        env={"SPARK_GRAFT_PROBE_ADMIT_RATIO": "1.02"}
    ) == 1.02
    for garbage in ("nope", "0", "-3"):
        assert rec._admit_ratio_from_env(
            env={"SPARK_GRAFT_PROBE_ADMIT_RATIO": garbage}
        ) == rec.PROBE_ADMIT_RATIO


def test_probe_admission_retries_use_light_reprobe():
    """Retry attempts must run the cheap window-sample probe, not the
    full 12-rep settle barrier (r13 smoke: one full settle probe on a
    loaded window burned 190 s of budget in a single attempt)."""
    clk = _FakeClock()
    full = _fake_probe_seq([3.0])
    light = _fake_probe_seq([2.0, 0.45])
    ev, best, series = rec.probe_admission(
        full, 0.454, 600.0, sleep_fn=clk.sleep, clock=clk, reprobe_fn=light
    )
    assert full.calls["n"] == 1          # settle barrier ran exactly once
    assert light.calls["n"] == 2         # retries on the light probe
    assert ev["satisfied"] is True
    assert ev["attempt_mins"] == [3.0, 2.0, 0.45]
    assert best == 0.45                  # admitted window's value


def test_probe_admission_no_pin_records_waited():
    """ADVICE r13 (rec.py probe_admission): the no-pin early return
    must still stamp waited_s with the mandatory first probe's wall —
    the docstring promises 'waited_s is the wall from admission
    start, INCLUDING the mandatory first probe' on EVERY path."""
    clk = _FakeClock()

    def slow_probe():
        clk.sleep(7.0)
        return 3.0, [3.0]

    ev, _, _ = rec.probe_admission(
        slow_probe, None, 600.0, sleep_fn=clk.sleep, clock=clk
    )
    assert ev["satisfied"] is None
    assert ev["waited_s"] == 7.0


def test_probe_admission_zero_budget_refusal_is_logged(capsys):
    """ADVICE r13: a dirty first probe with budget_s already 0 (the
    idle wait ate it) is a refusal and must print PROBE_ADMISSION
    REFUSED — stderr must match the artifact's satisfied=False on
    every refusal path, not only the retry one."""
    clk = _FakeClock()
    ev, _, _ = rec.probe_admission(
        _fake_probe_seq([3.0]), 0.454, 0.0, sleep_fn=clk.sleep, clock=clk
    )
    assert ev["satisfied"] is False
    assert "PROBE_ADMISSION REFUSED" in capsys.readouterr().err


def test_derivation_vs_standing_guard():
    """r14 field finding: a same-box re-derivation landing on a
    hypervisor wave (loadavg_pre 0.20, scan probe 4.2x the standing
    reference, settle-tail check passed because the series ENDED near
    its inflated minimum) must be refused — values far above the
    standing reference are a wave, not a clean floor. A genuine
    hardware move says so explicitly via SPARK_GRAFT_DERIVE_FORCE."""
    ref = {"probe_s": 0.454, "stream_probe_s": 1.337}

    # At/below or mildly above the standing reference: accepted.
    assert rec._derivation_vs_standing_error(0.406, 1.576, ref, env={}) is None
    assert rec._derivation_vs_standing_error(0.454, 1.337, ref, env={}) is None
    assert rec._derivation_vs_standing_error(0.60, 1.9, ref, env={}) is None

    # The r14 wave recording: scan 1.904 = 4.2x — refused, named.
    err = rec._derivation_vs_standing_error(1.904, 2.274, ref, env={})
    assert err is not None and "scan" in err and "4.19x" in err

    # Stream-only elevation past the bar is refused too.
    err = rec._derivation_vs_standing_error(0.40, 2.1, ref, env={})
    assert err is not None and "stream" in err

    # Box-move escape hatch: explicit force accepts.
    assert (
        rec._derivation_vs_standing_error(
            1.904, 2.274, ref, env={"SPARK_GRAFT_DERIVE_FORCE": "1"}
        )
        is None
    )

    # Junk standing reference judges nothing (new-box first derive).
    assert (
        rec._derivation_vs_standing_error(
            5.0, 5.0, {"probe_s": None, "stream_probe_s": None}, env={}
        )
        is None
    )


def test_record_vs_standing_ratchet_guard():
    """r14 field finding: the first recording the re-pinned gates
    accepted read a 1.26x MEDIAN vs the standing baseline (a wave
    crossed the suite between clean probe brackets). A full re-record
    whose median per-query ratio exceeds 1.10x must be refused;
    a genuinely clean or improved recording passes; one structurally
    shifted family among many cannot move the median."""
    standing = {f"q{i}": 1.0 for i in range(24)}

    # The field shape: ~all queries 1.13-1.52x -> refused, named.
    waved = {k: 1.26 for k in standing}
    err = rec._record_vs_standing_error(waved, standing)
    assert err is not None and "1.26x" in err

    # Clean recording at parity / improvement: accepted.
    assert rec._record_vs_standing_error(dict(standing), standing) is None
    assert (
        rec._record_vs_standing_error({k: 0.9 for k in standing}, standing)
        is None
    )

    # A 5-of-24 family shift (streams) leaves the median at 1.0.
    shifted = {k: (1.4 if i < 5 else 1.0) for i, k in enumerate(standing)}
    assert rec._record_vs_standing_error(shifted, standing) is None

    # Too little overlap judges nothing (fresh repo / renames).
    assert rec._record_vs_standing_error({"a": 9.0}, {"a": 1.0}) is None
    assert rec._record_vs_standing_error({}, standing) is None


def test_patch_baseline_queries_tightens_never_loosens(tmp_path, capsys):
    """VERDICT r13 item 2: the reps-parity patch updates ONLY the
    named queries, only DOWNWARD (min(observed, standing)), merges
    their reps_overrides, recomputes the sum, and appends a
    provenance record — so the parity stamp can never reintroduce
    the full-record ratchet."""
    path = str(tmp_path / "BENCH_BASELINE.json")
    standing = {
        "value": 4.0,
        "queries": {"qa": 2.0, "qb": 1.0, "qc": 1.0},
        "reps_overrides": {"qc": 5},
        "calibration": {"probe_s": 0.335},
    }
    with open(path, "w") as f:
        json.dump(standing, f)

    artifact = {
        "sf": 0.1,
        "queries": {"qa": 1.8, "qb": 1.4, "qc": 0.9},
        "reps_overrides": {"qa": 5, "qb": 5},
        "calibration": {"probe_s": 0.41, "stream_probe_s": 1.6},
        "load": {"loadavg_pre": [0.5, 1.0, 1.5]},
    }
    ref = {"probe_s": 0.406, "stream_probe_s": 1.576, "derived": True}
    rc = rec._patch_baseline_queries(artifact, "qa,qb", path, ref)
    assert rc == 0
    out = json.load(open(path))
    # qa tightened 2.0 -> 1.8; qb observed 1.4 ABOVE standing 1.0:
    # stamped at the floor, NOT loosened.
    assert out["queries"] == {"qa": 1.8, "qb": 1.0, "qc": 1.0}
    assert out["value"] == 3.8
    # reps parity stamped for the named queries; qc's survives.
    assert out["reps_overrides"] == {"qa": 5, "qb": 5, "qc": 5}
    p = out["patches"][-1]
    assert p["patched"] == {"qa": {"from": 2.0, "to": 1.8}}
    assert p["stamped"] == {"qb": {"standing": 1.0, "observed": 1.4}}
    assert p["clean_probe"] == ref and p["sf"] == 0.1
    assert "BASELINE PATCHED" in capsys.readouterr().err

    # Refusals: a query absent from the recording or the standing
    # baseline, and a missing standing file.
    assert rec._patch_baseline_queries(artifact, "nope", path, ref) == 1
    assert "not in this recording" in capsys.readouterr().err
    artifact2 = dict(artifact, queries={"zz": 1.0})
    assert rec._patch_baseline_queries(artifact2, "zz", path, ref) == 1
    assert "not in the standing baseline" in capsys.readouterr().err
    assert (
        rec._patch_baseline_queries(
            artifact, "qa", str(tmp_path / "missing.json"), ref
        )
        == 1
    )
    assert "no readable standing baseline" in capsys.readouterr().err


def test_derivation_bounded_by_pinned_constants():
    """ADVICE r14: once CLEAN_PROBE.json stands, the standing reference
    IS the previous derivation, so judging only against it compounds
    1.5x loosening per derivation. Each pin is judged against
    min(standing, original pinned constant), capping CUMULATIVE drift
    from CLEAN_PROBE_S / CLEAN_STREAM_PROBE_S at the max ratio."""
    # The shipped r14 state: stream pin 1.576 sits ABOVE the 1.337
    # constant. A re-derivation at 2.1s is 1.33x of the standing pin
    # (old guard: accepted) but 1.57x of the constant — refused.
    ref = {"probe_s": 0.406, "stream_probe_s": 1.576}
    err = rec._derivation_vs_standing_error(0.40, 2.1, ref, env={})
    assert err is not None and "stream" in err and "pinned-constant" in err

    # Within the cumulative bound: accepted (1.9 / 1.337 = 1.42x).
    assert rec._derivation_vs_standing_error(0.40, 1.9, ref, env={}) is None

    # Scan side: standing 0.406 is BELOW the 0.454 constant, so the
    # tighter standing pin is the bound (0.65 / 0.406 = 1.60x refused
    # even though 0.65 / 0.454 = 1.43x would pass vs the constant).
    err = rec._derivation_vs_standing_error(0.65, 1.5, ref, env={})
    assert err is not None and "scan" in err and "standing" in err

    # FORCE still escapes for a genuine hardware move.
    assert (
        rec._derivation_vs_standing_error(
            0.40, 2.1, ref, env={"SPARK_GRAFT_DERIVE_FORCE": "1"}
        )
        is None
    )


def test_patch_baseline_updates_sibling_fields(tmp_path, capsys):
    """ADVICE r14 + r15: a tightening patch recomputes value but used
    to leave comparable.sum_now and wall_s describing the PRE-patch
    recording. The r14 fix set sum_now = value, but sum_now is a
    GATED-subset sum (queries present in the then-prior baseline) —
    equating it with the full-suite value conflates the two whenever
    the standing baseline carries an entry the prior baseline lacked
    (ADVICE r15). Neither field is recomputable across mixed
    vintages, so BOTH comparable and wall_s are dropped and the drops
    recorded; a stamp-only patch changes no value so nothing moves."""
    path = str(tmp_path / "BENCH_BASELINE.json")
    standing = {
        "value": 4.0,
        "wall_s": 86.1,
        "comparable": {"queries": 3, "sum_now": 4.0, "sum_baseline": 5.0},
        "queries": {"qa": 2.0, "qb": 1.0, "qc": 1.0},
        "reps_overrides": {},
    }
    with open(path, "w") as f:
        json.dump(standing, f)
    ref = {"probe_s": 0.406, "stream_probe_s": 1.576, "derived": True}

    # Stamp-only patch first: observed above standing -> no tightening,
    # siblings untouched (they are not stale).
    stamp_art = {
        "sf": 0.1,
        "queries": {"qa": 2.5},
        "reps_overrides": {"qa": 5},
        "calibration": {},
        "load": {},
    }
    assert rec._patch_baseline_queries(stamp_art, "qa", path, ref) == 0
    out = json.load(open(path))
    assert out["value"] == 4.0 and out["wall_s"] == 86.1
    assert out["comparable"]["sum_now"] == 4.0
    assert out["patches"][-1]["dropped_stale"] == []

    # Tightening patch: qa 2.0 -> 1.8; value moves, the stale
    # single-recording views (comparable, wall_s) are dropped and the
    # drops are in the provenance record.
    tighten_art = dict(stamp_art, queries={"qa": 1.8})
    assert rec._patch_baseline_queries(tighten_art, "qa", path, ref) == 0
    out = json.load(open(path))
    assert out["value"] == 3.8
    assert "comparable" not in out
    assert "wall_s" not in out
    assert out["patches"][-1]["dropped_stale"] == ["comparable", "wall_s"]
    capsys.readouterr()
