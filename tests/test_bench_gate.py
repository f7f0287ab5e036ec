"""bench.py's contract with its callers, pinned without a Spark session:
the fixed regression check against BENCH_BASELINE.json, the last stdout
line, the BENCH_SELF.json layout, and the teardown order (artifact,
streams, session, then the metric line). The second half pins
bench_record.py, the guarded path that re-records the bars: its knob
set, the calibration probes' settle rule, the clean-probe pin and its
derivation, and the record gates."""

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
              "SPARK_GRAFT_DERIVE_FORCE"):
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


def test_bench_record_reads_exactly_its_knobs():
    """bench_record.py's environment surface, counted as string
    literals rather than ``environ.get`` calls because
    ``_derivation_vs_standing_error`` reads through an ``env``
    argument."""
    import ast

    with open(os.path.join(bench.HERE, "bench_record.py")) as f:
        tree = ast.parse(f.read())
    names = {
        n.value
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and re.fullmatch(r"SPARK_GRAFT_\w+", n.value)
    }
    assert names == {
        "SPARK_GRAFT_RECORD_BASELINE",
        "SPARK_GRAFT_BASELINE_FORCE",
        "SPARK_GRAFT_DERIVE_CLEAN_PROBE",
        "SPARK_GRAFT_DERIVE_FORCE",
        "SPARK_GRAFT_SF_DIR",
    }


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
