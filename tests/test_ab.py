"""scripts/ab.py's summary of interleaved pairs, on synthetic results."""

from __future__ import annotations

import importlib.util
import os

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location("ab", os.path.join(_ROOT, "scripts", "ab.py"))
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

E2E = [
    {"name": "latency_ms", "better": "lower", "bound": 0.24},
    {"name": "events", "better": "higher", "bound": 0.1},
]


def test_summarize_quartiles_wins_and_gap():
    base = [100.0, 110.0, 120.0, 130.0, 140.0]
    change = [90.0, 100.0, 125.0, 105.0, 115.0]
    pairs = [({"latency_ms": b, "events": b}, {"latency_ms": c, "events": c})
             for b, c in zip(base, change)]
    out = ab.summarize(pairs, E2E)
    lat = out["latency_ms"]
    assert lat["base"] == [110.0, 120.0, 130.0]
    assert lat["change"] == [100.0, 105.0, 115.0]
    # Lower is better: the change won 4 of 5 pairs (125 > 120 lost).
    assert (lat["won"], lat["pairs"]) == (4, 5)
    assert lat["gap"] == -15.0
    assert lat["gap_over_iqr"] == pytest.approx(-15.0 / 20.0)
    assert lat["worse_frac"] == pytest.approx(-15.0 / 120.0)
    assert lat["bound"] == 0.24
    # Higher is better: the same numbers are one win and a worsening.
    ev = out["events"]
    assert ev["won"] == 1
    assert ev["worse_frac"] == pytest.approx(15.0 / 120.0)


def test_summarize_skips_missing_metrics_and_flat_iqr():
    pairs = [({"latency_ms": 5.0}, {"latency_ms": 5.0})] * 3
    out = ab.summarize(pairs, E2E)
    assert set(out) == {"latency_ms"}
    assert out["latency_ms"]["won"] == 0
    assert out["latency_ms"]["gap_over_iqr"] is None


def test_percentile_is_perfbench_stats():
    import stats

    assert ab.percentile is stats.percentile


def test_run_counts_a_malformed_last_line_as_failed(monkeypatch):
    """A run whose exit code is 0 but whose last stdout line is not a
    correct run's JSON object is one failed run, not an exception that
    ends the whole A/B."""
    good = '{"correct": true, "metrics": {"latency_ms": {"value": 5.0}}}'
    outs = iter([
        "log line\nnot json",
        "[1, 2]",
        '{"correct": true}',
        '{"correct": true, "metrics": {"latency_ms": 5.0}}',
        '{"correct": false, "metrics": {}}',
        good,
    ])

    def fake_run(cmd, **kwargs):
        return ab.subprocess.CompletedProcess(cmd, 0, next(outs), "tail\n")

    monkeypatch.setattr(ab.subprocess, "run", fake_run)
    for _ in range(5):
        assert ab._run(".", ["run"], "w", 1, 1.0) is None
    assert ab._run(".", ["run"], "w", 1, 1.0) == {"latency_ms": 5.0}
