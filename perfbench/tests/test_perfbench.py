"""Tests of the benchmark's own logic: the measurement rules in
stats.py on hand-made fixtures, the timed batch action, and two tiny
end-to-end runs (sf0.001 tables; a few seconds of live load).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import stats  # noqa: E402
import worker  # noqa: E402


# --- matching stamps to emissions ----------------------------------------


def test_match_emissions_counts_every_failure_kind_and_times_the_rest():
    expected = {
        1: ("a@x", "1950", 100.0),
        2: ("b@x", "1960", 100.0),
        3: ("c@x", "1970", 100.25),
        4: ("d@x", "1980", 100.25),
        5: ("e@x", "1990", 100.5),
    }
    emitted = [
        (1, "a@x", "1950", 0),
        (2, "b@x", "1960", 0),
        (2, "b@x", "1960", 1),  # duplicate
        (3, "c@x", "1971", 1),  # wrong birthYear
        (5, "e@x", "1990", 1),
        (99, "z@x", "2000", 1),  # never generated
    ]
    got = stats.match_emissions(expected, emitted, {0: 101.5, 1: 103.0})
    assert (got["missing"], got["duplicate"], got["wrong"], got["unexpected"]) == (1, 1, 1, 1)
    assert got["latency"] == {1: (1500.0, 0), 5: (2500.0, 1)}


def test_match_emissions_counts_an_uncommitted_batch_as_missing():
    got = stats.match_emissions({1: ("a@x", "1950", 1.0)}, [(1, "a@x", "1950", 7)], {})
    assert got["missing"] == 1 and got["latency"] == {}


def test_rows_map_to_the_first_batch_that_logged_their_file(tmp_path):
    log = tmp_path / "_spark_metadata"
    log.mkdir()
    entry = lambda name: json.dumps({"path": f"file:///out/{name}", "action": "add"})  # noqa: E731
    (log / "0").write_text("v1\n" + entry("p0") + "\n")
    (log / "1").write_text("v1\n" + entry("p1") + "\n")
    # A compaction batch repeats every earlier entry.
    (log / "2.compact").write_text("v1\n" + "\n".join(entry(n) for n in ("p0", "p1", "p2")) + "\n")
    (log / ".2.compact.crc").write_text("")
    owner = stats.files_per_batch(stats.read_metadata_log(str(log)))
    assert owner == {"p0": 0, "p1": 1, "p2": 2}


def test_trigger_windows_keep_the_batch_not_its_idle_reports():
    progress = [
        {"batchId": 3, "timestamp": "2026-01-01T00:00:00.000Z",
         "durationMs": {"triggerExecution": 1200}},
        {"batchId": 3, "timestamp": "2026-01-01T00:00:05.000Z",
         "durationMs": {"triggerExecution": 2}},
    ]
    start, end = stats.trigger_windows(progress)[3]
    assert end - start == pytest.approx(1.2)
    assert start == stats.parse_progress_time("2026-01-01T00:00:00.000Z")


# --- the >=10-batches-beyond percentile rule -------------------------------


def _batched(n_batches: int, per_batch: int = 10) -> list[tuple[float, int]]:
    """Batch b emits per_batch events with latencies from 10*per_batch*b ms up."""
    return [(10.0 * per_batch * b + j, b) for b in range(n_batches) for j in range(per_batch)]


def test_tail_percentile_needs_ten_batches_beyond_it():
    # 20 batches: 10 lie beyond the median, only 5 beyond p75.
    p, value = stats.tail_percentile(_batched(20))
    assert p == 50.0
    assert value == stats.percentile([lat for lat, _ in _batched(20)], 50)
    assert stats.batches_beyond(_batched(20), value) == 10


def test_tail_percentile_reaches_p90_only_near_a_hundred_batches():
    assert stats.tail_percentile(_batched(80))[0] == 75.0
    assert stats.tail_percentile(_batched(100))[0] == 90.0


def test_few_batches_support_no_percentile_however_many_events():
    assert stats.tail_percentile(_batched(15, per_batch=1000)) is None


# --- error_rate accounting --------------------------------------------------


def test_closed_loop_failures_count_raised_runs_and_every_run_of_a_wrong_query():
    runs = {"q1": 3, "q2": 3, "q3": 2}
    errors = {"q1": 1, "q2": 0, "q3": 0}
    assert stats.closed_loop_failures(runs, errors, set()) == 1
    assert stats.closed_loop_failures(runs, errors, {"q1"}) == 3
    assert stats.closed_loop_failures(runs, errors, {"q2", "q3"}) == 6
    assert stats.error_rate(18, 0) == 0.0
    assert stats.error_rate(4, 1) == 0.25
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)


def test_oracle_check_fails_nan_cells_and_missing_results(tmp_path):
    import pickle

    import datagen
    import oracle

    sf_dir, results = tmp_path / "data", tmp_path / "results"
    datagen.generate(str(sf_dir), 0.001, 3)
    results.mkdir()
    # The oracle's pandas fetch reads NaN as NULL, so a NaN must fail
    # before any hashing.
    with open(results / "q_pricing_summary.pkl", "wb") as f:
        pickle.dump((["x"], [(float("nan"),)]), f)
    problems = oracle.check(str(sf_dir), str(results), ["q_pricing_summary", "q_ranking_battery"])
    assert problems == {"q_pricing_summary": "1 NaN cells in the Spark result",
                        "q_ranking_battery": "no warm-up result"}


def test_pass_seconds_sums_per_query_medians():
    assert stats.pass_seconds({"a": [1.0, 3.0, 2.0], "b": [0.5, 0.5]}) == 2.5


# --- the timed batch action -------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from evaluate_human_balance_with_spark_streaming_spark.session import get_spark

    return get_spark("perfbench-tests", shuffle_partitions=2)


def test_timed_batch_action_is_a_full_noop_materialization(spark):
    # A column that fails whenever it is computed: count() prunes it
    # away, a full materialization cannot.
    df = spark.range(3).selectExpr("id", "assert_true(id < 0) AS checked")
    assert df.count() == 3
    with pytest.raises(Exception, match="assert_true|id < 0"):
        worker.materialize(df)


# --- tiny end-to-end runs ---------------------------------------------------


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _leftover_runs() -> set[str]:
    scratch = os.path.join(ROOT, ".perfbench")
    if not os.path.isdir(scratch):
        return set()
    return {d for d in os.listdir(scratch) if d.startswith("run-")}


@pytest.mark.parametrize(
    "workload,extra",
    [
        ("risk_live", ["--seconds", "3", "--warmup", "1", "--rate", "200", "--pool", "200"]),
        ("analytics_batch", ["--seconds", "1", "--sf", "0.001"]),
    ],
)
def test_tiny_run_prints_a_correct_result_and_leaves_no_scratch(workload, extra):
    before = _leftover_runs()
    proc = _run("--workload", workload, "--seed", "7", "--trace", "0", *extra)
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"]: m["unit"] for m in json.load(f)["end_to_end"]}
    assert {k: v["unit"] for k, v in last["metrics"].items()} == declared
    assert all(v["value"] > 0 for v in last["metrics"].values())
    assert _leftover_runs() == before


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = _run("--workload", "risk_live", "--seed", "1", "--seconds", "1", "--trace", "0",
                cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout == ""
