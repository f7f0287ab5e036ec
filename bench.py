#!/usr/bin/env python
"""Headline benchmark: time the engine's 24 HEADLINE queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line, the last line of
stdout:

    {"metric": "headline_suite_best_sum", "value": N, "unit": "sec",
     "sf": ..., "wall_s": ..., "queries": {...}, "regressions": {...},
     "reps_overrides": {...}}

Each query runs best of 3 reps (more for QUERY_REPS), each rep a fresh
plan build plus ``df.count()``; rep 1 is the query's warm-up.
``value`` is the sum of the per-query bests; ``wall_s`` is the wall
time of the timed loop.

The check is fixed. Against the bars in BENCH_BASELINE.json, a query
slower than 2x its bar, or a gated-query sum over 1.5x the bars' sum,
is a regression and the run exits 1. A run whose scale factor differs
from the baseline's is not checked (``regressions: null``).

The full artifact, with each query's rep series and exec block, is
written to BENCH_SELF.json before the session stops. This script never
writes the bars; bench_record.py re-records them from a run of this
suite between calibration probes, and refuses one those probes show
was made on a loaded box:

    SPARK_GRAFT_RECORD_BASELINE=1 python bench_record.py
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.join(HERE, "perfbench"))

from worker import exec_metrics  # noqa: E402  (perfbench/worker.py)

# Headline set: one per capability family (parity decode/join, agg,
# multi-join, window fn, sessionization, dedup exact + LSH + iterative
# CC clusters, similarity brute + IVF both probes, text, multimodal,
# streaming join + bounded dedup). Names must exist in the registry.
HEADLINE = [
    "stedi_decode_chain",
    "stedi_flagship_join",
    "q_pricing_summary",
    "q_top_revenue_orders",
    "q_nation_volume",
    "q_ranking_battery",
    "q_user_sessions_gap",
    "q_session_window_stats",
    "q_asof_click_before_purchase",
    "q_risk_per_customer",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "dedup_lsh_clusters",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "ann_ivf_probe2",
    "text_stats_battery",
    "mm_frame_sample",
    "mm_pandas_features",
    "stream_flagship_join",
    "stream_flagship_join_watermarked",
    "stream_dedup_within_watermark",
    "stream_session_quality",
]

REPS = 3
# Rep floors for queries whose JIT settling outlasts 3 reps: their
# measured warm-session rep curves reach the flat tail only at rep 4-6
# (dedup_minhash_lsh 6.07 -> 2.41 -> 2.11 -> 1.96 -> 1.91 s at sf0.1;
# stedi_flagship_join 3.57 -> 2.37 -> 2.21 -> 2.10 -> 2.03 s; the
# as-of join's floor arrives at rep 5-7). See SCALING.md.
QUERY_REPS = {
    "dedup_minhash_lsh": 5,
    "stedi_flagship_join": 5,
    "q_asof_click_before_purchase": 5,
}

REGRESSION_FACTOR = 2.0
# The sum of the gated queries is judged at a tighter factor: a broad
# 1.6-1.9x slowdown trips no per-query bar but still deserves a flag.
SUITE_FACTOR = 1.5

# External harnesses keep a 2,000-character tail of stdout; the last
# line must fit inside it.
LINE_MAX = 1900
LINE_KEYS = ("metric", "value", "unit", "sf", "wall_s", "queries",
             "regressions", "reps_overrides")

BASELINE_FILE = os.path.join(HERE, "BENCH_BASELINE.json")
SELF_FILE = os.path.join(HERE, "BENCH_SELF.json")


def sf_of(sf_dir: str) -> float:
    """The scale factor named by an ``sf<number>`` directory, else 0.0."""
    try:
        return float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)
    except ValueError:
        return 0.0


def read_baseline(path: str = BASELINE_FILE) -> dict:
    """The recorded bars: ``{"sf": float | None, "queries": {name: s}}``.
    A missing file yields no bars, so every query runs unchecked."""
    try:
        with open(path) as f:
            art = json.load(f)
    except FileNotFoundError:
        return {"sf": None, "queries": {}}
    return {"sf": art.get("sf"), "queries": dict(art.get("queries") or {})}


def find_regressions(
    timings: dict[str, float], baseline: dict[str, float]
) -> dict[str, dict[str, float]]:
    """Queries slower than REGRESSION_FACTOR times their bar, plus a
    ``__suite__`` entry, next to them, when the gated queries' sum
    exceeds SUITE_FACTOR times the sum of their bars."""
    gated = [n for n in timings if baseline.get(n, 0) > 0]
    out = {
        n: {"now": timings[n], "baseline": baseline[n]}
        for n in gated
        if timings[n] > REGRESSION_FACTOR * baseline[n]
    }
    now = sum(timings[n] for n in gated)
    base = sum(baseline[n] for n in gated)
    if gated and now > SUITE_FACTOR * base:
        out["__suite__"] = {"now": round(now, 3), "baseline": round(base, 3)}
    return out


def check(timings: dict[str, float], sf: float, baseline: dict) -> dict | None:
    """The run's regressions, or None when its scale factor is unknown
    or differs from the baseline's: bars recorded at another scale
    would pass a smaller run vacuously and fail a larger one."""
    base_sf = baseline.get("sf")
    if base_sf and (not sf or sf != base_sf):
        print(f"# SF MISMATCH: run at sf={sf or 'unknown'}, bars at "
              f"sf={base_sf}; not checked", file=sys.stderr)
        return None
    for name in timings:
        if name not in baseline["queries"]:
            print(f"# UNGATED {name}: no bar in BENCH_BASELINE.json", file=sys.stderr)
    regressions = find_regressions(timings, baseline["queries"])
    for name, r in regressions.items():
        factor = SUITE_FACTOR if name == "__suite__" else REGRESSION_FACTOR
        print(f"# REGRESSION {name}: {r['now']}s vs bar {r['baseline']}s "
              f"(>{factor}x)", file=sys.stderr)
    return regressions


def build_artifact(
    timings: dict[str, float],
    series: dict[str, list[float]],
    exec_blocks: dict[str, dict[str, float]],
    sf: float,
    wall_s: float,
    baseline: dict,
) -> dict:
    """The full BENCH_SELF.json artifact; the stdout line is a subset."""
    return {
        "metric": "headline_suite_best_sum",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf,
        "wall_s": wall_s,
        "timing": f"per-query best of {REPS} df.count() reps; floored per reps_overrides",
        "queries": timings,
        "regressions": check(timings, sf, baseline),
        "reps_overrides": dict(sorted(QUERY_REPS.items())),
        "series": series,
        "exec": exec_blocks,
    }


def metric_line(artifact: dict) -> str:
    """The last stdout line: LINE_KEYS of the artifact, with each
    regression shortened to its now/bar ratio so that the line stays
    under LINE_MAX even when every query regresses."""
    line = {k: artifact[k] for k in LINE_KEYS}
    if line["regressions"]:
        line["regressions"] = {
            n: round(r["now"] / r["baseline"], 2) for n, r in line["regressions"].items()
        }
    return json.dumps(line)


def write_self_artifact(artifact: dict, path: str) -> None:
    """Write the artifact to ``path`` through a temp sibling, so a
    failed write leaves the previous file whole. A failure is reported,
    never raised: the session must still stop and the line print."""
    tmp = path + ".tmp"
    try:
        payload = json.dumps(artifact) + "\n"
        with open(tmp, "w") as f:
            f.write(payload)
        os.replace(tmp, path)
    except (OSError, TypeError, ValueError) as e:
        print(f"# {path} not written: {e}", file=sys.stderr)
        if os.path.exists(tmp):
            os.unlink(tmp)


def shutdown_spark(spark) -> None:
    """Stop every active streaming query, then the session. A
    state-store maintenance thread racing interpreter exit prints
    shutdown noise to stdout; stopping first puts that noise before
    the metric line. A stream that fails to stop cannot block the
    session's stop."""
    try:
        for q in list(spark.streams.active):
            try:
                q.stop()
            except Exception:
                pass
    except Exception:
        pass
    try:
        spark.stop()
    except Exception:
        pass


def finish(artifact: dict, spark, self_path: str = SELF_FILE) -> int:
    """Write the artifact, stop the session, print the metric line
    last, and return the exit code: 1 on any regression."""
    write_self_artifact(artifact, self_path)
    shutdown_spark(spark)
    print(metric_line(artifact), flush=True)
    return 1 if artifact["regressions"] else 0


def run_suite(spark, qs: dict, sf_dir: str):
    """Time every HEADLINE query in ``qs``: (bests, rep series, exec
    blocks, wall seconds).

    Each query runs best of REPS (or its QUERY_REPS floor) fresh builds
    plus ``count()``. Rep 1 is the query's warm-up: it pays the plan's
    first code generation and builds the wire inputs the ``stream_*``
    replays reuse. An untimed warm-up run of every query first lowered
    the sum of the bests by 12% at sf0.1 on 4 cores (median of 3
    interleaved pairs), which against the fixed bars would loosen the
    check.

    The reps run under job group ``name``, whose jobs the exec block
    sums (perfbench's exec_metrics). For the ``stream_*`` replays the
    micro-batch jobs run in the stream's own thread under the stream's
    job group, so the block counts only the caller-thread jobs: at
    sf0.1, 2-4 per rep after the first, which adds the wire-building
    jobs (5-10 in all).
    """
    names = [n for n in HEADLINE if n in qs]
    for name in sorted(set(HEADLINE) - set(names)):
        print(f"# MISSING {name}: not in registry, skipped", file=sys.stderr)

    timings: dict[str, float] = {}
    series: dict[str, list[float]] = {}
    exec_blocks: dict[str, dict[str, float]] = {}
    t0 = time.time()
    for name in names:
        spark.sparkContext.setJobGroup(name, name)
        series[name], rows = [], 0
        for _ in range(max(REPS, QUERY_REPS.get(name, 0))):
            t = time.time()
            rows = qs[name](spark, sf_dir).count()
            series[name].append(round(time.time() - t, 3))
        timings[name] = min(series[name])
        exec_blocks[name] = exec_metrics(spark, [name])
        print(f"# {name}: {rows} rows in {timings[name]}s "
              f"(best of {len(series[name])})", file=sys.stderr)
    return timings, series, exec_blocks, round(time.time() - t0, 3)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod
    from evaluate_human_balance_with_spark_streaming_spark.caching import release_managed
    from evaluate_human_balance_with_spark_streaming_spark.session import get_spark

    spark = get_spark("ehb-bench")
    # Touch the fact table so session start-up does not bill the first
    # query.
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    timings, series, exec_blocks, wall_s = run_suite(spark, entrymod.queries(), sf_dir)
    release_managed()
    artifact = build_artifact(
        timings, series, exec_blocks, sf_of(sf_dir), wall_s, read_baseline()
    )
    return finish(artifact, spark)


if __name__ == "__main__":
    raise SystemExit(main())
