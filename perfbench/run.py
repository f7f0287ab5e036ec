#!/usr/bin/env python3
"""The repository benchmark: one workload run, one JSON result line.

    python3 perfbench/run.py --workload <risk_live|analytics_batch>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Every measured run happens in a fresh
worker process (perfbench/worker.py) with its own TMPDIR, Spark local
dir and replay scratch under ``.perfbench/`` in the checkout; all of it
is deleted when the run ends.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
workload traced and prints the per-layer metrics, the tracing overhead
and, for risk_live, the single-threaded baseline
(SPARK_GRAFT_CPUS=1). The last stdout line is always
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries the sample counts and the error rate. perfbench/README.md
defines every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "evaluate_human_balance_with_spark_streaming_spark"
WORKLOADS = ("risk_live", "analytics_batch")
CHILD_TIMEOUT_S = 170
# A fixed driver heap keeps peak_rss_mb comparable between runs and
# leaves room on a shared box (the engine's own default is 8g).
DRIVER_MEMORY = "2g"

sys.path.insert(0, HERE)
from stats import error_rate  # noqa: E402
from worker import OPERATOR_QUERIES, PLAN_QUERIES, EXEC_KEYS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "cpu_ms_per_op": "ms",
    "latency_ms": "ms",
    "pass_s": "s",
}

STREAMING_KEYS = ("trigger_ms", "query_planning_ms", "add_batch_ms", "wal_commit_ms",
                  "state_commit_ms", "batches", "start_ms", "stop_ms", "state_rows",
                  "state_memory_mb")


def _unit(name: str) -> str:
    for suffix, unit in (("_ms_per_op", "ms"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_bytes", "bytes"),
                         ("_pct", "%")):
        if name.endswith(suffix):
            return unit
    return "count"


PER_LAYER = (
    ["session.start_s", "generator.setup_s", "generator.lag_p99_ms", "generator.events",
     "sources.offset_ms", "sources.backlog_files", "plans.build_ms", "plans.plan_ms"]
    + [f"plans.{q}_ms" for q in PLAN_QUERIES]
    + [f"operators.{q}_ms" for q in OPERATOR_QUERIES]
    + [f"streaming.{k}" for k in STREAMING_KEYS]
    + ["caching.release_ms"]
    + [f"exec.{k}" for k in EXEC_KEYS]
    + ["trace.overhead_pct", "single_thread.latency_ms",
       "single_thread.cpu_ms_per_op", "single_thread.pass_s"]
)


def _kill_group(proc: subprocess.Popen) -> None:
    """Kill the worker's process group (the worker, its JVM, the JVM's
    Python workers and the load generator) and wait until it is gone."""
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            break
        if proc.poll() is None:
            proc.wait()
        time.sleep(0.05)
    proc.wait()


def run_child(args, work: str, tag: str, cpus: int, trace: bool) -> dict:
    """One measured run in a fresh worker process with its own scratch
    directories; the whole process group is killed if it overruns."""
    run_dir = os.path.join(work, tag)
    env = dict(os.environ)
    for key, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "local"),
                     ("SPARK_GRAFT_REPLAY_SCRATCH", "replay")):
        env[key] = os.path.join(run_dir, sub)
        os.makedirs(env[key])
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    env["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p])
    result = os.path.join(run_dir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(int(trace)),
           "--work", run_dir, "--result", result, "--t0", repr(time.time()),
           "--sf", str(args.sf), "--rate", str(args.rate), "--tick", str(args.tick),
           "--pool", str(args.pool), "--new-share", str(args.new_share),
           "--warmup", str(args.warmup)]
    if trace:
        os.makedirs(os.path.join(ROOT, ".perfbench", "spans"), exist_ok=True)
        cmd += ["--spans", os.path.join(
            ROOT, ".perfbench", "spans", f"{args.workload}-{args.seed}-{tag}.jsonl")]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        proc.wait(timeout=CHILD_TIMEOUT_S)
    finally:
        _kill_group(proc)
    if proc.returncode != 0 or not os.path.exists(result):
        raise RuntimeError(f"{tag} run exited with {proc.returncode}")
    with open(result) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=2, help="SPARK_GRAFT_CPUS of the run")
    ap.add_argument("--sf", type=float, default=0.01, help="closed-loop table scale")
    ap.add_argument("--rate", type=float, default=1000.0, help="risk events per second")
    ap.add_argument("--tick", type=float, default=0.25, help="seconds between files")
    ap.add_argument("--pool", type=int, default=10000, help="pre-loaded customers")
    ap.add_argument("--new-share", type=float, default=0.05, help="events from new customers")
    ap.add_argument("--warmup", type=float, default=20.0, help="live load before timing")
    args = ap.parse_args()
    # A terminated run still kills its worker group and deletes its
    # scratch directories (the finally blocks below).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        if args.trace:
            res = run_child(args, work, "traced", args.cpus, trace=True)
            layers = res["layers"]
            if args.workload == "risk_live":
                single = run_child(args, work, "single", 1, trace=False)
                for k in ("latency_ms", "cpu_ms_per_op", "pass_s"):
                    layers[f"single_thread.{k}"] = single[k]
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": _unit(k)}
                       for k in PER_LAYER}
        else:
            res = run_child(args, work, "untraced", args.cpus, trace=False)
            missing = [k for k in END_TO_END if res.get(k) is None]
            if missing:
                raise RuntimeError(f"no samples for {missing}")
            metrics = {k: {"value": float(res[k]), "unit": u} for k, u in END_TO_END.items()}
    except (RuntimeError, subprocess.SubprocessError, OSError) as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail = dict(res["detail"])
    detail["error_rate"] = error_rate(res["attempted"], res["failed"])
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "detail": detail}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
