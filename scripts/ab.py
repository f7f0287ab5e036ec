#!/usr/bin/env python3
"""Interleaved A/B of two git revisions on one perfbench workload.

    python scripts/ab.py <base-rev> <change-rev> <workload> <pairs> <first-seed>

Each revision is checked out with ``git worktree`` under a temporary
directory. Pair i runs ``perfbench/run.py`` once on each side with seed
``first-seed + i``, using BENCHMARK.json's own ``command`` arguments and
``run_seconds``; the side that runs first alternates from pair to pair,
so drift of the host's speed lands on both sides alike. Every run's
metrics go to stderr as it ends.

For each end-to-end metric the script prints the median and quartiles
of each side, the pairs the change won, and the gap of the medians
against the base's interquartile range (IQR), then one JSON line with
the same summary.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from stats import percentile  # noqa: E402  (perfbench/stats.py)


def summarize(pairs: list[tuple[dict, dict]], end_to_end: list[dict]) -> dict:
    """Per metric of ``end_to_end`` (BENCHMARK.json entries with
    ``name``, ``better`` and ``bound``), over ``pairs`` of (base,
    change) {metric: value} maps: each side's quartiles, the pairs the
    change won, and the median gap, as a fraction of the base median
    and in units of the base IQR."""
    out = {}
    for m in end_to_end:
        name, lower = m["name"], m["better"] == "lower"
        got = [(b[name], c[name]) for b, c in pairs if name in b and name in c]
        if not got:
            continue
        base, change = [b for b, _ in got], [c for _, c in got]
        q = {side: [percentile(xs, p) for p in (25, 50, 75)]
             for side, xs in (("base", base), ("change", change))}
        gap = q["change"][1] - q["base"][1]
        iqr = q["base"][2] - q["base"][0]
        worse = gap if lower else -gap
        out[name] = {
            "base": q["base"],
            "change": q["change"],
            "won": sum((c < b) if lower else (c > b) for b, c in got),
            "pairs": len(got),
            "gap": gap,
            "gap_over_iqr": gap / iqr if iqr else None,
            "worse_frac": worse / q["base"][1] if q["base"][1] else None,
            "bound": m.get("bound"),
        }
    return out


def _fmt(quartiles: list[float]) -> str:
    return "/".join(f"{v:.4g}" for v in quartiles)


def _run(tree: str, command: list[str], workload: str, seed: int, seconds: float) -> dict | None:
    """One perfbench run in ``tree``: {metric: value}, or None if it
    failed or its last stdout line is not a correct run's JSON object."""
    cmd = command + ["--workload", workload, "--seed", str(seed),
                     "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    metrics = None
    if proc.returncode == 0 and lines:
        try:
            last = json.loads(lines[-1])
            if last.get("correct"):
                metrics = {k: v["value"] for k, v in last["metrics"].items()}
        except (ValueError, AttributeError, KeyError, TypeError):
            pass  # a malformed last line counts as a failed run
    if metrics is None:
        print("\n".join(proc.stderr.splitlines()[-5:]), file=sys.stderr)
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("workload")
    ap.add_argument("pairs", type=int)
    ap.add_argument("first_seed", type=int)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    tmp = tempfile.mkdtemp(prefix="ab-")
    trees = {}
    try:
        for side, rev in (("base", args.base), ("change", args.change)):
            trees[side] = os.path.join(tmp, side)
            subprocess.run(["git", "-C", ROOT, "worktree", "add", "--detach", trees[side], rev],
                           check=True, stdout=subprocess.DEVNULL)
        pairs, failed = [], {"base": 0, "change": 0}
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            res = {}
            for side in order:
                res[side] = _run(trees[side], spec["command"], args.workload, seed,
                                 spec["run_seconds"])
                failed[side] += res[side] is None
                print(json.dumps({"pair": i, "seed": seed, "side": side, "metrics": res[side]}),
                      file=sys.stderr, flush=True)
            if res["base"] is not None and res["change"] is not None:
                pairs.append((res["base"], res["change"]))
    finally:
        for tree in trees.values():
            subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force", tree],
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        shutil.rmtree(tmp, ignore_errors=True)

    summary = summarize(pairs, spec["end_to_end"])
    print(f"{args.workload}: {args.base} -> {args.change}, {len(pairs)} pairs, "
          f"failed runs {failed}")
    print(f"{'metric':<16}{'base p25/p50/p75':>28}{'change p25/p50/p75':>28}"
          f"{'won':>7}{'gap/IQR':>9}{'worse':>8}{'bound':>7}")
    for name, s in summary.items():
        ratio = "-" if s["gap_over_iqr"] is None else f"{s['gap_over_iqr']:+.2f}"
        worse = "-" if s["worse_frac"] is None else f"{s['worse_frac']:+.1%}"
        print(f"{name:<16}{_fmt(s['base']):>28}{_fmt(s['change']):>28}"
              f"{s['won']:>4}/{s['pairs']:<2}{ratio:>9}{worse:>8}{s['bound']:>7}")
    print(json.dumps({"workload": args.workload, "base": args.base, "change": args.change,
                      "failed": failed, "summary": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
