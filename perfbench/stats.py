"""Pure measurement logic shared by the benchmark's processes: no Spark,
no I/O beyond the log readers, so every rule here is unit-tested on
small fixtures (perfbench/tests)."""

from __future__ import annotations

import json
import os
import statistics
from datetime import datetime, timezone

# A percentile is reported only when at least this many distinct
# micro-batches emitted events beyond it: events of one batch share one
# emission time, so they are not independent samples.
MIN_BATCHES_BEYOND = 10
TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def batches_beyond(samples: list[tuple[float, int]], value: float) -> int:
    """Distinct batches among the (latency, batch) samples above ``value``."""
    return len({b for lat, b in samples if lat > value})


def tail_percentile(samples: list[tuple[float, int]]) -> tuple[float, float] | None:
    """The highest candidate percentile with at least MIN_BATCHES_BEYOND
    batches beyond it, as (percentile, value); None when even the median
    lacks that support."""
    lats = [lat for lat, _ in samples]
    for p in TAIL_CANDIDATES:
        if not lats:
            break
        v = percentile(lats, p)
        if batches_beyond(samples, v) >= MIN_BATCHES_BEYOND:
            return p, v
    return None


def parse_progress_time(ts: str) -> float:
    """StreamingQueryProgress.timestamp ('2026-01-01T00:00:00.123Z') -> epoch s."""
    dt = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def trigger_windows(progress: list[dict]) -> dict[int, tuple[float, float]]:
    """batchId -> (trigger start, trigger end) in epoch seconds, from
    progress dicts. Idle-trigger reports repeat a batchId with no
    input; the report with the largest triggerExecution is the batch."""
    out: dict[int, tuple[float, float]] = {}
    for p in progress:
        start = parse_progress_time(p["timestamp"])
        end = start + p["durationMs"].get("triggerExecution", 0) / 1000.0
        prev = out.get(p["batchId"])
        if prev is None or end - start > prev[1] - prev[0]:
            out[p["batchId"]] = (start, end)
    return out


def read_metadata_log(log_dir: str) -> dict[int, list[dict]]:
    """A Structured Streaming metadata log (file sink ``_spark_metadata``
    or file source ``sources/<i>``): batchId -> entries. Compacted
    ``N.compact`` files keep every earlier entry as well."""
    out: dict[int, list[dict]] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue
        with open(os.path.join(log_dir, name)) as f:
            lines = f.read().splitlines()
        out[int(stem)] = [json.loads(line) for line in lines[1:] if line.strip()]
    return out


def files_per_batch(log: dict[int, list[dict]]) -> dict[str, int]:
    """File path -> the first batch whose log lists it (compaction
    repeats earlier entries in later batches' files)."""
    owner: dict[str, int] = {}
    for batch in sorted(log):
        for entry in log[batch]:
            owner.setdefault(os.path.basename(entry["path"]), batch)
    return owner


def match_emissions(
    expected: dict[int, tuple[str, str, float]],
    emitted: list[tuple[int, str, str, int]],
    trigger_end: dict[int, float],
) -> dict:
    """Match generated events to emitted rows.

    ``expected``: event id -> (email, birthYear, stamp) where stamp is
    the epoch time the generator's rename made the event visible.
    ``emitted``: (event id, email, birthYear, batchId) per output row.
    ``trigger_end``: batchId -> end of the trigger that committed it.

    Returns counts (missing, duplicate, wrong, unexpected) and, under
    ``latency``, event id -> (latency ms, batch) for every event emitted
    exactly once with the encoded fields."""
    seen: dict[int, list[tuple[str, str, int]]] = {}
    unexpected = 0
    for eid, email, year, batch in emitted:
        if eid not in expected:
            unexpected += 1
            continue
        seen.setdefault(eid, []).append((email, year, batch))
    missing = duplicate = wrong = 0
    latency: dict[int, tuple[float, int]] = {}
    for eid, (email, year, stamp) in expected.items():
        rows = seen.get(eid)
        if not rows:
            missing += 1
        elif len(rows) > 1:
            duplicate += 1
        elif rows[0][:2] != (email, year):
            wrong += 1
        elif rows[0][2] in trigger_end:
            batch = rows[0][2]
            latency[eid] = ((trigger_end[batch] - stamp) * 1000.0, batch)
        else:
            missing += 1
    return {
        "missing": missing,
        "duplicate": duplicate,
        "wrong": wrong,
        "unexpected": unexpected,
        "latency": latency,
    }


def error_rate(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no operation was attempted")
    return failed / attempted


def closed_loop_failures(
    runs: dict[str, int], errors: dict[str, int], mismatched: set[str]
) -> int:
    """Failed operations of a closed-loop pass: every run that raised,
    plus every run of a query whose checked result disagrees with its
    oracle (the plan is deterministic, so each of its runs returned
    the same wrong answer)."""
    failed = sum(errors.values())
    for name in mismatched:
        failed += runs.get(name, 0) - errors.get(name, 0)
    return failed


def pass_seconds(times: dict[str, list[float]]) -> float:
    """Sum over queries of each query's median wall time."""
    return sum(statistics.median(ts) for ts in times.values())
