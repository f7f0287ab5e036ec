#!/usr/bin/env python
"""Summarize a JDK Flight Recorder recording of the engine's JVM.

Reads the recording through ``jfr print --json`` (the JDK's own
reader) and prints four tables:

- ``jdk.ProcessStart``: processes the JVM forked, counted by thread and
  by command, with path arguments folded to ``<path>`` and thread-pool
  numbers to ``#`` (Hadoop's local filesystem forks ``chmod`` per file
  created when it has no native libhadoop);
- ``jdk.GarbageCollection``: collections by collector and cause, with
  the sum and maximum of their pauses;
- ``jdk.ExecutionSample``: the most frequent top frames of sampled
  Java threads, and the same samples grouped by their nearest
  ``org.apache.spark`` frame, which names the Spark code a JDK, Hadoop
  or Kryo hot spot runs for (``Deflater.deflate`` under
  ``TorrentBroadcast.blockifyObject``, say). Stacks are read
  ``STACK_DEPTH`` frames deep.

It also prints two shares of the execution samples, each counting the
samples with a matching frame anywhere in their recorded stack:

- the Hadoop conf share: a frame in Hadoop's ``Configuration``,
  Spark's ``SerializableConfiguration`` or the engine's Kryo
  ``ConfSerializer`` (building, copying, serializing and reading
  confs);
- the codegen share: Spark's ``CodeGenerator$.doCompile`` or any
  Janino (``org.codehaus.janino``) frame, i.e. compiling generated
  code, which a hit in Spark's compiled-class cache skips;

and the JIT line: the count and summed duration of the
``jdk.Compilation`` events, the HotSpot compilations of the recording.
A recording keeps only compilations longer than its ``jdk.Compilation``
threshold (1 s in the JDK's ``default`` settings, 100 ms in
``profile``), so the line counts the long ones.

Record with ``-XX:StartFlightRecording`` in the driver's Java options,
or with ``jcmd <pid> JFR.start`` / ``JFR.dump filename=<file>`` on a
running driver JVM.

Usage:
    python scripts/jfr_summary.py recording.jfr [--top N]
"""

from __future__ import annotations

import argparse
import json
import re
import shutil
import subprocess
import sys
from collections import Counter, defaultdict

EVENTS = "jdk.ProcessStart,jdk.GarbageCollection,jdk.ExecutionSample,jdk.Compilation"
STACK_DEPTH = 64
SPARK_PACKAGE = "org.apache.spark."
CONF_CLASSES = (
    "org.apache.hadoop.conf.Configuration",
    "org.apache.spark.util.SerializableConfiguration",
    "stedi.spark.HadoopConfKryoRegistrator$ConfSerializer",
)
CODEGEN_COMPILE = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$.doCompile"
JANINO_PACKAGE = "org.codehaus.janino."
_UUID = re.compile(r"[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}")
_ISO_DURATION = re.compile(r"PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?")


def duration_ms(value) -> float:
    """A JFR JSON duration (ISO-8601 like ``PT0.0042S``, or nanos) in ms."""
    if isinstance(value, (int, float)):
        return value / 1e6
    m = _ISO_DURATION.fullmatch(str(value))
    if not m:
        return 0.0
    h, mi, s = (float(g) if g else 0.0 for g in m.groups())
    return (h * 3600 + mi * 60 + s) * 1000.0


def thread_name(thread: dict | None) -> str:
    """A thread's Java (or OS) name with query ids and pool numbers folded."""
    name = (thread or {}).get("javaName") or (thread or {}).get("osName") or "?"
    return re.sub(r"\d+", "#", _UUID.sub("<id>", name))


def command_shape(command: str) -> str:
    """A forked command line with its path arguments folded."""
    return " ".join("<path>" if "/" in w else w for w in command.split())


def _frame_names(stack: dict | None) -> list[str]:
    """``class.method`` of each frame of a JFR stack trace, top first."""
    names = []
    for frame in (stack or {}).get("frames") or []:
        method = frame.get("method") or {}
        cls = ((method.get("type") or {}).get("name") or "?").replace("/", ".")
        names.append(f"{cls}.{method.get('name', '?')}")
    return names


def top_frame(stack: dict | None) -> str:
    return next(iter(_frame_names(stack)), "?")


def spark_caller(stack: dict | None) -> str:
    """The frame nearest the top of the stack whose class is Spark's,
    or ``(no Spark frame)`` when the recorded depth holds none."""
    return next((n for n in _frame_names(stack) if n.startswith(SPARK_PACKAGE)),
                "(no Spark frame)")


def in_conf_code(stack: dict | None) -> bool:
    """Whether any recorded frame is in one of ``CONF_CLASSES`` or a
    nested class of one."""
    return any(cls == c or cls.startswith(c + "$")
               for cls in (n.rsplit(".", 1)[0] for n in _frame_names(stack))
               for c in CONF_CLASSES)


def in_codegen(stack: dict | None) -> bool:
    """Whether any recorded frame compiles generated code:
    ``CODEGEN_COMPILE`` or a frame in ``JANINO_PACKAGE``."""
    return any(n == CODEGEN_COMPILE or n.startswith(JANINO_PACKAGE)
               for n in _frame_names(stack))


def summarize(events: list[dict]) -> dict:
    by_type: dict[str, list[dict]] = defaultdict(list)
    for e in events:
        by_type[e.get("type")].append(e.get("values") or {})
    starts = by_type["jdk.ProcessStart"]
    samples = by_type["jdk.ExecutionSample"]
    gcs: dict[tuple[str, str], list[float]] = defaultdict(list)
    for v in by_type["jdk.GarbageCollection"]:
        gcs[v.get("name", "?"), v.get("cause", "?")].append(duration_ms(v.get("sumOfPauses")))
    return {
        "process_starts": len(starts),
        "starts_by_thread": Counter(thread_name(v.get("eventThread")) for v in starts),
        "starts_by_command": Counter(command_shape(v.get("command", "")) for v in starts),
        "gc": {k: (len(p), sum(p), max(p)) for k, p in gcs.items()},
        "samples": len(samples),
        "top_frames": Counter(top_frame(v.get("stackTrace")) for v in samples),
        "spark_callers": Counter(spark_caller(v.get("stackTrace")) for v in samples),
        "conf_samples": sum(in_conf_code(v.get("stackTrace")) for v in samples),
        "codegen_samples": sum(in_codegen(v.get("stackTrace")) for v in samples),
        "jit_compilations": len(by_type["jdk.Compilation"]),
        "jit_ms": sum(duration_ms(v.get("duration")) for v in by_type["jdk.Compilation"]),
    }


def _share(label: str, n: int, total: int) -> str:
    share = 100.0 * n / total if total else 0.0
    return f"{label} share: {n} of {total} samples ({share:.1f}%)"


def conf_share(s: dict) -> str:
    return _share("Hadoop conf", s["conf_samples"], s["samples"])


def codegen_share(s: dict) -> str:
    return _share("codegen", s["codegen_samples"], s["samples"])


def jit_line(s: dict) -> str:
    return (f"JIT compilations (jdk.Compilation): {s['jit_compilations']}, "
            f"{s['jit_ms']:.1f} ms summed")


def _table(title: str, counts: Counter, top: int) -> None:
    print(f"\n{title}")
    for key, n in counts.most_common(top):
        print(f"  {n:8d}  {key}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=15, help="rows per table")
    args = ap.parse_args()
    jfr = shutil.which("jfr")
    if not jfr:
        print("jfr_summary: the JDK's `jfr` tool is not on PATH", file=sys.stderr)
        return 2
    out = subprocess.run([jfr, "print", "--json", "--stack-depth", str(STACK_DEPTH),
                          "--events", EVENTS,
                          args.recording], check=True, capture_output=True, text=True).stdout
    s = summarize(json.loads(out)["recording"]["events"])
    print(f"process starts: {s['process_starts']}")
    _table("process starts by thread", s["starts_by_thread"], args.top)
    _table("process starts by command", s["starts_by_command"], args.top)
    print("\ngarbage collections by collector and cause (count, pause sum ms, max pause ms)")
    for (name, cause), (n, total, longest) in sorted(s["gc"].items(), key=lambda kv: -kv[1][0]):
        print(f"  {n:8d}  {total:10.1f}  {longest:8.1f}  {name}: {cause}")
    _table(f"top frames of {s['samples']} execution samples", s["top_frames"], args.top)
    _table("execution samples by nearest Spark frame", s["spark_callers"], args.top)
    print(f"\n{conf_share(s)}")
    print(codegen_share(s))
    print(jit_line(s))
    return 0


if __name__ == "__main__":
    sys.exit(main())
