"""One measured run of one workload, in a fresh process.

Launched by ``perfbench/run.py`` with the per-run environment (TMPDIR,
SPARK_LOCAL_DIRS, SPARK_GRAFT_REPLAY_SCRATCH, SPARK_GRAFT_CPUS,
PYTHONPATH) already set; writes one JSON result file and exits.

Layers are the engine package's modules; spans are recorded here, from
outside the program, around each call into a layer. With ``--trace 0``
the tracer is inert and nothing reads Spark's monitors until the
timed phase is over.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import pickle
import statistics
import subprocess
import sys
import time
import uuid
from contextlib import contextmanager

import stats

HERE = os.path.dirname(os.path.abspath(__file__))

# analytics_batch: seven of bench.py's HEADLINE batch queries — three
# parity/analytics plans and four operators, including the two costliest
# (dedup_lsh_clusters, dedup_minhash_lsh). A warm-up and two timed passes
# of these fit the time one run may take; all twenty HEADLINE batch
# queries would not (perfbench/README.md, "Budget").
PLAN_QUERIES = (
    "stedi_flagship_join",
    "q_pricing_summary",
    "q_ranking_battery",
)
OPERATOR_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_lsh_clusters",
    "text_stats_battery",
    "mm_pandas_features",
)
PASS_SECONDS = 10
DRAIN_DEADLINE_S = 30.0


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and
    written once, when the run ends. Inert when disabled."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self.spans[self._stack[-1]]["name"] if self._stack else None
        self.spans.append({"name": name, "start": time.time(), "end": None,
                           "parent": parent, "run": self.run_id})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000.0 for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --- process accounting -------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def _tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime (and reaped children's) of the given processes."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    (/proc/stat 'steal'); it stretches wall times without showing up
    in utime/stime."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class Host:
    """The driver JVM (with its Python workers) plus this process."""

    def __init__(self, spark):
        self.jvm = spark.sparkContext._gateway.proc.pid
        self._steal0 = 0.0

    def cpu(self) -> float:
        return cpu_seconds(_tree(self.jvm) + [os.getpid()])

    def start_timed(self) -> float:
        self._steal0 = steal_seconds()
        return self.cpu()

    def steal_pct(self, wall_s: float) -> float:
        """Share of the box's CPU time stolen since start_timed()."""
        return (steal_seconds() - self._steal0) * 100.0 / (wall_s * os.cpu_count())

    def rss_parts(self) -> dict[str, float]:
        return {"jvm": peak_rss_mb([self.jvm]), "python": peak_rss_mb([os.getpid()])}

    def rss(self) -> float:
        return sum(self.rss_parts().values())


# --- Spark monitors -----------------------------------------------------

EXEC_KEYS = ("jobs", "stages", "tasks", "task_ms", "task_cpu_ms", "gc_ms",
             "shuffle_bytes", "spill_bytes", "input_bytes", "failed_tasks")


def exec_metrics(spark, groups: list[str]) -> dict[str, float]:
    """Sum job/stage/task metrics over every job of the given job groups
    (statusTracker for group -> jobs -> stages, statusStore for stage
    task metrics)."""
    sc = spark.sparkContext
    tracker = sc._jsc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(EXEC_KEYS, 0.0)
    for group in groups:
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds():
                try:
                    s = store.lastStageAttempt(sid)
                except Exception:  # stage never ran (skipped)
                    continue
                out["stages"] += 1
                out["tasks"] += s.numTasks()
                out["failed_tasks"] += s.numFailedTasks()
                out["task_ms"] += s.executorRunTime()
                out["task_cpu_ms"] += s.executorCpuTime() / 1e6
                out["gc_ms"] += s.jvmGcTime()
                out["shuffle_bytes"] += s.shuffleWriteBytes()
                out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                out["input_bytes"] += s.inputBytes()
    return out


def streaming_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-micro-batch medians from StreamingQueryProgress dicts of
    batches that read input."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    if not data:
        return {}

    def med(fn):
        return statistics.median(fn(p) for p in data)

    def dur(key):
        return lambda p: p["durationMs"].get(key, 0)

    def state(key):
        return lambda p: sum(op.get(key, 0) for op in p.get("stateOperators", []))

    last = data[-1]
    return {
        "streaming.trigger_ms": med(dur("triggerExecution")),
        "streaming.query_planning_ms": med(dur("queryPlanning")),
        "streaming.add_batch_ms": med(dur("addBatch")),
        # Both logs a micro-batch writes: the offset WAL and the commit log.
        "streaming.wal_commit_ms": med(lambda p: dur("walCommit")(p) + dur("commitOffsets")(p)),
        "streaming.state_commit_ms": med(state("commitTimeMs")),
        "streaming.batches": float(len(data)),
        "streaming.state_rows": float(state("numRowsTotal")(last)),
        "streaming.state_memory_mb": state("memoryUsedBytes")(last) / 2**20,
        "sources.offset_ms": med(lambda p: dur("latestOffset")(p) + dur("getBatch")(p)),
    }


def progress_collector():
    """A StreamingQueryListener for traced runs that keeps each
    micro-batch's progress (pyspark is imported only once Spark runs)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressCollector(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressCollector()


# --- risk_live ----------------------------------------------------------


def run_live(spark, args, tr: Tracer, host: Host, t0: float) -> dict:
    from pyspark.sql.types import StringType, StructField, StructType

    from evaluate_human_balance_with_spark_streaming_spark.plans.stedi import (
        flagship_pipeline,
        serialize_risk_payload,
    )
    from evaluate_human_balance_with_spark_streaming_spark.sources.files import (
        stream_json_dir,
    )
    from evaluate_human_balance_with_spark_streaming_spark.streaming.runner import (
        start_query,
    )

    base = os.path.join(args.work, "live")
    dirs = {k: os.path.join(base, k) for k in ("cust", "risk", "stage", "out", "ckpt")}
    for d in dirs.values():
        os.makedirs(d)
    gen = [sys.executable, os.path.join(HERE, "livegen.py")]
    gen_args = ["--cust-dir", dirs["cust"], "--risk-dir", dirs["risk"],
                "--stage-dir", dirs["stage"], "--seed", str(args.seed),
                "--pool", str(args.pool)]
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    wire = StructType([StructField("value", StringType())])
    with tr.span("sources.stream_json_dir"):
        cust_raw = stream_json_dir(spark, dirs["cust"], wire, max_files_per_trigger=100000)
        risk_raw = stream_json_dir(spark, dirs["risk"], wire, max_files_per_trigger=100000)
    with tr.span("plans.build"):
        payload = serialize_risk_payload(flagship_pipeline(cust_raw, risk_raw))
    t = time.time()
    with tr.span("generator.preload"):
        subprocess.run(gen + ["preload"] + gen_args, check=True)
    preload_s = time.time() - t
    with tr.span("streaming.start"):
        query = start_query(payload, "text", dirs["ckpt"], options={"path": dirs["out"]})
    collector = progress_collector() if tr.enabled else None
    try:
        # Warm-up: the pool batch, then `warmup` seconds of live load.
        while not query.recentProgress and query.isActive:
            time.sleep(0.05)
        start_at = time.time() + 0.5
        manifest = os.path.join(base, "manifest.json")
        proc = subprocess.Popen(
            gen + ["run"] + gen_args + [
                "--manifest", manifest, "--rate", str(args.rate), "--tick", str(args.tick),
                "--new-share", str(args.new_share), "--start-at", repr(start_at),
                "--warmup", str(args.warmup), "--seconds", str(args.seconds)])
        try:
            timed_start = start_at + args.warmup
            timed_end = timed_start + args.seconds
            time.sleep(max(0.0, timed_start - time.time()))
            setup_s = time.time() - t0
            cpu0 = host.start_timed()
            if tr.enabled:
                traced_windows = _toggle_listener(spark, collector, timed_end)
            else:
                time.sleep(max(0.0, timed_end - time.time()))
            cpu1 = host.cpu()
            steal = host.steal_pct(args.seconds)
            with tr.span("generator.run"):
                proc.wait(timeout=60)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if proc.returncode != 0:
            raise RuntimeError(f"load generator exited with {proc.returncode}")
        with open(manifest) as f:
            man = json.load(f)
        n_events = len(man["events"])
        n_new = sum(1 for c in man["birth_year"] if int(c) >= args.pool)
        # Drain: wait until micro-batches have read every generated row.
        deadline = time.time() + DRAIN_DEADLINE_S
        while time.time() < deadline and query.isActive:
            read = sum(json.loads(p.json)["numInputRows"] for p in query.recentProgress)
            if read >= args.pool + n_new + n_events:
                break
            time.sleep(0.1)
        progress = [json.loads(p.json) for p in query.recentProgress]
    finally:
        with tr.span("streaming.stop"):
            query.stop()

    windows = stats.trigger_windows(progress)
    trigger_end = {b: w[1] for b, w in windows.items()}
    owner = stats.files_per_batch(
        stats.read_metadata_log(os.path.join(dirs["out"], "_spark_metadata")))
    emitted = []
    for name, batch in owner.items():
        with open(os.path.join(dirs["out"], name)) as f:
            for line in f:
                row = json.loads(line)
                emitted.append((int(float(row["score"])), row["email"],
                                row["birthYear"], batch))
    ticks = man["ticks"]
    expected = {
        eid: (f"customer_{cust:09d}@example.com", man["birth_year"][str(cust)], ticks[k][1])
        for eid, cust, k in man["events"]
    }
    match = stats.match_emissions(expected, emitted, trigger_end)
    failed = match["missing"] + match["duplicate"] + match["wrong"] + match["unexpected"]
    timed_ids = {eid for eid, _, k in man["events"] if ticks[k][0] >= timed_start}
    timed_batches = {b for b, (s, _) in windows.items() if timed_start <= s < timed_end}
    # Latency samples of events due inside the timed window.
    samples = [v for eid, v in match["latency"].items() if eid in timed_ids]
    lats = [lat for lat, _ in samples]
    tail = stats.tail_percentile(samples)
    overhead = {}
    if tr.enabled:
        on = {b for b, (s, _) in windows.items()
              if any(a <= s < z for a, z in traced_windows)}
        lat_on = [lat for lat, b in samples if b in on]
        lat_off = [lat for lat, b in samples if b not in on]
        if lat_on and lat_off:
            overhead["trace.overhead_pct"] = (
                statistics.median(lat_on) / statistics.median(lat_off) - 1.0) * 100.0
        started = next(s for s in tr.spans if s["name"] == "streaming.start")
        stopped = next(s for s in tr.spans if s["name"] == "streaming.stop")
        tr.spans.append({"name": "streaming.query", "start": started["start"],
                         "end": stopped["end"], "parent": None, "run": tr.run_id})
        for p in collector.progress:
            s = stats.parse_progress_time(p["timestamp"])
            tr.spans.append({"name": "streaming.trigger", "start": s,
                             "end": s + p["durationMs"]["triggerExecution"] / 1000.0,
                             "parent": "streaming.query", "run": tr.run_id})
    source_log = _source_log(dirs["ckpt"], progress, dirs["risk"])
    gen_stop = ticks[-1][1]
    backlog = sum(
        1 for name, b in source_log.items()
        if b in windows and windows[b][0] >= gen_stop
    )
    timed_progress = [p for p in progress if p["batchId"] in timed_batches]
    sm = streaming_metrics(timed_progress)
    if tr.enabled:
        sm["streaming.start_ms"] = tr.durations_ms("streaming.start")[0]
        sm["streaming.stop_ms"] = tr.durations_ms("streaming.stop")[0]
        sm["plans.build_ms"] = tr.durations_ms("plans.build")[0]
    lags = [(stamp - due) * 1000.0 for due, stamp in ticks]
    run_id = progress[-1]["runId"] if progress else ""
    result = {
        "setup_s": setup_s,
        "peak_rss_mb": host.rss(),
        "cpu_ms_per_op": (cpu1 - cpu0) * 1000.0 / max(1, len(timed_ids)),
        "latency_ms": statistics.median(lats) if lats else None,
        "pass_s": sm.get("streaming.trigger_ms", 0.0) / 1000.0,
        "attempted": n_events,
        "failed": failed,
        "detail": {
            "events": n_events,
            "timed_events": len(timed_ids),
            "latency_p50_ms": statistics.median(lats) if lats else None,
            "latency_samples": len(lats),
            "latency_batches": len({b for _, b in samples}),
            "latency_tail": {"percentile": tail[0], "ms": tail[1]} if tail else None,
            "latency_p90_ms": tail[1] if tail and tail[0] >= 90 else None,
            "errors": {k: match[k] for k in ("missing", "duplicate", "wrong", "unexpected")},
            "peak_rss_mb": host.rss_parts(),
            "host_steal_pct": steal,
        },
        "layers": sm,
    }
    result["layers"].update(overhead)
    result["layers"].update({
        "sources.backlog_files": float(backlog),
        "generator.setup_s": preload_s,
        "generator.lag_p99_ms": stats.percentile(lags, 99),
        "generator.events": float(n_events),
    })
    result["groups"] = [run_id]
    result["ops"] = max(1, n_events)
    return result


TOGGLE_S = 3.0


def _toggle_listener(spark, collector, until: float) -> list[tuple[float, float]]:
    """Attach the per-trigger trace listener in alternate TOGGLE_S
    windows until ``until``; returns the windows it was attached, so
    traced and untraced micro-batches of one run can be compared."""
    windows, attached, start = [], False, 0.0
    while time.time() < until:
        now = time.time()
        if attached:
            spark.streams.removeListener(collector)
            windows.append((start, now))
        else:
            spark.streams.addListener(collector)
            start = now
        attached = not attached
        time.sleep(max(0.0, min(TOGGLE_S, until - time.time())))
    if attached:
        spark.streams.removeListener(collector)
        windows.append((start, time.time()))
    return windows


def _source_log(ckpt: str, progress: list[dict], risk_dir: str) -> dict[str, int]:
    """Risk file name -> batch that read it, from the file source log."""
    if not progress:
        return {}
    for i, src in enumerate(progress[0]["sources"]):
        if os.path.basename(risk_dir) in src["description"]:
            log = stats.read_metadata_log(os.path.join(ckpt, "sources", str(i)))
            return {os.path.basename(e["path"]): e["batchId"]
                    for entries in log.values() for e in entries}
    return {}


# --- analytics_batch ----------------------------------------------------


def layer_of(query: str) -> str:
    return "plans" if query in PLAN_QUERIES else "operators"


def materialize(df) -> None:
    """The timed action of a batch query: write every row and column to
    the noop sink. count() would let the optimizer prune projections
    and aggregates the caller receives."""
    df.write.format("noop").mode("overwrite").save()


def run_closed(spark, args, tr: Tracer, host: Host, t0: float) -> dict:
    from evaluate_human_balance_with_spark_streaming_spark.caching import release_managed
    from evaluate_human_balance_with_spark_streaming_spark.plans import registry

    names = PLAN_QUERIES + OPERATOR_QUERIES
    sf_dir = os.path.join(args.work, "data")
    results_dir = os.path.join(args.work, "results")
    os.makedirs(results_dir)
    layers: dict[str, float] = {}
    # Tables and the oracle check run in processes of their own, so the
    # driver Python's peak memory is the program's alone.
    t = time.time()
    with tr.span("generator.tables"):
        subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"),
                        sf_dir, str(args.sf), str(args.seed)], check=True, stdout=sys.stderr)
    layers["generator.setup_s"] = time.time() - t
    qs = registry.all_queries()
    sc = spark.sparkContext

    # Warm-up: one run of every query; its collected result is the one
    # checked against the oracle after the timed phase.
    errors = dict.fromkeys(names, 0)
    warmup_ms: dict[str, float] = {}
    for q in names:
        release_managed()
        t = time.perf_counter()
        try:
            df = qs[q](spark, sf_dir)
            result = (df.columns, [tuple(r) for r in df.collect()])
            with open(os.path.join(results_dir, f"{q}.pkl"), "wb") as f:
                pickle.dump(result, f)
            del df, result
        except Exception as exc:
            print(f"# warm-up {q} failed: {exc!r}", file=sys.stderr)
        warmup_ms[q] = (time.perf_counter() - t) * 1000.0
    release_managed()

    times: dict[str, list[float]] = {q: [] for q in names}
    split: dict[bool, dict[str, list[float]]] = {True: {}, False: {}}
    groups: list[str] = []
    plan_ms: list[float] = []
    build_ms: list[float] = []
    setup_s = time.time() - t0
    cpu0 = host.start_timed()
    start = time.perf_counter()
    # A fixed number of whole passes, one per PASS_SECONDS of --seconds:
    # every run times the same passes whatever the host's speed.
    passes = max(2, int(args.seconds // PASS_SECONDS))
    for n in range(passes):
        for i, q in enumerate(names):
            traced = tr.enabled and (i + n) % 2 == 0
            if tr.enabled:
                group = f"perfbench:{q}:{n}"
                groups.append(group)
                sc.setJobGroup(group, q)
            t = time.perf_counter()
            try:
                with tr.span(f"op.{q}" if traced else "op"):
                    with tr.span("caching.release_managed"):
                        release_managed()
                    b = time.perf_counter()
                    with tr.span(f"{layer_of(q)}.{q}"):
                        df = qs[q](spark, sf_dir)
                    if traced:
                        build_ms.append((time.perf_counter() - b) * 1000.0)
                        qe = df._jdf.queryExecution()
                        qe.executedPlan()
                        phases = qe.tracker().phases()
                        plan_ms.append(sum(
                            phases.apply(k).durationMs()
                            for k in ("analysis", "optimization", "planning")
                            if phases.contains(k)))
                    with tr.span("exec.noop_write"):
                        materialize(df)
            except Exception as exc:
                errors[q] += 1
                print(f"# {q} failed: {exc!r}", file=sys.stderr)
            dt = time.perf_counter() - t
            times[q].append(dt)
            if tr.enabled:
                split[traced].setdefault(q, []).append(dt)
    cpu1 = host.cpu()
    steal = host.steal_pct(time.perf_counter() - start)
    release_managed()
    rss, rss_parts = host.rss(), host.rss_parts()
    n_ops = sum(len(v) for v in times.values())

    with tr.span("oracle.check"):
        check = subprocess.run(
            [sys.executable, os.path.join(HERE, "oracle.py"), sf_dir, results_dir, *names],
            check=True, stdout=subprocess.PIPE, text=True)
    problems = json.loads(check.stdout.strip().splitlines()[-1])
    for q, why in sorted(problems.items()):
        print(f"# {q}: {why}", file=sys.stderr)
    runs = {q: len(ts) for q, ts in times.items()}
    failed = stats.closed_loop_failures(runs, errors, set(problems))

    for q, ts in times.items():
        layers[f"{layer_of(q)}.{q}_ms"] = statistics.median(ts) * 1000.0
    if tr.enabled:
        layers["caching.release_ms"] = statistics.median(tr.durations_ms("caching.release_managed"))
        if build_ms:
            layers["plans.build_ms"] = statistics.median(build_ms)
        if plan_ms:
            layers["plans.plan_ms"] = statistics.median(plan_ms)
        both = [q for q in names if split[True].get(q) and split[False].get(q)]
        if both:
            on = sum(statistics.median(split[True][q]) for q in both)
            off = sum(statistics.median(split[False][q]) for q in both)
            layers["trace.overhead_pct"] = (on / off - 1.0) * 100.0
    return {
        "setup_s": setup_s,
        "peak_rss_mb": rss,
        "cpu_ms_per_op": (cpu1 - cpu0) * 1000.0 / n_ops,
        # Geometric mean over the query mix of each query's median: a
        # median over the mix is one query's time, and jumps between
        # neighbouring queries' levels.
        "latency_ms": math.exp(statistics.fmean(
            math.log(statistics.median(ts) * 1000.0) for ts in times.values())),
        "pass_s": stats.pass_seconds(times),
        "attempted": n_ops,
        "failed": failed,
        "detail": {
            "passes": passes,
            "warmup_ms": warmup_ms,
            "peak_rss_mb": rss_parts,
            "host_steal_pct": steal,
            "runs_per_query": runs,
            "errors": errors,
            "oracle_mismatch": problems,
            "query_median_ms": {q: statistics.median(ts) * 1000.0 for q, ts in times.items()},
        },
        "layers": layers,
        "groups": groups,
        "ops": n_ops,
    }


# --- entry --------------------------------------------------------------


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans")
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--rate", type=float, default=1000.0)
    ap.add_argument("--tick", type=float, default=0.25)
    ap.add_argument("--pool", type=int, default=10000)
    ap.add_argument("--new-share", type=float, default=0.05)
    ap.add_argument("--warmup", type=float, default=20.0)
    args = ap.parse_args()
    tr = Tracer(bool(args.trace), uuid.uuid4().hex[:12])

    from evaluate_human_balance_with_spark_streaming_spark.session import get_spark

    t = time.time()
    with tr.span("session.get_spark"):
        spark = get_spark(
            f"perfbench-{args.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ.get('TMPDIR', args.work)} -XX:-UsePerfData",
            },
        )
    session_s = time.time() - t
    try:
        host = Host(spark)
        if args.workload == "risk_live":
            res = run_live(spark, args, tr, host, args.t0)
        else:
            res = run_closed(spark, args, tr, host, args.t0)
        res["layers"]["session.start_s"] = session_s
        groups = res.pop("groups")
        ops = res.pop("ops")
        if tr.enabled:
            for k, v in exec_metrics(spark, groups).items():
                res["layers"][f"exec.{k}"] = v / ops
    finally:
        spark.stop()
    if args.spans:
        tr.write(args.spans)
    with open(args.result, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
