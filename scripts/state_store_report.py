#!/usr/bin/env python
"""State-store telemetry for the two flagship stream joins (VERDICT
r06 item 2): run the UNBOUNDED parity join (reference
sparkpykafkajoin.py:196-198's grow-forever semantic) and the
WATERMARKED band-join variant over the same K×-replicated wire, and
report each micro-batch's ``stateOperators`` from the streaming
progress telemetry — rows kept, memory used, rows evicted. This turns
the README's "state is a dial" claim into a measured table: unbounded
state grows with input, the watermarked plan evicts and holds state
~flat, and the provider (HDFSBacked in-JVM vs RocksDB native,
selected by SPARK_GRAFT_STATE_STORE before launch — it is builder-time
conf in session.get_spark) changes the cost/capacity point, not the
semantics.

The per-micro-batch ``stateOperators`` feed comes from
``run_to_memory(progress_out=...)`` (runner.py grew the hook in r08 —
before that this script carried its own drain because the helper
dropped the StreamingQuery handle that ``recentProgress`` lives on).
Same session discipline as the bench (conf-isolated replay_session,
2-files-per-trigger wire by default), so the numbers are
like-for-like with BENCH/SCALING rows.

Total evicted rows vary from run to run of the same input (478,097 to
478,142 over four runs of ``watermarked_tight`` at sf0.1 x10, on both
providers) while the output stays at 749,950 rows, because which files
land in which micro-batch varies between runs. The per-batch table is
therefore one run's trace, not a reproducible measurement: compare
totals across providers, not per-batch rows.

Usage:
    python scripts/state_store_report.py [sf_dir] [K] [files_per_trigger] [wire_files]
    SPARK_GRAFT_STATE_STORE=rocksdb python scripts/state_store_report.py
    SSR_VARIANTS=unbounded python scripts/state_store_report.py ... 8 16

Defaults: /root/testdata/sf0.1, K=10, 2 files/trigger over 4-file
wires (the bench-identical shape — feeds SCALING.md r07). The two
extra knobs exist for the micro-batch-size sweep (VERDICT r07 item 4).
Measured outcome (SCALING.md r08 table): replaying the SAME rows in
fewer, larger micro-batches amortizes RocksDB's per-batch fixed cost
(the absolute open/commit/snapshot premium falls), but the
RocksDB:HDFS *wall ratio* stays ~2× (1.68× → 1.98× as batches shrink
8 → 1) because ~7-8 µs/row native ingest dominates — the 100 TB
argument for RocksDB is the memory trade + linear scaling, not a
vanishing ratio. SSR_VARIANTS (comma list) limits the run to named
variants so the sweep doesn't pay for all three.
"""

from __future__ import annotations

import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))
sys.path.insert(0, _HERE)

from stress_scale import prepare_stream_flagship, _flagship_wires  # noqa: E402

from evaluate_human_balance_with_spark_streaming_spark.plans import stedi  # noqa: E402
from evaluate_human_balance_with_spark_streaming_spark.session import (  # noqa: E402
    get_spark,
)
from evaluate_human_balance_with_spark_streaming_spark.caching import (  # noqa: E402
    managed_mark,
    release_managed_since,
)
from evaluate_human_balance_with_spark_streaming_spark.streaming.runner import (  # noqa: E402
    replay_session,
    run_to_memory,
)
from evaluate_human_balance_with_spark_streaming_spark.streaming.stream_queries import (  # noqa: E402
    _WIRE_TS_SCHEMA,
    _cust_ts_wire,
)


def _drain_with_progress(stream_df, output_mode: str, timeout_sec: int = 600):
    """availableNow drain via run_to_memory's ``progress_out`` hook
    (one drain implementation — sink naming, checkpoint cleanup and
    stop ordering live in runner.py, not in a second copy here).
    Scoped release: the report runs several variants in one process,
    so each drain frees ITS memory-sink view + checkpoint before the
    next variant starts counting state."""
    mark = managed_mark()
    progress: list[dict] = []
    t0 = time.time()
    out = run_to_memory(
        stream_df, output_mode, timeout_sec, progress_out=progress
    )
    wall = time.time() - t0
    rows = out.count()
    release_managed_since(mark)
    return rows, wall, progress


def _state_rows(progress: list[dict]) -> list[dict]:
    out = []
    for p in progress:
        for op in p.get("stateOperators") or []:
            out.append(
                {
                    "batch": p.get("batchId"),
                    "op": op.get("operatorName"),
                    "rows_total": op.get("numRowsTotal"),
                    "rows_updated": op.get("numRowsUpdated"),
                    "rows_removed": op.get("numRowsRemoved"),
                    "mem_bytes": op.get("memoryUsedBytes"),
                }
            )
    return out


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    k = int(args[1]) if len(args) > 1 else 10
    fpt = int(args[2]) if len(args) > 2 else 2
    wire_files = int(args[3]) if len(args) > 3 else 4
    provider = os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower() or "hdfs"
    only = {
        v.strip()
        for v in os.environ.get("SSR_VARIANTS", "").split(",")
        if v.strip()
    }

    spark = get_spark("state-store-report")
    effective = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    print(
        f"# provider={provider} ({effective.rsplit('.', 1)[-1]}), K={k}, "
        f"{sf_dir}, {fpt} files/trigger over {wire_files}-file wires"
    )

    if wire_files == 4:
        # The bench-identical wires (shared tags/cache with the
        # registered queries' own builders).
        prepare_stream_flagship(spark, sf_dir, k)
        cust_path, risk_path = _flagship_wires(spark, sf_dir, k)
    else:
        # The micro-batch sweep needs the SAME rows in a different
        # file layout; private tags so the bench wires never collide.
        from stress_scale import replicated

        from evaluate_human_balance_with_spark_streaming_spark.sources.testdata import (
            stedi_customers_wire,
            stedi_risk_wire,
        )
        from evaluate_human_balance_with_spark_streaming_spark.streaming.stream_queries import (
            _materialize,
        )

        cust_path = _materialize(
            stedi_customers_wire(spark, sf_dir),
            f"ssr-cust-f{wire_files}@{sf_dir}",
            wire_files,
        )
        risk_path = _materialize(
            replicated(stedi_risk_wire(spark, sf_dir), k),
            f"ssr-risk-x{k}-f{wire_files}@{sf_dir}",
            wire_files,
        )
    rs = replay_session(spark)

    def _cust_ts_path() -> str:
        """The ts-carrying customer wire, honoring wire_files (lazy:
        only the watermarked variants pay for it)."""
        if wire_files == 4:
            return _cust_ts_wire(spark, sf_dir)
        from evaluate_human_balance_with_spark_streaming_spark.sources.testdata import (
            stedi_customers_wire_ts,
        )
        from evaluate_human_balance_with_spark_streaming_spark.streaming.stream_queries import (
            _materialize,
        )

        return _materialize(
            stedi_customers_wire_ts(spark, sf_dir),
            f"ssr-cust-ts-f{wire_files}@{sf_dir}",
            wire_files,
        )

    def _open(path, schema=None):
        # _open_wire pins the bench-identical 2 files/trigger; the
        # sweep varies it, so open directly at the requested rate.
        from evaluate_human_balance_with_spark_streaming_spark.sources.files import (
            stream_parquet_dir,
        )
        from evaluate_human_balance_with_spark_streaming_spark.streaming.stream_queries import (
            _WIRE_SCHEMA,
        )

        return stream_parquet_dir(
            rs, path, schema or _WIRE_SCHEMA, max_files_per_trigger=fpt
        )

    variants = {
        "unbounded": lambda: stedi.flagship_pipeline(
            _open(cust_path), _open(risk_path)
        ),
        # The REGISTERED watermarked form: its 40-day delay makes the
        # bounded replay oracle-exact, but over a wire spanning ~30
        # days of event time the watermark therefore never passes any
        # row's band inside a 3-micro-batch replay — rows_removed
        # stays 0 HERE while the plan still carries the eviction
        # machinery. The state bound is real but only engages once
        # processed event time outruns delay + band.
        "watermarked_wide": lambda: stedi.flagship_pipeline_watermarked(
            _open(_cust_ts_path(), _WIRE_TS_SCHEMA),
            _open(risk_path),
        ),
        # The PRODUCTION-delay shape: a 1-minute late tolerance. After
        # the first micro-batch the watermark jumps to (max event time
        # seen - 1 min), so subsequent batch commits EVICT every state
        # row whose band has passed — rows_removed goes positive and
        # final state sits far below total input. Not oracle-exact in
        # a bounded replay (out-of-band late rows are dropped, which
        # is the production semantic being demonstrated), so this
        # variant lives here, not in the registry.
        "watermarked_tight": lambda: stedi.flagship_pipeline_watermarked(
            _open(_cust_ts_path(), _WIRE_TS_SCHEMA),
            _open(risk_path),
            watermark="1 minutes",
        ),
    }
    unknown = only - variants.keys()
    if unknown:
        # A typo'd filter must not "succeed" having measured nothing
        # (review finding): fail fast with the valid names.
        sys.exit(
            f"# unknown SSR_VARIANTS {sorted(unknown)}; "
            f"known: {sorted(variants)}"
        )
    for label, build in variants.items():
        if only and label not in only:
            continue
        rows, wall, progress = _drain_with_progress(build(), "append")
        states = _state_rows(progress)
        print(f"\n## {label}: {rows} output rows, {wall:.1f}s wall")
        print(
            f"{'batch':>5} {'rows_total':>10} {'rows_updated':>12} "
            f"{'rows_removed':>12} {'mem_MiB':>8}"
        )
        for s in states:
            mem = (s["mem_bytes"] or 0) / (1024 * 1024)
            print(
                f"{s['batch']:>5} {s['rows_total']:>10} {s['rows_updated']:>12} "
                f"{s['rows_removed']:>12} {mem:>8.1f}"
            )
        if states:
            final = states[-1]
            removed = sum(s["rows_removed"] or 0 for s in states)
            print(
                f"# final state: {final['rows_total']} rows, "
                f"{(final['mem_bytes'] or 0) / (1024 * 1024):.1f} MiB; "
                f"total evicted: {removed}"
            )


if __name__ == "__main__":
    main()
