#!/usr/bin/env python
"""Scale-stress harness: run the heaviest operators on K×-replicated
driver parquet and measure how wall time grows with DATA, separating
the data-dependent component from the per-query fixed costs that
dominate the sf0.001→sf0.1 sweep (SCALING.md).

Replication happens JVM-side (explode(sequence)) on the driver-provided
tables — no synthetic test data is written anywhere; ids are remapped
per copy so cardinalities grow honestly, and document text is salted
with a per-copy token so replicated docs are NEAR-duplicates (the
dup-heavy web-crawl shape that dedup exists for — the worst case for
the candidate-pair path, since every original doc gains K-1 mirrors).

Usage: python scripts/stress_scale.py [sf_dir] [K ...]   (default 1 10)
Prints one table row per (workload, K): wall seconds + result rows.
Results feed the "×10 replication stress" section of SCALING.md.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from evaluate_human_balance_with_spark_streaming_spark.caching import release_managed
from evaluate_human_balance_with_spark_streaming_spark.operators import dedup, similarity
from evaluate_human_balance_with_spark_streaming_spark.session import get_spark
from evaluate_human_balance_with_spark_streaming_spark.sources.testdata import (
    load_table,
    stedi_customers_wire,
    stedi_risk_wire,
)

STRIDE = 10_000_000  # id remap stride per copy — far above any sf's key range


def replicated(df, k, id_cols=(), salt_col=None):
    """K copies of df, JVM-side: ids shifted by copy*STRIDE so key
    cardinality scales with K; salt_col (text) gets a per-copy leading
    token so copies are near- but not byte-identical."""
    if k < 1:
        # sequence(0, k-1) with k<1 infers a NEGATIVE step and yields
        # [0, -1]: TWO corrupted copies measured under a plausible
        # 'K=0' label instead of an error.
        raise ValueError(f"replication factor must be >= 1, got {k}")
    if k == 1:
        return df
    d = df.withColumn("_copy", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
    for c in id_cols:
        d = d.withColumn(c, F.col(c) + F.col("_copy") * F.lit(STRIDE))
    if salt_col is not None:
        d = d.withColumn(
            salt_col, F.concat(F.format_string("c%d ", F.col("_copy")), F.col(salt_col))
        )
    return d.drop("_copy")


def wl_lineitem_pricing(spark, sf_dir, k):
    """Scan+aggregate scaling: K× lineitem rows through the pricing
    summary shape (same groups — pure per-row cost)."""
    li = replicated(load_table(spark, sf_dir, "lineitem"), k)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.sum("l_extendedprice").alias("sum_base_price"),
        F.avg("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


def wl_exact_dedup(spark, sf_dir, k):
    """Hash-groupBy dedup with K-way duplicate groups (text NOT salted
    — every copy is byte-identical, the max group fan-in case)."""
    docs = replicated(load_table(spark, sf_dir, "documents"), k, id_cols=("doc_id",))
    return dedup.dedup_exact(docs, "text", "doc_id")


def wl_minhash_lsh(spark, sf_dir, k):
    """MinHash+LSH on a dup-heavy corpus: K× docs where each original
    has K-1 salted near-dup mirrors → candidate pairs grow ~K² inside
    each band bucket. Stresses signature build AND pair verify."""
    docs = replicated(
        load_table(spark, sf_dir, "documents"), k, id_cols=("doc_id",), salt_col="text"
    )
    return dedup.minhash_lsh_pairs(docs, "text", "doc_id")


def wl_ngram_jaccard(spark, sf_dir, k):
    """Prefix-filtered set-similarity join on the dup-heavy corpus:
    K× docs, each original with K-1 salted near-dup mirrors sharing
    almost all shingles — candidate pairs inside a mirror family are
    genuinely ~K², but the prefix filter must keep the CANDIDATE
    join's fan-out tracking rare-shingle co-occurrence instead of
    block size (the un-prefixed form fanned out k² rows per shingle
    shared by k docs in a block)."""
    docs = replicated(
        load_table(spark, sf_dir, "documents"), k, id_cols=("doc_id",), salt_col="text"
    )
    return dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", "source", shingle_n=2, threshold=0.3
    )


def wl_simhash_pairs(spark, sf_dir, k):
    """SimHash hamming-banded pairs on the same dup-heavy corpus."""
    docs = replicated(
        load_table(spark, sf_dir, "documents"), k, id_cols=("doc_id",), salt_col="text"
    )
    return dedup.simhash_pairs(docs, "text", "doc_id")


def wl_ann_ivf(spark, sf_dir, k):
    """IVF top-k with a K× corpus and a FIXED query set (the serving
    shape: corpus grows, query batch doesn't)."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = replicated(emb, k, id_cols=("vec_id",))
    queries = emb.filter(F.col("vec_id") % 80 == 0)
    return similarity.ivf_topk(
        corpus, queries, "embedding", "vec_id", cell_col="label", k=5
    )


def _flagship_wires(spark, sf_dir, k):
    """Materialize (or return cached) wire dirs for the flagship replay.
    Customers side is NOT replicated — use the certified wire builder
    (same tag/derivation as the flagship replay; a private stress tag
    would re-encode byte-identical data and could silently drift). The
    K×-replicated risk side is stress-specific and keeps its own tag.
    _materialize caches by tag in-process, so calling this from BOTH
    prepare_stream_flagship (untimed) and wl_stream_flagship (timed)
    encodes each wire exactly once."""
    from evaluate_human_balance_with_spark_streaming_spark.streaming.stream_queries import (
        _cust_wire,
        _materialize,
    )

    return (
        _cust_wire(spark, sf_dir),
        _materialize(
            replicated(stedi_risk_wire(spark, sf_dir), k),
            f"stress-risk-x{k}@{sf_dir}",
            4,
        ),
    )


def prepare_stream_flagship(spark, sf_dir, k):
    """Untimed input preparation — the stand-in for data already
    sitting in Kafka: the 1M-row JSON encode + 4-file parquet write is
    a long serial-ish stage that (a) is not streaming-engine work and
    (b) cannot dodge a host stall, so leaving it inside the timed
    window made the K ratio measure parquet-write scaling instead of
    replay/state scaling (measured 19.7-36.2 s total vs ~10 s
    replay-only)."""
    _flagship_wires(spark, sf_dir, k)


def wl_stream_flagship(spark, sf_dir, k):
    """Streaming flagship join with K× the event volume against the
    unreplicated customer side (the production shape: facts >> dims).
    Output rows = K × the batch flagship's, state bounded by the
    customer side. Timed portion = the replay itself (source listing,
    micro-batches, symmetric-hash state, sink); wires are
    pre-materialized by prepare_stream_flagship."""
    from evaluate_human_balance_with_spark_streaming_spark.plans import stedi
    from evaluate_human_balance_with_spark_streaming_spark.streaming.runner import (
        replay_session,
        run_to_memory,
    )
    from evaluate_human_balance_with_spark_streaming_spark.streaming.stream_queries import (
        _open_wire,
    )

    cust_path, risk_path = _flagship_wires(spark, sf_dir, k)
    # Same conf-isolated small-width replay session the registered
    # stream_* queries use — like-for-like with the bench numbers.
    rs = replay_session(spark)
    joined = stedi.flagship_pipeline(
        _open_wire(rs, cust_path), _open_wire(rs, risk_path)
    )
    return run_to_memory(joined, output_mode="append")


def wl_user_similarity(spark, sf_dir, k, buckets=8):
    """Grid-blocked day self-join under K× users on the SAME ~30 days:
    per-day active users grow K×, per-day pair work K² — the hot-day
    skew shape the grid blocking exists for (the blocking
    redistributes inherent n²/day compare work over B(B+1)/2 reducers
    per day; it does not prune it). ``buckets=1`` degenerates to the
    plain day-only self-join — one partition per distinct day, ~30
    reducers for ALL pair work regardless of cluster size — giving the
    direct skew comparison at identical semantics."""
    from evaluate_human_balance_with_spark_streaming_spark.plans import analytics_ext

    e = replicated(load_table(spark, sf_dir, "events"), k, id_cols=("user_id",))
    return analytics_ext.user_activity_similarity(e, buckets=buckets)


def wl_user_similarity_flat(spark, sf_dir, k):
    return wl_user_similarity(spark, sf_dir, k, buckets=1)


def wl_user_similarity_capped(spark, sf_dir, k):
    """The user_sim SCALE PATH (VERDICT r04 item 5): day_top bounds
    each day's pair work to C² regardless of K, so this row completes
    at K=10 where the exact form's ~100M output-inherent pairs drown
    the box (see max_k on user_sim_grid/flat). C=1000 clips even the
    K=1 busiest day (1,356 actives at sf0.1), i.e. both rows measure
    the deliberately-approximate regime — the documented recall dial,
    a contract change, which is why the exact forms keep their cap
    instead of silently switching; C ≥ busiest-day actives reproducing
    the exact output is pinned by
    tests/test_operators.py::test_user_similarity_day_top_dial."""
    from evaluate_human_balance_with_spark_streaming_spark.plans import analytics_ext

    e = replicated(load_table(spark, sf_dir, "events"), k, id_cols=("user_id",))
    return analytics_ext.user_activity_similarity(e, day_top=1000)


def wl_cc_clusters(spark, sf_dir, k):
    """Connected components over the K×-replicated LSH pair set — the
    iterative operator under a pair graph that grows ~K² per component
    (every doc gains K-1 near-dup mirrors, densifying each cluster into
    a larger clique-ish blob). Measures whether per-round cost (one
    shuffle + localCheckpoint + convergence count) tracks EDGES or
    ROUNDS as the graph densifies; diameter stays shallow, so rounds
    should stay flat while edges explode."""
    docs = replicated(
        load_table(spark, sf_dir, "documents"),
        k,
        id_cols=("doc_id",),
        salt_col="text",
    )
    pairs = dedup.minhash_lsh_pairs(docs, "text", "doc_id")
    return dedup.connected_components(pairs)


# (name, fn, max_k, prepare): max_k caps the replication factor this
# workload will run at — the user_sim pair join's OUTPUT is
# ~(K × users/day)² per day, which at K=10 is ~100M distinct pairs and
# drowns the local JVM (measured; no blocking can prune output), so
# the default K=10 sweep must skip it rather than hang (None = no
# cap). prepare (optional) runs UNTIMED before the measurement —
# input staging that is not engine work.
WORKLOADS = [
    ("lineitem_pricing", wl_lineitem_pricing, None, None),
    ("exact_dedup", wl_exact_dedup, None, None),
    ("minhash_lsh", wl_minhash_lsh, None, None),
    ("ngram_jaccard", wl_ngram_jaccard, None, None),
    ("simhash_pairs", wl_simhash_pairs, None, None),
    ("cc_clusters", wl_cc_clusters, None, None),
    ("ann_ivf", wl_ann_ivf, None, None),
    ("user_sim_grid", wl_user_similarity, 4, None),
    ("user_sim_flat", wl_user_similarity_flat, 4, None),
    ("user_sim_capped", wl_user_similarity_capped, None, None),
    ("stream_flagship", wl_stream_flagship, None, prepare_stream_flagship),
]


def main() -> None:
    # Args: [sf_dir] [K ...] [name-substring ...] in any order after
    # sf_dir — integers are replication factors, anything else filters
    # WORKLOADS by substring (so one workload can be re-measured
    # without repeating the whole sweep). Anything path-shaped (has a
    # separator) is treated as the sf_dir and must EXIST: a mistyped
    # directory must fail loudly, not silently demote to a name
    # filter and record default-dataset numbers under the wrong label.
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and not args[0].isdigit() and (os.sep in args[0] or os.path.isdir(args[0])):
        sf_dir = args.pop(0)
    if not os.path.isdir(sf_dir):
        raise SystemExit(f"sf_dir does not exist: {sf_dir}")
    ks = [int(a) for a in args if a.isdigit()] or [1, 10]
    name_filters = [a for a in args if not a.isdigit()]
    workloads = [
        (n, fn, mk, prep)
        for n, fn, mk, prep in WORKLOADS
        if not name_filters or any(f in n for f in name_filters)
    ]
    if not workloads:
        raise SystemExit(f"no workload matches {name_filters}")
    spark = get_spark("stress-scale")
    # Warm the session once (scan + codegen + python-free agg path) so
    # K=1 doesn't absorb cold-start and the K ratio stays honest.
    load_table(spark, sf_dir, "lineitem").count()
    print(f"{'workload':<18} {'K':>3} {'wall_s':>8} {'rows':>10}")
    results: dict[str, dict[int, float]] = {}
    # STRESS_NO_CAP=1 bypasses every max_k (ADVICE r04): an explicit
    # `stress_scale.py user_sim 10` should be able to run the heavy
    # exact form deliberately instead of printing only skip rows —
    # the cap protects the DEFAULT sweep, not an informed operator.
    no_cap = bool(os.environ.get("STRESS_NO_CAP"))
    for name, fn, max_k, prepare in workloads:
        for k in ks:
            if max_k is not None and k > max_k and not no_cap:
                print(
                    f"{name:<18} {k:>3} {'skip':>8} "
                    f"(> max_k {max_k}; STRESS_NO_CAP=1 overrides)"
                )
                continue
            release_managed()
            if prepare is not None:
                prepare(spark, sf_dir, k)
            t = time.time()
            n = fn(spark, sf_dir, k).count()
            wall = time.time() - t
            results.setdefault(name, {})[k] = wall
            print(f"{name:<18} {k:>3} {wall:>8.1f} {n:>10}")
    if len(ks) >= 2:
        lo, hi = ks[0], ks[-1]
        print(f"\nwall ratio K={hi} vs K={lo} (data ratio {hi / lo:.0f}×):")
        for name, r in results.items():
            if lo in r and hi in r:
                print(f"  {name:<18} {r[hi] / max(r[lo], 1e-9):>6.2f}×")


if __name__ == "__main__":
    main()
