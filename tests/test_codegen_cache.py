"""Spark's cache of compiled generated classes holds the engine's
working set (``session.CODEGEN_CACHE_ENTRIES``): a second pass over a
query set whose generated classes outnumber Spark's default of 100
entries compiles almost nothing. At 100 entries the second pass of the
set below recompiled 93-106 of its classes."""

from __future__ import annotations

from evaluate_human_balance_with_spark_streaming_spark.caching import release_managed
from evaluate_human_balance_with_spark_streaming_spark.plans import registry
from evaluate_human_balance_with_spark_streaming_spark.session import CODEGEN_CACHE_ENTRIES

# The analytics_batch benchmark's queries; at sf0.001 a pass over them
# from an empty cache compiles about 121 classes.
QUERIES = (
    "stedi_flagship_join",
    "q_pricing_summary",
    "q_ranking_battery",
    "dedup_minhash_lsh",
    "dedup_lsh_clusters",
    "text_stats_battery",
    "mm_pandas_features",
)
SPARK_DEFAULT_ENTRIES = 100
# A second run of a plan can generate a few classes anew, when AQE
# numbers its whole-stage classes or orders a join's sides differently
# (the dedup operators recompiled 4-6 classes per second pass in 4 runs).
SECOND_PASS_MAX_COMPILES = 12


def _codegen_cache(spark):
    """Spark's compiled-class cache (``CodeGenerator.cache``, private)."""
    jvm, gateway = spark._jvm, spark.sparkContext._gateway
    cls = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    method = cls.getDeclaredMethod("cache", gateway.new_array(jvm.java.lang.Class, 0))
    method.setAccessible(True)
    return method.invoke(cls.getField("MODULE$").get(None),
                         gateway.new_array(jvm.java.lang.Object, 0))


def _compiles_per_pass(spark, sf_dir) -> int:
    """Classes compiled while every query of ``QUERIES`` is written to
    the noop sink once: Spark counts each Janino compile in the
    source-code-size histogram, and a cache hit compiles nothing."""
    source_sizes = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_SOURCE_CODE_SIZE()
    queries = registry.all_queries()
    before = source_sizes.getCount()
    for name in QUERIES:
        release_managed()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    release_managed()
    return source_sizes.getCount() - before


def test_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_second_pass_reuses_compiled_classes(spark, sf_dir):
    # Start from an empty cache, so the first pass compiles the set's
    # whole working set whichever tests ran before in this JVM.
    _codegen_cache(spark).invalidateAll()
    first = _compiles_per_pass(spark, sf_dir)
    second = _compiles_per_pass(spark, sf_dir)
    assert first > SPARK_DEFAULT_ENTRIES, (first, second)
    assert second <= SECOND_PASS_MAX_COMPILES, (first, second)
