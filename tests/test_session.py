"""The session keeps a repeated workload's generated code compiled.

Whole-stage codegen compiles each distinct generated class once per JVM
and keeps it in an LRU cache of ``spark.sql.codegen.cache.maxEntries``
classes.  When a workload's classes outnumber the cache, every repeat of
the workload recompiles them all; ``get_spark`` sizes the cache so the
catalog's working set stays compiled."""

# perfbench/catalog.py::ENTRIES: one catalog entry per operator family.
ENTRIES = (
    "flagship_enrichment",
    "pricing_summary",
    "dedup_minhash_lsh",
    "sim_pairs_blocked",
    "text_line_dedup",
    "graph_pagerank",
    "multimodal_jpeg_stats",
)
# Classes a repeated pass may still compile: plan variants that adaptive
# execution picks at run time for the first time (0-22 per pass seen).
# Spark's default cache of 100 classes recompiles ~180 per pass.
MAX_REPEAT_COMPILES = 30


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM: one per cache miss."""
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


def _catalog_pass(spark, sf_dir) -> int:
    from table_streaming_source_spark.plans.catalog import QUERIES

    before = _compiles(spark)
    for entry in ENTRIES:
        QUERIES[entry](spark, sf_dir).write.format("noop") \
            .mode("overwrite").save()
    return _compiles(spark) - before


def test_get_spark_sets_codegen_cache_cap(spark):
    from table_streaming_source_spark.session import (
        CODEGEN_CACHE_MAX_ENTRIES,
    )

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES
    )
    assert CODEGEN_CACHE_MAX_ENTRIES > 100  # Spark's default


def test_repeated_catalog_pass_recompiles_nothing(spark, sf_dir):
    first = _catalog_pass(spark, sf_dir)
    second = _catalog_pass(spark, sf_dir)
    assert second <= MAX_REPEAT_COMPILES, (first, second)
