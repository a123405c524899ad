"""The session keeps a repeated workload's generated code compiled.

Whole-stage codegen compiles each distinct generated class once per JVM
and keeps it in an LRU cache of ``spark.sql.codegen.cache.maxEntries``
classes.  When a workload's classes outnumber the cache, every repeat of
the workload recompiles them all; ``get_spark`` sizes the cache so the
catalog's working set stays compiled.

Building a query is driver work: every ``Column`` and ``functions`` call
is a py4j round trip or more.  ``get_spark`` turns off PySpark's
DataFrame debugging, which would wrap each such call in about ten more
to record its Python call site."""

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


# py4j calls to build pricing_summary without running it: 535 with
# DataFrame debugging on, 135 with it off.  Python's garbage collector
# also sends py4j commands (``m`` for memory) at times of its own; those
# are not counted.
MAX_BUILD_PY4J_CALLS = 200


def test_get_spark_turns_off_dataframe_debugging(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
        == "false"
    )
    assert is_debugging_enabled() is False


def test_building_a_query_records_no_call_sites(spark, sf_dir, monkeypatch):
    from py4j.clientserver import ClientServerConnection

    from table_streaming_source_spark.plans.catalog import QUERIES

    QUERIES["pricing_summary"](spark, sf_dir)  # load the cached tables
    commands = []
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\n"):
            commands.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    QUERIES["pricing_summary"](spark, sf_dir)
    monkeypatch.undo()
    origin = [c for c in commands if "PySparkCurrentOrigin" in c]
    assert origin == [], origin[:3]
    assert len(commands) <= MAX_BUILD_PY4J_CALLS, len(commands)
