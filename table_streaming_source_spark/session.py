"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the settings
below are chosen to also be the right *defaults* for a multi-executor
cluster at 100 TB — AQE handles runtime partition coalescing and skew
splitting, shuffle partitions are sized by environment, and Arrow keeps any
Python-side batch work vectorized.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Size of Spark's generated-class cache (spark.sql.codegen.cache.maxEntries,
# default 100): one LRU cache per JVM, sized when the JVM first generates
# code.  Distinct classes compiled, measured with an unbounded cache: 226
# over repeated catalog_batch passes of 7 entries, 1293 in bench.py's 67
# queries, 10078 in the Tier-1 suite.  At 100 every repeat of the catalog
# pass recompiled 180-184 classes; with this cap it compiles 0-16.  Guava
# evicts per segment (4 segments of a quarter of the cap each), hence the
# headroom.  Memory follows the classes a workload compiles, not the cap.
# Over the default cap, the driver after System.gc() holds: catalog passes,
# heap 123.9 -> 123.7 MB, Metaspace 160.9 -> 161.2 MB; bench.py, Metaspace
# 197.9 -> 206.7 MB (its heap is mostly cached tables).  The Tier-1 suite
# ends with all 10033 of its classes cached, at 414 MB heap and 298 MB
# Metaspace.
CODEGEN_CACHE_MAX_ENTRIES = 16384

# The directory holding this package; Python workers need it on their path
# to start the session's daemon (_pydaemon.py) and to run library UDFs.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_EXECUTOR_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def _default_driver_memory() -> str:
    """Size the local-mode JVM to the machine instead of a constant.

    In ``local[n]`` ONE JVM holds the driver, every executor thread's
    execution memory, the block manager (snapshot caches + checkpoint
    blocks), and all broadcasts.  A fixed 8g left a full 67-query bench
    session memory-bound on a 128 GiB box: cached and checkpointed
    blocks accumulate across queries faster than the ContextCleaner's
    GC-driven release, which inflated the whole bench by ~15 % and the
    heaviest shuffle/iteration queries (pagerank, connected components,
    minhash verify) up to 1.8× their isolated times.
    Default: a quarter of physical RAM, clamped to [8g, 24g] — small
    boxes keep 8g, big boxes stop thrashing; any cluster deploy still
    pins ``SPARK_DRIVER_MEMORY`` explicitly."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
                    break
            else:
                return "8g"
    except OSError:
        return "8g"
    quarter_gb = total_kb // (4 * 1024 * 1024)
    return f"{min(24, max(8, quarter_gb))}g"


def get_spark(
    app_name: str = "table_streaming_source_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic broadcast conversion — essential at 100 TB where static
        # partition counts are always wrong for some stage.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Size-based coalescing (parallelismFirst=false) made the bench
        # 30 % slower, because its CPU-bound stages shuffle KBs and a
        # 64 MB advisory size packs each into one task; a deployment
        # whose reducers are byte-bound sets the two env settings below.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true"),
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_AQE_ADVISORY_SIZE", "64m"),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Broadcast threshold sized to executor memory, not the 10 MB
        # legacy default: on 100+ GiB executors a 64 MB dimension is cheap
        # to ship and saves a full shuffle of the fact side; genuinely
        # large relations still exceed it and fall back to sort-merge.
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_BROADCAST_THRESHOLD", "64m"),
        )
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_BROADCAST_THRESHOLD", "64m"),
        )
        # Arrow for any pandas-UDF / toPandas path (vectorized transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource filter pushdown: the table-format batch
        # source (sources/format_batch.py) prunes manifest files from
        # pushed predicates; without this conf a reader overriding
        # pushFilters errors at plan time.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Deterministic timestamp semantics for oracle comparison.  The
        # fixture parquet stores tz-naive timestamps (isAdjustedToUTC=false);
        # reading them as TIMESTAMP_NTZ would break watermarks (Spark
        # requires TIMESTAMP event time), so read them as UTC instants —
        # identical wall-clock under the UTC session zone below.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # PySpark's DataFrame debugging captures the Python call site of
        # every Column and functions call, about ten py4j round trips
        # each; a catalog_batch pass made 5072 calls with it and 2297
        # without (docs/SCALE.md §0c).  Errors keep their error class and
        # DataFrame context, less the Python call site; pass "true" in
        # extra_conf to see call sites while debugging.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config(
            "spark.sql.codegen.cache.maxEntries",
            str(CODEGEN_CACHE_MAX_ENTRIES),
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
        # PySpark's worker daemon, less the re-read of every zip-import
        # directory before each task: 16 reads, about half of a no-op
        # Arrow task's cost (docs/SCALE.md §0d).
        .config(
            "spark.python.daemon.module",
            "table_streaming_source_spark._pydaemon",
        )
    )
    extra_conf = dict(extra_conf or {})
    extra_conf[_EXECUTOR_PYTHONPATH] = os.pathsep.join(
        filter(None, [extra_conf.get(_EXECUTOR_PYTHONPATH), _PACKAGE_ROOT])
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
