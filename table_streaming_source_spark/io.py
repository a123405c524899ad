"""Fixture-table loading helpers shared by queries, tests and bench.

``load_table`` serves **cached snapshots** by default: each (sf_dir, table)
is scanned once per process, spread across the cluster, and persisted —
the engine's core semantics (the reference caches its table snapshot and
serves the same RDD to every batch within a TTL window,
`TableInputDStream.scala:51-62`).  Benefits at both test and 100 TB scale:

- **Scan parallelism.**  A single-row-group parquet file scans on one
  task no matter the split count; the one-time round-robin spread after
  the first scan gives every later operator full-cluster parallelism.
- **Scan amortization.**  Interactive/bench workloads touch the same
  tables repeatedly; in-memory columnar batches skip parquet decode.

Pass ``cached=False`` to read straight from parquet (tests do this to
observe real file scans).  A table that exceeds cluster memory still
caches: MEMORY_AND_DISK spills to disk.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# tables smaller than this stay at their natural partitioning (spreading a
# 25-row dimension across 32 partitions just adds scheduling overhead);
# 256 KB catches the CPU-heavy documents/embeddings tables whose per-row
# work (hashing, dot products) dwarfs their byte size
_SPREAD_MIN_BYTES = 256 << 10

# (session java id, path) → persisted snapshot DataFrame
_SNAPSHOT_CACHE: dict[tuple[int, str], DataFrame] = {}


def sf_dir_from_env(default: str = DEFAULT_SF_DIR) -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Raw parquet read of one fixture table (TESTDATA.md contract).

    The fixture timestamps are tz-naive (parquet isAdjustedToUTC=false):
    read them as TIMESTAMP (UTC instants) rather than TIMESTAMP_NTZ —
    watermarks require TIMESTAMP event time, and under the UTC session
    zone the wall-clock values are identical to what DuckDB's oracle
    sees.  Older fixture generations stored ``events.ts`` as nanosecond
    timestamps, which Spark's parquet reader rejects by default; that
    path reads them as longs (``spark.sql.legacy.parquet.nanosAsLong``)
    and converts with exact integer division (``div`` — a double-path
    division would lose low bits above 2^53 ns), matching DuckDB's
    ns→µs truncation.

    Sessions built by :func:`session.get_spark` already pin the NTZ conf;
    for externally-created sessions the confs here are a defensive
    fallback, snapshotted and restored after schema resolution (which is
    when parquet type mapping consults them) so a passed-in session's
    state is not mutated.  The one exception: when the legacy nanos path
    is actually active, ``nanosAsLong`` stays set — the runtime scan of
    the cached plan still needs it.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    ntz_key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    nanos_key = "spark.sql.legacy.parquet.nanosAsLong"
    prior_ntz = spark.conf.get(ntz_key, None)
    spark.conf.set(ntz_key, "false")
    path = f"{sf_dir}/{name}.parquet"
    try:
        if name != "events":
            return spark.read.parquet(path)
        prior_nanos = spark.conf.get(nanos_key, None)
        spark.conf.set(nanos_key, "true")
        df = spark.read.parquet(path)
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif prior_nanos is not None:
            spark.conf.set(nanos_key, prior_nanos)
        else:
            # previously UNSET — restore means unset, not leave-set
            spark.conf.unset(nanos_key)
        return df
    finally:
        if prior_ntz is not None:
            spark.conf.set(ntz_key, prior_ntz)
        else:
            spark.conf.unset(ntz_key)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, cached: bool = True
) -> DataFrame:
    """One fixture table, served from the process snapshot cache."""
    if not cached:
        return _read_table(spark, sf_dir, name)

    path = f"{sf_dir}/{name}.parquet"
    key = (id(spark._jsparkSession), path)
    df = _SNAPSHOT_CACHE.get(key)
    if df is None:
        df = _read_table(spark, sf_dir, name)
        try:
            n_bytes = os.path.getsize(path)
        except OSError:
            n_bytes = 0
        if n_bytes >= _SPREAD_MIN_BYTES:
            df = df.repartition(spark.sparkContext.defaultParallelism)
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        _SNAPSHOT_CACHE[key] = df
    return df


def clear_snapshot_cache(spark: SparkSession | None = None) -> None:
    """Unpersist and drop all cached snapshots (or one session's)."""
    for key, df in list(_SNAPSHOT_CACHE.items()):
        if spark is None or key[0] == id(spark._jsparkSession):
            try:
                df.unpersist()
            except Exception:
                pass
            del _SNAPSHOT_CACHE[key]


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [load_table(spark, sf_dir, n) for n in (names or TABLES)]
