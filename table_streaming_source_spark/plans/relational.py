"""Relational operator catalog (SURVEY.md §2B top half): scans, filters,
joins (equi/semi/anti/theta/as-of), aggregations (incl. rollup/cube/
grouping sets/statistics), window functions, sort/limit/top-k, set ops,
scalar function packs (string/date/math/json/array), and batch analogues of
the streaming windows.

Each ``q_*`` takes ``(spark, sf_dir)`` and returns a DataFrame; ``ORACLES``
holds the DuckDB twin for every query.  The reference provides none of
these natively — they are the operator surface its host pipeline supplies
downstream of the snapshot source (`TableStreamingSource.java:49-51`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from table_streaming_source_spark.operators.joins import asof_join
from table_streaming_source_spark.plans.common import (
    davg,
    dsum,
    sql_davg,
    sql_dsum,
    t,
)

ORACLES: dict[str, str] = {}


# ---------------------------------------------------------------------------
# scans / projection (reference A1+A3: snapshot scan + schema projection)
# ---------------------------------------------------------------------------

def q_snapshot_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full snapshot scan with rowField-first projection — the reference's
    entire operator surface (`TableInputDStream.scala:51-59`,
    `TableStreamingSource.java:95-118`) as a batch query."""
    from table_streaming_source_spark.snapshot import load_snapshot

    return load_snapshot(
        spark, f"{sf_dir}/customer.parquet", row_field="c_custkey"
    )


ORACLES["snapshot_scan"] = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM customer WHERE c_custkey IS NOT NULL
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two TTL refreshes of the orders snapshot
    (snapshot.py::snapshot_diff): the "new" snapshot deterministically
    deletes every 7th key, bumps the price of every remaining 5th key,
    and inserts re-keyed copies of every 11th key.  Only (key, digest)
    pairs shuffle — the reference's re-emit-everything refresh
    (`TableInputDStream.scala:51-54`) becomes a delta at 100 TB."""
    from table_streaming_source_spark.snapshot import snapshot_diff

    o = t(spark, sf_dir, "orders")
    surviving = o.filter(F.col("o_orderkey") % 7 != 0)
    updated = surviving.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    inserts = o.filter(F.col("o_orderkey") % 11 == 0).withColumn(
        "o_orderkey", -F.col("o_orderkey")
    )
    new = updated.unionByName(inserts)
    return snapshot_diff(
        o, new, key="o_orderkey",
        compare_cols=["o_orderstatus", "o_totalprice"],
    )


ORACLES["snapshot_diff"] = """
WITH surviving AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 7 <> 0
),
new_snap AS (
  SELECT * FROM surviving
  UNION ALL
  SELECT -o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 11 = 0
),
old_snap AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'insert'
            WHEN n.o_orderkey IS NULL THEN 'delete'
            WHEN (o.o_orderstatus, o.o_totalprice)
                 IS DISTINCT FROM (n.o_orderstatus, n.o_totalprice)
                 THEN 'update' END AS change
FROM old_snap o FULL OUTER JOIN new_snap n USING (o_orderkey)
WHERE CASE WHEN o.o_orderkey IS NULL THEN 'insert'
           WHEN n.o_orderkey IS NULL THEN 'delete'
           WHEN (o.o_orderstatus, o.o_totalprice)
                IS DISTINCT FROM (n.o_orderstatus, n.o_totalprice)
                THEN 'update' END IS NOT NULL
"""


def q_snapshot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC round-trip law: ``apply(old, diff(old, new)) ≡ new``.  The
    changeset (diff with values — payload cost proportional to the
    delta) replays onto the old snapshot via a broadcast anti-join +
    union, and the oracle states the *target snapshot directly* — the
    strongest possible check of both operators at once."""
    from table_streaming_source_spark.snapshot import (
        snapshot_apply,
        snapshot_diff,
    )

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    surviving = o.filter(F.col("o_orderkey") % 7 != 0)
    updated = surviving.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    inserts = o.filter(F.col("o_orderkey") % 11 == 0).withColumn(
        "o_orderkey", -F.col("o_orderkey")
    )
    new = updated.unionByName(inserts)
    changeset = snapshot_diff(
        o, new, key="o_orderkey", include_values=True
    )
    return snapshot_apply(o, changeset, key="o_orderkey")


ORACLES["snapshot_roundtrip"] = """
SELECT o_orderkey, o_orderstatus,
       CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
            ELSE o_totalprice END AS o_totalprice
FROM orders WHERE o_orderkey % 7 <> 0
UNION ALL
SELECT -o_orderkey, o_orderstatus, o_totalprice
FROM orders WHERE o_orderkey % 11 = 0
"""


def q_changelog_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction (latest-row-wins): a synthetic 3-version CDC
    log per order key collapses to current state — the Delta/Hudi
    read-side primitive, as one struct-max hash aggregate (version
    rides first in the struct, so ties are impossible and the payload
    never sorts globally).  At 100 TB this is the compaction job that
    bounds changelog reads; the aggregate is partial/map-side
    combinable."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    log = (
        o.withColumn("version", F.lit(1))
        .unionByName(
            o.filter(F.col("o_orderkey") % 2 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + 10.0)
            .withColumn("version", F.lit(2))
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 6 == 0)
            .withColumn("o_orderstatus", F.lit("X"))
            .withColumn("o_totalprice", F.col("o_totalprice") + 20.0)
            .withColumn("version", F.lit(3))
        )
    )
    return (
        log.groupBy("o_orderkey")
        .agg(
            F.max(
                F.struct("version", "o_orderstatus", "o_totalprice")
            ).alias("__cur")
        )
        .select(
            "o_orderkey",
            F.col("__cur.version").alias("version"),
            F.col("__cur.o_orderstatus").alias("o_orderstatus"),
            F.col("__cur.o_totalprice").alias("o_totalprice"),
        )
    )


ORACLES["changelog_compact"] = """
WITH log AS (
  SELECT o_orderkey, 1 AS version, o_orderstatus, o_totalprice
  FROM orders
  UNION ALL
  SELECT o_orderkey, 2, o_orderstatus, o_totalprice + 10.0
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, 3, 'X', o_totalprice + 20.0
  FROM orders WHERE o_orderkey % 6 = 0
)
SELECT o_orderkey, version, o_orderstatus, o_totalprice
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                   ORDER BY version DESC) AS rn
      FROM log)
WHERE rn = 1
"""


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert): apply one CDC batch of inserts/updates/deletes
    to a keyed target in a single pass — the Delta/Hudi/Iceberg write-side
    primitive the reference's host pipelines use to maintain the very
    tables its snapshot source re-reads (`TableInputDStream.scala:51-59`).

    Semantics (ANSI MERGE):  matched & op='D' → delete; matched & op='U'
    → update to source values; NOT matched & op='I' → insert; unmatched
    'U'/'D' rows are no-ops; a matched 'I' keeps the target row (engines
    differ here — documented choice, not exercised by this batch).

    Physical shape (snapshot.py::merge_into): ONE full-outer shuffle
    join on the key — both sides hash-partition once, every merge
    decision is a row-local CASE, and the output is exchange-free
    afterwards.  At 100 TB the CDC batch is ≪ the target, so AQE
    broadcasts it and the target never shuffles at all; there is no
    per-row lookup, no driver loop, no second pass.  The synthetic
    batch derives deterministically from orders: delete every 9th key,
    reprice every remaining 4th, insert re-keyed copies of every
    13th."""
    from table_streaming_source_spark.snapshot import merge_into

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    src = (
        o.filter(F.col("o_orderkey") % 9 == 0)
        .select(
            "o_orderkey",
            F.lit("D").alias("op"),
            F.lit(None).cast("string").alias("o_orderstatus"),
            F.lit(None).cast("double").alias("o_totalprice"),
        )
        .unionByName(
            o.filter(
                (F.col("o_orderkey") % 9 != 0)
                & (F.col("o_orderkey") % 4 == 0)
            ).select(
                "o_orderkey",
                F.lit("U").alias("op"),
                F.lit("P").alias("o_orderstatus"),
                (F.col("o_totalprice") + 5.0).alias("o_totalprice"),
            )
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 13 == 0).select(
                (-F.col("o_orderkey")).alias("o_orderkey"),
                F.lit("I").alias("op"),
                F.lit("N").alias("o_orderstatus"),
                F.col("o_totalprice").alias("o_totalprice"),
            )
        )
    )
    return merge_into(o, src, key="o_orderkey")


ORACLES["merge_upsert"] = """
WITH src AS (
  SELECT o_orderkey, 'D' AS op, CAST(NULL AS VARCHAR) AS s_status,
         CAST(NULL AS DOUBLE) AS s_price
  FROM orders WHERE o_orderkey % 9 = 0
  UNION ALL
  SELECT o_orderkey, 'U', 'P', o_totalprice + 5.0
  FROM orders WHERE o_orderkey % 9 <> 0 AND o_orderkey % 4 = 0
  UNION ALL
  SELECT -o_orderkey, 'I', 'N', o_totalprice
  FROM orders WHERE o_orderkey % 13 = 0
),
tgt AS (SELECT o_orderkey, o_orderstatus, o_totalprice, TRUE AS t
        FROM orders)
SELECT COALESCE(tgt.o_orderkey, src.o_orderkey) AS o_orderkey,
       CASE WHEN (t AND op = 'U') OR (t IS NULL AND op = 'I')
            THEN s_status ELSE o_orderstatus END AS o_orderstatus,
       CASE WHEN (t AND op = 'U') OR (t IS NULL AND op = 'I')
            THEN s_price ELSE o_totalprice END AS o_totalprice
FROM tgt FULL OUTER JOIN src USING (o_orderkey)
WHERE op IS NULL OR (t AND op = 'U') OR (t IS NULL AND op = 'I')
      OR (t AND op = 'I')
"""


def q_merge_upsert_sequenced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE over a RAW CDC batch: several ops per key (insert + later
    update, update + later delete), disambiguated by the feed's
    sequence number — latest-wins struct-max compaction fused in front
    of the upsert-mode merge (`snapshot.py::merge_into(sequence_col=,
    upsert=True)`).  This is the shape an actual changelog consumer
    faces; the strict one-op-per-key `merge_upsert` twin is the curated
    ANSI case.  The oracle compacts with a ROW_NUMBER-latest pass and
    applies the same insert-or-update/delete rules."""
    from table_streaming_source_spark.snapshot import merge_into

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    src = (
        # seq 1: upsert image for every 3rd key (insert-or-update)
        o.filter(k % 3 == 0).select(
            "o_orderkey", F.lit(1).alias("seq"), F.lit("I").alias("op"),
            F.lit("A").alias("o_orderstatus"),
            (F.col("o_totalprice") + 1.0).alias("o_totalprice"),
        )
        # seq 2: a LATER update for every 6th key (same key as above!)
        .unionByName(
            o.filter(k % 6 == 0).select(
                "o_orderkey", F.lit(2).alias("seq"), F.lit("U").alias("op"),
                F.lit("B").alias("o_orderstatus"),
                (F.col("o_totalprice") + 2.0).alias("o_totalprice"),
            )
        )
        # seq 3: a final delete for every 12th key (overrides both)
        .unionByName(
            o.filter(k % 12 == 0).select(
                "o_orderkey", F.lit(3).alias("seq"), F.lit("D").alias("op"),
                F.lit(None).cast("string").alias("o_orderstatus"),
                F.lit(None).cast("double").alias("o_totalprice"),
            )
        )
    )
    return merge_into(
        o, src, key="o_orderkey", sequence_col="seq", upsert=True
    )


ORACLES["merge_upsert_sequenced"] = """
WITH src AS (
  SELECT o_orderkey, 1 AS seq, 'I' AS op, 'A' AS s_status,
         o_totalprice + 1.0 AS s_price
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderkey, 2, 'U', 'B', o_totalprice + 2.0
  FROM orders WHERE o_orderkey % 6 = 0
  UNION ALL
  SELECT o_orderkey, 3, 'D', CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
  FROM orders WHERE o_orderkey % 12 = 0
),
compacted AS (
  SELECT o_orderkey, op, s_status, s_price FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                 ORDER BY seq DESC) AS rn
    FROM src
  ) WHERE rn = 1
)
SELECT COALESCE(t.o_orderkey, c.o_orderkey) AS o_orderkey,
       CASE WHEN c.op IN ('I', 'U') THEN c.s_status
            ELSE t.o_orderstatus END AS o_orderstatus,
       CASE WHEN c.op IN ('I', 'U') THEN c.s_price
            ELSE t.o_totalprice END AS o_totalprice
FROM orders t FULL OUTER JOIN compacted c USING (o_orderkey)
WHERE c.op IS NULL OR c.op IN ('I', 'U')
"""


def q_ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling to OHLC bars: events → hourly
    open/high/low/close/volume per event type — the downsampling rollup
    every metrics store runs over its raw stream.

    Open/close are struct-min/struct-max over ``(ts, event_id, value)``
    — ties impossible (event_id is unique), and the aggregate is
    partial/map-side combinable, so the whole bar computation is ONE
    hash aggregation with no window sort and no second pass.  At 100 TB
    the input is already partitioned by arrival date; the per-(hour,
    type) groups are tiny and uniform — no skew, one shuffle of partial
    aggregates only."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            "event_type",
        )
        .agg(
            F.min(F.struct("ts", "event_id", "value")).alias("__o"),
            F.max(F.struct("ts", "event_id", "value")).alias("__c"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            dsum("value").alias("volume"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "bucket",
            "event_type",
            F.col("__o.value").alias("open"),
            "high",
            "low",
            F.col("__c.value").alias("close"),
            "volume",
            "n",
        )
    )


ORACLES["ts_resample_ohlc"] = f"""
WITH ranked AS (
  SELECT DATE_TRUNC('hour', ts) AS bucket, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY DATE_TRUNC('hour', ts), event_type
                            ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY DATE_TRUNC('hour', ts), event_type
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT bucket, event_type,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high, MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       {sql_dsum('value')} AS volume, COUNT(*) AS n
FROM ranked GROUP BY bucket, event_type
"""


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key: bit-interleave two join/filter
    dimensions so a single sort co-locates both — the multi-dimension
    data-skipping layout (row-group min/max stats prune on BOTH columns
    after writing in z-order).  Pure row-local integer bit arithmetic,
    identical in the oracle; the sort is the one shuffle a layout job
    pays."""
    from table_streaming_source_spark.operators.hof import morton_key

    o = t(spark, sf_dir, "orders")
    z = morton_key(
        (F.col("o_custkey") % 1024).cast("long"),
        (F.col("o_orderkey") % 1024).cast("long"),
        bits=10,
    )
    return o.select(
        "o_orderkey", "o_custkey", z.alias("zkey")
    ).orderBy("zkey", "o_orderkey")


def _zorder_sql() -> str:
    bits = " | ".join(
        f"((((o_custkey % 1024) >> {i}) & 1) << {2 * i})"
        f" | ((((o_orderkey % 1024) >> {i}) & 1) << {2 * i + 1})"
        for i in range(10)
    )
    return f"""
SELECT o_orderkey, o_custkey, CAST({bits} AS BIGINT) AS zkey
FROM orders
ORDER BY zkey, o_orderkey
"""


ORACLES["zorder_key"] = _zorder_sql()


#: (session id, sf_dir, format) → materialized source dir
_SOURCE_FIXTURES: dict[tuple[int, str, str], str] = {}


def _source_fixture(
    spark: SparkSession, sf_dir: str, fmt: str
) -> str:
    """Materialize the events table once per session in an alternate
    source format (CSV / JSON / event_type-partitioned parquet) so the
    scan entries measure the reader, not fixture synthesis.  Scratch
    paths are deterministic per (sf_dir, fmt) and removed at exit
    (plans/_scratch.py) — repeated runs overwrite instead of orphaning."""
    from table_streaming_source_spark.plans import _scratch

    key = (id(spark._jsparkSession), sf_dir, fmt)
    path = _SOURCE_FIXTURES.get(key)
    if path is not None:
        return path
    path = _scratch.scratch_dir(f"source_{fmt}", sf_dir, fresh=True)
    events = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    if fmt == "csv":
        events.repartition(4).write.mode("overwrite").option(
            "header", "true"
        ).csv(path)
    elif fmt == "json":
        events.repartition(4).write.mode("overwrite").json(path)
    elif fmt == "orc":
        events.repartition(4).write.mode("overwrite").orc(path)
    elif fmt == "xml":
        events.repartition(4).write.mode("overwrite").option(
            "rowTag", "event"
        ).format("xml").save(path)
    elif fmt == "partitioned":
        events.write.mode("overwrite").partitionBy("event_type").parquet(
            path
        )
    else:
        raise ValueError(fmt)
    _SOURCE_FIXTURES[key] = path
    return path


def q_source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source scan with an explicit schema (never inferSchema at
    scale — inference reads the data twice) feeding an aggregation.
    Text sources carry no column statistics or pushdown, so at 100 TB
    the right pattern is exactly this: scan once with a declared schema,
    project only needed columns, and convert to parquet for anything
    repeated.  Values round-trip exactly: ids are integers and ``value``
    has 2 decimal digits, so CSV decimal text parses back to the
    identical double."""
    path = _source_fixture(spark, sf_dir, "csv")
    df = (
        spark.read.schema(
            "event_id long, user_id long, event_type string, value double"
        )
        .option("header", "true")
        .csv(path)
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", 6).alias("sum_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


ORACLES["source_csv"] = f"""
SELECT event_type, COUNT(*) AS n, {sql_dsum('value', 6)} AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


def q_source_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source scan with an explicit schema — the landing
    format of most event pipelines.  Same declared-schema discipline as
    CSV (schema inference is a second full read at 100 TB); downstream
    plan identical, so the oracle is shared shape with ``source_csv``."""
    path = _source_fixture(spark, sf_dir, "json")
    df = spark.read.schema(
        "event_id long, user_id long, event_type string, value double"
    ).json(path)
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", 6).alias("sum_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


ORACLES["source_json"] = ORACLES["source_csv"]


def q_source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source scan — the other columnar format Spark ships natively.
    Unlike the text sources, ORC carries types, column pruning, and
    predicate pushdown, so the declared-schema discipline is free;
    downstream plan identical to ``source_csv``/``source_json``, shared
    oracle.  At 100 TB the read path matters: ORC stripes split like
    parquet row groups, so the scan parallelizes without small-file
    repair."""
    path = _source_fixture(spark, sf_dir, "orc")
    df = spark.read.orc(path)
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", 6).alias("sum_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


ORACLES["source_orc"] = ORACLES["source_csv"]


def q_source_parquet_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet generations under one source —
    generation 1 written before ``o_orderstatus`` existed, generation 2
    after — read with ``mergeSchema`` so the union schema applies and
    pre-evolution rows surface the new column as NULL.  This is the
    long-lived-table reality every 100 TB lake hits: columns are added
    over years and a scan must reconcile footers across generations.
    (Without the option the reader picks one file's footer — the entry
    genuinely exercises the merge.)  The aggregate groups on the evolved
    column, so the NULL back-fill is value-checked, not just
    schema-checked."""
    import os

    key = (id(spark._jsparkSession), sf_dir, "pq_evolved")
    path = _SOURCE_FIXTURES.get(key)
    if path is None or not os.path.isdir(path):
        from table_streaming_source_spark.plans import _scratch

        path = _scratch.scratch_dir("source_pq_evolved", sf_dir, fresh=True)
        o = t(spark, sf_dir, "orders")
        o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ).write.mode("overwrite").parquet(f"{path}/gen1")
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        ).write.mode("overwrite").parquet(f"{path}/gen2")
        _SOURCE_FIXTURES[key] = path

    df = spark.read.option("mergeSchema", "true").parquet(
        f"{path}/gen1", f"{path}/gen2"
    )
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice").alias("sum_price"),
    )


ORACLES["source_parquet_evolved"] = f"""
WITH ev AS (
  SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT o_orderstatus, COUNT(*) AS n, {sql_dsum('o_totalprice')} AS sum_price
FROM ev GROUP BY o_orderstatus
"""


#: the reference's configure-time contract: an Avro-flavoured JSON schema
#: (TableStreamingSourceConfig.java:101-107) — here declaring the events
#: wire shape, including a timestamp-micros logical type
_EVENTS_AVRO_SCHEMA = (
    '{"type": "record", "name": "event", "fields": ['
    '{"name": "event_id", "type": "long"}, '
    '{"name": "user_id", "type": "long"}, '
    '{"name": "event_type", "type": "string"}, '
    '{"name": "value", "type": "double"}, '
    '{"name": "ts", "type": {"type": "long", '
    '"logicalType": "timestamp-micros"}}]}'
)


def q_source_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro container-file source — the reference's native wire format
    (its config declares an Avro-JSON schema; A6 bridges it to
    StructType), read WITHOUT the spark-avro jar: spec-compliant
    pure-Python OCF decode (``sources/avro_ocf.py``, deflate codec,
    zigzag varints, sync-marker validation) distributed over the
    built-in ``binaryFile`` source + Arrow ``mapInPandas`` — one
    container per executor task, payloads never on the driver.  The
    aggregation includes ``max(ts)`` so the timestamp-micros logical
    type must decode exactly; doubles round-trip bit-exact (raw IEEE
    bits on the wire)."""
    import os as _os

    from table_streaming_source_spark.sources.avro_ocf import (
        read_avro,
        write_ocf_pandas,
    )

    key = (id(spark._jsparkSession), sf_dir, "avro")
    path = _SOURCE_FIXTURES.get(key)
    if path is None:
        from table_streaming_source_spark.plans import _scratch
        from table_streaming_source_spark.plans._fixtures import (
            write_sharded,
        )

        path = _scratch.scratch_dir("source_avro", sf_dir, fresh=True)

        def _shard(shard, rows):
            write_ocf_pandas(
                rows, _EVENTS_AVRO_SCHEMA,
                _os.path.join(path, f"part-{shard}.avro"),
            )

        write_sharded(
            t(spark, sf_dir, "events").select(
                "event_id", "user_id", "event_type", "value", "ts"
            ),
            key="event_id", n_shards=4, write_shard=_shard,
        )
        _SOURCE_FIXTURES[key] = path

    df = read_avro(spark, path, _EVENTS_AVRO_SCHEMA)
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", 6).alias("sum_value"),
            F.count_distinct("user_id").alias("n_users"),
            F.max("ts").alias("max_ts"),
        )
    )


ORACLES["source_avro"] = f"""
SELECT event_type, COUNT(*) AS n, {sql_dsum('value', 6)} AS sum_value,
       COUNT(DISTINCT user_id) AS n_users, MAX(ts) AS max_ts
FROM events GROUP BY event_type
"""


def q_scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-level partition pruning: events stored partitioned by
    ``event_type``; a filter on the partition column prunes entire
    directories at *planning* time (PartitionFilters in the scan — a
    different mechanism from row-group PushedFilters, and the single
    biggest scan saver on date/tenant-partitioned 100 TB layouts).
    The pruned-scan aggregate is value-identical to filtering the flat
    table, which is what the oracle states."""
    path = _source_fixture(spark, sf_dir, "partitioned")
    df = spark.read.parquet(path).filter(
        F.col("event_type") == "purchase"
    )
    return df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value", 6).alias("sum_value"),
    )


ORACLES["scan_partition_pruned"] = f"""
SELECT user_id, COUNT(*) AS n, {sql_dsum('value', 6)} AS sum_value
FROM events WHERE event_type = 'purchase'
GROUP BY user_id
"""


def q_sink_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The idempotent daily-backfill sink pattern (sinks.py
    ``write_partitioned``): the events table lands partitioned by
    ``event_type``; a corrected slice of ONE partition ('purchase',
    values bumped by 1) is then overwritten in dynamic mode, which must
    replace only the partitions present in the incoming frame.  The
    read-back aggregate proves it: every other partition still holds its
    original rows (a static overwrite would have deleted them), and the
    purchase partition holds exactly the corrected rows — which is what
    the oracle states."""
    import shutil as _shutil
    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark.sinks import write_partitioned

    events = t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    path = _scratch.scratch_dir("sink_dpo", sf_dir, fresh=True)
    write_partitioned(
        events, path, partition_by=["event_type"], dynamic=True
    )
    corrected = events.filter(F.col("event_type") == "purchase").withColumn(
        "value", F.col("value") + 1
    )
    write_partitioned(
        corrected, path, partition_by=["event_type"], dynamic=True
    )
    result = (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", 6).alias("sum_value"),
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["sink_partition_overwrite"] = f"""
SELECT event_type, COUNT(*) AS n,
       {sql_dsum("value + CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END", 6)}
         AS sum_value
FROM events GROUP BY event_type
"""


def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + projection with a computed column; both predicates and the
    two-column read reach the parquet scan (PushedFilters / ReadSchema)."""
    l = t(spark, sf_dir, "lineitem")
    return (
        l.filter((F.col("l_quantity") >= 30) & (F.col("l_discount") >= 0.05))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )


ORACLES["filter_project"] = """
SELECT l_orderkey, l_linenumber, l_quantity,
       l_extendedprice * (1 - l_discount) AS revenue
FROM lineitem WHERE l_quantity >= 30 AND l_discount >= 0.05
"""


# ---------------------------------------------------------------------------
# aggregations
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: partial+final hash aggregate over a
    date-filtered scan."""
    l = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        dsum(disc_price, 6).alias("sum_disc_price"),
        dsum(charge, 6).alias("sum_charge"),
        davg("l_quantity").alias("avg_qty"),
        davg("l_extendedprice").alias("avg_price"),
        davg("l_discount", 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


ORACLES["pricing_summary"] = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity')} AS sum_qty,
       {sql_dsum('l_extendedprice')} AS sum_base_price,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS sum_disc_price,
       {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
       {sql_davg('l_quantity')} AS avg_qty,
       {sql_davg('l_extendedprice')} AS avg_price,
       {sql_davg('l_discount', 6)} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
"""


def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the region→nation hierarchy with subtotal labels."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    joined = c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            dsum("c_acctbal").alias("sum_acctbal"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n_cust",
            "sum_acctbal",
        )
    )


ORACLES["agg_rollup"] = f"""
SELECT COALESCE(r_name, 'ALL') AS region,
       COALESCE(n_name, 'ALL') AS nation,
       COUNT(*) AS n_cust,
       {sql_dsum('c_acctbal')} AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two grouping dimensions with subtotal labels."""
    l = t(spark, sf_dir, "lineitem")
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_quantity").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_lines",
            "sum_qty",
        )
    )


ORACLES["agg_cube"] = f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       COUNT(*) AS n_lines,
       {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL surface (the engine exposes both
    the DataFrame and spark.sql entry points)."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).createOrReplaceTempView(
        "__cn"
    )
    return spark.sql(
        """
        SELECT COALESCE(n_name, 'ALL') AS nation,
               COALESCE(c_mktsegment, 'ALL') AS segment,
               COUNT(*) AS n_cust
        FROM __cn
        GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
        """
    )


ORACLES["agg_grouping_sets"] = """
SELECT COALESCE(n_name, 'ALL') AS nation,
       COALESCE(c_mktsegment, 'ALL') AS segment,
       COUNT(*) AS n_cust
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
"""


def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) + plain aggregates in one pass (Catalyst expand)."""
    c = t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count(F.lit(1)).alias("n_cust"),
        dsum("c_acctbal").alias("sum_acctbal"),
    )


ORACLES["agg_distinct"] = f"""
SELECT c_mktsegment,
       COUNT(DISTINCT c_nationkey) AS n_nations,
       COUNT(*) AS n_cust,
       {sql_dsum('c_acctbal')} AS sum_acctbal
FROM customer GROUP BY c_mktsegment
"""


def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/correlation/exact
    percentile.  libm/stability-sensitive results are rounded to 6 digits
    on both sides."""
    l = t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
    )


ORACLES["agg_stats"] = """
SELECT l_returnflag,
       ROUND(STDDEV_SAMP(l_quantity), 6) AS sd_qty,
       ROUND(VAR_SAMP(l_quantity), 6) AS var_qty,
       ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty,
       ROUND(QUANTILE_CONT(l_quantity, 0.5), 6) AS median_qty
FROM lineitem GROUP BY l_returnflag
"""


def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: one output column per pivoted key value (explicit value list
    — required at scale: an unlisted pivot forces a pre-pass distinct
    scan to discover the columns)."""
    l = t(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(dsum("l_quantity"))
        .select(
            "l_returnflag",
            F.col("F").alias("qty_f"),
            F.col("O").alias("qty_o"),
        )
    )


ORACLES["agg_pivot"] = f"""
SELECT l_returnflag,
       {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_f,
       {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_o
FROM lineitem GROUP BY l_returnflag
"""


def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct.  Sketch internals differ across
    engines, so the oracle-comparable surface is (a) the *exact* distinct
    count (both engines agree) and (b) a deterministic boolean asserting
    the HLL++ estimate landed within 5 % of it — Spark's sketch is
    deterministic for a given input, so the boolean is stable, and the
    DuckDB oracle emits a literal TRUE.  The raw estimate stays available
    via the error-bound unit test (tests/test_operators.py)."""
    o = t(spark, sf_dir, "orders")
    # the exact and approximate counts aggregate SEPARATELY (guide
    # §2.3/§5): fused, Spark's distinct-agg rewrite carries the HLL++
    # partial buffer (~12 KB dense at rsd 0.01) through the
    # (status, custkey)-keyed stages — one sketch PER DISTINCT CUSTOMER
    # instead of per status.  Split, the sketch stays status-keyed
    # (|statuses| buffers) and the distinct pass shuffles bare keys;
    # measured 3.48 → ~1.2 s at sf0.1, and at 100 TB the fused form's
    # sketch-per-customer shuffle is the difference between KBs and TBs.
    # Values are identical — same aggregates, joined on the group key,
    # null-safe so a NULL status stays one group as in the fused form.
    exact = o.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").alias("exact_custs"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    apx = o.groupBy(F.col("o_orderstatus").alias("__status")).agg(
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("__apx")
    )
    on = F.col("o_orderstatus").eqNullSafe(F.col("__status"))
    return exact.join(apx, on).select(
        "o_orderstatus",
        "exact_custs",
        (
            F.abs(
                F.col("__apx").cast("double")
                - F.col("exact_custs").cast("double")
            )
            <= 0.05 * F.col("exact_custs").cast("double")
        ).alias("approx_within_5pct"),
        "n_orders",
    )


ORACLES["agg_approx_distinct"] = """
SELECT o_orderstatus,
       COUNT(DISTINCT o_custkey) AS exact_custs,
       TRUE AS approx_within_5pct,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------

def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join (fact ⋈ dim) + aggregate.

    No broadcast hint on ``customer``: it grows with SF (150k × SF rows),
    so a forced hint would OOM executors at 100×. AQE converts the join
    to broadcast at runtime whenever the build side is actually small.
    """
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_total"),
        )
    )


ORACLES["join_inner"] = f"""
SELECT c_mktsegment, COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS sum_total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers without orders; null-safe
    aggregation over the padded side."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_big_orders"),
            F.coalesce(dsum("o_totalprice"), F.lit(0.0)).alias("sum_big"),
        )
    )


ORACLES["join_outer"] = f"""
SELECT c_custkey, COUNT(o_orderkey) AS n_big_orders,
       COALESCE({sql_dsum('o_totalprice')}, 0.0) AS sum_big
FROM customer LEFT JOIN (
    SELECT * FROM orders WHERE o_totalprice > 100000
) o ON c_custkey = o_custkey
GROUP BY c_custkey
"""


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join: customers having at least one URGENT order."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


ORACLES["join_semi"] = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join: customers with no orders at all."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


ORACLES["join_anti"] = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range (band) join: lineitems whose quantity falls within ±5
    of the part's size.  The equi key keeps this a hash join; the band
    predicate is evaluated post-probe."""
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    cond = (
        (l.l_partkey == p.p_partkey)
        & (l.l_quantity >= p.p_size - 5)
        & (l.l_quantity <= p.p_size + 5)
    )
    return (
        l.join(p, cond)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_quantity").alias("sum_qty"),
        )
    )


ORACLES["join_theta_range"] = f"""
SELECT p_brand, COUNT(*) AS n_lines, {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem JOIN part
  ON l_partkey = p_partkey
 AND l_quantity >= p_size - 5 AND l_quantity <= p_size + 5
GROUP BY p_brand
"""


def q_join_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 temporal join — facts against a versioned dimension's
    validity window (``key equal AND ts ∈ [valid_from, valid_to)``), the
    standard warehouse shape for slowly-changing dimensions.  The dim is
    derived deterministically: each customer gets three versions with
    per-customer cut dates (``1994/1996-01-01 + (custkey % 365) days``),
    so the oracle restates it in SQL.  The equi key keeps the plan a
    hash/merge join with the window predicate evaluated post-probe —
    never a range-only nested loop; exactly one version matches each
    order, which the count oracle implicitly proves (n_orders sums to
    |orders|)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    off = (F.col("c_custkey") % 365).cast("int")
    lo = F.lit("1000-01-01").cast("date")
    cut1 = F.date_add(F.lit("1994-01-01").cast("date"), off)
    cut2 = F.date_add(F.lit("1996-01-01").cast("date"), off)
    hi = F.lit("9999-12-31").cast("date")
    dim = c.select(
        "c_custkey",
        F.explode(
            F.array(
                F.struct(
                    F.lit("v0").alias("version"),
                    lo.alias("valid_from"),
                    cut1.alias("valid_to"),
                ),
                F.struct(
                    F.lit("v1").alias("version"),
                    cut1.alias("valid_from"),
                    cut2.alias("valid_to"),
                ),
                F.struct(
                    F.lit("v2").alias("version"),
                    cut2.alias("valid_from"),
                    hi.alias("valid_to"),
                ),
            )
        ).alias("v"),
    ).select("c_custkey", "v.version", "v.valid_from", "v.valid_to")
    j = o.join(
        dim,
        (o.o_custkey == dim.c_custkey)
        & (o.o_orderdate >= dim.valid_from)
        & (o.o_orderdate < dim.valid_to),
    )
    return j.groupBy("version").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", 6).alias("revenue"),
    )


ORACLES["join_scd2"] = f"""
WITH dim AS (
  SELECT c_custkey, v.version,
         CASE v.version
           WHEN 'v0' THEN DATE '1000-01-01'
           WHEN 'v1' THEN DATE '1994-01-01' + INTERVAL ((c_custkey % 365)) DAY
           ELSE DATE '1996-01-01' + INTERVAL ((c_custkey % 365)) DAY
         END AS valid_from,
         CASE v.version
           WHEN 'v0' THEN DATE '1994-01-01' + INTERVAL ((c_custkey % 365)) DAY
           WHEN 'v1' THEN DATE '1996-01-01' + INTERVAL ((c_custkey % 365)) DAY
           ELSE DATE '9999-12-31'
         END AS valid_to
  FROM customer, (VALUES ('v0'), ('v1'), ('v2')) AS v(version)
)
SELECT version, COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice', 6)} AS revenue
FROM orders JOIN dim
  ON o_custkey = c_custkey
 AND o_orderdate >= valid_from AND o_orderdate < valid_to
GROUP BY version
"""


def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) self-join: each order paired with the same
    customer's most recent strictly-earlier order."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    j = asof_join(
        o,
        o,
        on=["o_custkey"],
        left_time="o_orderdate",
        right_time="o_orderdate",
        right_tiebreakers=["o_orderkey"],
        strict=True,
        suffix="_prev",
    )
    return j.select(
        "o_orderkey",
        F.col("o_orderkey_prev").alias("prev_orderkey"),
        F.col("o_totalprice_prev").alias("prev_totalprice"),
        F.datediff("o_orderdate", F.col("o_orderdate_prev")).alias("gap_days"),
    )


ORACLES["join_asof"] = """
WITH j AS (
  SELECT l.o_orderkey,
         r.o_orderkey AS prev_orderkey,
         r.o_totalprice AS prev_totalprice,
         DATE_DIFF('day', r.o_orderdate, l.o_orderdate) AS gap_days,
         ROW_NUMBER() OVER (
           PARTITION BY l.o_orderkey
           ORDER BY r.o_orderdate DESC, r.o_orderkey DESC) AS rn
  FROM orders l
  JOIN orders r
    ON l.o_custkey = r.o_custkey AND r.o_orderdate < l.o_orderdate
)
SELECT o_orderkey, prev_orderkey, prev_totalprice, CAST(gap_days AS INT) AS gap_days
FROM j WHERE rn = 1
"""


def q_flagship_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's documented enrichment pattern
    (`docs/Table-streamingsource.md:10-14`) — fact stream enriched through
    the snapshot dimension chain customer→nation→region, then aggregated.
    Only the bounded dims (nation 25 rows, region 5 rows) carry broadcast
    hints; ``customer`` scales with the fact data, so AQE decides its join
    strategy at runtime from observed sizes."""
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            dsum(revenue, 6).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


ORACLES["flagship_enrichment"] = f"""
SELECT r_name, n_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS revenue,
       COUNT(DISTINCT o_orderkey) AS n_orders,
       COUNT(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped orders by revenue for one segment
    — selective dimension filter into the fact spine, grouped revenue,
    global top-k.  ``customer`` carries no broadcast hint (it scales with
    the facts); AQE picks the join strategy from runtime sizes."""
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    cutoff = F.lit("1995-03-15").cast("timestamp")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") > cutoff)
        .join(o.filter(F.col("o_orderdate") < cutoff),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue, 6).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


ORACLES["shipping_priority"] = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate  > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: single filtered scan + global aggregate — the
    pushdown showcase (all three predicates reach the parquet reader)."""
    l = t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), 6).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


ORACLES["forecast_revenue"] = f"""
SELECT {sql_dsum('l_extendedprice * l_discount', 6)} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01'
  AND l_shipdate <  TIMESTAMP '1995-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold
    (HAVING over an aggregate), joined back to order/customer detail —
    the aggregate-filter-then-rejoin pattern.  The filtered key set is
    usually tiny, but it scales with the fact data, so it carries no
    forced broadcast hint — AQE converts the join back to broadcast at
    runtime when the filtered side is actually small."""
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
    )


ORACLES["large_volume_orders"] = f"""
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM orders
JOIN (
  SELECT l_orderkey, {sql_dsum('l_quantity')} AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {sql_dsum('l_quantity')} > 250
) big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_priority_wait(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (adapted — fixtures lack commit/receipt dates, so
    "late" is shipped >30 days after the order date): order-priority
    checking via EXISTS.  The semi join carries an equi key plus a
    cross-table non-equi residual, so Catalyst plans a shuffled semi
    join with the lateness predicate as a post-join filter — the
    EXISTS decorrelation pattern."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = t(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate > F.date_add(o.o_orderdate, 30)),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORACLES["priority_wait"] = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted lateness: shipped >60 days after order
    date): suppliers who were the *sole late supplier* on a
    multi-supplier order.

    The textbook form is two correlated self-joins on lineitem (EXISTS
    another supplier, NOT EXISTS another late supplier) — that is what
    the oracle runs.  Spark-first, we rewrite both exists-checks into
    ONE window pass over the order-joined lineitems: per order,
    ``n_supps = count(distinct supp)`` and ``n_late_supps =
    count(distinct supp) filtered to late``; a late row qualifies iff
    ``n_supps > 1 AND n_late_supps = 1``.  One shuffle by l_orderkey
    replaces two self-join shuffles of the fact table — the rewrite
    that matters at 100 TB, proven equivalent by the oracle."""
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = t(spark, sf_dir, "supplier")
    base = l.join(o, l.l_orderkey == o.o_orderkey).withColumn(
        "is_late",
        (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)).cast(
            "int"
        ),
    )
    w = Window.partitionBy("l_orderkey")
    flagged = base.select(
        "l_orderkey",
        "l_suppkey",
        "is_late",
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supps"),
        F.size(
            F.collect_set(
                F.when(F.col("is_late") == 1, F.col("l_suppkey"))
            ).over(w)
        ).alias("n_late_supps"),
    )
    return (
        flagged.filter(
            (F.col("is_late") == 1)
            & (F.col("n_supps") > 1)
            & (F.col("n_late_supps") == 1)
        )
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


ORACLES["waiting_suppliers"] = """
WITH base AS (
  SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate, o.o_orderdate
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT s.s_name, COUNT(*) AS numwait
FROM base l1
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM base l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM base l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > l3.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s.s_name
"""


def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balance who
    placed no order in a window (every fixture customer has *some*
    order, so the anti join targets H1-1996) — a scalar aggregate subquery (broadcast as a
    1-row cross join) feeding a left-anti join against the fact table,
    rolled up by market segment."""
    c = t(spark, sf_dir, "customer")
    o = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
        )
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        davg("c_acctbal").alias("__avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(o, F.col("c_custkey") == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


ORACLES["idle_customers"] = f"""
SELECT c_mktsegment, COUNT(*) AS numcust,
       {sql_dsum('c_acctbal')} AS totacctbal
FROM customer c
WHERE c_acctbal > (
    SELECT {sql_davg('c_acctbal')} FROM customer WHERE c_acctbal > 0
)
AND NOT EXISTS (
    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
)
GROUP BY c_mktsegment
"""


def _rev() -> "F.Column":
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


_SQL_REV = "l_extendedprice * (1 - l_discount)"


def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (median / p90 / p99) per return flag.  Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the same
    linear-interpolation definition, so the doubles are bit-identical —
    no rounding needed.  Exact percentile sorts within each group; at
    100 TB swap in ``approx_percentile`` (t-digest, mergeable partials)
    and accept the documented error bound."""
    l = t(spark, sf_dir, "lineitem")
    pct = F.percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (
        l.groupBy("l_returnflag")
        .agg(
            pct.getItem(0).alias("p50"),
            pct.getItem(1).alias("p90"),
            pct.getItem(2).alias("p99"),
            F.count(F.lit(1)).alias("n"),
        )
    )


ORACLES["agg_percentiles"] = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS p50,
       quantile_cont(l_extendedprice, 0.9) AS p90,
       quantile_cont(l_extendedprice, 0.99) AS p99,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (50k buckets): binning is a
    row-local floor division, so the whole histogram is one hash
    aggregate on the bin id — the scalable way to profile a 100 TB
    column (never sort, never collect)."""
    o = t(spark, sf_dir, "orders")
    bin_id = F.floor(F.col("o_totalprice") / 50_000).cast("int")
    return (
        o.groupBy(bin_id.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


ORACLES["agg_histogram"] = """
SELECT CAST(FLOOR(o_totalprice / 50000) AS INT) AS bin,
       COUNT(*) AS n_orders,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM orders
GROUP BY CAST(FLOOR(o_totalprice / 50000) AS INT)
"""


def q_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between distinct nation pairs by
    year.  The fact spine (lineitem⋈orders) shuffles once; the bounded
    nation projections broadcast on both chains.  ``customer`` (which
    scales with the facts) has no forced hint — AQE decides it."""
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(n.select(
                F.col("n_nationkey").alias("__cnk"),
                F.col("n_name").alias("cust_nation"),
            )),
            F.col("c_nationkey") == F.col("__cnk"),
        )
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(n.select(
                F.col("n_nationkey").alias("__snk"),
                F.col("n_name").alias("supp_nation"),
            )),
            F.col("s_nationkey") == F.col("__snk"),
        )
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(dsum(_rev(), 6).alias("revenue"))
    )


ORACLES["nation_volume"] = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(YEAR(l_shipdate) AS INT) AS l_year,
       {sql_dsum(_SQL_REV, 6)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND sn.n_name <> cn.n_name
GROUP BY sn.n_name, cn.n_name, CAST(YEAR(l_shipdate) AS INT)
"""


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in a
    quarter.  Global top-k over an aggregate: Catalyst plans
    TakeOrderedAndProject (per-partition heap + driver merge), never a
    full sort.  Tie-broken on c_custkey so the limit boundary is
    deterministic across engines."""
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(_rev(), 6).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


ORACLES["returned_items"] = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       {sql_dsum(_SQL_REV, 6)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share for one month — conditional
    aggregation over the part join (no forced broadcast — part scales
    with SF; AQE converts when small), reduced to a single scalar
    row.  Both the conditional and total sums ride the decimal path so
    the ratio is bit-identical."""
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(F.lit(0.0))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            (100 * dsum(promo, 6) / dsum(_rev(), 6)).alias("promo_revenue")
        )
    )


ORACLES["promo_revenue"] = f"""
SELECT 100 * {sql_dsum(f"CASE WHEN p_type = 'PROMO' THEN {_SQL_REV} ELSE 0.0 END", 6)}
       / {sql_dsum(_SQL_REV, 6)} AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate < TIMESTAMP '1996-04-01'
"""


def q_discounted_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of brand/size/quantity conjunctions.
    The OR-of-ANDs references both join sides, so it must stay a
    post-join filter — but the partkey equi-key keeps this a hash join
    (broadcast via AQE when the part side is small), and Catalyst
    extracts the common single-side conjuncts for pushdown."""
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    j = l.join(p, l.l_partkey == p.p_partkey)
    b = F.col("p_brand")
    sz = F.col("p_size")
    q = F.col("l_quantity")
    cond = (
        ((b == "Brand#1") & (sz.between(1, 10)) & (q.between(1, 11)))
        | ((b == "Brand#13") & (sz.between(1, 20)) & (q.between(10, 20)))
        | ((b == "Brand#25") & (sz.between(1, 35)) & (q.between(20, 30)))
    )
    return j.filter(cond).agg(dsum(_rev(), 6).alias("revenue"))


ORACLES["discounted_brand_revenue"] = f"""
SELECT {sql_dsum(_SQL_REV, 6)} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 20
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#25' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


def q_sql_cte_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point end-to-end (SURVEY §3: `spark.sql` is a
    first-class front door, not just the DataFrame API): a CTE + window
    + join query text planned by Catalyst identically to its DataFrame
    twin.  Top-3 orders per customer segment by total price."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("__sql_orders")
    t(spark, sf_dir, "customer").createOrReplaceTempView("__sql_customer")
    return spark.sql(
        """
        WITH ranked AS (
          SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                                    ORDER BY o.o_totalprice DESC,
                                             o.o_orderkey) AS rn
          FROM __sql_orders o JOIN __sql_customer c
            ON o.o_custkey = c.c_custkey
        )
        SELECT c_mktsegment, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
        FROM ranked WHERE rn <= 3
        """
    )


def q_sql_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery through the SQL front door (ANSI
    LATERAL, Spark ≥3.2 decorrelation): per market segment, the top-3
    orders by total price computed in a correlated derived table — the
    modern SQL idiom for per-group top-k that Catalyst decorrelates
    into the same join+window plan as the DataFrame form.  DuckDB runs
    the very same query text."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("__sql_orders")
    t(spark, sf_dir, "customer").createOrReplaceTempView("__sql_customer")
    return spark.sql(
        """
        SELECT s.c_mktsegment, t.o_orderkey, t.o_totalprice
        FROM (SELECT DISTINCT c_mktsegment FROM __sql_customer) s,
        LATERAL (
          SELECT o.o_orderkey, o.o_totalprice
          FROM __sql_orders o JOIN __sql_customer c
            ON o.o_custkey = c.c_custkey
          WHERE c.c_mktsegment = s.c_mktsegment
          ORDER BY o.o_totalprice DESC, o.o_orderkey
          LIMIT 3
        ) t
        """
    )


ORACLES["sql_lateral"] = """
SELECT s.c_mktsegment, t.o_orderkey, t.o_totalprice
FROM (SELECT DISTINCT c_mktsegment FROM customer) s,
LATERAL (
  SELECT o.o_orderkey, o.o_totalprice
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment = s.c_mktsegment
  ORDER BY o.o_totalprice DESC, o.o_orderkey
  LIMIT 3
) t
"""


def q_scalar_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 VARIANT type over the events JSON column:
    ``parse_json`` → binary variant, typed path extraction with
    ``variant_get`` and null-safe ``try_variant_get`` on a missing
    path.  VARIANT is the lake-native semi-structured answer to
    repeated ``get_json_object`` string re-parsing (the binary encoding
    parses once and extracts by path); the oracle restates the
    extraction with DuckDB's JSON operators over the same column."""
    e = t(spark, sf_dir, "events")
    e.createOrReplaceTempView("__sql_events")
    return spark.sql(
        """
        SELECT event_type,
               COUNT(*) AS n,
               SUM(variant_get(parse_json(props), '$.k', 'long')) AS sum_k,
               MAX(variant_get(parse_json(props), '$.k', 'int')) AS max_k,
               COUNT(try_variant_get(parse_json(props), '$.missing', 'int'))
                 AS n_missing_extracts
        FROM __sql_events
        GROUP BY event_type
        """
    )


ORACLES["scalar_variant"] = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       MAX(CAST(props->>'$.k' AS INT)) AS max_k,
       COUNT(CAST(props->>'$.missing' AS INT)) AS n_missing_extracts
FROM events
GROUP BY event_type
"""


ORACLES["sql_cte_window"] = """
WITH ranked AS (
  SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                            ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT c_mktsegment, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
FROM ranked WHERE rn <= 3
"""


def q_scalar_try(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe error handling: try_cast of non-numeric strings → NULL
    (never a job abort — one malformed row must not kill a 100 TB scan),
    try_divide → NULL on zero denominators."""
    e = t(spark, sf_dir, "events")
    maybe_num = F.regexp_extract("props", r"(\d+)", 1)
    return e.select(
        "event_id",
        F.col("event_type").try_cast("int").alias("type_as_int"),
        maybe_num.try_cast("int").alias("digits"),
        F.try_divide(
            F.col("value"), F.get_json_object("props", "$.k").cast("int") % 5
        ).alias("per_k"),
    )


ORACLES["scalar_try"] = """
SELECT event_id,
       TRY_CAST(event_type AS INTEGER) AS type_as_int,
       TRY_CAST(REGEXP_EXTRACT(props, '(\\d+)', 1) AS INTEGER) AS digits,
       value / NULLIF(CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) % 5, 0)
         AS per_k
FROM events
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier-nation's share of regional revenue
    per year — conditional-sum over total-sum on the same aggregate
    (numerator rides the same decimal sums as the denominator, so the
    ratio is exact).  The fact spine shuffles once; the bounded nation/
    region/supplier sides broadcast, while ``customer`` is left to
    AQE."""
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = t(spark, sf_dir, "region")
    cust_nation = n.select(
        F.col("n_nationkey").alias("__cnk"),
        F.col("n_regionkey").alias("__crk"),
    )
    supp_nation = n.select(
        F.col("n_nationkey").alias("__snk"),
        F.col("n_name").alias("supp_nation"),
    )
    vol = F.col("__vol")
    target = F.when(F.col("supp_nation") == "NATION_7", vol).otherwise(
        F.lit(0.0)
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cust_nation), c.c_nationkey == F.col("__cnk"))
        .join(F.broadcast(r), F.col("__crk") == r.r_regionkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(supp_nation), s.s_nationkey == F.col("__snk"))
        .withColumn("__vol", _rev())
        .groupBy(
            "r_name", F.year("o_orderdate").alias("o_year")
        )
        .agg(
            (dsum(target, 6) / dsum(vol, 6)).alias("mkt_share"),
        )
    )


ORACLES["market_share"] = f"""
SELECT r_name, CAST(YEAR(o_orderdate) AS INT) AS o_year,
       {sql_dsum(f"CASE WHEN sn.n_name = 'NATION_7' THEN {_SQL_REV} ELSE 0.0 END", 6)}
       / {sql_dsum(_SQL_REV, 6)} AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
GROUP BY r_name, CAST(YEAR(o_orderdate) AS INT)
"""


def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed k orders, including
    k=0 — the left outer join that keeps orderless customers, then an
    aggregate OF an aggregate (count per customer → histogram of those
    counts).  The filter (non-urgent orders) rides the join so the zero
    bucket is customers with no *qualifying* order."""
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


ORACLES["customer_distribution"] = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the maximum quarterly
    revenue — an aggregate, a scalar max over it, and an equality join
    back (the view-based formulation; Spark reuses the aggregate subplan
    for both branches).  Decimal-path revenue makes the max-equality
    test exact, so ties are handled identically everywhere."""
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = t(spark, sf_dir, "supplier")
    rev = l.groupBy("l_suppkey").agg(
        dsum(_rev(), 6).alias("total_revenue")
    )
    top = rev.agg(F.max("total_revenue").alias("__m"))
    return (
        rev.join(F.broadcast(top), rev.total_revenue == F.col("__m"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


ORACLES["top_supplier"] = f"""
WITH rev AS (
  SELECT l_suppkey, {sql_dsum(_SQL_REV, 6)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""


def q_scalar_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional expression pack: CASE chains, coalesce, nullif,
    least/greatest — all row-local, all inside whole-stage codegen."""
    o = t(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50_000, "small")
        .when(F.col("o_totalprice") < 200_000, "medium")
        .otherwise("large")
    )
    return (
        o.select(
            "o_orderkey",
            band.alias("price_band"),
            F.coalesce(
                F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("terminal")
            ).alias("status_tag"),
            F.least(F.col("o_totalprice"), F.lit(100_000.0)).alias("capped"),
            F.greatest(F.col("o_totalprice") - 150_000, F.lit(0.0)).alias(
                "excess"
            ),
        )
    )


ORACLES["scalar_conditional"] = """
SELECT o_orderkey,
       CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 200000 THEN 'medium'
            ELSE 'large' END AS price_band,
       COALESCE(NULLIF(o_orderstatus, 'O'), 'terminal') AS status_tag,
       LEAST(o_totalprice, 100000.0) AS capped,
       GREATEST(o_totalprice - 150000, 0.0) AS excess
FROM orders
"""


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted: unit price observed from lineitem stands
    in for the missing partsupp cost): the cheapest supplier per part.
    The argmin is ``min(struct(price, suppkey))`` — one hash aggregate,
    deterministic under ties (lexicographic on the struct), where the
    textbook correlated-min subquery would join the fact twice."""
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_name")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    # fixed-point micro-price, NOT round(x, 6): digit-rounding of doubles
    # disagrees across engines at half boundaries (Spark rounds the
    # shortest decimal repr, DuckDB the exact binary value); scaling to
    # an integer first is boundary-free and makes the argmin exact
    micro = F.round(
        F.col("l_extendedprice") / F.col("l_quantity") * 1_000_000
    ).cast("long")
    best = (
        l.select(
            "l_partkey",
            F.struct(
                micro.alias("micro"),
                F.col("l_suppkey").alias("suppkey"),
            ).alias("__cand"),
        )
        .groupBy("l_partkey")
        .agg(F.min("__cand").alias("best"))
        .select(
            "l_partkey",
            (F.col("best.micro") / 1_000_000).alias("unit_price"),
            F.col("best.suppkey").alias("suppkey"),
        )
    )
    return (
        best.join(p, best.l_partkey == p.p_partkey)
        .join(F.broadcast(s), best.suppkey == s.s_suppkey)
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "unit_price")
    )


ORACLES["min_cost_supplier"] = """
WITH ranked AS (
  SELECT l_partkey, l_suppkey,
         CAST(ROUND(l_extendedprice / l_quantity * 1000000) AS BIGINT) AS micro,
         ROW_NUMBER() OVER (
           PARTITION BY l_partkey
           ORDER BY CAST(ROUND(l_extendedprice / l_quantity * 1000000) AS BIGINT),
                    l_suppkey
         ) AS rn
  FROM lineitem
)
SELECT p_partkey, p_name, s_suppkey, s_name,
       micro / 1000000 AS unit_price
FROM ranked
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE rn = 1
"""


def q_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a hot grouping key (5 event
    types × thousands of rows each): partial aggregate on
    ``(key, salt)`` spreads each hot key over 16 reducers before the
    final combine.  The oracle is the *plain* GROUP BY — salting is a
    physical rewrite and must be value-invisible (the sum rides the
    decimal path precisely so the two-phase re-combination is exact)."""
    from table_streaming_source_spark.operators.skew import salted_agg

    e = t(spark, sf_dir, "events")
    out = salted_agg(
        e,
        ["event_type"],
        {
            "n": ("count", "event_id"),
            "sum_value": ("sum", F.col("value").cast("decimal(18,6)")),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
        },
        salt=16,
    )
    return out.withColumn("sum_value", F.col("sum_value").cast("double"))


ORACLES["agg_salted"] = f"""
SELECT event_type, COUNT(event_id) AS n,
       {sql_dsum('value', 6)} AS sum_value,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM events GROUP BY event_type
"""


def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join of the skewed fact (every row carries one of 5 hot
    event types) against a small dimension, replicated 16× so each hot
    key splits across reducers.  Again the oracle is the plain join —
    identical results, different physical distribution."""
    from table_streaming_source_spark.operators.skew import salted_join

    e = t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = (
        t(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .withColumn("type_tag", F.upper("event_type"))
    )
    return (
        salted_join(e, dim, ["event_type"], salt=16)
        .groupBy("type_tag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", 6).alias("sum_value"),
        )
    )


ORACLES["join_salted"] = f"""
SELECT UPPER(e.event_type) AS type_tag, COUNT(*) AS n,
       {sql_dsum('e.value', 6)} AS sum_value
FROM events e
JOIN (SELECT DISTINCT event_type FROM events) d
  ON e.event_type = d.event_type
GROUP BY UPPER(e.event_type)
"""


#: (session id, sf_dir) → registered bucketed-table names
_BUCKETED_TABLES: dict[tuple[int, str], tuple[str, str]] = {}


def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located fact⋈fact join: lineitem and orders are
    materialized ONCE per session as bucketed tables (8 buckets on the
    order key, sorted within buckets), after which the join needs ZERO
    shuffle exchanges — each task merge-joins its co-located bucket
    pair.  This is the storage-level answer to the one big-big shuffle
    the TPC-H spine otherwise always pays; at 100 TB the bucket count
    scales with the data and every *repeated* join on the bucket key
    (the common case for fact spines) skips its exchange.  Bucketing is
    value-invisible, so the oracle is the plain join; the zero-exchange
    plan proof is tests/test_scale_strategies.py and the golden plan
    gate in tests/test_plans.py."""
    from table_streaming_source_spark.plans import _scratch

    key = (id(spark._jsparkSession), sf_dir)
    names = _BUCKETED_TABLES.get(key)
    if names is None or not all(spark.catalog.tableExists(n) for n in names):
        # deterministic per sf_dir (never PYTHONHASHSEED-random): repeat
        # runs overwrite the same metastore names + data dir in place,
        # and both are cleaned up at exit (plans/_scratch.py)
        tag = _scratch.deterministic_tag(sf_dir)
        names = (f"tsss_bl_{tag}", f"tsss_bo_{tag}")
        base = _scratch.scratch_dir("bucketed", sf_dir, fresh=True)
        for n in names:
            _scratch.register_table(spark, n)
        (
            t(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_extendedprice", "l_discount")
            .write.bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", f"{base}/l")
            .mode("overwrite")
            .saveAsTable(names[0])
        )
        (
            t(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderpriority")
            .write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", f"{base}/o")
            .mode("overwrite")
            .saveAsTable(names[1])
        )
        _BUCKETED_TABLES[key] = names
    bl, bo = spark.table(names[0]), spark.table(names[1])
    return (
        bl.join(bo, bl.l_orderkey == bo.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(_rev(), 6).alias("revenue"),
        )
    )


ORACLES["join_bucketed"] = f"""
SELECT o_orderpriority, COUNT(*) AS n_lines,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def q_join_interval_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure band join (NO equi key) made scalable by time-binning: click
    → purchase pairs across ALL users within ±30 minutes.  Without an
    equi component Spark can only BroadcastNestedLoop/cartesian such a
    predicate; the standard fix is to quantize time into fixed bins,
    explode each left row into the bins its band can reach (here: its
    own 30-minute bin and both neighbors — 3 bins, constant blow-up),
    equi-join on the bin, and re-apply the exact predicate.  Every pair
    within the band shares a reachable bin, so the rewrite is lossless
    (the plan gate asserts no Cartesian/BNLJ node), and the shuffle key
    is the bin — bounded-skew by construction when event time is roughly
    uniform.  Counts per click keep the result compact."""
    e = t(spark, sf_dir, "events")
    bin_s = 30 * 60
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.floor(F.col("ts").cast("double") / bin_s).alias("bin"),
    )
    exploded = clicks.select(
        "click_id",
        "click_ts",
        F.explode(
            F.array(
                *[
                    (F.floor(F.col("click_ts").cast("double") / bin_s) + d)
                    for d in (-1, 0, 1)
                ]
            )
        ).alias("bin"),
    )
    # fractional-epoch arithmetic: unix_timestamp() truncates to whole
    # seconds, which disagrees with the oracle's EPOCH() on sub-second
    # timestamps at the band boundary
    within = (
        F.abs(
            F.col("purchase_ts").cast("double")
            - F.col("click_ts").cast("double")
        )
        <= bin_s
    )
    return (
        exploded.join(purchases, "bin")
        .filter(within)
        .groupBy("click_id")
        .agg(
            F.count(F.lit(1)).alias("n_nearby"),
            F.min("purchase_id").alias("first_purchase_id"),
        )
        .orderBy("click_id")
    )


ORACLES["join_interval_binned"] = """
SELECT c.event_id AS click_id,
       COUNT(*) AS n_nearby,
       MIN(p.event_id) AS first_purchase_id
FROM events c
JOIN events p
  ON c.event_type = 'click' AND p.event_type = 'purchase'
 AND ABS(EPOCH(p.ts) - EPOCH(c.ts)) <= 1800
GROUP BY c.event_id
ORDER BY c.event_id
"""


def q_join_skew_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberately hot-keyed join left to AQE's skew-join splitting (the
    complement of ``join_salted``'s manual rewrite): a third of all
    orders are remapped to customer key 1, and the ``merge`` hint forces
    the shuffled sort-merge path (a broadcast would dissolve the skew and
    prove nothing).  AQE splits the hot partition at runtime
    (``spark.sql.adaptive.skewJoin.enabled``, on in session.py); the
    oracle is the plain join — skew handling must be value-invisible.
    The accompanying plan proof (``skew=true`` on the executed
    SortMergeJoin) is tests/test_scale_strategies.py::test_aqe_skew_join_splits_hot_partition."""
    o = t(spark, sf_dir, "orders").withColumn(
        "skew_custkey",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(1).cast("long")).otherwise(
            F.col("o_custkey")
        ),
    )
    c = t(spark, sf_dir, "customer")
    return (
        o.hint("merge")
        .join(c, o.skew_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_total"),
        )
    )


ORACLES["join_skew_aqe"] = f"""
SELECT c_mktsegment, COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS sum_total
FROM (SELECT *, CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE o_custkey END
             AS skew_custkey FROM orders) o
JOIN customer c ON o.skew_custkey = c.c_custkey
GROUP BY c_mktsegment
"""


def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery via the SQL surface: customers above
    their own nation's average balance.  Catalyst decorrelates to an
    aggregate + join; the decimal-path average keeps the threshold
    bit-identical across engines."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("__cust_sq")
    return spark.sql(
        """
        SELECT c_custkey, c_nationkey, c_acctbal
        FROM __cust_sq c
        WHERE c_acctbal > (
            SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*)
            FROM __cust_sq c2
            WHERE c2.c_nationkey = c.c_nationkey
        )
        """
    )


ORACLES["subquery_correlated"] = """
SELECT c_custkey, c_nationkey, c_acctbal
FROM customer c
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(*)
    FROM customer c2
    WHERE c2.c_nationkey = c.c_nationkey
)
"""


def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (<=>): rows with NULL keys match each other —
    the join variant plain equality silently drops."""
    e = t(spark, sf_dir, "events")
    k = F.nullif(
        F.get_json_object("props", "$.k").cast("int") % 7, F.lit(0)
    )
    left = e.select("event_id", k.alias("mk"))
    dim = (
        e.select(k.alias("mk"))
        .distinct()
        .withColumn("mk_tag", F.coalesce(F.col("mk").cast("string"), F.lit("NULL")))
    )
    return (
        left.join(F.broadcast(dim), left.mk.eqNullSafe(dim.mk))
        .groupBy("mk_tag")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLES["join_null_safe"] = """
WITH l AS (
  SELECT event_id,
         NULLIF(CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) % 7, 0) AS mk
  FROM events
),
d AS (
  SELECT mk, COALESCE(CAST(mk AS VARCHAR), 'NULL') AS mk_tag
  FROM (SELECT DISTINCT mk FROM l)
)
SELECT d.mk_tag, COUNT(*) AS n
FROM l JOIN d ON l.mk IS NOT DISTINCT FROM d.mk
GROUP BY d.mk_tag
"""


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue where customer and supplier share a nation
    — six-table join with dimension chains hanging off the fact spine
    (lineitem⋈orders shuffles; bounded dims broadcast by hint, customer
    by AQE when small)."""
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            dsum(revenue, 6).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


ORACLES["local_supplier_volume"] = f"""
SELECT r_name, n_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# ---------------------------------------------------------------------------
# window functions / sort / top-k
# ---------------------------------------------------------------------------

def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per market segment via ranking window (the scalable
    top-k-per-group: no global sort, one hash partition by group)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        j.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", "rn")
    )


ORACLES["window_topk_per_group"] = """
SELECT c_mktsegment, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rn <= 3
"""


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) aggregates per customer over order history —
    ROWS frame with a fully deterministic ordering."""
    o = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.count(F.lit(1)).over(w).alias("running_n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


ORACLES["window_running"] = """
SELECT o_custkey, o_orderkey,
       COUNT(*) OVER w AS running_n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day revenue over the daily rollup — a RANGE frame keyed
    on event time (every row whose day falls in ``[day-7d, day]``),
    including days with gaps, which a ROWS frame would get wrong.  The
    window runs over the *daily* aggregate (365 rows/year — driver-side
    tiny even at 100 TB), so the unpartitioned window is harmless; the
    heavy lifting is the preceding hash aggregate, which scales out."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        dsum("o_totalprice").alias("day_revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    day_s = F.unix_timestamp(F.col("day").cast("timestamp"))
    w = (
        Window.orderBy(day_s)
        .rangeBetween(-7 * 86400, Window.currentRow)
    )
    return daily.select(
        # timestamp, not date: Spark DATE reaches pandas as python date
        # objects while DuckDB DATE arrives as datetime64 — a dtype-kind
        # skew the driver's value hash rejects even with equal values
        F.col("day").cast("timestamp").alias("day"),
        "day_revenue",
        "n_orders",
        F.sum(F.col("day_revenue").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("trailing_7d_revenue"),
        F.sum("n_orders").over(w).alias("trailing_7d_orders"),
    )


ORACLES["window_range_frame"] = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         {sql_dsum('o_totalprice')} AS day_revenue,
         COUNT(*) AS n_orders
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
)
SELECT CAST(day AS TIMESTAMP) AS day, day_revenue, n_orders,
       CAST(SUM(CAST(day_revenue AS DECIMAL(18,2))) OVER w AS DOUBLE)
         AS trailing_7d_revenue,
       CAST(SUM(n_orders) OVER w AS BIGINT) AS trailing_7d_orders
FROM daily
WINDOW w AS (ORDER BY EPOCH(CAST(day AS TIMESTAMP))
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
"""


def q_agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) the four lineitem measures into (metric, value)
    rows, then aggregate per metric — wide→long reshaping as a row-local
    generator (no shuffle until the final 4-group aggregate)."""
    l = t(spark, sf_dir, "lineitem")
    melted = l.unpivot(
        ["l_orderkey"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "val",
    )
    return melted.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("val", 6).alias("total"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )


ORACLES["agg_unpivot"] = f"""
WITH m AS (
  SELECT l_orderkey, metric, val
  FROM (SELECT l_orderkey, l_quantity, l_extendedprice, l_discount, l_tax
        FROM lineitem)
  UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount, l_tax))
)
SELECT metric, COUNT(*) AS n, {sql_dsum('val', 6)} AS total,
       MIN(val) AS min_val, MAX(val) AS max_val
FROM m GROUP BY metric
"""


def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — ntile(4) / percent_rank /
    cume_dist over customer balances per market segment.  The ordering
    key is made total with a custkey tiebreak, so every rank-derived
    value is deterministic on both engines (rank arithmetic, no float
    summation)."""
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal"), F.col("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


ORACLES["window_distribution"] = """
SELECT c_custkey, c_mktsegment, c_acctbal,
       CAST(NTILE(4) OVER w AS INT) AS quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
"""


def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-boundary navigation: first_value / last_value / nth_value
    over each customer's order history with an explicit full-partition
    frame (the default running frame makes last_value useless — a
    classic window-semantics trap, pinned here)."""
    o = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_total"),
        F.last("o_totalprice").over(w).alias("last_total"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_total"),
    )


ORACLES["window_first_last"] = """
SELECT o_custkey, o_orderkey,
       FIRST_VALUE(o_totalprice) OVER w AS first_total,
       LAST_VALUE(o_totalprice) OVER w AS last_total,
       NTH_VALUE(o_totalprice, 2) OVER w AS second_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def q_agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered / boolean aggregation: count_if, bool_and/bool_or, and a
    conditional decimal sum per return flag — the FILTER-clause family
    as single-pass aggregates (never one sub-query per condition)."""
    l = t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_quantity") > 25).alias("n_bulk"),
        F.count_if(F.col("l_discount") == 0).alias("n_no_discount"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
        dsum(
            F.when(F.col("l_quantity") > 25, F.col("l_extendedprice"))
            .otherwise(F.lit(0.0))
        ).alias("bulk_revenue"),
    )


ORACLES["agg_filtered"] = f"""
SELECT l_returnflag,
       COUNT(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
       COUNT(*) FILTER (WHERE l_discount = 0) AS n_no_discount,
       BOOL_AND(l_quantity > 0) AS all_positive_qty,
       BOOL_OR(l_tax > 0.07) AS any_high_tax,
       {sql_dsum('CASE WHEN l_quantity > 25 THEN l_extendedprice ELSE 0.0 END')}
         AS bulk_revenue
FROM lineitem GROUP BY l_returnflag
"""


def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead navigation over each customer's order history."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        prev.alias("prev_total"),
        F.lead("o_totalprice").over(w).alias("next_total"),
        (F.col("o_totalprice") - prev).alias("delta_total"),
    )


ORACLES["window_lag_lead"] = """
SELECT o_custkey, o_orderkey,
       LAG(o_totalprice) OVER w AS prev_total,
       LEAD(o_totalprice) OVER w AS next_total,
       o_totalprice - LAG(o_totalprice) OVER w AS delta_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def q_window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function pack: rank, dense_rank, percent_rank, cume_dist,
    ntile over each segment's customers by balance."""
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_mktsegment",
        "c_custkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        # scale-then-round: these are ratios of small integers, where
        # digit-rounding of doubles hits half boundaries engines disagree on
        (F.round(F.percent_rank().over(w) * 1_000_000).cast("long") / 1_000_000)
        .alias("prnk"),
        (F.round(F.cume_dist().over(w) * 1_000_000).cast("long") / 1_000_000)
        .alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    )


ORACLES["window_ranks"] = """
SELECT c_mktsegment, c_custkey,
       RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       CAST(ROUND(PERCENT_RANK() OVER w * 1000000) AS BIGINT) / 1000000 AS prnk,
       CAST(ROUND(CUME_DIST() OVER w * 1000000) AS BIGINT) / 1000000 AS cume,
       CAST(NTILE(4) OVER w AS INT) AS quartile
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment
             ORDER BY c_acctbal DESC, c_custkey ASC)
"""


def q_order_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k with deterministic tie-breaking — Spark plans this as
    TakeOrderedAndProject (per-partition top-k + driver merge), no full
    sort."""
    l = t(spark, sf_dir, "lineitem")
    return (
        l.orderBy(
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .limit(15)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


ORACLES["order_limit_topk"] = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
LIMIT 15
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over two customer key sets, tagged."""
    c = t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    b = c.filter(F.col("c_acctbal") < 1000).select("c_custkey")
    return (
        a.union(b).distinct().select(F.lit("union").alias("tag"), "c_custkey")
        .unionByName(
            a.intersect(b).select(F.lit("intersect").alias("tag"), "c_custkey")
        )
        .unionByName(
            a.exceptAll(b).distinct().select(
                F.lit("except").alias("tag"), "c_custkey"
            )
        )
    )


ORACLES["set_ops"] = """
WITH a AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
     b AS (SELECT c_custkey FROM customer WHERE c_acctbal < 1000)
SELECT 'union' AS tag, c_custkey FROM (SELECT c_custkey FROM a UNION SELECT c_custkey FROM b)
UNION ALL
SELECT 'intersect' AS tag, c_custkey FROM (SELECT c_custkey FROM a INTERSECT SELECT c_custkey FROM b)
UNION ALL
SELECT 'except' AS tag, c_custkey FROM (SELECT c_custkey FROM a EXCEPT SELECT c_custkey FROM b)
"""


# ---------------------------------------------------------------------------
# scalar function packs
# ---------------------------------------------------------------------------

def q_scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String pack: case, substring, length, concat, regexp, replace."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_type", 1, 5).alias("type5"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
        F.regexp_extract("p_name", "^[a-z]+", 0).alias("first_word"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
    )


ORACLES["scalar_string"] = """
SELECT p_partkey,
       LOWER(p_name) AS name_lower,
       UPPER(p_brand) AS brand_upper,
       SUBSTRING(p_type, 1, 5) AS type5,
       LENGTH(p_name) AS name_len,
       CONCAT_WS('#', p_brand, p_type) AS brand_type,
       REGEXP_EXTRACT(p_name, '^[a-z]+') AS first_word,
       REPLACE(p_name, ' ', '_') AS name_snake
FROM part
"""


def q_scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time pack: trunc, extract, format, interval arithmetic."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        # timestamp (not date): Spark DATE surfaces as python date
        # objects in Arrow/pandas while DuckDB DATE surfaces as
        # datetime64 — a dtype-kind skew the driver hash rejects
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.dayofmonth("o_orderdate").cast("int").alias("order_day"),
        F.date_format("o_orderdate", "yyyy-MM").alias("order_ym"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("ship_by"),
    )


ORACLES["scalar_date"] = """
SELECT o_orderkey,
       CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS order_month,
       CAST(YEAR(o_orderdate) AS INT) AS order_year,
       CAST(DAY(o_orderdate) AS INT) AS order_day,
       STRFTIME(o_orderdate, '%Y-%m') AS order_ym,
       CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS ship_by
FROM orders
"""


def q_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math pack.  sqrt/abs/round/floor/power are IEEE-deterministic;
    ln/exp go through libm and are rounded to 9 digits on both sides."""
    l = t(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("abs_disc"),
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.floor("l_quantity").cast("long").alias("qty_floor"),
        F.ceil("l_quantity").cast("long").alias("qty_ceil"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        F.round(F.log("l_extendedprice"), 9).alias("price_ln"),
        F.round(F.exp("l_discount"), 9).alias("disc_exp"),
        F.pow("l_quantity", 2).alias("qty_sq"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
    )


ORACLES["scalar_math"] = """
SELECT l_orderkey, l_linenumber,
       ABS(l_discount - 0.05) AS abs_disc,
       ROUND(l_extendedprice, 1) AS price_r1,
       CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
       CAST(CEIL(l_quantity) AS BIGINT) AS qty_ceil,
       SQRT(l_extendedprice) AS price_sqrt,
       ROUND(LN(l_extendedprice), 9) AS price_ln,
       ROUND(EXP(l_discount), 9) AS disc_exp,
       POWER(l_quantity, 2) AS qty_sq,
       CAST(SIGN(l_discount - 0.05) AS DOUBLE) AS disc_sign
FROM lineitem
"""


def q_scalar_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise pack — the feature-hashing / bitmap-index toolkit: AND /
    OR / XOR / NOT, shifts, popcount, and the modulo bucketing they
    feed.  All exact int64 arithmetic, identical across engines."""
    l = t(spark, sf_dir, "lineitem")
    k = F.col("l_orderkey")
    p = F.col("l_partkey")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        k.bitwiseAND(p).alias("k_and"),
        k.bitwiseOR(p).alias("k_or"),
        k.bitwiseXOR(p).alias("k_xor"),
        F.bitwise_not(k).alias("k_not"),
        F.shiftleft(k, 3).alias("k_shl"),
        F.shiftright(k, 2).alias("k_shr"),
        F.bit_count(p).cast("int").alias("p_bits"),
        F.bit_count(k.bitwiseXOR(F.shiftleft(p, 17))).cast("int").alias(
            "mix_bits"
        ),
        (k % 64).cast("long").alias("bucket"),
    )


ORACLES["scalar_bitwise"] = """
SELECT l_orderkey, l_linenumber,
       l_orderkey & l_partkey AS k_and,
       l_orderkey | l_partkey AS k_or,
       xor(l_orderkey, l_partkey) AS k_xor,
       ~l_orderkey AS k_not,
       l_orderkey << 3 AS k_shl,
       l_orderkey >> 2 AS k_shr,
       CAST(bit_count(l_partkey) AS INT) AS p_bits,
       CAST(bit_count(xor(l_orderkey, l_partkey << 17)) AS INT) AS mix_bits,
       l_orderkey % 64 AS bucket
FROM lineitem
"""


def q_scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON pack over the events.props column: path extraction + typed
    cast, then grouped aggregation of the extracted value."""
    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.countDistinct("k").alias("n_distinct_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


ORACLES["scalar_json"] = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       COUNT(DISTINCT CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER)) AS n_distinct_k,
       MIN(CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER)) AS min_k,
       MAX(CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER)) AS max_k
FROM events GROUP BY event_type
"""


def q_scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array pack over embeddings: size, element access, higher-order
    aggregate (sequential double fold — deterministic), max."""
    e = t(spark, sf_dir, "embeddings")
    vec = F.col("embedding")
    sum_sq = F.aggregate(
        vec, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    )
    return e.select(
        "vec_id",
        F.size(vec).alias("dim"),
        F.element_at(vec, 1).cast("double").alias("first_val"),
        F.round(
            F.aggregate(vec, F.lit(0.0), lambda acc, v: acc + v.cast("double")),
            6,
        ).alias("vec_sum"),
        F.round(F.sqrt(sum_sq), 6).alias("l2_norm"),
        F.array_max(vec).cast("double").alias("max_val"),
    )


ORACLES["scalar_array"] = """
SELECT vec_id,
       CAST(LEN(embedding) AS INT) AS dim,
       CAST(embedding[1] AS DOUBLE) AS first_val,
       ROUND(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE))), 6) AS vec_sum,
       ROUND(SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
       CAST(LIST_MAX(embedding) AS DOUBLE) AS max_val
FROM embeddings
"""


def q_scalar_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map pack over events.props parsed as map<string,string>: keys,
    size, typed element access."""
    e = t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    return e.select(
        "event_id",
        F.concat_ws(",", F.array_sort(F.map_keys(m))).alias("prop_keys"),
        F.size(m).alias("n_props"),
        F.element_at(m, "k").cast("int").alias("k_val"),
    )


ORACLES["scalar_map"] = """
SELECT event_id,
       ARRAY_TO_STRING(LIST_SORT(json_keys(props)), ',') AS prop_keys,
       CAST(LEN(json_keys(props)) AS INT) AS n_props,
       CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) AS k_val
FROM events
"""


# ---------------------------------------------------------------------------
# UDF / UDAF / UDTF surface (Python extension points; see functions/)
# ---------------------------------------------------------------------------

def q_udf_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas UDF (numpy float64 arithmetic —
    bit-identical to the equivalent JVM expression)."""
    from table_streaming_source_spark.functions import discounted_revenue

    l = t(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        discounted_revenue("l_extendedprice", "l_discount", "l_tax").alias(
            "revenue"
        ),
    )


ORACLES["udf_vectorized"] = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS revenue
FROM lineitem
"""


def q_udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDAF (quantity-weighted mean price).
    Output rounded to 2 digits: pandas pairwise summation vs sequential
    SQL summation differ in low-order bits."""
    from table_streaming_source_spark.functions import weighted_avg

    l = t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(
            weighted_avg(F.col("l_extendedprice"), F.col("l_quantity")), 2
        ).alias("wavg_price")
    )


ORACLES["udaf_grouped"] = """
SELECT l_returnflag,
       ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 2) AS wavg_price
FROM lineitem GROUP BY l_returnflag
"""


def q_udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-group z-score normalization — each
    group arrives as one pandas DataFrame (Arrow transfer).  The window
    formulation ((x-avg)/std OVER (PARTITION BY ...)) is the builtin
    equivalent; applyInPandas is for per-group logic windows can't express
    (model fits, iterative solvers).  Rounded to 6: pandas pairwise vs SQL
    sequential summation differ in low-order bits."""
    import pandas as pd

    l = t(spark, sf_dir, "lineitem")

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["l_quantity"]
        pdf["qty_z"] = ((x - x.mean()) / x.std(ddof=1)).round(6)
        return pdf[["l_orderkey", "l_linenumber", "l_returnflag", "qty_z"]]

    return l.groupBy("l_returnflag").applyInPandas(
        zscore,
        schema="l_orderkey long, l_linenumber int, l_returnflag string, qty_z double",
    )


ORACLES["udf_grouped_map"] = """
SELECT l_orderkey, l_linenumber, l_returnflag,
       ROUND((l_quantity - AVG(l_quantity) OVER w)
             / STDDEV_SAMP(l_quantity) OVER w, 6) AS qty_z
FROM lineitem
WINDOW w AS (PARTITION BY l_returnflag)
"""


def q_udf_grouped_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInArrow`` — the Spark 4.x Arrow-native twin of
    ``udf_grouped_map``: each group arrives as ONE ``pyarrow.Table``
    (zero pandas conversion, columnar end to end), the shape to reach
    for when the per-group logic is itself vectorized (Arrow compute,
    numpy over zero-copy buffers, DuckDB-on-Arrow).  Per-group min
    offset keeps the arithmetic integer-exact (quantities are whole
    numbers), so no rounding tolerance is needed anywhere."""
    l = t(spark, sf_dir, "lineitem")

    def min_offset(key, table):
        import pyarrow as pa
        import pyarrow.compute as pc

        qty = table.column("l_quantity")
        off = pc.subtract(qty, pc.min(qty))
        return pa.table(
            {
                "l_orderkey": table.column("l_orderkey"),
                "l_linenumber": table.column("l_linenumber"),
                "l_returnflag": table.column("l_returnflag"),
                "qty_off": off,
            }
        )

    return l.groupBy("l_returnflag").applyInArrow(
        min_offset,
        schema=(
            "l_orderkey long, l_linenumber int, l_returnflag string, "
            "qty_off double"
        ),
    )


ORACLES["udf_grouped_arrow"] = """
SELECT l_orderkey, l_linenumber, l_returnflag,
       l_quantity - MIN(l_quantity) OVER (PARTITION BY l_returnflag)
           AS qty_off
FROM lineitem
"""


def q_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF via LATERAL join: (pos, token) per document.  Per-row
    Python — the extension point for logic builtins can't express; plain
    tokenization would use posexplode(split(...)) (see docstring in
    functions.vectorized.Tokenize)."""
    from table_streaming_source_spark.functions import register_udtfs

    register_udtfs(spark)
    t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).select(
        "doc_id", "text"
    ).createOrReplaceTempView("__docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, tt.pos, tt.token
        FROM __docs_udtf d, LATERAL tokenize(d.text) tt
        """
    )


ORACLES["udtf_tokenize"] = """
WITH toks AS (
  SELECT doc_id,
         STRING_SPLIT(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g'), ' ') AS tk
  FROM documents WHERE doc_id < 50
)
SELECT doc_id, CAST(i - 1 AS INT) AS pos, tk[i] AS token
FROM toks, UNNEST(RANGE(1, LEN(tk) + 1)) AS u(i)
"""


# ---------------------------------------------------------------------------
# time windows (batch analogues of the streaming operators)
# ---------------------------------------------------------------------------

def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows (same F.window used under a
    watermark in streaming mode)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


ORACLES["window_tumbling"] = f"""
SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
       COUNT(*) AS n, {sql_dsum('value')} AS sum_value
FROM events GROUP BY DATE_TRUNC('hour', ts), event_type
"""


def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 2-hour length, 1-hour slide (each event lands in
    two windows)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )


ORACLES["window_sliding"] = f"""
SELECT window_start, COUNT(*) AS n, {sql_dsum('value')} AS sum_value
FROM (
  SELECT UNNEST([DATE_TRUNC('hour', ts) - INTERVAL 1 HOUR,
                 DATE_TRUNC('hour', ts)]) AS window_start, value
  FROM events
) GROUP BY window_start
"""


def q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user via F.session_window; the
    oracle is the gaps-and-islands formulation."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


ORACLES["window_session"] = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessioned AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                               ) AS session_seq
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start,
       COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM sessioned GROUP BY user_id, session_seq
"""


def q_window_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event session ids via the gaps-and-islands operator
    (operators/windows.py::sessionize) — same session semantics as
    F.session_window but keeping event granularity."""
    from table_streaming_source_spark.operators.windows import sessionize

    e = t(spark, sf_dir, "events")
    s = sessionize(
        e.select("user_id", "ts", "event_id"),
        ts_col="ts",
        key="user_id",
        gap="30 minutes",
    )
    return s.select(
        "user_id", "event_id", F.col("session_seq").cast("int").alias("session_seq")
    )


ORACLES["window_sessionize"] = """
SELECT user_id, event_id,
       CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_seq
FROM (
  SELECT user_id, event_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
)
"""


def q_stream_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by event id over a duplicated stream (batch analogue of
    dropDuplicates in streaming mode)."""
    e = t(spark, sf_dir, "events")
    doubled = e.unionAll(e)
    return (
        doubled.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("sum_value"),
        )
    )


ORACLES["stream_dedup_batch"] = f"""
SELECT event_type, COUNT(*) AS n, {sql_dsum('value')} AS sum_value
FROM (
  SELECT DISTINCT * FROM (
    SELECT * FROM events UNION ALL SELECT * FROM events
  )
) GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# TPC-H remainder (Q9/Q11/Q12/Q16/Q17/Q20 shapes, adapted to the fixture
# schema: no partsupp table, no l_shipmode/commitdate — supply cost and
# ship-mode analogues are derived deterministically from existing columns)
# ---------------------------------------------------------------------------

def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: no partsupp, so unit supply cost is proxied
    by 10% of the part's retail price): profit by supplier nation × order
    year over parts matching a name fragment.  Bounded dims broadcast by
    hint; the name-filtered ``part`` slice scales with SF so AQE decides
    it; the only unavoidable big-big shuffle is lineitem⋈orders on the
    order key."""
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * 0.1 * F.col("l_quantity")
    )
    return (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dsum(profit, 4).alias("sum_profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


ORACLES["product_profit"] = f"""
SELECT n_name AS nation, YEAR(o_orderdate) AS o_year,
       {sql_dsum(
           "l_extendedprice * (1 - l_discount)"
           " - p_retailprice * 0.1 * l_quantity", 4)} AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY 1, 2 DESC
"""


def q_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted: "stock value" is one nation's suppliers'
    shipped revenue per part): per-part value, kept only where it exceeds
    a fraction of the nation total.  The global threshold is a one-row
    broadcast (crossJoin), not a shuffle; both the per-part and the total
    sums take the exact decimal path so the HAVING comparison is
    bit-identical on both engines."""
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    value = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = l.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey")).join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    per_part = base.groupBy(F.col("l_partkey").alias("partkey")).agg(
        dsum(value, 4).alias("value")
    )
    total = base.agg((dsum(value, 4) * 0.001).alias("__threshold"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.col("__threshold"))
        .select("partkey", "value")
        .orderBy(F.col("value").desc(), F.col("partkey"))
    )


ORACLES["important_stock"] = f"""
WITH base AS (
  SELECT l_partkey, l_extendedprice * (1 - l_discount) AS v
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_1'
)
SELECT l_partkey AS partkey, {sql_dsum('v', 4)} AS value
FROM base
GROUP BY l_partkey
HAVING {sql_dsum('v', 4)} >
       (SELECT {sql_dsum('v', 4)} * 0.001 FROM base)
ORDER BY value DESC, partkey
"""


def q_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: no l_shipmode, so lines are classed by
    ship lag — days between order and ship date): per class, how many
    lines belong to critical-priority orders vs not.  Conditional sums
    inside one aggregate over the single fact⋈orders join."""
    l = t(spark, sf_dir, "lineitem")
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    o_full = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    ship_class = (
        F.when(lag < 0, "EARLY")
        .when(lag < 30, "FAST")
        .when(lag < 90, "NORMAL")
        .otherwise("SLOW")
    )
    critical = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o_full, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(ship_class.alias("ship_class"))
        .agg(
            F.sum(F.when(critical, 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(critical, 0).otherwise(1))
            .cast("bigint")
            .alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


ORACLES["shipmode_priority"] = """
SELECT CASE WHEN DATEDIFF('day', o_orderdate, l_shipdate) < 0  THEN 'EARLY'
            WHEN DATEDIFF('day', o_orderdate, l_shipdate) < 30 THEN 'FAST'
            WHEN DATEDIFF('day', o_orderdate, l_shipdate) < 90 THEN 'NORMAL'
            ELSE 'SLOW' END AS ship_class,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY ship_class
ORDER BY ship_class
"""


def q_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (adapted: part–supplier pairs come from observed
    lineitem shipments; "complaint" suppliers are those with negative
    account balance): distinct-supplier count per (brand, type, size) for
    an attribute slice, excluding complaint suppliers by anti-join."""
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (~F.col("p_type").startswith("PROMO"))
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    complaints = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    pairs = l.select("l_partkey", "l_suppkey").distinct()
    return (
        pairs.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(complaints),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


ORACLES["supplier_cnt"] = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#45'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue lost if small-quantity
    orders (below 20% of the part's mean order quantity) were not taken,
    for one brand.  The per-part mean is an aggregate joined back to
    the fact (AQE broadcasts it when small) — no correlated re-scan; the
    mean takes the decimal
    path so the 20% threshold compares identically on both engines."""
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    brand_lines = l.join(p, F.col("l_partkey") == F.col("p_partkey"))
    per_part_avg = brand_lines.groupBy(
        F.col("l_partkey").alias("__pk")
    ).agg(davg("l_quantity", 2).alias("__avg_qty"))
    return (
        brand_lines.join(per_part_avg, F.col("l_partkey") == F.col("__pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("__avg_qty"))
        .agg((dsum("l_extendedprice", 2) / 7.0).alias("avg_yearly"))
    )


ORACLES["small_qty_revenue"] = f"""
WITH brand_lines AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#23'
),
per_part AS (
  SELECT l_partkey AS pk, {sql_davg('l_quantity', 2)} AS avg_qty
  FROM brand_lines GROUP BY l_partkey
)
SELECT {sql_dsum('l_extendedprice', 2)} / 7.0 AS avg_yearly
FROM brand_lines JOIN per_part ON l_partkey = pk
WHERE l_quantity < 0.2 * avg_qty
"""


def q_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: "availability" is the supplier's shipped
    volume of a part in 1996): suppliers who moved more than a threshold
    quantity of any name-prefixed part — a semi-join chain (shipped agg →
    promo-part semi → supplier semi), never materializing a wide join."""
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    promo = t(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    shipped = (
        l.filter(F.year("l_shipdate") == 1996)
        .groupBy("l_partkey", "l_suppkey")
        .agg(dsum("l_quantity", 2).alias("__qty"))
    )
    cand = (
        shipped.join(
            promo,
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .filter(F.col("__qty") > 50.0)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(
            F.broadcast(cand),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


ORACLES["excess_suppliers"] = f"""
SELECT s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM (
    SELECT l_partkey, l_suppkey, {sql_dsum('l_quantity', 2)} AS qty
    FROM lineitem
    WHERE YEAR(l_shipdate) = 1996
    GROUP BY l_partkey, l_suppkey
  )
  WHERE qty > 50.0
    AND l_partkey IN (SELECT p_partkey FROM part
                      WHERE p_name LIKE 'small%')
)
ORDER BY s_name
"""


def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (the pandas ``merge_asof
    direction='nearest'`` surface): each click paired with the same
    user's closest-in-time purchase, ties → the earlier (backward) side,
    simultaneous purchases → greatest event id.  Two window passes over
    one exchange — no pair explosion; the oracle is the quadratic
    formulation."""
    from table_streaming_source_spark.operators.joins import asof_join

    e = t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    j = asof_join(
        clicks,
        purchases,
        on=["user_id"],
        left_time="click_ts",
        right_time="purchase_ts",
        right_tiebreakers=["purchase_id"],
        direction="nearest",
    )
    return j.select("user_id", "click_id", "purchase_id", "purchase_ts")


ORACLES["join_asof_nearest"] = """
WITH c AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, event_id AS purchase_id, ts AS pt
  FROM events WHERE event_type = 'purchase'
),
cand AS (
  SELECT c.user_id, c.click_id, p.purchase_id, p.pt,
         ROW_NUMBER() OVER (
           PARTITION BY c.click_id ORDER BY
             ABS(EPOCH_US(p.pt) - EPOCH_US(c.click_ts)),
             CASE WHEN p.pt <= c.click_ts THEN 0 ELSE 1 END,
             p.purchase_id DESC
         ) AS rn
  FROM c JOIN p ON c.user_id = p.user_id
)
SELECT user_id, click_id, purchase_id, pt AS purchase_ts
FROM cand WHERE rn = 1
"""


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel per user (operators.windows
    .funnel): earliest view, earliest click at-or-after it, earliest
    purchase after that — strict ordering, so out-of-order conversions
    don't count.  Every aggregate and join partitions on user_id; step
    count adds depth, not shuffle keys."""
    from table_streaming_source_spark.operators.windows import funnel

    e = t(spark, sf_dir, "events")
    return funnel(e, ["view", "click", "purchase"])


ORACLES["funnel_steps"] = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts >= v.t_view
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts >= c.t_click
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
       CAST(1 + CASE WHEN c.t_click IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN p.t_purchase IS NOT NULL THEN 1 ELSE 0 END
            AS INT) AS stage
FROM v
LEFT JOIN c ON v.user_id = c.user_id
LEFT JOIN p ON v.user_id = p.user_id
"""


def q_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series linear interpolation: hourly per-type means with a
    deterministic dropout mask (every 5th hour bucket), missing points
    reconstructed from their nearest non-null neighbors —
    ``prev + (next − prev)·(t − t₀)/(t₁ − t₀)`` — with edge buckets
    clamped to the available neighbor.  The repair step every
    sensor/metrics pipeline runs between gap *detection*
    (``ts_gapfill``) and modeling (``window_ewma``).

    Shape: one hash aggregate builds the series (map-combinable; the
    raw facts are touched exactly once), then two ignore-nulls
    navigation windows over the tiny aggregated series — per-type
    ordered state, the same bounded-partition discipline as the other
    window entries.  All interpolation arithmetic is row-local IEEE on
    integer hour indices, bit-identical in the oracle."""
    e = t(spark, sf_dir, "events")
    hour = (F.unix_timestamp("ts") / 3600).cast("bigint")
    series = (
        e.groupBy(F.col("event_type"), hour.alias("h"))
        .agg(davg("value", 6).alias("__v"))
        .withColumn(
            "v_raw",
            F.when(F.col("h") % 5 != 2, F.col("__v")),
        )
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    prev_v = F.last("v_raw", ignorenulls=True).over(w_prev)
    prev_h = F.last(
        F.when(F.col("v_raw").isNotNull(), F.col("h")), ignorenulls=True
    ).over(w_prev)
    next_v = F.first("v_raw", ignorenulls=True).over(w_next)
    next_h = F.first(
        F.when(F.col("v_raw").isNotNull(), F.col("h")), ignorenulls=True
    ).over(w_next)
    frac = (F.col("h") - prev_h) / (next_h - prev_h)
    interp = (
        F.when(F.col("v_raw").isNotNull(), F.col("v_raw"))
        .when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .otherwise(prev_v + (next_v - prev_v) * frac)
    )
    return series.select(
        "event_type", "h", "v_raw", interp.alias("v_interp")
    )


ORACLES["ts_interpolate"] = f"""
WITH series AS (
  SELECT event_type,
         CAST(FLOOR(EPOCH(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT) AS h,
         {sql_davg('value', 6)} AS v
  FROM events GROUP BY 1, 2
),
masked AS (
  SELECT event_type, h,
         CASE WHEN h % 5 <> 2 THEN v END AS v_raw
  FROM series
),
nav AS (
  SELECT event_type, h, v_raw,
         LAST_VALUE(v_raw IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         LAST_VALUE(CASE WHEN v_raw IS NOT NULL THEN h END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_h,
         FIRST_VALUE(v_raw IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY h
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         FIRST_VALUE(CASE WHEN v_raw IS NOT NULL THEN h END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY h
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_h
  FROM masked
)
SELECT event_type, h, v_raw,
       CASE WHEN v_raw IS NOT NULL THEN v_raw
            WHEN prev_v IS NULL THEN next_v
            WHEN next_v IS NULL THEN prev_v
            ELSE prev_v + (next_v - prev_v) * ((h - prev_h) / (next_h - prev_h))
       END AS v_interp
FROM nav
"""


def q_window_pattern_negation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sequence pattern with NEGATION — MATCH_RECOGNIZE-lite: a ``view``
    converts iff the user's next ``purchase`` lands within 6 hours AND
    no ``click`` occurs strictly between them (the interference pattern
    funnels can't express: ``A → B within t, no C between``).

    Shape: everything is forward-looking navigation over ONE
    user-ordered window pass — conditional min-over-following frames
    give the next purchase/click timestamps, the pattern is a row-local
    predicate, and a per-user aggregate reports views vs conversions.
    No self-join, no pair explosion; per-user ordered state is the same
    bounded-partition discipline as every window entry."""
    e = t(spark, sf_dir, "events")
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    next_purchase = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w_next)
    next_click = F.min(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w_next)
    flagged = e.select(
        "user_id",
        "event_type",
        "ts",
        next_purchase.alias("__np"),
        next_click.alias("__nc"),
    ).filter(F.col("event_type") == "view")
    converted = (
        F.col("__np").isNotNull()
        & (F.col("__np") <= F.col("ts") + F.expr("INTERVAL 6 HOURS"))
        & (F.col("__nc").isNull() | (F.col("__nc") > F.col("__np")))
    )
    return (
        flagged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_views"),
            F.sum(converted.cast("long")).cast("bigint")
            .alias("n_converted"),
        )
    )


ORACLES["window_pattern_negation"] = """
WITH nav AS (
  SELECT user_id, event_type, ts,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS np,
         MIN(CASE WHEN event_type = 'click' THEN ts END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nc
  FROM events
)
SELECT user_id, COUNT(*) AS n_views,
       CAST(SUM(CASE WHEN np IS NOT NULL
                      AND np <= ts + INTERVAL 6 HOUR
                      AND (nc IS NULL OR nc > np)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
FROM nav WHERE event_type = 'view'
GROUP BY user_id
"""


def q_window_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group standardization (z-score) without a second pass: the
    group's exact decimal moment sums ride a whole-partition window, so
    every row gets ``(x − μ)/σ`` from ONE shuffle — the feature-scaling
    step of any per-segment anomaly or ML-prep pipeline.  Population σ
    from the moment identity; the rounded result is deterministic under
    any partitioning (the ``agg_correlation`` discipline applied
    row-wise)."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    sx = F.sum(F.col("value").cast("decimal(28,6)")).over(w).cast("double")
    sxx = (
        F.sum((F.col("value") * F.col("value")).cast("decimal(28,6)"))
        .over(w)
        .cast("double")
    )
    n = F.count(F.lit(1)).over(w)
    mean = sx / n
    var = sxx / n - mean * mean
    return e.select(
        "event_id",
        "event_type",
        "value",
        F.round((F.col("value") - mean) / F.sqrt(var), 9).alias("zscore"),
    )


ORACLES["window_zscore"] = """
WITH m AS (
  SELECT event_id, event_type, value,
         CAST(SUM(CAST(value AS DECIMAL(28,6)))
              OVER (PARTITION BY event_type) AS DOUBLE) AS sx,
         CAST(SUM(CAST(value * value AS DECIMAL(28,6)))
              OVER (PARTITION BY event_type) AS DOUBLE) AS sxx,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_id, event_type, value,
       ROUND((value - sx / n) / SQRT(sxx / n - (sx / n) * (sx / n)), 9)
         AS zscore
FROM m
"""


def q_agg_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation and covariance per group — built from exact
    decimal-path moment sums (Σx, Σy, Σxy, Σx², Σy²) instead of the
    engines' native ``corr``/``covar`` (whose float accumulation order
    differs across partitionings): the moments are associative and
    partitioning-independent, the final ratio is one deterministic
    row-local double expression, and the oracle states the identical
    formula.  One map-combinable hash aggregate — the statistics shape
    that scales exactly like a sum."""
    li = t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    y = F.col("l_discount")

    def m(e, scale=6):
        return F.sum(e.cast(f"decimal(28,{scale})")).cast("double")

    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        m(x).alias("__sx"),
        m(y).alias("__sy"),
        m(x * y).alias("__sxy"),
        m(x * x).alias("__sxx"),
        m(y * y).alias("__syy"),
    )
    n = F.col("n")
    cov_num = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    var_x = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    var_y = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    return agg.select(
        "l_returnflag",
        "n",
        F.round(cov_num / (n * (n - 1)), 9).alias("covar_samp"),
        F.round(cov_num / F.sqrt(var_x * var_y), 9).alias("corr"),
    )


ORACLES["agg_correlation"] = """
WITH moments AS (
  SELECT l_returnflag, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(28,6)))
              AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6)))
              AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(28,6)))
              AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       ROUND((n * sxy - sx * sy) / (n * (n - 1)), 9) AS covar_samp,
       ROUND((n * sxy - sx * sy)
             / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) AS corr
FROM moments
"""


def q_window_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's LONGEST run of consecutive active
    days — the canonical islands detection via the date-minus-dense-rank
    trick (consecutive days share ``day − rank`` as a constant island
    key), engagement analytics' streak metric.

    Shape: one distinct-days aggregate, one per-user ordered window for
    the rank, then two hash aggregates (island length → per-user max).
    All group keys are user-bounded; the window partition is a user's
    distinct days — the bounded-partition discipline of every window
    entry."""
    e = t(spark, sf_dir, "events")
    days = (
        e.select(
            "user_id", F.to_date("ts").alias("day")
        ).distinct()
    )
    rk = F.row_number().over(
        Window.partitionBy("user_id").orderBy("day")
    )
    islands = days.select(
        "user_id",
        "day",
        F.date_sub(F.col("day"), rk).alias("__island"),
    )
    return (
        islands.groupBy("user_id", "__island")
        .agg(F.count(F.lit(1)).alias("__len"))
        .groupBy("user_id")
        .agg(
            F.max("__len").cast("bigint").alias("longest_streak"),
            F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        )
    )


ORACLES["window_streaks"] = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
islands AS (
  SELECT user_id, day,
         day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY day) AS INT) AS island
  FROM days
),
runs AS (
  SELECT user_id, island, COUNT(*) AS len
  FROM islands GROUP BY user_id, island
)
SELECT user_id,
       CAST(MAX(len) AS BIGINT) AS longest_streak,
       CAST(COUNT(*) AS BIGINT) AS n_streaks
FROM runs GROUP BY user_id
"""


def q_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap-fill: monthly order counts and revenue
    per priority on a **dense** month grid — missing (priority, month)
    cells come back as explicit zeros, the precondition for any
    window/EWMA pass over the series.

    Scale shape: the grid is ``|priorities| × |months|`` — tiny, built
    from a 1-row global-bounds aggregate cross-joined with the distinct
    priorities and exploded via ``sequence()`` — and the dense grid
    left-joins the aggregated facts (post-aggregation size, not fact
    size).  At 100 TB the expensive side is the first hash aggregate,
    which partial-combines map-side; the gap-fill itself never touches
    raw facts.

    Month is emitted as a ``yyyy-MM`` string on both engines (driver
    hash compares dtype kinds; date vs datetime64 would skew).
    """
    o = t(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate")).cast("date")
    actual = (
        o.groupBy(
            F.col("o_orderpriority").alias("priority"),
            month.alias("m"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
        )
    )
    bounds = o.agg(F.min(month).alias("lo"), F.max(month).alias("hi"))
    grid = (
        o.select(F.col("o_orderpriority").alias("priority"))
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "priority",
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 month"))
            ).alias("m"),
        )
    )
    return (
        grid.join(actual, ["priority", "m"], "left")
        .select(
            "priority",
            F.date_format("m", "yyyy-MM").alias("month"),
            F.coalesce("n_orders", F.lit(0)).cast("bigint").alias(
                "n_orders"
            ),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        )
    )


ORACLES["ts_gapfill"] = f"""
WITH actual AS (
  SELECT o_orderpriority AS priority,
         CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS m,
         COUNT(*) AS n_orders,
         {sql_dsum('o_totalprice')} AS revenue
  FROM orders GROUP BY 1, 2
),
b AS (
  SELECT CAST(DATE_TRUNC('month', MIN(o_orderdate)) AS DATE) AS lo,
         CAST(DATE_TRUNC('month', MAX(o_orderdate)) AS DATE) AS hi
  FROM orders
),
grid AS (
  SELECT p.priority, CAST(u.m AS DATE) AS m
  FROM (SELECT DISTINCT o_orderpriority AS priority FROM orders) p,
       b,
       UNNEST(GENERATE_SERIES(b.lo, b.hi, INTERVAL 1 MONTH)) AS u(m)
)
SELECT g.priority,
       STRFTIME(g.m, '%Y-%m') AS month,
       COALESCE(a.n_orders, 0) AS n_orders,
       COALESCE(a.revenue, 0) AS revenue
FROM grid g LEFT JOIN actual a ON a.priority = g.priority AND a.m = g.m
"""


def q_window_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution — every purchase attributed to the user's
    most recent PRECEDING click within a 7-day lookback, the standard
    marketing-analytics assignment.  One running ``last(click,
    ignorenulls)`` window over the user's time-ordered event stream (a
    single shuffle on the user key), then a row-local recency test; no
    self-join, no per-pair explosion — the shape that survives a 100×
    event volume.  Ties (same timestamp) break toward the later event id
    in the ordering, which the oracle restates identically."""
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click = F.when(
        F.col("event_type") == "click",
        F.struct(F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")),
    )
    attributed = (
        e.withColumn("last_click", F.last(click, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            "ts",
            F.col("last_click.c_id").alias("click_id"),
            F.col("last_click.c_ts").alias("click_ts"),
        )
        .withColumn(
            "attributed",
            F.col("click_ts").isNotNull()
            & (F.col("click_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")),
        )
        .select(
            "user_id",
            "purchase_id",
            F.when(F.col("attributed"), F.col("click_id")).alias("click_id"),
            "attributed",
        )
    )
    return attributed


ORACLES["window_attribution"] = """
WITH e AS (
  SELECT user_id, event_id, event_type, ts,
         LAST_VALUE(CASE WHEN event_type = 'click'
                         THEN struct_pack(ts := ts, event_id := event_id)
                         END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_click
  FROM events WHERE event_type IN ('click', 'purchase')
)
SELECT user_id, event_id AS purchase_id,
       CASE WHEN last_click IS NOT NULL
             AND last_click.ts >= ts - INTERVAL 7 DAY
            THEN last_click.event_id END AS click_id,
       (last_click IS NOT NULL
        AND last_click.ts >= ts - INTERVAL 7 DAY) AS attributed
FROM e WHERE event_type = 'purchase'
"""


def q_window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-lookback exponential moving average (decay 0.7 over the
    trailing 8 events) per event type — the smoothing pass monitoring
    pipelines run over metric streams.

    Spark has no EWMA aggregate; instead of a Python UDAF the frame is
    materialized row-locally (``collect_list`` over the ordered window —
    at most 8 elements regardless of data size) and folded JVM-side with
    ``F.aggregate``, newest-first, carrying ``(weighted sum, weight,
    weight total)`` through one pass.  One exchange on ``event_type``;
    everything after is codegen'd array arithmetic, no UDF, state bounded
    by the frame length — the 100 TB cost is exactly the sort any
    per-key window already pays.

    The oracle states the same quantity as the closed-form weighted
    self-join (``POWER(decay, rank_gap)`` over the trailing frame).
    """
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-7, 0)
    )
    frame = F.reverse(F.collect_list("value").over(w))
    acc = F.aggregate(
        frame,
        F.struct(
            F.lit(0.0).alias("s"),
            F.lit(1.0).alias("w"),
            F.lit(0.0).alias("z"),
        ),
        lambda a, x: F.struct(
            (a["s"] + a["w"] * x).alias("s"),
            (a["w"] * F.lit(0.7)).alias("w"),
            (a["z"] + a["w"]).alias("z"),
        ),
    )
    return e.select(
        "event_id",
        "event_type",
        "ts",
        "value",
        F.round(acc["s"] / acc["z"], 6).alias("ewma"),
    )


ORACLES["window_ewma"] = """
WITH r AS (
  SELECT event_id, event_type, ts, value,
         ROW_NUMBER() OVER (
           PARTITION BY event_type ORDER BY ts, event_id
         ) AS rn
  FROM events
)
SELECT a.event_id, a.event_type, a.ts, a.value,
       ROUND(SUM(POWER(0.7, a.rn - b.rn) * b.value)
             / SUM(POWER(0.7, a.rn - b.rn)), 6) AS ewma
FROM r a JOIN r b
  ON a.event_type = b.event_type AND b.rn BETWEEN a.rn - 7 AND a.rn
GROUP BY a.event_id, a.event_type, a.ts, a.value
"""


def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: flag events whose value deviates from
    the per-type median by more than 2.5× the median absolute deviation
    (MAD) — the standard robust z-score monitor (median/MAD shrug off
    the very outliers that poison mean/stddev).

    Scale shape: two exact-percentile aggregates over the fact table
    (each one shuffle on ``event_type``; swap in ``approx_percentile``'s
    mergeable t-digest at 100 TB) produce one tiny (type, med, mad) row
    per group, broadcast back onto the facts — flagging itself is a
    row-local filter, no extra exchange.  Spark ``percentile`` and
    DuckDB ``quantile_cont`` share the interpolation definition, so
    med/mad (and every derived double) are bit-identical, no rounding.
    """
    e = t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "__ad", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("__ad", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("__ad") > 2.5 * F.col("mad"))
        .select(
            "event_id",
            "event_type",
            "value",
            "med",
            "mad",
            (F.col("__ad") / F.col("mad")).alias("mad_ratio"),
        )
    )


ORACLES["anomaly_mad"] = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_id, e.event_type, e.value, m.med,
         ABS(e.value - m.med) AS ad
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(ad, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_id, d.event_type, d.value, d.med, m2.mad,
       d.ad / m2.mad AS mad_ratio
FROM dev d JOIN mad m2 USING (event_type)
WHERE d.ad > 2.5 * m2.mad
"""


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence mining: the per-user event-type transition matrix
    (Markov counts + conditional probabilities) — which action follows
    which, the first thing session-behavior analysis computes.

    Scale shape: one ``lead`` window per user (the same user-keyed sort
    every sessionization pass pays), then a hash aggregate on the
    (from, to) pair — a key space of |types|², tiny — and a window sum
    for the row-normalized probabilities.  Probabilities are exact
    BIGINT/BIGINT divisions, identical on both engines.
    """
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            "event_type",
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
    )
    counts = pairs.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = F.sum("n").over(Window.partitionBy("event_type")).cast("bigint")
    return counts.select(
        "event_type",
        "next_type",
        "n",
        (F.col("n") / tot).alias("p"),
    )


ORACLES["markov_transitions"] = """
WITH s AS (
  SELECT event_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS next_type
  FROM events
),
c AS (
  SELECT event_type, next_type, COUNT(*) AS n
  FROM s WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
)
SELECT event_type, next_type, n,
       n / CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS p
FROM c
"""


def q_agg_approx_quantile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles with a *provable* rank-bound check — the
    same treatment ``agg_approx_distinct`` gives HLL.  The GK sketch
    behind ``percentile_approx`` is merge-order-dependent (unlike HLL's
    commutative register-max), so the approximate VALUE cannot be
    hash-compared across engines; what IS deterministic is its
    guarantee: rank error ≤ n/accuracy.  We verify the guarantee inside
    the engine — count rows ≤ the approx answer and check the rank —
    and emit the exact quantile plus the boolean; the oracle states the
    exact quantile and literal TRUE.

    Scale shape: the exact percentile is the checkable baseline at test
    SF; the approx path (mergeable constant-size sketch partials, no
    per-group sort) is what survives 100 TB — this entry proves its
    error contract rather than trusting it."""
    l = t(spark, sf_dir, "lineitem")
    acc = 1000
    exact = l.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("p50_exact"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    approx = l.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice", F.lit(0.5), F.lit(acc)
        ).alias("__p50_approx")
    )
    ranked = (
        l.join(F.broadcast(approx), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.sum(
                (F.col("l_extendedprice") <= F.col("__p50_approx")).cast(
                    "long"
                )
            ).alias("__rank")
        )
    )
    return (
        exact.join(ranked, "l_returnflag")
        .select(
            "l_returnflag",
            "p50_exact",
            "n",
            (
                F.abs(F.col("__rank") - 0.5 * F.col("n"))
                <= F.col("n") / acc + 1
            ).alias("approx_rank_ok"),
        )
    )


ORACLES["agg_approx_quantile_bound"] = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS p50_exact,
       COUNT(*) AS n,
       TRUE AS approx_rank_ok
FROM lineitem GROUP BY l_returnflag
"""


def q_agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count–min sketch built in-engine from portable md5 hashing
    (depth 3 × width 256), queried for the top-50 heaviest users — the
    last member of the sketch family (HLL distinct, GK quantiles, Bloom
    prefilter) done with full value parity: the hash family is portable,
    so DuckDB replicates the entire sketch and the estimates compare
    bit-for-bit, including each key's overestimate.

    Scale shape: the sketch is ONE hash aggregate into a fixed
    depth×width = 768-cell table — constant memory regardless of key
    cardinality (the whole point of CMS at 100 TB: frequency estimates
    for unbounded key spaces in fixed space); the query side joins that
    constant-size table broadcast (bounded by construction, unlike the
    data-dependent dims the catalog leaves to AQE).  CMS guarantees
    est ≥ true always; the emitted ``overestimate`` column makes the
    collision inflation directly visible and value-checked."""
    ev = t(spark, sf_dir, "events").select("user_id")

    def bucket(j: int) -> "F.Column":
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.lit(str(j)),
                            F.col("user_id").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 256
        )

    rows = F.array(
        *[
            F.struct(F.lit(j).alias("j"), bucket(j).alias("b"))
            for j in range(3)
        ]
    )
    sketch = (
        ev.select(F.explode(rows).alias("r"))
        .groupBy(F.col("r.j").alias("j"), F.col("r.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cell"))
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_exact"))
    probes = exact.select(
        "user_id", "n_exact", F.explode(rows).alias("r")
    ).select("user_id", "n_exact", F.col("r.j").alias("j"), F.col("r.b").alias("b"))
    return (
        probes.join(F.broadcast(sketch), ["j", "b"])
        .groupBy("user_id")
        .agg(
            F.first("n_exact").alias("n_exact"),
            F.min("cell").alias("n_est"),
        )
        .select(
            "user_id",
            "n_exact",
            "n_est",
            (F.col("n_est") - F.col("n_exact")).alias("overestimate"),
        )
        .orderBy(F.desc("n_exact"), "user_id")
        .limit(50)
    )


ORACLES["agg_cms_heavy_hitters"] = """
WITH pairs AS (
  SELECT user_id, d.j,
         CAST('0x' || SUBSTR(MD5(CAST(d.j AS VARCHAR) || ':' ||
                                 CAST(user_id AS VARCHAR)), 1, 15)
              AS BIGINT) % 256 AS b
  FROM events CROSS JOIN (VALUES (0), (1), (2)) AS d(j)
),
sketch AS (
  SELECT j, b, COUNT(*) AS cell FROM pairs GROUP BY j, b
),
exact AS (
  SELECT user_id, COUNT(*) AS n_exact FROM events GROUP BY user_id
),
probes AS (
  SELECT DISTINCT user_id, j, b FROM pairs
),
est AS (
  SELECT p.user_id, MIN(s.cell) AS n_est
  FROM probes p JOIN sketch s USING (j, b)
  GROUP BY p.user_id
)
SELECT e.user_id, e.n_exact, est.n_est,
       est.n_est - e.n_exact AS overestimate
FROM exact e JOIN est USING (user_id)
ORDER BY e.n_exact DESC, e.user_id
LIMIT 50
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention analysis: users grouped by first-activity week,
    distinct active users per (cohort, week offset), retention as the
    fraction of the cohort still active — the canonical product-metrics
    rollup.

    Scale shape: one user-keyed aggregate for first-activity, one
    distinct-reduce of (user, week) activity, one shuffled join back on
    ``user_id`` (all three co-partition on the same key), then a hash
    aggregate on the tiny (cohort, offset) key space and a broadcast of
    the offset-0 cohort sizes.  Offsets are exact integer day
    arithmetic; retention is BIGINT/BIGINT division, identical on both
    engines."""
    e = t(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("__cohort")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", "ts").alias("__wk")
    ).distinct()
    counts = (
        activity.join(first, "user_id")
        .groupBy(
            "__cohort",
            F.floor(
                F.datediff(
                    F.col("__wk").cast("date"), F.col("__cohort").cast("date")
                )
                / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )
    base = counts.filter(F.col("week_offset") == 0).select(
        "__cohort", F.col("n_users").alias("__n0")
    )
    return (
        counts.join(F.broadcast(base), "__cohort")
        .select(
            F.date_format("__cohort", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_users",
            (F.col("n_users") / F.col("__n0")).alias("retention"),
        )
    )


ORACLES["cohort_retention"] = """
WITH first AS (
  SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort FROM events
  GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS wk FROM events
),
counts AS (
  SELECT f.cohort,
         CAST(FLOOR(DATE_DIFF('day', f.cohort, a.wk) / 7) AS INT)
           AS week_offset,
         COUNT(DISTINCT a.user_id) AS n_users
  FROM activity a JOIN first f USING (user_id)
  GROUP BY 1, 2
),
base AS (
  SELECT cohort, n_users AS n0 FROM counts WHERE week_offset = 0
)
SELECT STRFTIME(c.cohort, '%Y-%m-%d') AS cohort_week,
       c.week_offset, c.n_users,
       c.n_users / b.n0 AS retention
FROM counts c JOIN base b USING (cohort)
"""


def q_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Bloom semi-join reduction: orders pruned by an 8 KB
    fingerprint of the selective customer subset *before* the join
    exchange, then exactly joined — value-invisible (false positives
    drop in the exact join), so the oracle is the plain join.  The
    explicit form of the runtime-bloom rewrite, for when the planner
    can't see the dim side's selectivity."""
    from table_streaming_source_spark.operators.joins import (
        bloom_prefilter_join,
    )

    c = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "AUTOMOBILE")
        .select(F.col("c_custkey").alias("custkey"))
    )
    o = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        "o_orderpriority",
        "o_totalprice",
    )
    return (
        bloom_prefilter_join(o, c, "custkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
        )
    )


ORACLES["join_bloom_prefilter"] = f"""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'AUTOMOBILE'
GROUP BY o_orderpriority
"""


def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality verification (the Deequ-style expectation
    suite every ingest gate runs): null-rate, value-range, domain-set,
    and key-uniqueness checks computed in ONE pass over orders, plus a
    referential-integrity check (lineitem keys without a parent order)
    as a key-only anti-join — emitted as one row per check with
    violation counts and a pass flag.

    Scale shape: the four row-local checks share a single
    map-combinable aggregate (adding a check adds an expression, not a
    pass); uniqueness rides the same aggregate via COUNT DISTINCT; the
    FK check shuffles only 8-byte keys.  At 100 TB this is the audit
    you can afford on every load."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    one = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("v_null"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("v_range"),
        F.sum(
            (~F.col("o_orderstatus").isin("O", "F", "P")).cast("long")
        ).alias("v_domain"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("v_uniq"),
    )
    checks = one.select(
        F.explode(
            F.map_from_arrays(
                F.array(
                    F.lit("custkey_not_null"),
                    F.lit("totalprice_positive"),
                    F.lit("status_in_domain"),
                    F.lit("orderkey_unique"),
                ),
                F.array("v_null", "v_range", "v_domain", "v_uniq"),
            )
        ).alias("check_name", "n_violations"),
        F.col("n_rows").alias("n_checked"),
    )
    orphans = (
        li.join(o.select("o_orderkey"),
                li.l_orderkey == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(
            F.lit("lineitem_fk_orders").alias("check_name"),
            F.col("n_violations").cast("long"),
        )
        .crossJoin(li.agg(F.count(F.lit(1)).alias("n_checked")))
    )
    return (
        checks.select("check_name", "n_violations", "n_checked")
        .union(orphans.select("check_name", "n_violations", "n_checked"))
        .withColumn("passed", F.col("n_violations") == 0)
    )


ORACLES["dq_expectations"] = """
WITH one AS (
  SELECT COUNT(*) AS n_rows,
         SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_null,
         SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS v_range,
         SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                  THEN 1 ELSE 0 END) AS v_domain,
         COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_uniq
  FROM orders
),
checks AS (
  SELECT 'custkey_not_null' AS check_name, v_null AS n_violations,
         n_rows AS n_checked FROM one
  UNION ALL
  SELECT 'totalprice_positive', v_range, n_rows FROM one
  UNION ALL
  SELECT 'status_in_domain', v_domain, n_rows FROM one
  UNION ALL
  SELECT 'orderkey_unique', v_uniq, n_rows FROM one
  UNION ALL
  SELECT 'lineitem_fk_orders',
         (SELECT COUNT(*) FROM lineitem
          WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
         (SELECT COUNT(*) FROM lineitem)
)
SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
       CAST(n_checked AS BIGINT) AS n_checked,
       n_violations = 0 AS passed
FROM checks
"""


_RECURSIVE_CTE_SQL = """
WITH RECURSIVE fwd AS (
  SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
  FROM {lineitem} JOIN {orders} ON l_orderkey = o_orderkey
),
e AS (SELECT u, v FROM fwd UNION ALL SELECT v, u FROM fwd),
walk(v, dist) AS (
  SELECT c_custkey * 2, 0 FROM {customer} WHERE c_custkey % 100 = 0
  UNION ALL
  SELECT e.v, walk.dist + 1
  FROM walk JOIN e ON e.u = walk.v
  WHERE walk.dist < 2
),
md AS (SELECT v, MIN(dist) AS dist FROM walk GROUP BY v)
SELECT dist, COUNT(*) AS n_vertices FROM md GROUP BY dist
"""


def q_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI ``WITH RECURSIVE`` through the SQL front door (Spark ≥ 4.0):
    bounded-depth reachability over the undirected customer↔supplier
    purchase graph, the SAME query text on both engines — the SQL twin
    of the DataFrame-loop `graph_bfs`.  The recursion is UNION ALL with
    an explicit depth bound (portable semantics — recursive-UNION dedup
    behavior differs across engines), and the walk collapses through
    MIN(dist), so path multiplicity cannot leak into the answer."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("__sql_orders")
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("__sql_lineitem")
    t(spark, sf_dir, "customer").createOrReplaceTempView("__sql_customer")
    # the recursion's INTERMEDIATE row count grows with SF and trips
    # Spark's 1M-row recursion guard (RECURSION_ROW_LIMIT_EXCEEDED) at
    # sf0.1 — raise the documented knob for exactly this query's
    # materialization, then restore (eager checkpoint pins the result
    # so the restored conf cannot affect a later lazy execution)
    key = "spark.sql.cteRecursionRowLimit"
    old = spark.conf.get(key, None)
    spark.conf.set(key, str(200_000_000))
    try:
        return spark.sql(
            _RECURSIVE_CTE_SQL.format(
                lineitem="__sql_lineitem",
                orders="__sql_orders",
                customer="__sql_customer",
            )
        ).localCheckpoint(eager=True)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


ORACLES["sql_recursive_cte"] = _RECURSIVE_CTE_SQL.format(
    lineitem="lineitem", orders="orders", customer="customer"
)


def q_agg_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary least squares (y = a + b·x, plus R²) from
    exact decimal-path moment sums — the closed-form regression every
    per-segment trend/forecast pass needs, built with the
    ``agg_correlation`` discipline: Σx, Σy, Σxy, Σx², Σy² accumulate as
    decimals (associative, partitioning-independent), the slope/
    intercept/R² ratios are one deterministic row-local double
    expression each, and the oracle states the identical formulas.

    Scale shape: ONE map-combinable hash aggregate over the fact table —
    a per-group model fit that costs exactly what a per-group sum costs,
    at any scale.  No second pass, no driver-side math."""
    li = t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    y = F.col("l_extendedprice")

    def m(e):
        return F.sum(e.cast("decimal(28,6)")).cast("double")

    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        m(x).alias("__sx"),
        m(y).alias("__sy"),
        m(x * y).alias("__sxy"),
        m(x * x).alias("__sxx"),
        m(y * y).alias("__syy"),
    )
    n = F.col("n")
    sxy_c = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    sxx_c = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    syy_c = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    slope = sxy_c / sxx_c
    return agg.select(
        "l_returnflag",
        "n",
        F.round(slope, 9).alias("slope"),
        F.round((F.col("__sy") - slope * F.col("__sx")) / n, 9)
        .alias("intercept"),
        F.round(sxy_c * sxy_c / (sxx_c * syy_c), 9).alias("r2"),
    )


ORACLES["agg_linear_fit"] = """
WITH moments AS (
  SELECT l_returnflag, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6)))
              AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6)))
              AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice * l_extendedprice
                       AS DECIMAL(28,6))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS slope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 9)
         AS intercept,
       ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) AS r2
FROM moments
"""


def q_ts_rollup_reagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level continuous aggregate (the hypertable rollup contract):
    events are FIRST rolled up to minute grain, and the hourly answer is
    re-aggregated *from the minute rollup* — never from raw rows.  The
    moments (count, decimal sum) are associative, so the two-level
    result equals the direct hourly aggregate bit-for-bit, which is
    exactly what the oracle states (it aggregates raw events straight to
    hours).

    Scale shape: this is how 100 TB time-series serving works — the
    minute rollup is the materialized view that absorbs the raw-event
    volume once, and every coarser grain (hour/day/month) re-aggregates
    from it at 1/60th the cost.  Choosing re-aggregatable moments
    (count/sum, not avg) is the design point being pinned."""
    e = t(spark, sf_dir, "events")
    minute = e.groupBy(
        F.date_trunc("minute", "ts").alias("minute"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(28,6)")).alias("sv"),
    )
    hourly = minute.groupBy(
        F.date_trunc("hour", "minute").alias("hour"),
        "event_type",
    ).agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.sum("sv").alias("__sv"),
    )
    return hourly.select(
        "hour",
        "event_type",
        "n_events",
        F.round(F.col("__sv").cast("double"), 6).alias("sum_value"),
        F.round(
            F.col("__sv").cast("double") / F.col("n_events"), 9
        ).alias("avg_value"),
    )


ORACLES["ts_rollup_reagg"] = """
SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 6)
         AS sum_value,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
             / COUNT(*), 9) AS avg_value
FROM events GROUP BY DATE_TRUNC('hour', ts), event_type
"""


def q_agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group skewness and excess kurtosis from exact decimal-path
    raw moments (Σx … Σx⁴) — the distribution-shape statistics native
    ``skewness``/``kurtosis`` compute with partitioning-dependent float
    accumulation.  ``l_quantity`` is integer-valued, so every power and
    sum is exact; the central-moment identities and final ratios are
    row-local double expressions the oracle restates verbatim.  Still
    ONE map-combinable hash aggregate — shape analytics at the cost of
    a sum."""
    li = t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")

    def m(e):
        return F.sum(e.cast("decimal(28,6)")).cast("double")

    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        m(x).alias("__s1"),
        m(x * x).alias("__s2"),
        m(x * x * x).alias("__s3"),
        m(x * x * x * x).alias("__s4"),
    )
    n = F.col("n")
    mu = F.col("__s1") / n
    m2 = F.col("__s2") / n - mu * mu
    m3 = F.col("__s3") / n - 3 * mu * F.col("__s2") / n + 2 * mu * mu * mu
    m4 = (
        F.col("__s4") / n
        - 4 * mu * F.col("__s3") / n
        + 6 * mu * mu * F.col("__s2") / n
        - 3 * mu * mu * mu * mu
    )
    return agg.select(
        "l_returnflag",
        "n",
        F.round(F.sqrt(m2), 9).alias("stddev_pop"),
        F.round(m3 / F.pow(m2, F.lit(1.5)), 9).alias("skewness"),
        F.round(m4 / (m2 * m2) - 3.0, 9).alias("kurtosis_excess"),
    )


ORACLES["agg_higher_moments"] = """
WITH s AS (
  SELECT l_returnflag, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6)))
              AS DOUBLE) AS s2,
         CAST(SUM(CAST(l_quantity * l_quantity * l_quantity
                       AS DECIMAL(28,6))) AS DOUBLE) AS s3,
         CAST(SUM(CAST(l_quantity * l_quantity * l_quantity * l_quantity
                       AS DECIMAL(28,6))) AS DOUBLE) AS s4
  FROM lineitem GROUP BY l_returnflag
),
c AS (
  SELECT l_returnflag, n,
         s2 / n - (s1 / n) * (s1 / n) AS m2,
         s3 / n - 3 * (s1 / n) * s2 / n
           + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
         s4 / n - 4 * (s1 / n) * s3 / n
           + 6 * (s1 / n) * (s1 / n) * s2 / n
           - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
  FROM s
)
SELECT l_returnflag, n,
       ROUND(SQRT(m2), 9) AS stddev_pop,
       ROUND(m3 / POWER(m2, 1.5), 9) AS skewness,
       ROUND(m4 / (m2 * m2) - 3.0, 9) AS kurtosis_excess
FROM c
"""


def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median per group: the smallest extended price
    whose cumulative quantity weight reaches half the group's total —
    the robust center engines only offer unweighted (and approximate).
    Cumulative weights ride one ordered window in exact decimals and
    the half-total test compares ``2·cumw ≥ W`` integer-exactly; the
    crossing row is unique given the (price, orderkey, linenumber)
    total order, so both engines pick the same value.

    Scale shape: one window shuffle on the group key + a 1-row-per-group
    argmin — no iteration, no driver math.  (At extreme skew the same
    semantics decomposes into a two-pass histogram split; this is the
    exact single-window form.)"""
    li = t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wq = F.col("l_quantity").cast("decimal(18,2)")
    cum = F.sum(wq).over(w)
    tot = F.sum(wq).over(Window.partitionBy("l_returnflag"))
    crossing = li.select(
        "l_returnflag",
        "l_extendedprice",
        (2 * cum >= tot).cast("int").alias("__crossed"),
    ).filter(F.col("__crossed") == 1)
    return crossing.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("weighted_median_price")
    )


ORACLES["agg_weighted_median"] = """
WITH cw AS (
  SELECT l_returnflag, l_extendedprice,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
           PARTITION BY l_returnflag
           ORDER BY l_extendedprice, l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
           PARTITION BY l_returnflag) AS w
  FROM lineitem
)
SELECT l_returnflag, MIN(l_extendedprice) AS weighted_median_price
FROM cw WHERE 2 * cumw >= w
GROUP BY l_returnflag
"""


def q_sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (sinks.py ``compact``): the orders table
    lands partitioned by priority but fragmented (8 appends' worth of
    small files per partition — the steady state of any incremental
    sink), then compacts to ONE file per partition via the
    stage-and-swap rewrite.  The returned frame value-checks BOTH
    contracts: every partition's row count and decimal sum survive the
    rewrite bit-for-bit, and ``n_files`` is exactly 1 (with
    ``target_files_per_partition=1`` the layout is deterministic, so
    the oracle can state it as a literal).

    At 100 TB this is THE table-maintenance job: without it a
    streaming sink's file count grows linearly with trigger count and
    scan planning collapses; table formats wrap the same rewrite in a
    metadata pointer flip."""
    import shutil as _shutil
    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark.sinks import compact

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _scratch.scratch_dir("sink_compact", sf_dir, fresh=True)
    (
        orders.repartition(8)
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .parquet(path)
    )
    compact(
        spark, path,
        partition_by=["o_orderpriority"],
        target_files_per_partition=1,
    )
    import os as _os

    counts = [
        (
            d.split("=", 1)[1],
            sum(
                1
                for f in _os.listdir(_os.path.join(path, d))
                if f.endswith(".parquet")
            ),
        )
        for d in _os.listdir(path)
        if d.startswith("o_orderpriority=")
    ]
    files = spark.createDataFrame(
        counts, "o_orderpriority string, n_files int"
    ).withColumn(
        "o_orderpriority",
        # partition dir names percent-encode spaces
        F.regexp_replace("o_orderpriority", "%20", " "),
    )
    result = (
        spark.read.parquet(path)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .join(files, "o_orderpriority")
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["sink_compaction"] = f"""
SELECT o_orderpriority, COUNT(*) AS n_rows,
       {sql_dsum('o_totalprice')} AS sum_price,
       CAST(1 AS INT) AS n_files
FROM orders GROUP BY o_orderpriority
"""


def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order value per market segment — the
    concentration/inequality metric (is revenue dominated by a few
    giant orders?).  Uses the rank identity ``G = 2·Σ(i·xᵢ)/(n·Σx) −
    (n+1)/n`` over one ordered window: ranks are exact integers, the
    two sums ride decimals (``i·xᵢ`` scaled into DECIMAL(38,2) — rank ×
    price stays well inside), and the final expression is one
    deterministic double per group.

    Scale shape: one join to segment, one window sort per segment, one
    hash aggregate.  (At extreme scale the sort swaps for a two-pass
    histogram approximation; this is the exact form.)"""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    seg = o.join(
        c.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment"),
        "o_custkey",
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        "o_totalprice", "o_orderkey"
    )
    ranked = seg.select(
        "c_mktsegment",
        "o_totalprice",
        F.row_number().over(w).alias("i"),
    )
    agg = ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("__sx"),
        F.sum(
            (F.col("i") * F.col("o_totalprice")).cast("decimal(38,2)")
        )
        .cast("double")
        .alias("__six"),
    )
    n = F.col("n")
    return agg.select(
        "c_mktsegment",
        n.cast("bigint").alias("n"),
        F.round(
            2 * F.col("__six") / (n * F.col("__sx")) - (n + 1) / n, 9
        ).alias("gini"),
    )


ORACLES["agg_gini"] = """
WITH ranked AS (
  SELECT c_mktsegment, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice, o_orderkey) AS i
  FROM orders JOIN customer ON o_custkey = c_custkey
),
agg AS (
  SELECT c_mktsegment, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(i * o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
           AS six
  FROM ranked GROUP BY c_mktsegment
)
SELECT c_mktsegment, CAST(n AS BIGINT) AS n,
       ROUND(2 * six / (n * sx) - (n + 1.0) / n, 9) AS gini
FROM agg
"""


def q_ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..3 autocorrelation of each event type's hourly volume
    series — the seasonality probe run before any forecasting model.
    The series aggregates once (decimal-exact hourly sums, rounded to a
    stable double), lagged pairs come from ONE ordered window with
    three ``lag`` columns unpivoted via ``stack``, and each lag's
    Pearson coefficient uses the exact-decimal moment discipline of
    ``agg_correlation`` — bit-stable across engines and partitionings.

    Scale shape: raw events are touched by one hash aggregate; the
    window and moment pass run over |types|×|hours| rows.  One series
    per key, bounded partitions — the standard ACF shape."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double"), 6
        ).alias("v")
    )
    w = Window.partitionBy("event_type").orderBy("hour")
    lagged = hourly.select(
        "event_type",
        "v",
        F.lag("v", 1).over(w).alias("l1"),
        F.lag("v", 2).over(w).alias("l2"),
        F.lag("v", 3).over(w).alias("l3"),
    )
    pairs = lagged.select(
        "event_type",
        F.expr(
            "stack(3, 1, l1, 2, l2, 3, l3) AS (lag, x)"
        ),
        F.col("v").alias("y"),
    ).filter(F.col("x").isNotNull())

    def m(c):
        return F.sum(c.cast("decimal(28,6)")).cast("double")

    x, y = F.col("x"), F.col("y")
    agg = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        m(x).alias("__sx"),
        m(y).alias("__sy"),
        m(x * y).alias("__sxy"),
        m(x * x).alias("__sxx"),
        m(y * y).alias("__syy"),
    )
    n = F.col("n_pairs")
    num = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    den = F.sqrt(
        (n * F.col("__sxx") - F.col("__sx") * F.col("__sx"))
        * (n * F.col("__syy") - F.col("__sy") * F.col("__sy"))
    )
    return agg.select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        n.cast("bigint").alias("n_pairs"),
        F.round(num / den, 9).alias("acf"),
    )


ORACLES["ts_autocorr"] = """
WITH hourly AS (
  SELECT event_type, DATE_TRUNC('hour', ts) AS hour,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 6) AS v
  FROM events GROUP BY event_type, DATE_TRUNC('hour', ts)
),
lagged AS (
  SELECT event_type, v,
         LAG(v, 1) OVER w AS l1,
         LAG(v, 2) OVER w AS l2,
         LAG(v, 3) OVER w AS l3
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour)
),
pairs AS (
  SELECT event_type, 1 AS lag, l1 AS x, v AS y FROM lagged WHERE l1 IS NOT NULL
  UNION ALL
  SELECT event_type, 2, l2, v FROM lagged WHERE l2 IS NOT NULL
  UNION ALL
  SELECT event_type, 3, l3, v FROM lagged WHERE l3 IS NOT NULL
),
mom AS (
  SELECT event_type, lag, COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(28,6))) AS DOUBLE) AS syy
  FROM pairs GROUP BY event_type, lag
)
SELECT event_type, CAST(lag AS INT) AS lag,
       CAST(n AS BIGINT) AS n_pairs,
       ROUND((n * sxy - sx * sy)
             / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) AS acf
FROM mom
"""


def q_ts_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal profile per event type: each hour slot's
    mean volume over the observation span and its multiplicative index
    against the type's overall hourly mean — the seasonal component a
    decomposition or capacity plan reads first.  Two decimal-exact
    aggregates (slot-level from raw events, type-level re-aggregated
    FROM the slot level — the ``ts_rollup_reagg`` discipline), one
    broadcast-scalar join, deterministic ratio rounding."""
    e = t(spark, sf_dir, "events")
    slot = e.groupBy(
        "event_type",
        F.hour("ts").alias("hour_of_day"),
        F.date_trunc("hour", "ts").alias("__h"),
    ).agg(F.sum(F.col("value").cast("decimal(28,6)")).alias("__sv"))
    per_slot = slot.groupBy("event_type", "hour_of_day").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("__sv").alias("__s"),
    )
    per_type = per_slot.groupBy("event_type").agg(
        (F.sum("__s").cast("double") / F.sum("n_hours")).alias("__mean")
    )
    return (
        per_slot.join(F.broadcast(per_type), "event_type")
        .select(
            "event_type",
            F.col("hour_of_day").cast("int").alias("hour_of_day"),
            F.col("n_hours").cast("bigint").alias("n_hours"),
            F.round(
                F.col("__s").cast("double") / F.col("n_hours"), 9
            ).alias("mean_volume"),
            F.round(
                (F.col("__s").cast("double") / F.col("n_hours"))
                / F.col("__mean"),
                9,
            ).alias("seasonal_index"),
        )
    )


ORACLES["ts_seasonal_profile"] = """
WITH slot AS (
  SELECT event_type, EXTRACT(HOUR FROM ts) AS hour_of_day,
         DATE_TRUNC('hour', ts) AS h,
         SUM(CAST(value AS DECIMAL(28,6))) AS sv
  FROM events GROUP BY 1, 2, 3
),
per_slot AS (
  SELECT event_type, hour_of_day, COUNT(*) AS n_hours, SUM(sv) AS s
  FROM slot GROUP BY event_type, hour_of_day
),
per_type AS (
  SELECT event_type,
         CAST(SUM(s) AS DOUBLE) / SUM(n_hours) AS mean_all
  FROM per_slot GROUP BY event_type
)
SELECT p.event_type, CAST(p.hour_of_day AS INT) AS hour_of_day,
       CAST(p.n_hours AS BIGINT) AS n_hours,
       ROUND(CAST(p.s AS DOUBLE) / p.n_hours, 9) AS mean_volume,
       ROUND((CAST(p.s AS DOUBLE) / p.n_hours) / t.mean_all, 9)
         AS seasonal_index
FROM per_slot p JOIN per_type t USING (event_type)
"""


def q_ts_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling correlation between every pair of event-type hourly
    series (24-observation trailing window) — the co-movement monitor
    of pairs analytics and metric-drift detection.  The hourly series
    aggregates once; the pair table is a self-join on the hour key with
    ``type_a < type_b``; five decimal moment sums ride ONE ordered
    window per pair and the Pearson ratio is row-local, emitted only
    for full windows — the ``agg_correlation`` discipline under a
    moving frame.

    Scale shape: |types|²/2 pairs × |hours| rows after the one raw-data
    aggregate; windows partition by pair (bounded series).  Frames
    count observations, not wall hours — missing hours contract the
    window rather than zero-filling (compose with ``ts_gapfill``
    upstream when calendar alignment matters)."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double"), 6
        ).alias("v")
    )
    a = hourly.select(
        F.col("event_type").alias("type_a"), "hour",
        F.col("v").alias("x"),
    )
    b = hourly.select(
        F.col("event_type").alias("type_b"), "hour",
        F.col("v").alias("y"),
    )
    pairs = a.join(b, "hour").filter(F.col("type_a") < F.col("type_b"))
    w = (
        Window.partitionBy("type_a", "type_b")
        .orderBy("hour")
        .rowsBetween(-23, 0)
    )

    def m(c):
        return F.sum(c.cast("decimal(28,6)")).over(w).cast("double")

    x, y = F.col("x"), F.col("y")
    n = F.count(F.lit(1)).over(w)
    sx, sy = m(x), m(y)
    sxy, sxx, syy = m(x * y), m(x * x), m(y * y)
    num = n * sxy - sx * sy
    den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return pairs.select(
        "type_a",
        "type_b",
        "hour",
        n.alias("__n"),
        F.round(num / den, 9).alias("rolling_corr"),
    ).filter(F.col("__n") == 24).drop("__n")


ORACLES["ts_rolling_corr"] = """
WITH hourly AS (
  SELECT event_type, DATE_TRUNC('hour', ts) AS hour,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 6) AS v
  FROM events GROUP BY event_type, DATE_TRUNC('hour', ts)
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, a.hour,
         a.v AS x, b.v AS y
  FROM hourly a JOIN hourly b
    ON a.hour = b.hour AND a.event_type < b.event_type
),
roll AS (
  SELECT type_a, type_b, hour,
         COUNT(*) OVER w AS n,
         CAST(SUM(CAST(x AS DECIMAL(28,6))) OVER w AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(28,6))) OVER w AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(28,6))) OVER w AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(28,6))) OVER w AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(28,6))) OVER w AS DOUBLE) AS syy
  FROM pairs
  WINDOW w AS (PARTITION BY type_a, type_b ORDER BY hour
               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
)
SELECT type_a, type_b, hour,
       ROUND((n * sxy - sx * sy)
             / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 9)
         AS rolling_corr
FROM roll WHERE n = 24
"""


def q_ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing over each event type's
    hourly series, with α = β = ½ — chosen so EVERY step is exact IEEE
    arithmetic (multiplying by 0.5 is a pure exponent decrement), which
    lets both engines fold the same recursion bit-for-bit with no
    rounding in the loop: ``l' = ½y + ½(l+b)``, ``b' = ½(l'−l) + ½b``,
    initialized ``l₀=y₀, b₀=y₁−y₀``.  The 3-step-ahead forecast is
    ``l + 3b``.  The series folds as a JVM array expression
    (`F.aggregate` over the hour-sorted values); the oracle replays the
    identical recursion with DuckDB's ``list_reduce``.

    Scale shape: the raw events collapse in one hash aggregate; each
    series then folds row-locally (state = 2 doubles) — per-key
    smoothing with no iteration framework, the same shape as
    ``window_ewma`` generalized to two coupled states."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double"), 6
        ).alias("v")
    )
    series = hourly.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("hour", "v"))),
            lambda s: s["v"],
        ).alias("ys")
    )
    acc0 = F.struct(
        F.lit(0.0).alias("l"),
        F.lit(0.0).alias("b"),
        F.lit(0).cast("int").alias("i"),
        F.lit(0.0).alias("y0"),
    )

    def step(acc, y):
        i = acc["i"]
        lp = 0.5 * y + 0.5 * (acc["l"] + acc["b"])
        return (
            F.when(
                i == 0,
                F.struct(
                    acc["l"].alias("l"),
                    acc["b"].alias("b"),
                    (i + 1).alias("i"),
                    y.alias("y0"),
                ),
            )
            .when(
                i == 1,
                F.struct(
                    acc["y0"].alias("l"),
                    (y - acc["y0"]).alias("b"),
                    (i + 1).alias("i"),
                    acc["y0"].alias("y0"),
                ),
            )
            .otherwise(
                F.struct(
                    lp.alias("l"),
                    (0.5 * (lp - acc["l"]) + 0.5 * acc["b"]).alias("b"),
                    (i + 1).alias("i"),
                    acc["y0"].alias("y0"),
                )
            )
        )

    folded = series.select(
        "event_type",
        F.size("ys").alias("n_hours"),
        F.aggregate("ys", acc0, step).alias("__st"),
    )
    # the i==1 branch consumed y1 for initialization, so the recursion
    # proper starts at the third element — matching the classic Holt
    # convention where (l, b) are defined after two observations
    # a 1-observation series has no defined (level, trend): drop it,
    # exactly as the oracle's base case (which requires i=2) does
    return folded.filter(F.col("n_hours") >= 2).select(
        "event_type",
        F.col("n_hours").cast("bigint").alias("n_hours"),
        F.round(F.col("__st.l"), 9).alias("level"),
        F.round(F.col("__st.b"), 9).alias("trend"),
        F.round(F.col("__st.l") + 3 * F.col("__st.b"), 9)
        .alias("forecast_3"),
    )


ORACLES["ts_holt_linear"] = """
WITH RECURSIVE hourly AS (
  SELECT event_type, DATE_TRUNC('hour', ts) AS hour,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 6) AS v
  FROM events GROUP BY event_type, DATE_TRUNC('hour', ts)
),
idx AS (
  SELECT event_type, v,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hour) AS i,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM hourly
),
-- the Holt recursion as a recursive CTE (NOT list_reduce: DuckDB 1.0
-- evaluates lambda struct fields in place, so a later field reads the
-- current step's already-updated values — a plain recursive SELECT is
-- pure)
walk(event_type, i, n, l, b) AS (
  SELECT a.event_type, CAST(2 AS BIGINT), a.n, a.v, bb.v - a.v
  FROM idx a JOIN idx bb
    ON bb.event_type = a.event_type AND bb.i = 2
  WHERE a.i = 1
  UNION ALL
  SELECT w.event_type, w.i + 1, w.n,
         0.5e0 * s.v + 0.5e0 * (w.l + w.b),
         0.5e0 * ((0.5e0 * s.v + 0.5e0 * (w.l + w.b)) - w.l)
           + 0.5e0 * w.b
  FROM walk w JOIN idx s
    ON s.event_type = w.event_type AND s.i = w.i + 1
  WHERE w.i < w.n
)
SELECT event_type, CAST(n AS BIGINT) AS n_hours,
       ROUND(l, 9) AS level,
       ROUND(b, 9) AS trend,
       ROUND(l + 3 * b, 9) AS forecast_3
FROM walk WHERE i = n
"""


def q_agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each event type's hour-of-day distribution —
    the diversity/uniformity signal data-curation passes use (a spiky
    distribution flags bots or batch imports).  Probabilities are exact
    integer ratios; each ``p·ln p`` term rounds to 9 decimals and sums
    on the decimal path (the ``text_bigram_lm`` libm discipline), so
    the aggregate entropy is bit-stable across engines.  Two hash
    aggregates, the second over ≤ |types|×24 rows."""
    e = t(spark, sf_dir, "events")
    freq = e.groupBy("event_type", F.hour("ts").alias("hour")).agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = Window.partitionBy("event_type")
    p = F.col("c") / F.sum("c").over(tot)
    term = F.round(p * F.log(p), 9).cast("decimal(18,9)")
    per = freq.select(
        "event_type",
        F.col("c"),
        term.alias("__t"),
    )
    return per.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        (-F.sum("__t").cast("double")).alias("entropy"),
    )


ORACLES["agg_entropy"] = """
WITH freq AS (
  SELECT event_type, EXTRACT(HOUR FROM ts) AS hour, COUNT(*) AS c
  FROM events GROUP BY event_type, EXTRACT(HOUR FROM ts)
),
p AS (
  SELECT event_type, c,
         CAST(ROUND((c / SUM(c) OVER (PARTITION BY event_type))
               * LN(c / SUM(c) OVER (PARTITION BY event_type)), 9)
              AS DECIMAL(18,9)) AS t
  FROM freq
)
SELECT event_type,
       CAST(SUM(c) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       -CAST(SUM(t) AS DOUBLE) AS entropy
FROM p GROUP BY event_type
"""


def q_pipeline_behavior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed behavioral pipeline: gap sessionization (30 min) →
    per-session facts (event count, purchase flag, exact integer
    duration) → session-depth × conversion profile, ONE declarative
    plan — the sessionize/funnel operators composed the way a product
    analytics job actually runs them (the depth-vs-conversion curve).

    Scale shape: everything keys on ``user_id`` — the sessionize
    window and the session aggregate reuse one user-hashed exchange
    lineage; the final rollup is ≤ 10 rows.  Durations are
    epoch-second differences (exact integers)."""
    from table_streaming_source_spark.operators.windows import sessionize

    e = t(spark, sf_dir, "events")
    s = sessionize(
        e.select("user_id", "ts", "event_id", "event_type"),
        ts_col="ts",
        key="user_id",
        gap="30 minutes",
    )
    sess = s.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max((F.col("event_type") == "purchase").cast("int"))
        .alias("has_purchase"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).alias("dur_s"),
    )
    depth = F.least(F.col("n_events"), F.lit(5)).cast("int")
    return (
        sess.groupBy(
            depth.alias("session_depth"),
            F.col("has_purchase").cast("int").alias("has_purchase"),
        )
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("dur_s").cast("bigint").alias("total_dur_s"),
        )
    )


ORACLES["pipeline_behavior"] = """
WITH marked AS (
  SELECT user_id, ts, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessioned AS (
  SELECT user_id, ts, event_type,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_seq
  FROM marked
),
sess AS (
  SELECT user_id, session_seq, COUNT(*) AS n_events,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS has_purchase,
         DATE_DIFF('second', MIN(ts), MAX(ts)) AS dur_s
  FROM sessioned GROUP BY user_id, session_seq
)
SELECT CAST(LEAST(n_events, 5) AS INT) AS session_depth,
       CAST(has_purchase AS INT) AS has_purchase,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(SUM(dur_s) AS BIGINT) AS total_dur_s
FROM sess
GROUP BY LEAST(n_events, 5), has_purchase
"""


def q_window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median (5-row trailing frame per user) — the robust
    smoother percentile_approx can't give exactly.  The frame's values
    ride a ``collect_list`` window, are sorted row-locally, and the
    median is ``(x[⌈n/2⌉] + x[⌊n/2⌋+1]) / 2`` — for odd n the two
    indices coincide and ``(a+a)/2`` is IEEE-exact, so both engines
    agree bit-for-bit.  The oracle restates the same sorted-frame
    arithmetic (no engine MEDIAN — interpolation formulas differ across
    engines, ours is pinned).

    Scale shape: one window shuffle on ``user_id``; the frame array is
    O(k)=5 per row regardless of history length — rolling-percentile
    state that never grows with the partition."""
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    frame = F.sort_array(F.collect_list("value").over(w))
    n = F.size(frame)
    # explicit FLOOR on both sides: a bare double→int cast truncates in
    # Spark but rounds half-to-even in DuckDB
    lo = F.element_at(frame, F.floor((n + 1) / 2).cast("int"))
    hi = F.element_at(frame, F.floor(n / 2).cast("int") + 1)
    return e.select(
        "event_id",
        "user_id",
        "value",
        ((lo + hi) / 2).alias("rolling_median"),
    )


ORACLES["window_rolling_median"] = """
WITH f AS (
  SELECT event_id, user_id, value,
         LIST_SORT(LIST(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS frame
  FROM events
)
SELECT event_id, user_id, value,
       (frame[CAST(FLOOR((LEN(frame) + 1) / 2) AS INT)]
        + frame[CAST(FLOOR(LEN(frame) / 2) AS INT) + 1]) / 2
         AS rolling_median
FROM f
"""


def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: each event type's most frequent
    hour-of-day, ties broken toward the smaller hour — native ``mode()``
    is non-deterministic under ties, so the argmax rides a struct-max
    ``(count, -hour)`` and stays partitioning-independent.

    Scale shape: two hash aggregates, the second over at most
    |types|×24 rows — the frequency table IS the shuffle, payloads never
    move."""
    e = t(spark, sf_dir, "events")
    freq = e.groupBy("event_type", F.hour("ts").alias("hour")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    best = freq.groupBy("event_type").agg(
        F.max(F.struct(F.col("cnt"), (-F.col("hour")).alias("nh")))
        .alias("__b")
    )
    return best.select(
        "event_type",
        (-F.col("__b.nh")).cast("int").alias("modal_hour"),
        F.col("__b.cnt").cast("bigint").alias("n_at_mode"),
    )


ORACLES["agg_mode"] = """
WITH freq AS (
  SELECT event_type, EXTRACT(HOUR FROM ts) AS hour, COUNT(*) AS cnt
  FROM events GROUP BY event_type, EXTRACT(HOUR FROM ts)
),
rk AS (
  SELECT event_type, hour, cnt,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY cnt DESC, hour ASC) AS r
  FROM freq
)
SELECT event_type, CAST(hour AS INT) AS modal_hour,
       CAST(cnt AS BIGINT) AS n_at_mode
FROM rk WHERE r = 1
"""


QUERIES = {
    "snapshot_scan": q_snapshot_scan,
    "source_csv": q_source_csv,
    "source_json": q_source_json,
    "source_orc": q_source_orc,
    "source_parquet_evolved": q_source_parquet_evolved,
    "source_avro": q_source_avro,
    "scan_partition_pruned": q_scan_partition_pruned,
    "sink_partition_overwrite": q_sink_partition_overwrite,
    "sink_compaction": q_sink_compaction,
    "ts_gapfill": q_ts_gapfill,
    "window_ewma": q_window_ewma,
    "window_attribution": q_window_attribution,
    "anomaly_mad": q_anomaly_mad,
    "markov_transitions": q_markov_transitions,
    "agg_approx_quantile_bound": q_agg_approx_quantile_bound,
    "cohort_retention": q_cohort_retention,
    "join_bloom_prefilter": q_join_bloom_prefilter,
    "snapshot_diff": q_snapshot_diff,
    "filter_project": q_filter_project,
    "pricing_summary": q_pricing_summary,
    "agg_rollup": q_agg_rollup,
    "agg_cube": q_agg_cube,
    "agg_grouping_sets": q_agg_grouping_sets,
    "agg_distinct": q_agg_distinct,
    "agg_stats": q_agg_stats,
    "agg_pivot": q_agg_pivot,
    "agg_approx_distinct": q_agg_approx_distinct,
    "join_inner": q_join_inner,
    "join_outer": q_join_outer,
    "join_semi": q_join_semi,
    "join_anti": q_join_anti,
    "join_theta_range": q_join_theta_range,
    "join_scd2": q_join_scd2,
    "join_asof": q_join_asof,
    "join_null_safe": q_join_null_safe,
    "subquery_correlated": q_subquery_correlated,
    "shipping_priority": q_shipping_priority,
    "large_volume_orders": q_large_volume_orders,
    "priority_wait": q_priority_wait,
    "nation_volume": q_nation_volume,
    "agg_percentiles": q_agg_percentiles,
    "agg_histogram": q_agg_histogram,
    "returned_items": q_returned_items,
    "promo_revenue": q_promo_revenue,
    "discounted_brand_revenue": q_discounted_brand_revenue,
    "waiting_suppliers": q_waiting_suppliers,
    "idle_customers": q_idle_customers,
    "agg_salted": q_agg_salted,
    "min_cost_supplier": q_min_cost_supplier,
    "top_supplier": q_top_supplier,
    "product_profit": q_product_profit,
    "important_stock": q_important_stock,
    "shipmode_priority": q_shipmode_priority,
    "supplier_cnt": q_supplier_cnt,
    "small_qty_revenue": q_small_qty_revenue,
    "excess_suppliers": q_excess_suppliers,
    "funnel_steps": q_funnel_steps,
    "snapshot_roundtrip": q_snapshot_roundtrip,
    "join_asof_nearest": q_join_asof_nearest,
    "changelog_compact": q_changelog_compact,
    "merge_upsert": q_merge_upsert,
    "merge_upsert_sequenced": q_merge_upsert_sequenced,
    "ts_resample_ohlc": q_ts_resample_ohlc,
    "zorder_key": q_zorder_key,
    "ts_interpolate": q_ts_interpolate,
    "window_pattern_negation": q_window_pattern_negation,
    "window_streaks": q_window_streaks,
    "agg_correlation": q_agg_correlation,
    "agg_linear_fit": q_agg_linear_fit,
    "agg_mode": q_agg_mode,
    "agg_higher_moments": q_agg_higher_moments,
    "agg_entropy": q_agg_entropy,
    "agg_gini": q_agg_gini,
    "pipeline_behavior": q_pipeline_behavior,
    "agg_weighted_median": q_agg_weighted_median,
    "ts_rollup_reagg": q_ts_rollup_reagg,
    "ts_autocorr": q_ts_autocorr,
    "ts_holt_linear": q_ts_holt_linear,
    "ts_rolling_corr": q_ts_rolling_corr,
    "ts_seasonal_profile": q_ts_seasonal_profile,
    "window_rolling_median": q_window_rolling_median,
    "window_zscore": q_window_zscore,
    "market_share": q_market_share,
    "sql_cte_window": q_sql_cte_window,
    "sql_lateral": q_sql_lateral,
    "sql_recursive_cte": q_sql_recursive_cte,
    "dq_expectations": q_dq_expectations,
    "scalar_variant": q_scalar_variant,
    "scalar_try": q_scalar_try,
    "customer_distribution": q_customer_distribution,
    "scalar_conditional": q_scalar_conditional,
    "join_salted": q_join_salted,
    "join_skew_aqe": q_join_skew_aqe,
    "join_interval_binned": q_join_interval_binned,
    "join_bucketed": q_join_bucketed,
    "agg_cms_heavy_hitters": q_agg_cms_heavy_hitters,
    "forecast_revenue": q_forecast_revenue,
    "flagship_enrichment": q_flagship_enrichment,
    "local_supplier_volume": q_local_supplier_volume,
    "window_topk_per_group": q_window_topk_per_group,
    "window_running": q_window_running,
    "window_range_frame": q_window_range_frame,
    "window_first_last": q_window_first_last,
    "window_distribution": q_window_distribution,
    "agg_filtered": q_agg_filtered,
    "agg_unpivot": q_agg_unpivot,
    "window_lag_lead": q_window_lag_lead,
    "window_ranks": q_window_ranks,
    "order_limit_topk": q_order_limit_topk,
    "set_ops": q_set_ops,
    "scalar_string": q_scalar_string,
    "scalar_date": q_scalar_date,
    "scalar_math": q_scalar_math,
    "scalar_bitwise": q_scalar_bitwise,
    "scalar_json": q_scalar_json,
    "scalar_array": q_scalar_array,
    "scalar_map": q_scalar_map,
    "udf_vectorized": q_udf_vectorized,
    "udaf_grouped": q_udaf_grouped,
    "udf_grouped_map": q_udf_grouped_map,
    "udf_grouped_arrow": q_udf_grouped_arrow,
    "udtf_tokenize": q_udtf_tokenize,
    "window_tumbling": q_window_tumbling,
    "window_sliding": q_window_sliding,
    "window_session": q_window_session,
    "window_sessionize": q_window_sessionize,
    "stream_dedup_batch": q_stream_dedup_batch,
}


# ---------------------------------------------------------------------------
# round-5 additions: CUSUM changepoint monitor, blocked fuzzy record linkage
# ---------------------------------------------------------------------------

def q_anomaly_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detection per user (Page 1954): flag the
    points where the cumulative positive deviation of ``value`` from the
    user's own mean exceeds $200 — the sequential changepoint monitor
    that catches slow drifts a per-point z-score misses.

    The recursion ``S_i = max(0, S_{i-1} + (x_i − μ))`` is not a window
    function, but its closed form IS: ``S_i = cum_i − min(0,
    min_{j≤i} cum_j)`` over the running sum — two stacked windows on
    the SAME (user, ts) ordering, one sort, one exchange.  Exactness:
    cents are exact integers and the drift series is scaled by the
    user's event count n (``d_i = n·cents_i − Σcents``) so every
    window sum, prefix min, and the threshold compare (``S > 200·100·n``)
    is associative BIGINT arithmetic — bit-stable under any
    partitioning; the emitted dollar CUSUM is one final division.

    Scale shape: hash-partition by user, per-user sort (the same sort
    every sessionization pays), zero joins, zero broadcasts.
    """
    e = t(spark, sf_dir, "events")
    cents = (
        F.col("value").cast("decimal(18,2)") * 100
    ).cast("long")
    per_user = Window.partitionBy("user_id")
    base = e.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        cents.alias("__c"),
    ).select(
        "user_id",
        "event_id",
        "ts",
        "value",
        (
            F.count(F.lit(1)).over(per_user) * F.col("__c")
            - F.sum("__c").over(per_user)
        ).alias("__d"),
        F.count(F.lit(1)).over(per_user).alias("__n"),
    )
    ordered = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = base.withColumn(
        "__cum",
        F.sum("__d").over(
            ordered.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    s = cum.withColumn(
        "__s",
        F.col("__cum")
        - F.least(
            F.lit(0).cast("long"),
            F.min("__cum").over(
                ordered.rowsBetween(Window.unboundedPreceding, 0)
            ),
        ),
    )
    # report in dollars at 4 decimals with HALF-UP rounding done in
    # exact integer arithmetic: ROUND(s/(n·100), k) on the double
    # quotient lands on representable half-boundaries where Spark
    # rounds half-up and DuckDB half-even (11 last-digit diffs at
    # sf0.1) — (2·s·100 + n) DIV (2·n) is the same half-up value with
    # no float until one final exact-range division
    e4 = F.expr("(2 * __s * 100 + __n) DIV (2 * __n)")
    return s.filter(F.col("__s") > 200 * 100 * F.col("__n")).select(
        "user_id",
        "event_id",
        "value",
        (e4 / F.lit(10000.0)).alias("cusum"),
    )


ORACLES["anomaly_cusum"] = """
WITH base AS (
  SELECT user_id, event_id, ts, value,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
  FROM events
),
scaled AS (
  SELECT user_id, event_id, ts, value,
         COUNT(*) OVER (PARTITION BY user_id) * c
           - SUM(c) OVER (PARTITION BY user_id) AS d,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM base
),
cum AS (
  SELECT user_id, event_id, ts, value, n,
         SUM(d) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM scaled
),
s AS (
  SELECT user_id, event_id, value, n,
         cum - LEAST(0, MIN(cum) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
  FROM cum
)
SELECT user_id, event_id, value,
       CAST((2 * s * 100 + n) // (2 * n) AS DOUBLE) / 10000.0 AS cusum
FROM s WHERE s > 200 * 100 * n
"""


def q_join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage — the canonical near-duplicate
    entity-matching join: block part names on (first word, brand) so
    only plausible pairs ever meet, then score survivors with a
    row-local Levenshtein distance and keep pairs within edit distance
    3.  Prefix blocking is the standard record-linkage move: the
    quadratic pair space collapses to per-block quadratics (blocks are
    ~1/|first words × brands| of the table), and the expensive string
    distance runs only AFTER the equi-join — never as a join predicate,
    which would plan as a cartesian product.

    At 100 TB the block key is the shuffle key (both sides hash-
    partition on it, one exchange each); a skewed block (one dominant
    first word) gets the same salting/AQE treatment as any skewed
    equi-join.  Spark and DuckDB ``levenshtein`` share the unit-cost
    edit-distance definition, so the distances agree exactly.
    """
    p = t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_brand",
        F.split(F.col("p_name"), " ")[0].alias("__w1"),
    )
    a = p.select(
        F.col("p_partkey").alias("a_partkey"),
        F.col("p_name").alias("a_name"),
        F.col("p_brand").alias("__brand"),
        F.col("__w1"),
    )
    b = p.select(
        F.col("p_partkey").alias("b_partkey"),
        F.col("p_name").alias("b_name"),
        F.col("p_brand").alias("__brand"),
        F.col("__w1"),
    )
    # thresholded edit distance (round 15, guide §1.2 step 2 — per-task
    # work): levenshtein(a, b, 3) runs the banded O(len·3) DP with a
    # length-difference early exit and returns -1 past the band, so
    # every non-matching pair (the vast majority) stops after a few
    # cells instead of filling the full O(len²) matrix.  For kept pairs
    # (distance ≤ 3) the returned value IS the exact distance — the
    # output is bit-identical to the unthresholded form the oracle
    # restates.
    lev = F.levenshtein(F.col("a_name"), F.col("b_name"), 3)
    return (
        a.join(b, ["__w1", "__brand"])
        .filter(F.col("a_partkey") < F.col("b_partkey"))
        .select(
            "a_partkey",
            "b_partkey",
            "a_name",
            "b_name",
            lev.alias("lev"),
        )
        .filter((F.col("lev") >= 0) & (F.col("lev") <= 3))
    )


ORACLES["join_fuzzy_levenshtein"] = """
WITH p AS (
  SELECT p_partkey, p_name, p_brand,
         STRING_SPLIT(p_name, ' ')[1] AS w1
  FROM part
)
SELECT a.p_partkey AS a_partkey, b.p_partkey AS b_partkey,
       a.p_name AS a_name, b.p_name AS b_name,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS lev
FROM p a JOIN p b ON a.w1 = b.w1 AND a.p_brand = b.p_brand
     AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 3
"""


def q_source_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source scan — Spark 4 ships the (formerly spark-xml) reader
    natively; ``rowTag`` selects the repeating element and the declared
    schema skips the double-read of inference, the same discipline as
    the CSV/JSON entries.  XML is the classic enterprise landing format
    (feeds, SOAP exports); downstream plan identical to the other
    source entries, shared oracle."""
    path = _source_fixture(spark, sf_dir, "xml")
    df = (
        spark.read.schema(
            "event_id long, user_id long, event_type string, value double"
        )
        .option("rowTag", "event")
        .format("xml")
        .load(path)
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", 6).alias("sum_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


ORACLES["source_xml"] = ORACLES["source_csv"]


QUERIES.update(
    {
        "anomaly_cusum": q_anomaly_cusum,
        "join_fuzzy_levenshtein": q_join_fuzzy_levenshtein,
        "source_xml": q_source_xml,
    }
)


def q_scalar_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collation-aware grouping: half the event types are
    deterministically upper-cased, then grouped under the UTF8_LCASE
    collation — case variants collapse into one group WITHOUT a
    lowercase projection, the engine-native answer to case-insensitive
    analytics (ORDER BY/JOIN under a collation plan the same way).  The
    oracle restates the semantics with LOWER() grouping; the output key
    is lowercased on both sides so the group representative is
    deterministic."""
    e = t(spark, sf_dir, "events")
    mixed = F.when(
        F.col("event_id") % 2 == 0, F.upper("event_type")
    ).otherwise(F.col("event_type"))
    ci = F.collate(mixed, "UTF8_LCASE")
    return (
        e.select(ci.alias("__ci"), "user_id", "value")
        .groupBy("__ci")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("user_id").alias("n_users"),
            dsum("value", 6).alias("sum_value"),
        )
        .select(
            F.lower(F.col("__ci").cast("string")).alias("event_type_ci"),
            "n",
            "n_users",
            "sum_value",
        )
    )


ORACLES["scalar_collation"] = f"""
WITH m AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN UPPER(event_type)
              ELSE event_type END AS mx,
         user_id, value
  FROM events
)
SELECT LOWER(mx) AS event_type_ci,
       COUNT(*) AS n,
       COUNT(DISTINCT user_id) AS n_users,
       {sql_dsum('value', 6)} AS sum_value
FROM m GROUP BY LOWER(mx)
"""


QUERIES.update({"scalar_collation": q_scalar_collation})


def q_ts_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visualization-oriented downsampling (Jugel et al., VLDB 2014):
    per (series, time-bucket) emit min, max, first, and last — the four
    points that make a width-bounded line chart pixel-exact, and the
    standard big-series downsampling operator (LTTB's sequential
    selection can't parallelize within a series; M4 is one hash
    aggregate, embarrassingly parallel, which is why the lake tooling
    standardized on it).

    Exactness: first/last are associative struct-min/max over
    ``(ts, event_id, value)`` (total order, no min_by tie ambiguity);
    min/max of the 2-decimal values are exact.  One map-combinable
    aggregate — at 100 TB the combine happens scan-side and only
    |series|×|buckets| rows shuffle."""
    e = t(spark, sf_dir, "events")
    bucket = F.floor(F.unix_timestamp("ts") / F.lit(6 * 3600)).cast("long")
    first_s = F.min(F.struct("ts", "event_id", "value"))
    last_s = F.max(F.struct("ts", "event_id", "value"))
    return (
        e.select("event_type", bucket.alias("bucket"), "ts", "event_id",
                 "value")
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
            first_s.getField("value").alias("first_v"),
            last_s.getField("value").alias("last_v"),
        )
    )


ORACLES["ts_downsample_m4"] = """
WITH b AS (
  SELECT event_type,
         CAST(FLOOR(EPOCH(ts) / 21600) AS BIGINT) AS bucket,
         ts, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type,
                            CAST(FLOOR(EPOCH(ts) / 21600) AS BIGINT)
                            ORDER BY ts, event_id) AS rf,
         ROW_NUMBER() OVER (PARTITION BY event_type,
                            CAST(FLOOR(EPOCH(ts) / 21600) AS BIGINT)
                            ORDER BY ts DESC, event_id DESC) AS rl
  FROM events
)
SELECT event_type, bucket,
       COUNT(*) AS n,
       MIN(value) AS min_v,
       MAX(value) AS max_v,
       MAX(CASE WHEN rf = 1 THEN value END) AS first_v,
       MAX(CASE WHEN rl = 1 THEN value END) AS last_v
FROM b GROUP BY event_type, bucket
"""


def q_join_nearest_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor spatial join: every customer (formula-derived
    milli-degree coordinates) is assigned its closest station (nation
    table, same derivation) by exact integer squared distance, ties to
    the lowest station key — the geo-enrichment join of every
    location-bearing pipeline.

    The station side is bounded BY DESIGN (|nations| = 25 at every SF —
    a real deployment's station/store/cell list is similarly fixed), so
    the plan is a broadcast nested-loop cross with a row-local distance
    and one associative struct-min per customer: customers never
    shuffle.  An unbounded right side would switch to grid-cell
    blocking (the fuzzy-linkage pattern with a ±1-ring cell key) — same
    argmin, different block key.  All distance math is exact BIGINT:
    milli-degree deltas squared and summed, no trig in the hot path."""
    c = t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 37) % 180000 - 90000).alias("c_lat"),
        ((F.col("c_custkey") * 73) % 360000 - 180000).alias("c_lon"),
    )
    s = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("station_id"),
        ((F.col("n_nationkey") * 7919) % 180000 - 90000).alias("s_lat"),
        ((F.col("n_nationkey") * 104729) % 360000 - 180000).alias("s_lon"),
    )
    d2 = (
        (F.col("c_lat") - F.col("s_lat")) * (F.col("c_lat") - F.col("s_lat"))
        + (F.col("c_lon") - F.col("s_lon"))
        * (F.col("c_lon") - F.col("s_lon"))
    ).cast("long")
    best = F.min(F.struct(d2.alias("d2"), F.col("station_id").alias("sid")))
    return (
        c.crossJoin(F.broadcast(s))
        .groupBy("c_custkey", "c_lat", "c_lon")
        .agg(
            best.getField("sid").alias("station_id"),
            best.getField("d2").alias("dist2"),
        )
    )


ORACLES["join_nearest_spatial"] = """
WITH c AS (
  SELECT c_custkey,
         (c_custkey * 37) % 180000 - 90000 AS c_lat,
         (c_custkey * 73) % 360000 - 180000 AS c_lon
  FROM customer
),
s AS (
  SELECT n_nationkey AS station_id,
         (n_nationkey * 7919) % 180000 - 90000 AS s_lat,
         (n_nationkey * 104729) % 360000 - 180000 AS s_lon
  FROM nation
),
scored AS (
  SELECT c.c_custkey, c.c_lat, c.c_lon, s.station_id,
         CAST((c.c_lat - s.s_lat) * (c.c_lat - s.s_lat)
              + (c.c_lon - s.s_lon) * (c.c_lon - s.s_lon) AS BIGINT)
           AS d2,
         ROW_NUMBER() OVER (PARTITION BY c.c_custkey
                            ORDER BY (c.c_lat - s.s_lat) * (c.c_lat - s.s_lat)
                                   + (c.c_lon - s.s_lon) * (c.c_lon - s.s_lon),
                                     s.station_id) AS rn
  FROM c CROSS JOIN s
)
SELECT c_custkey, c_lat, c_lon, station_id, d2 AS dist2
FROM scored WHERE rn = 1
"""


QUERIES.update(
    {
        "ts_downsample_m4": q_ts_downsample_m4,
        "join_nearest_spatial": q_join_nearest_spatial,
    }
)


def q_sink_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered (range-partitioned + sorted-within-file) parquet write —
    the data-skipping layout every large fact table should land in:
    ``repartitionByRange(l_shipdate)`` gives globally disjoint file
    ranges, ``sortWithinPartitions`` makes every row group's min/max
    stats tight, so a later date-predicate scan prunes whole files AND
    row groups from the parquet footers alone.

    The value contract is read-back fidelity: the monthly rollup of the
    rewritten table must equal the source bit-for-bit (the layout moves
    rows, never changes them) — stated directly by the oracle.  The
    LAYOUT contract (file ranges actually disjoint, footer stats tight)
    is pinned by ``tests/test_sinks.py`` reading the parquet footers.
    At 100 TB the same two lines are the nightly re-cluster job; table
    formats call it OPTIMIZE ... ZORDER/SORT BY."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        # DATE, not the fixture's timestamp: Spark's default parquet
        # timestamp encoding is INT96, which carries NO min/max footer
        # stats — a clustered layout that can't prune is pointless.
        # DATE encodes as stats-bearing INT32 (same for TIMESTAMP with
        # outputTimestampType=TIMESTAMP_MICROS on a real deployment).
        F.to_date("l_shipdate").alias("l_shipdate"),
        "l_quantity",
        "l_extendedprice",
    )
    path = _scratch.scratch_dir("sink_clustered", sf_dir, fresh=True)
    (
        li.repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate", "l_orderkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    result = (
        back.groupBy(F.date_trunc("month", "l_shipdate").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_price"),
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["sink_clustered"] = """
SELECT DATE_TRUNC('month', l_shipdate) AS month,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM lineitem GROUP BY DATE_TRUNC('month', l_shipdate)
"""


QUERIES.update({"sink_clustered": q_sink_clustered})


def q_sink_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the versioned upsert sink: two CDC batches build
    state versions v1 and v2 under the pointer protocol
    (``sinks.py::upsert_sink``), then BOTH versions are read back —
    v2 via the live pointer, v1 by version path — and rolled up side by
    side.  This is the table-format time-travel contract reduced to its
    parquet essence: every committed version is a complete, immutable
    snapshot, so 'AS OF' is just reading an older directory; the oracle
    restates each version's expected state from the CDC formulas.

    Batches (formula-deterministic over orders keys < 2000):
    v1 ← inserts of every key ≡ 0 (mod 4);
    v2 ← updates doubling the price of key ≡ 0 (mod 8), deletes of
    key ≡ 4 (mod 8) with key ≡ 0 (mod 3)."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark.sinks import upsert_sink

    base = _scratch.scratch_dir("sink_time_travel", sf_dir, fresh=True)
    state = f"{base}/state"
    import os as _os

    _os.makedirs(state, exist_ok=True)
    on_batch, current = upsert_sink(spark, state, key="o_orderkey")

    orders = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )
    b0 = orders.filter(F.col("o_orderkey") % 4 == 0).select(
        "o_orderkey",
        F.lit("I").alias("op"),
        "o_orderpriority",
        "o_totalprice",
    )
    b1_updates = orders.filter(F.col("o_orderkey") % 8 == 0).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        "o_orderpriority",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
    )
    b1_deletes = orders.filter(
        (F.col("o_orderkey") % 8 == 4) & (F.col("o_orderkey") % 3 == 0)
    ).select(
        "o_orderkey",
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("o_orderpriority"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    on_batch(b0, 0)
    on_batch(b1_updates.unionByName(b1_deletes), 1)

    def rollup(df: DataFrame, version: str) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        ).select(F.lit(version).alias("version"), "*")

    v1 = spark.read.parquet(f"{state}/v1")  # time travel: by version path
    v2 = current()  # live pointer
    result = (
        rollup(v1, "v1").unionByName(rollup(v2, "v2"))
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(base, ignore_errors=True)
    return result


ORACLES["sink_time_travel"] = """
WITH base AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice
  FROM orders WHERE o_orderkey < 2000 AND o_orderkey % 4 = 0
),
v1 AS (SELECT * FROM base),
v2 AS (
  SELECT o_orderkey, o_orderpriority,
         CASE WHEN o_orderkey % 8 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END AS o_totalprice
  FROM base
  WHERE NOT (o_orderkey % 8 = 4 AND o_orderkey % 3 = 0)
)
SELECT 'v1' AS version, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM v1 GROUP BY o_orderpriority
UNION ALL
SELECT 'v2' AS version, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(CASE WHEN o_orderkey % 8 = 0
                          THEN o_totalprice * 2
                          ELSE o_totalprice END AS DECIMAL(18,2)))
            AS DOUBLE) AS sum_price
FROM base
WHERE NOT (o_orderkey % 8 = 4 AND o_orderkey % 3 = 0)
GROUP BY o_orderpriority
"""


QUERIES.update({"sink_time_travel": q_sink_time_travel})


#: Benford first-digit expectations log10(1 + 1/d), d = 1..9 — computed
#: ONCE in Python and embedded as identical literals in both engines
#: (libm log10 may differ in the last ulp across implementations; a
#: shared literal table cannot — the NDCG discount-table discipline)
_BENFORD_P: tuple[float, ...] = tuple(
    round(__import__("math").log10(1.0 + 1.0 / d), 12)
    for d in range(1, 10)
)


def q_agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over order totals — the classic
    fraud/data-quality screen: observed leading-digit counts against
    the Benford expectation ``log10(1 + 1/d)``, with per-digit
    chi-square contributions.  Digit extraction is exact string-of-
    decimal arithmetic (no float formatting ambiguity), expectations
    come from a shared literal table, and every derived ratio rounds
    to 6 decimals — one hash aggregate on a 9-value key, trivially
    map-combinable at any scale."""
    o = t(spark, sf_dir, "orders")
    digit = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
    ).cast("int")
    counts = (
        o.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    total = o.agg(F.count(F.lit(1)).cast("bigint").alias("__t"))
    p = F.element_at(
        F.array(*[F.lit(v) for v in _BENFORD_P]), F.col("digit")
    )
    expected = F.col("__t") * p
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.round(expected, 6).alias("expected_n"),
            F.round(
                (F.col("n") - expected) * (F.col("n") - expected)
                / expected,
                6,
            ).alias("chi2_term"),
        )
    )


_BENFORD_SQL = "[" + ", ".join(repr(v) for v in _BENFORD_P) + "]"

ORACLES["agg_benford"] = f"""
WITH c AS (
  SELECT CAST(SUBSTR(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
              1, 1) AS INT) AS digit,
         COUNT(*) AS n
  FROM orders GROUP BY 1
),
t AS (SELECT COUNT(*) AS t FROM orders)
SELECT digit, n,
       ROUND(t.t * ({_BENFORD_SQL})[digit], 6) AS expected_n,
       ROUND((n - t.t * ({_BENFORD_SQL})[digit])
             * (n - t.t * ({_BENFORD_SQL})[digit])
             / (t.t * ({_BENFORD_SQL})[digit]), 6) AS chi2_term
FROM c, t
"""


QUERIES.update({"agg_benford": q_agg_benford})


def q_format_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-structured table format, snapshot read (``table_format.py``):
    three commits append disjoint order slices (each with a
    commit-specific reprice), and the read resolves the COMMIT LOG —
    never a directory listing — so the snapshot is exactly the union of
    committed files; the oracle states that union from the slice
    formulas.  Uncommitted-file invisibility, commit conflicts, and
    time travel are pinned by ``tests/test_table_format.py``."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    path = _scratch.scratch_dir("format_snapshot", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    for i in range(3):
        TF.commit_append(
            spark,
            path,
            o.filter(F.col("o_orderkey") % 3 == i).withColumn(
                "o_totalprice", F.col("o_totalprice") + 10.0 * i
            ),
            stat_cols=["o_orderkey"],
        )
    result = (
        TF.read_table(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["format_snapshot_read"] = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice + 10.0 * (o_orderkey % 3)
                     AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders GROUP BY o_orderpriority
"""


def q_format_stats_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest file-skipping (``table_format.py``): four commits land
    disjoint ``bucket = o_orderkey % 16`` ranges (commit i owns buckets
    [4i, 4i+4)), each commit's manifest carrying per-file min/max read
    back from the parquet footers; the range read ``bucket ∈ [5, 9]``
    prunes every file whose manifest range is disjoint BEFORE any file
    I/O, then applies the exact predicate on the survivors — the
    standard superset-prune-then-filter contract.  That fewer than half
    the files are read is asserted from the manifest in
    ``tests/test_table_format.py``; the oracle states the filtered
    rollup directly."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    path = _scratch.scratch_dir("format_pruning", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 16).cast("int").alias("bucket"),
        "o_totalprice",
    )
    for i in range(4):
        TF.commit_append(
            spark,
            path,
            o.filter(
                (F.col("bucket") >= 4 * i) & (F.col("bucket") < 4 * i + 4)
            ),
            stat_cols=["bucket"],
        )
    result = (
        TF.read_table(spark, path, prune=("bucket", 5, 9))
        .filter((F.col("bucket") >= 5) & (F.col("bucket") <= 9))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["format_stats_pruning"] = """
SELECT CAST(o_orderkey % 16 AS INT) AS bucket, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM orders
WHERE o_orderkey % 16 BETWEEN 5 AND 9
GROUP BY o_orderkey % 16
"""


QUERIES.update(
    {
        "format_snapshot_read": q_format_snapshot_read,
        "format_stats_pruning": q_format_stats_pruning,
    }
)


def q_format_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Additive schema evolution through the commit log
    (``table_format.py``): commit 1 lands orders WITHOUT the priority
    column, commit 2 adds it — the snapshot read unions both schemas
    and NULL-backfills the pre-evolution files (the format-level twin
    of ``source_parquet_evolved``, which proves the same contract at
    the bare-reader level).  The rollup buckets pre-evolution rows
    under a sentinel label; the oracle states the split from the slice
    formulas."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    path = _scratch.scratch_dir("format_evolve", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders")
    TF.commit_append(
        spark,
        path,
        o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ),
        stat_cols=["o_orderkey"],
    )
    TF.commit_append(
        spark,
        path,
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        ),
        stat_cols=["o_orderkey"],
    )
    result = (
        TF.read_table(spark, path)
        .groupBy(
            F.coalesce(
                F.col("o_orderpriority"), F.lit("<pre-evolution>")
            ).alias("priority")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["format_schema_evolution"] = """
SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-evolution>'
            ELSE o_orderpriority END AS priority,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM orders GROUP BY 1
"""


QUERIES.update({"format_schema_evolution": q_format_schema_evolution})


def q_format_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE through the commit log
    (``table_format.py::commit_merge``): the table lands key-clustered
    (range-partitioned files ⇒ disjoint per-file key ranges in the
    manifest), so a CDC batch touching only keys ≤ 600 rewrites the ONE
    file that can contain them — every other file is carried into the
    new commit untouched.  That minimality is asserted from the commit
    return in ``tests/test_table_format.py``; here the value contract
    is checked: the post-merge snapshot equals the batch MERGE the
    oracle states (updates +5 on key % 4 = 0, deletes on key % 10 = 0,
    inserts of re-keyed copies on key % 7 = 0, all within key ≤ 600)."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    path = _scratch.scratch_dir("format_merge", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    TF.commit_append(
        spark,
        path,
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        ),
        stat_cols=["o_orderkey"],
    )
    k = F.col("o_orderkey")
    low = o.filter(k <= 600)
    changes = (
        low.filter((k % 4 == 0) & (k % 10 != 0)).select(
            "o_orderkey", F.lit("U").alias("op"),
            "o_orderpriority",
            (F.col("o_totalprice") + 5.0).alias("o_totalprice"),
        )
        .unionByName(
            low.filter(k % 10 == 0).select(
                "o_orderkey", F.lit("D").alias("op"),
                F.lit(None).cast("string").alias("o_orderpriority"),
                F.lit(None).cast("double").alias("o_totalprice"),
            )
        )
        .unionByName(
            low.filter(k % 7 == 0).select(
                (-k).alias("o_orderkey"), F.lit("I").alias("op"),
                "o_orderpriority", "o_totalprice",
            )
        )
    )
    TF.commit_merge(
        spark, path, changes, key="o_orderkey",
        stat_cols=["o_orderkey"],
    )
    result = (
        TF.read_table(spark, path)
        .groupBy((F.abs(k) % 3).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["format_merge_upsert"] = """
WITH merged AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey <= 600 AND o_orderkey % 4 = 0
                   AND o_orderkey % 10 <> 0
              THEN o_totalprice + 5.0 ELSE o_totalprice END AS p
  FROM orders
  WHERE NOT (o_orderkey <= 600 AND o_orderkey % 10 = 0)
  UNION ALL
  SELECT -o_orderkey, o_totalprice FROM orders
  WHERE o_orderkey <= 600 AND o_orderkey % 7 = 0
)
SELECT CAST(ABS(o_orderkey) % 3 AS INT) AS bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM merged GROUP BY 1
"""


QUERIES.update({"format_merge_upsert": q_format_merge_upsert})


def q_scan_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is event_type-partitioned
    parquet, the dim side is a tiny attribute table whose FILTER decides
    which event types survive — at plan time the surviving set is
    unknown, so Catalyst injects the dim's build-side keys as a runtime
    ``dynamicpruning`` partition filter on the fact scan and whole
    partition directories are skipped at execution.  The static twin
    (``scan_partition_pruned``) proves literal pruning; this entry
    proves the runtime form every star-join at 100 TB depends on — the
    plan gate in ``tests/test_plans.py`` asserts the dynamicpruning
    expression reaches the scan."""
    path = _source_fixture(spark, sf_dir, "partitioned")
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [
            ("view", "browse", 1),
            ("click", "intent", 2),
            ("signup", "intent", 3),
            ("purchase", "intent", 4),
            ("error", "ops", 5),
        ],
        "event_type string, stage string, rank int",
    )
    return (
        fact.join(
            F.broadcast(dim.filter(F.col("stage") == "intent")),
            "event_type",
        )
        .groupBy("event_type", "stage")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", 6).alias("sum_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


ORACLES["scan_dpp_join"] = """
WITH dim AS (
  SELECT * FROM (VALUES ('view','browse'), ('click','intent'),
                        ('signup','intent'), ('purchase','intent'),
                        ('error','ops')) AS v(event_type, stage)
)
SELECT e.event_type, d.stage, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events e JOIN dim d USING (event_type)
WHERE d.stage = 'intent'
GROUP BY e.event_type, d.stage
"""


QUERIES.update({"scan_dpp_join": q_scan_dpp_join})



def q_format_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering × manifest file-skipping: orders land in the
    table format range-partitioned on the MORTON interleave of two
    independent dimensions (``o_orderkey % 64``, ``o_custkey % 64``),
    so every file's manifest range is tight in BOTH dimensions at once
    — a range read on EITHER dimension prunes files, which is the whole
    point of z-order over single-key clustering (that prunes only its
    own key).  Both-dimension effectiveness is asserted from the
    manifest in ``tests/test_table_format.py``; the value contract here
    is the d2-range read equalling the oracle's filtered rollup."""
    import shutil as _shutil

    from table_streaming_source_spark.operators.hof import morton_key
    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    path = _scratch.scratch_dir("format_zorder", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 64).cast("int").alias("d1"),
        (F.col("o_custkey") % 64).cast("int").alias("d2"),
        "o_totalprice",
    ).withColumn("zkey", morton_key(F.col("d1"), F.col("d2"), bits=6))
    TF.commit_append(
        spark,
        path,
        o.repartitionByRange(16, "zkey").sortWithinPartitions("zkey"),
        stat_cols=["d1", "d2"],
    )
    result = (
        TF.read_table(spark, path, prune=("d2", 8, 15))
        .filter((F.col("d2") >= 8) & (F.col("d2") <= 15))
        .groupBy("d2")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["format_zorder_pruning"] = """
SELECT CAST(o_custkey % 64 AS INT) AS d2, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM orders
WHERE o_custkey % 64 BETWEEN 8 AND 15
GROUP BY o_custkey % 64
"""


QUERIES.update({"format_zorder_pruning": q_format_zorder_pruning})


def q_agg_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic per event type —
    the distribution-shift monitor an ML feature pipeline runs between
    serving windows: split each type's values into two deterministic
    halves (even/odd event id), and D = max |ECDF₁ − ECDF₂| over the
    pooled support.  Exactness: ECDF differences are evaluated as the
    INTEGER cross-product |r₁·n₂ − r₂·n₁| (no division until the final
    report), counts aggregate per distinct value first (ties handled by
    construction), and the running sums ride one ordered window per
    type — so the statistic is bit-stable under any partitioning.
    Scale: |distinct values| rows per type in the window, one shuffle."""
    e = t(spark, sf_dir, "events")
    labeled = e.select(
        "event_type",
        "value",
        F.when(F.col("event_id") % 2 == 0, 1).otherwise(0).alias("__a"),
    )
    per_value = labeled.groupBy("event_type", "value").agg(
        F.sum("__a").cast("long").alias("c1"),
        F.sum(1 - F.col("__a")).cast("long").alias("c2"),
    )
    totals = Window.partitionBy("event_type")
    ordered = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scored = per_value.select(
        "event_type",
        F.sum("c1").over(totals).alias("n1"),
        F.sum("c2").over(totals).alias("n2"),
        F.sum("c1").over(ordered).alias("r1"),
        F.sum("c2").over(ordered).alias("r2"),
    ).select(
        "event_type",
        "n1",
        "n2",
        F.abs(
            F.col("r1") * F.col("n2") - F.col("r2") * F.col("n1")
        ).alias("__d_scaled"),
    )
    return scored.groupBy("event_type").agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max("__d_scaled").alias("d_scaled"),
        F.round(
            F.max("__d_scaled") / (F.max("n1") * F.max("n2")), 9
        ).alias("ks_d"),
    )


ORACLES["agg_ks_drift"] = """
WITH labeled AS (
  SELECT event_type, value,
         CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS a
  FROM events
),
per_value AS (
  SELECT event_type, value,
         CAST(SUM(a) AS BIGINT) AS c1,
         CAST(SUM(1 - a) AS BIGINT) AS c2
  FROM labeled GROUP BY event_type, value
),
scored AS (
  SELECT event_type,
         SUM(c1) OVER (PARTITION BY event_type) AS n1,
         SUM(c2) OVER (PARTITION BY event_type) AS n2,
         SUM(c1) OVER (PARTITION BY event_type ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS r1,
         SUM(c2) OVER (PARTITION BY event_type ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS r2
  FROM per_value
)
SELECT event_type,
       CAST(MAX(n1) AS BIGINT) AS n1,
       CAST(MAX(n2) AS BIGINT) AS n2,
       CAST(MAX(ABS(r1 * n2 - r2 * n1)) AS BIGINT) AS d_scaled,
       ROUND(CAST(MAX(ABS(r1 * n2 - r2 * n1)) AS DOUBLE)
             / (MAX(n1) * MAX(n2)), 9) AS ks_d
FROM scored GROUP BY event_type
"""


QUERIES.update({"agg_ks_drift": q_agg_ks_drift})


def q_agg_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index per event type — the banking/ML
    industry's binned drift companion to the KS statistic: 10 fixed
    value bins (``min(floor(value/50), 9)``), per-half bin shares, and
    PSI contribution ``(p₁ − p₂)·ln(p₁/p₂)`` per bin.  Rational shares
    come from exact integer counts; the single ``ln`` rounds to 9
    decimals before the product (the BM25-idf discipline) so both
    engines agree bit-for-bit; Laplace-smoothed counts (+1) keep empty
    bins finite, stated identically in the oracle.  One hash aggregate
    on (type, bin) + one tiny per-type rollup."""
    e = t(spark, sf_dir, "events")
    bin_col = F.least(
        F.floor(F.col("value") / 50).cast("int"), F.lit(9)
    )
    labeled = e.select(
        "event_type",
        bin_col.alias("bin"),
        F.when(F.col("event_id") % 2 == 0, 1).otherwise(0).alias("__a"),
    )
    per_bin = labeled.groupBy("event_type", "bin").agg(
        (F.sum("__a") + 1).cast("long").alias("c1"),
        (F.sum(1 - F.col("__a")) + 1).cast("long").alias("c2"),
    )
    totals = Window.partitionBy("event_type")
    shares = per_bin.select(
        "event_type",
        "bin",
        (F.col("c1") / F.sum("c1").over(totals)).alias("p1"),
        (F.col("c2") / F.sum("c2").over(totals)).alias("p2"),
    )
    contrib = (F.col("p1") - F.col("p2")) * F.round(
        F.log(F.col("p1") / F.col("p2")), 9
    )
    return shares.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("int").alias("n_bins"),
        F.round(F.sum(contrib), 9).alias("psi"),
    )


ORACLES["agg_psi"] = """
WITH labeled AS (
  SELECT event_type,
         LEAST(CAST(FLOOR(value / 50) AS INT), 9) AS bin,
         CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS a
  FROM events
),
per_bin AS (
  SELECT event_type, bin,
         CAST(SUM(a) + 1 AS BIGINT) AS c1,
         CAST(SUM(1 - a) + 1 AS BIGINT) AS c2
  FROM labeled GROUP BY event_type, bin
),
shares AS (
  SELECT event_type, bin,
         CAST(c1 AS DOUBLE) / SUM(c1) OVER (PARTITION BY event_type)
           AS p1,
         CAST(c2 AS DOUBLE) / SUM(c2) OVER (PARTITION BY event_type)
           AS p2
  FROM per_bin
)
SELECT event_type,
       CAST(COUNT(*) AS INT) AS n_bins,
       ROUND(SUM((p1 - p2) * ROUND(LN(p1 / p2), 9)), 9) AS psi
FROM shares GROUP BY event_type
"""


QUERIES.update({"agg_psi": q_agg_psi})


# ---------------------------------------------------------------------------
# round 6: modern aggregate / window / scalar surface
# ---------------------------------------------------------------------------

def q_agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): per customer,
    the comma-joined numerically-ordered order-key list plus the sorted
    distinct status set — the denormalized-list shape feature stores and
    export feeds need.  ``collect_list``/``collect_set`` are bounded BY
    THE GROUP (orders per customer, ~10 at every SF; the group key is
    the shuffle key), never by the table — the safe direction at 100 TB.
    Numeric sort happens on the long array BEFORE stringification, so
    both engines agree on '9' < '10'."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("o_orderkey")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("order_keys"),
            F.array_join(
                F.array_sort(F.collect_set("o_orderstatus")), "|"
            ).alias("status_set"),
        )
    )


ORACLES["agg_string_agg"] = """
SELECT o_custkey,
       COUNT(*) AS n_orders,
       STRING_AGG(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey)
         AS order_keys,
       STRING_AGG(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus)
         AS status_set
FROM orders GROUP BY o_custkey
"""


QUERIES.update({"agg_string_agg": q_agg_string_agg})


def q_agg_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test over the (priority x status)
    contingency table — the categorical-association screen (drift
    between a label and a segment).  One hash aggregate builds the
    cells; the margins come from windows over the CELL table, whose
    cardinality is |priority| x |status| (15 rows), not the fact table —
    map-side combine does the heavy lifting, the windows touch a
    constant-size frame at any SF.  Expected counts and chi2 terms are
    integer-ratio arithmetic rounded at 6."""
    o = t(spark, sf_dir, "orders")
    cells = (
        o.groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w_row = Window.partitionBy("o_orderpriority")
    w_col = Window.partitionBy("o_orderstatus")
    w_all = Window.partitionBy()
    expected = (
        F.sum("n").over(w_row)
        * F.sum("n").over(w_col)
        / F.sum("n").over(w_all)
    )
    return cells.select(
        "o_orderpriority",
        "o_orderstatus",
        "n",
        F.round(expected, 6).alias("expected_n"),
        F.round((F.col("n") - expected) * (F.col("n") - expected) / expected, 6).alias(
            "chi2_term"
        ),
    )


ORACLES["agg_chi_square"] = """
WITH cells AS (
  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
  FROM orders GROUP BY 1, 2
),
m AS (
  SELECT o_orderpriority, o_orderstatus, n,
         SUM(n) OVER (PARTITION BY o_orderpriority)
           * SUM(n) OVER (PARTITION BY o_orderstatus)
           / SUM(n) OVER () AS e
  FROM cells
)
SELECT o_orderpriority, o_orderstatus, n,
       ROUND(e, 6) AS expected_n,
       ROUND((n - e) * (n - e) / e, 6) AS chi2_term
FROM m
"""


QUERIES.update({"agg_chi_square": q_agg_chi_square})


def q_agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between returned ('R') and
    delivered ('N') line prices — the two-sample comparison an
    experimentation or drift pipeline runs (the KS/PSI entries' moment
    sibling).  Sums and sums-of-squares go through DECIMAL (exact,
    associative — the repo's money-sum rule), so the ONE output row is
    bit-stable; t and the Welch-Satterthwaite df are then plain IEEE
    arithmetic on those exact moments.  Single pass, conditional
    aggregates, fully map-combinable."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "N")
    )
    p = F.col("l_extendedprice").cast("decimal(18,2)")
    is_r = F.col("l_returnflag") == "R"
    agg = li.agg(
        F.sum(F.when(is_r, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(~is_r, 1).otherwise(0)).cast("bigint").alias("n2"),
        F.sum(F.when(is_r, p)).cast("decimal(38,4)").alias("s1"),
        F.sum(F.when(~is_r, p)).cast("decimal(38,4)").alias("s2"),
        F.sum(F.when(is_r, p * p)).cast("decimal(38,4)").alias("q1"),
        F.sum(F.when(~is_r, p * p)).cast("decimal(38,4)").alias("q2"),
    )
    m1 = F.col("s1").cast("double") / F.col("n1")
    m2 = F.col("s2").cast("double") / F.col("n2")
    v1 = (F.col("q1").cast("double") - F.col("s1").cast("double") * m1) / (
        F.col("n1") - 1
    )
    v2 = (F.col("q2").cast("double") - F.col("s2").cast("double") * m2) / (
        F.col("n2") - 1
    )
    se1 = v1 / F.col("n1")
    se2 = v2 / F.col("n2")
    tstat = (m1 - m2) / F.sqrt(se1 + se2)
    df = (se1 + se2) * (se1 + se2) / (
        se1 * se1 / (F.col("n1") - 1) + se2 * se2 / (F.col("n2") - 1)
    )
    return agg.select(
        "n1",
        "n2",
        F.round(m1, 6).alias("mean_r"),
        F.round(m2, 6).alias("mean_n"),
        F.round(tstat, 6).alias("t_stat"),
        F.round(df, 3).alias("welch_df"),
    )


ORACLES["agg_welch_ttest"] = """
WITH a AS (
  SELECT
    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS n1,
    SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS n2,
    CAST(SUM(CASE WHEN l_returnflag = 'R'
             THEN CAST(l_extendedprice AS DECIMAL(18,2)) END)
         AS DECIMAL(38,4)) AS s1,
    CAST(SUM(CASE WHEN l_returnflag = 'N'
             THEN CAST(l_extendedprice AS DECIMAL(18,2)) END)
         AS DECIMAL(38,4)) AS s2,
    CAST(SUM(CASE WHEN l_returnflag = 'R'
             THEN CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2)) END)
         AS DECIMAL(38,4)) AS q1,
    CAST(SUM(CASE WHEN l_returnflag = 'N'
             THEN CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2)) END)
         AS DECIMAL(38,4)) AS q2
  FROM lineitem WHERE l_returnflag IN ('R', 'N')
),
b AS (
  SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
         CAST(s1 AS DOUBLE) / n1 AS m1,
         CAST(s2 AS DOUBLE) / n2 AS m2,
         (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / n1))
           / (n1 - 1) AS v1,
         (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * (CAST(s2 AS DOUBLE) / n2))
           / (n2 - 1) AS v2
  FROM a
)
SELECT n1, n2,
       ROUND(m1, 6) AS mean_r,
       ROUND(m2, 6) AS mean_n,
       ROUND((m1 - m2) / SQRT(v1 / n1 + v2 / n2), 6) AS t_stat,
       ROUND((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
             / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                + (v2 / n2) * (v2 / n2) / (n2 - 1)), 3) AS welch_df
FROM b
"""


QUERIES.update({"agg_welch_ttest": q_agg_welch_ttest})


def q_window_distinct_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over a window — a surface Spark's window
    functions refuse outright (`DISTINCT is not supported in window`):
    expressed as ``size(collect_set() OVER rows-frame)``, which keeps
    the exact same semantics.  The window partition is the ORDER (≤7
    lines), so state per frame is bounded by the group, not the table —
    the same discipline as `agg_string_agg`; a run over an unbounded
    partition would be the `text_vocab_coverage` antipattern this repo
    gates against."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 5 == 0)
    # the synthetic lineitem duplicates linenumbers within an order, so
    # the frame order tie-breaks on the counted column itself: rows equal
    # on (linenumber, suppkey) are interchangeable for this output
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_suppkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.size(F.collect_set("l_suppkey").over(w))
        .cast("int")
        .alias("distinct_supps"),
    )


ORACLES["window_distinct_running"] = """
SELECT l_orderkey, l_linenumber,
       CAST(COUNT(DISTINCT l_suppkey) OVER (
         PARTITION BY l_orderkey ORDER BY l_linenumber, l_suppkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
         AS distinct_supps
FROM lineitem WHERE l_orderkey % 5 = 0
"""


QUERIES.update({"window_distinct_running": q_window_distinct_running})


def q_scalar_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv4 scalar pack: format a uint32 address as dotted-quad, parse
    dotted-quad back to the integer, classify RFC-1918 private ranges
    (CIDR containment as integer range tests), and roll up per /16
    network.  The address derives deterministically from ``user_id``
    (Knuth multiplicative hash mod 2^32), so both engines see identical
    inputs; all operations are integer div/mod — no engine-specific
    inet types.  Group count is bounded by distinct users."""
    ev = t(spark, sf_dir, "events")
    ip = (F.col("user_id") * F.lit(2654435761)) % F.lit(4294967296)
    o1 = (ip / 16777216).cast("bigint")
    o2 = (ip / 65536).cast("bigint") % 256
    o3 = (ip / 256).cast("bigint") % 256
    o4 = ip % 256
    dotted = F.format_string("%d.%d.%d.%d", o1, o2, o3, o4)
    with_ip = ev.select("event_id", dotted.alias("ip"))
    # parse back (proves the inverse path on the string column)
    parts = F.split(F.col("ip"), "\\.")
    parsed = (
        F.element_at(parts, 1).cast("bigint") * 16777216
        + F.element_at(parts, 2).cast("bigint") * 65536
        + F.element_at(parts, 3).cast("bigint") * 256
        + F.element_at(parts, 4).cast("bigint")
    )
    oct1 = (F.col("ip_num") / 16777216).cast("bigint")
    oct2 = (F.col("ip_num") / 65536).cast("bigint") % 256
    is_private = (
        (oct1 == 10)
        | ((oct1 == 172) & (oct2 >= 16) & (oct2 <= 31))
        | ((oct1 == 192) & (oct2 == 168))
    )
    return (
        with_ip.withColumn("ip_num", parsed)
        .select(
            F.format_string("%d.%d.0.0/16", oct1, oct2).alias("net16"),
            F.col("ip_num"),
            is_private.cast("int").alias("priv"),
        )
        .groupBy("net16")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("priv").cast("bigint").alias("n_private"),
            F.min("ip_num").alias("min_ip"),
            F.max("ip_num").alias("max_ip"),
        )
    )


ORACLES["scalar_ip"] = """
WITH ips AS (
  SELECT event_id,
         (user_id * 2654435761) % 4294967296 AS ip_num
  FROM events
),
cls AS (
  SELECT ip_num,
         ip_num // 16777216 AS o1,
         (ip_num // 65536) % 256 AS o2
  FROM ips
)
SELECT CAST(o1 AS VARCHAR) || '.' || CAST(o2 AS VARCHAR) || '.0.0/16'
         AS net16,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN o1 = 10
                      OR (o1 = 172 AND o2 BETWEEN 16 AND 31)
                      OR (o1 = 192 AND o2 = 168)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_private,
       MIN(ip_num) AS min_ip,
       MAX(ip_num) AS max_ip
FROM cls GROUP BY 1
"""


QUERIES.update({"scalar_ip": q_scalar_ip})


def q_format_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (CDC-append) table-format read
    (``table_format.py::read_incremental``): three commits land the
    ``o_orderkey % 3`` slices; the consumer that already processed
    version 1 reads the range (1, 3] and receives ONLY commits 2 and 3 —
    resolved from the manifests alone, so file I/O is proportional to
    the change, not the table (the incremental-consumption contract a
    100 TB table demands; Iceberg's incremental append scan).  Rows
    carry the commit version that introduced them; the rollup per
    (version, priority) pins both attribution and content.  Empty-range
    and carryover semantics are pinned by ``tests/test_table_format.py``."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    path = _scratch.scratch_dir("format_incremental", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    for i in range(3):
        TF.commit_append(
            spark,
            path,
            o.filter(F.col("o_orderkey") % 3 == i),
            stat_cols=["o_orderkey"],
        )
    result = (
        TF.read_incremental(spark, path, from_version=1, to_version=3)
        .groupBy("commit_version", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["format_incremental_read"] = """
SELECT CAST(o_orderkey % 3 + 1 AS INT) AS commit_version,
       o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM orders
WHERE o_orderkey % 3 IN (1, 2)
GROUP BY 1, 2
"""


QUERIES.update({"format_incremental_read": q_format_incremental_read})


def q_format_cluster_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering/partition-spec evolution through the commit log: era-1
    files land range-clustered by ``o_orderkey`` (manifest stats on the
    key only), era-2 files land range-clustered by ``bucket`` after the
    layout evolved.  A ``bucket ∈ [3, 5]`` read prunes era-2 files from
    their manifest ranges but must KEEP every era-1 file (no bucket
    stats → pruning cannot prove absence — the safe direction), then the
    exact predicate applies to the survivors: old layout correct but
    unprunable, new layout pruned, ONE logical table — how real formats
    evolve partitioning without rewriting history.  File-level
    minimality is asserted in ``tests/test_table_format.py``; the oracle
    states the filtered rollup."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    path = _scratch.scratch_dir("format_cluster_evo", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 16).cast("int").alias("bucket"),
        "o_totalprice",
    )
    TF.commit_append(
        spark,
        path,
        o.filter(F.col("o_orderkey") % 2 == 0).repartitionByRange(
            4, "o_orderkey"
        ),
        stat_cols=["o_orderkey"],
    )
    TF.commit_append(
        spark,
        path,
        o.filter(F.col("o_orderkey") % 2 == 1).repartitionByRange(
            4, "bucket"
        ),
        stat_cols=["bucket"],
    )
    result = (
        TF.read_table(spark, path, prune=("bucket", 3, 5))
        .filter((F.col("bucket") >= 3) & (F.col("bucket") <= 5))
        .groupBy((F.col("o_orderkey") % 2).cast("int").alias("era"), F.col("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["format_cluster_evolution"] = """
SELECT CAST(o_orderkey % 2 AS INT) AS era,
       CAST(o_orderkey % 16 AS INT) AS bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM orders
WHERE o_orderkey % 16 BETWEEN 3 AND 5
GROUP BY 1, 2
"""


QUERIES.update({"format_cluster_evolution": q_format_cluster_evolution})


def q_scan_metadata_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregation — COUNT(*)/MIN/MAX answered from
    parquet FOOTER statistics with zero data pages read
    (``spark.sql.parquet.aggregatePushdown`` on the DSv2 scan; the
    BatchScan's output schema becomes the aggregate list itself, gated
    in ``tests/test_plans.py``).  At 100 TB this is the difference
    between a catalog lookup and a full-table scan for the row-count /
    freshness probes every orchestrator runs.  Confs are scoped and
    restored around an eager checkpoint (the `sql_recursive_cte`
    discipline); timestamps stay off the aggregate list — parquet
    footer min/max doesn't push for them (verified), doubles and longs
    do."""
    pushdown_key = "spark.sql.parquet.aggregatePushdown"
    v1_key = "spark.sql.sources.useV1SourceList"
    old_push = spark.conf.get(pushdown_key, None)
    old_v1 = spark.conf.get(v1_key, None)
    spark.conf.set(pushdown_key, "true")
    spark.conf.set(v1_key, "")
    try:
        return (
            spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .agg(
                F.count("*").alias("n_rows"),
                F.min("l_orderkey").alias("min_key"),
                F.max("l_orderkey").alias("max_key"),
                F.min("l_extendedprice").alias("min_price"),
                F.max("l_extendedprice").alias("max_price"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        for key, old in ((pushdown_key, old_push), (v1_key, old_v1)):
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)


ORACLES["scan_metadata_only"] = """
SELECT COUNT(*) AS n_rows,
       MIN(l_orderkey) AS min_key,
       MAX(l_orderkey) AS max_key,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price
FROM lineitem
"""


QUERIES.update({"scan_metadata_only": q_scan_metadata_only})


_GROUPBY_ALL_SQL = """
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM {orders}
GROUP BY ALL
"""


def q_sql_groupby_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` through the SQL front door (Spark ≥ 4 / modern
    ANSI dialects): the grouping key set is inferred from the
    non-aggregate select list — the SAME query text runs on both engines
    (the `sql_recursive_cte` parity discipline).  Physically identical
    to the explicit two-key hash aggregate; purely a front-door surface
    a migrating user expects to keep."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("__gba_orders")
    return spark.sql(_GROUPBY_ALL_SQL.format(orders="__gba_orders"))


ORACLES["sql_groupby_all"] = _GROUPBY_ALL_SQL.format(orders="orders")


QUERIES.update({"sql_groupby_all": q_sql_groupby_all})


def q_scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden ``_metadata`` file-source column (Spark's row→file lineage:
    ``_metadata.file_path`` / ``file_name`` on every file scan) — the
    audit/debugging primitive that answers "which FILE did this row come
    from" at 100 TB without any layout convention.  The entry writes a
    bucket-partitioned layout (one file per partition directory by
    construction: ``repartition(bucket)`` before ``partitionBy``),
    re-derives the partition value FROM the file path, and proves
    row-to-file attribution: per-bucket counts match the data and every
    bucket maps to exactly one file.  The metadata struct is generated
    by the scan — zero extra I/O."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch

    path = _scratch.scratch_dir("scan_file_meta", sf_dir, fresh=True)
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 8).cast("int").alias("bucket"),
        "o_totalprice",
    )
    o.repartition("bucket").write.partitionBy("bucket").mode(
        "overwrite"
    ).parquet(path)
    result = (
        spark.read.parquet(path)
        .groupBy(
            F.regexp_extract(
                F.col("_metadata.file_path"), r"bucket=(\d+)", 1
            )
            .cast("int")
            .alias("bucket_from_path")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
            F.countDistinct(F.col("_metadata.file_name"))
            .cast("bigint")
            .alias("n_files"),
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["scan_file_metadata"] = """
SELECT CAST(o_orderkey % 8 AS INT) AS bucket_from_path,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price,
       CAST(1 AS BIGINT) AS n_files
FROM orders
GROUP BY 1
"""


QUERIES.update({"scan_file_metadata": q_scan_file_metadata})


def q_join_interval_overlap_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap AGGREGATION (total co-occurrence duration per
    left interval) — the interval-algebra step beyond containment/as-of:
    7-day order windows (even keys) against 5-day windows (odd keys),
    total overlapping days per left order.  The pair generation is
    BINNED exactly like `join_interval_binned` (intervals explode into
    their ≤2 covering week bins; the join is an EQUI join on the bin +
    row-local overlap predicate — never a cartesian), bin-duplicate
    pairs collapse via DISTINCT before the rollup.  Overlap length is
    pure integer date arithmetic."""
    o = t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    epoch_day = F.datediff(d, F.lit("1970-01-01"))
    a = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("ka"),
        d.alias("sa"),
        F.date_add(d, 7).alias("ea"),
        epoch_day.alias("__eda"),
    )
    b = o.filter(F.col("o_orderkey") % 2 == 1).select(
        F.col("o_orderkey").alias("kb"),
        d.alias("sb"),
        F.date_add(d, 5).alias("eb"),
        epoch_day.alias("__edb"),
    )
    # a-interval [ed, ed+7) covers week bins floor(ed/7)..floor((ed+6)/7)
    ab = a.select(
        "ka", "sa", "ea",
        F.explode(
            F.sequence(
                F.floor(F.col("__eda") / 7),
                F.floor((F.col("__eda") + 6) / 7),
            )
        ).alias("bin"),
    )
    bb = b.select(
        "kb", "sb", "eb",
        F.explode(
            F.sequence(
                F.floor(F.col("__edb") / 7),
                F.floor((F.col("__edb") + 4) / 7),
            )
        ).alias("bin"),
    )
    pairs = (
        ab.join(bb, "bin")
        .filter((F.col("sa") < F.col("eb")) & (F.col("sb") < F.col("ea")))
        .select(
            "ka",
            "kb",
            F.datediff(
                F.least("ea", "eb"), F.greatest("sa", "sb")
            ).alias("ov"),
        )
        .distinct()
    )
    return pairs.groupBy(F.col("ka").alias("o_orderkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_overlaps"),
        F.sum("ov").cast("bigint").alias("overlap_days"),
    )


ORACLES["join_interval_overlap_agg"] = """
WITH a AS (
  SELECT o_orderkey AS ka, CAST(o_orderdate AS DATE) AS sa,
         CAST(o_orderdate AS DATE) + 7 AS ea
  FROM orders WHERE o_orderkey % 2 = 0
),
b AS (
  SELECT o_orderkey AS kb, CAST(o_orderdate AS DATE) AS sb,
         CAST(o_orderdate AS DATE) + 5 AS eb
  FROM orders WHERE o_orderkey % 2 = 1
),
p AS (
  SELECT ka, kb,
         DATE_DIFF('day', GREATEST(sa, sb), LEAST(ea, eb)) AS ov
  FROM a JOIN b ON sa < eb AND sb < ea
)
SELECT ka AS o_orderkey, COUNT(*) AS n_overlaps,
       CAST(SUM(ov) AS BIGINT) AS overlap_days
FROM p GROUP BY ka
"""


QUERIES.update({"join_interval_overlap_agg": q_join_interval_overlap_agg})


def q_window_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per daily series (running peak minus current,
    maximized over time) — the risk/SLO window metric every monitoring
    and finance stack computes.  The daily rollup is decimal-exact, the
    running max and the drawdown SUBTRACTION stay in decimals
    (associative, partitioning-independent), and the worst day resolves
    by equality join on the exact decimal maximum with a min-day
    tie-break — no float comparison anywhere until the final display
    cast.  One bounded window per type (≤30 daily points)."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.sum(F.col("value").cast("decimal(28,6)")).alias("v"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = daily.withColumn("__dd", F.max("v").over(w) - F.col("v"))
    mx = dd.groupBy("event_type").agg(F.max("__dd").alias("__mdd"))
    return (
        dd.join(F.broadcast(mx), "event_type")
        .filter(F.col("__dd") == F.col("__mdd"))
        .groupBy("event_type")
        .agg(
            F.round(F.max("__mdd").cast("double"), 6).alias(
                "max_drawdown"
            ),
            F.min("d").alias("worst_day"),
        )
    )


ORACLES["window_drawdown"] = """
WITH daily AS (
  SELECT event_type, DATE_TRUNC('day', ts) AS d,
         SUM(CAST(value AS DECIMAL(28,6))) AS v
  FROM events GROUP BY 1, 2
),
dd AS (
  SELECT event_type, d,
         MAX(v) OVER (PARTITION BY event_type ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - v AS x
  FROM daily
),
mx AS (SELECT event_type, MAX(x) AS mdd FROM dd GROUP BY event_type)
SELECT dd.event_type,
       ROUND(CAST(MAX(mx.mdd) AS DOUBLE), 6) AS max_drawdown,
       MIN(dd.d) AS worst_day
FROM dd JOIN mx ON dd.event_type = mx.event_type AND dd.x = mx.mdd
GROUP BY dd.event_type
"""


QUERIES.update({"window_drawdown": q_window_drawdown})


def q_format_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-audit through the commit log: committed-file count and
    live rows from the MANIFEST vs orphan data files on disk (written
    but never committed — the residue of lost commit races and
    abandoned writers that `vacuum` sweeps).  The entry stages one
    orphan deliberately (a write whose commit never lands) and proves
    the read path never sees it while the audit counts it — the
    snapshot-isolation contract made queryable.  Everything but the
    directory listing is manifest arithmetic on the driver; the rows
    come from one committed-snapshot aggregate."""
    import os as _os
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    path = _scratch.scratch_dir("format_orphan", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    for i in range(2):
        TF.commit_append(
            spark,
            path,
            o.filter(F.col("o_orderkey") % 2 == i).coalesce(1),
            stat_cols=["o_orderkey"],
        )
    # an abandoned writer: data staged, commit never published
    o.limit(100).coalesce(1).write.mode("overwrite").parquet(
        _os.path.join(path, "data", "orphan-staging")
    )
    committed = {
        _os.path.abspath(p) for p in TF.snapshot_files(path)[0]
    }
    on_disk = []
    for root, _dirs, names in _os.walk(_os.path.join(path, "data")):
        on_disk.extend(
            _os.path.abspath(_os.path.join(root, n))
            for n in names
            if n.endswith(".parquet")
        )
    n_orphans = sum(1 for p in on_disk if p not in committed)
    live = TF.read_table(spark, path).agg(
        F.count(F.lit(1)).cast("bigint").alias("live_rows"),
        dsum("o_totalprice").alias("live_price"),
    )
    result = live.select(
        F.lit(len(committed)).cast("int").alias("n_committed_files"),
        F.lit(n_orphans).cast("int").alias("n_orphans"),
        "live_rows",
        "live_price",
    ).localCheckpoint(eager=True)
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["format_orphan_audit"] = """
SELECT CAST(2 AS INT) AS n_committed_files,
       CAST(1 AS INT) AS n_orphans,
       COUNT(*) AS live_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS live_price
FROM orders
"""


QUERIES.update({"format_orphan_audit": q_format_orphan_audit})


_GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_sql(lat_bits: str, lon_bits: str, chars: int = 6) -> str:
    """Portable SQL (Spark AND DuckDB) for a ``chars``-character geohash
    from 15-bit integer lat/lon cells: explicit bit interleave (lon bit
    i → output bit 2i+1, lat bit i → 2i — lon leads, per the public
    geohash spec) and base32 lookup.  All arithmetic is FLOOR/%/* on
    integers ≤ 2^30 — exact in both engines, no bit operators needed."""
    terms = []
    for i in range(15):
        terms.append(
            f"CAST(FLOOR(({lon_bits}) / {1 << i}) AS BIGINT) % 2"
            f" * {1 << (2 * i + 1)}"
        )
        terms.append(
            f"CAST(FLOOR(({lat_bits}) / {1 << i}) AS BIGINT) % 2"
            f" * {1 << (2 * i)}"
        )
    gh = "(" + " + ".join(terms) + ")"
    parts = []
    for j in range(chars):
        shift = 1 << (5 * (chars - 1) - 5 * j)
        parts.append(
            f"SUBSTR('{_GEOHASH_ALPHABET}',"
            f" CAST(CAST(FLOOR({gh} / {shift}) AS BIGINT) % 32 + 1"
            f" AS INT), 1)"
        )
    return "CONCAT(" + ", ".join(parts) + ")"


_GEO_LAT_K = "(event_id * 7919) % 180000"
_GEO_LON_K = "(event_id * 104729) % 360000"
_GEO_LAT = f"(-90.0 + ({_GEO_LAT_K}) / 1000.0)"
_GEO_LON = f"(-180.0 + ({_GEO_LON_K}) / 1000.0)"
_GEO_LAT_BITS = f"CAST(FLOOR((({_GEO_LAT_K}) * 32768) / 180000.0) AS BIGINT)"
_GEO_LON_BITS = f"CAST(FLOOR((({_GEO_LON_K}) * 32768) / 360000.0) AS BIGINT)"
#: great-circle distance to (0°, 0°), km — classic haversine; trig is
#: libm so the FINAL value rounds at 6 (ulp noise is ~1e-12 relative,
#: far below the rounding grid)
_GEO_DIST = (
    f"ROUND(2 * 6371.0088 * ASIN(SQRT("
    f"SIN(RADIANS({_GEO_LAT}) / 2) * SIN(RADIANS({_GEO_LAT}) / 2)"
    f" + COS(RADIANS({_GEO_LAT})) * COS(RADIANS(0.0))"
    f" * SIN(RADIANS({_GEO_LON}) / 2) * SIN(RADIANS({_GEO_LON}) / 2)"
    f")), 6)"
)


def q_scalar_geohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geospatial scalar pack: geohash encoding (explicit 15+15-bit
    interleave + base32 — the spatial bucketing key for proximity joins
    and map rollups) and haversine distance, over deterministic
    coordinates derived from the event id — the SAME portable SQL
    expression text runs on both engines (integer FLOOR/% bit math
    needs no engine bit operators).  Rollup per 4-char geohash cell
    (~39 km): the cell is the shuffle key, exactly how a spatial join
    would block."""
    ev = t(spark, sf_dir, "events")
    gh = _geohash_sql(_GEO_LAT_BITS, _GEO_LON_BITS, 6)
    return (
        ev.selectExpr(
            f"{gh} AS geohash6",
            f"{_GEO_DIST} AS dist_km",
        )
        .selectExpr(
            "SUBSTR(geohash6, 1, 4) AS cell",
            "geohash6",
            "dist_km",
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("geohash6").cast("bigint").alias("n_gh6"),
            F.min("dist_km").alias("min_dist_km"),
            F.max("dist_km").alias("max_dist_km"),
        )
    )


ORACLES["scalar_geohash"] = f"""
WITH g AS (
  SELECT {_geohash_sql(_GEO_LAT_BITS, _GEO_LON_BITS, 6)} AS geohash6,
         {_GEO_DIST} AS dist_km
  FROM events
)
SELECT SUBSTR(geohash6, 1, 4) AS cell,
       COUNT(*) AS n,
       COUNT(DISTINCT geohash6) AS n_gh6,
       MIN(dist_km) AS min_dist_km,
       MAX(dist_km) AS max_dist_km
FROM g GROUP BY 1
"""


QUERIES.update({"scalar_geohash": q_scalar_geohash})


def q_scan_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline observability (`df.observe` + `Observation`): audit
    metrics computed ON THE SAME PASS as the consuming action — zero
    extra scans, the way a production pipeline meters row counts and
    control totals without doubling its I/O (the batch twin of
    streaming query-progress metrics).  The observed aggregates ride
    the noop write; the returned row re-states them for the value
    check.  At 100 TB the alternative — a second count/sum scan — is
    exactly the cost this primitive exists to avoid."""
    from pyspark.sql import Observation

    obs = Observation("audit")
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.max("l_orderkey").alias("max_key"),
        )
    )
    df.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(int(m["n_rows"]), float(m["sum_qty"]), int(m["max_key"]))],
        "n_rows bigint, sum_qty double, max_key bigint",
    )


ORACLES["scan_observe_metrics"] = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       MAX(l_orderkey) AS max_key
FROM lineitem
"""


QUERIES.update({"scan_observe_metrics": q_scan_observe_metrics})


def q_source_python_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom BATCH format through the Spark 4 Python ``DataSource`` API
    (`sources/fixed_width.py` — the batch sibling of the fidelity
    mode's ``SimpleDataSourceStreamReader``): a fixed-width binary file
    (spec in the module) read with PLANNED SPLITS — ``partitions()``
    returns byte-range partitions, each executor seeks straight to its
    range, no driver I/O — which is the property that lets a custom
    format scale instead of funneling through one task.  Split fan-out
    is pinned in ``tests/test_fixed_width.py``; here the value
    contract: the rollup over the round-tripped file equals the source
    rows the oracle states.  The fixture itself is written through the
    DISTRIBUTED ``FixedWidthWriter`` task-commit path (4 task files) —
    no corpus-proportional driver collect anywhere in the entry."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark.sources import fixed_width as FW

    base = _scratch.scratch_dir("tsr_source", sf_dir, fresh=True)
    path = f"{base}/orders_tsr"
    FW.register(spark)
    (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("key"),
            (F.col("o_orderkey") % 10).alias("grp"),
            F.col("o_totalprice").alias("value"),
        )
        .repartition(4)
        .write.format("tsr")
        .mode("overwrite")
        .option("path", path)
        .save()
    )
    result = (
        spark.read.format("tsr")
        .option("path", path)
        .option("recordsPerSplit", 2048)
        .load()
        .groupBy(F.col("grp").cast("int").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("sum_value"),
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(base, ignore_errors=True)
    return result


ORACLES["source_python_batch"] = """
SELECT CAST(o_orderkey % 10 AS INT) AS grp,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_value
FROM orders
GROUP BY 1
"""


QUERIES.update({"source_python_batch": q_source_python_batch})


def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via two-level bitmap rollup — the
    technique warehouses use when COUNT(DISTINCT) must stay exact at
    scale: level 1 ORs each key's bit into its 64-key bucket's bitmap
    (map-side combinable — the raw keys never reach the final
    aggregation, only ``|keys|/63`` bitmap words do), level 2 sums the
    popcounts.  Buckets hold 63 keys, not 64: bit 63 is the BIGINT sign
    bit, where engine shift semantics diverge (DuckDB raises on the
    overflow Spark wraps silently).  Values are pinned against the plain COUNT(DISTINCT) the
    oracle ALSO computes — the technique must be value-identical to the
    naive form, not approximately so (contrast `agg_approx_distinct`)."""
    o = t(spark, sf_dir, "orders")
    b1 = o.groupBy(
        "o_orderpriority",
        (F.col("o_custkey") / 63).cast("bigint").alias("__bucket"),
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT),"
            " CAST(o_custkey % 63 AS INT)))"
        ).alias("__bm")
    )
    return b1.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(F.bit_count("__bm")).cast("bigint").alias("n_distinct"),
    )


ORACLES["agg_bitmap_distinct"] = """
WITH b1 AS (
  SELECT o_orderpriority, o_custkey // 63 AS bucket,
         BIT_OR(CAST(1 AS BIGINT) << CAST(o_custkey % 63 AS INT)) AS bm
  FROM orders GROUP BY 1, 2
),
via_bitmap AS (
  SELECT o_orderpriority,
         COUNT(*) AS n_buckets,
         CAST(SUM(BIT_COUNT(bm)) AS BIGINT) AS n_distinct
  FROM b1 GROUP BY o_orderpriority
),
plain AS (
  SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS nd
  FROM orders GROUP BY o_orderpriority
)
SELECT v.o_orderpriority, v.n_buckets, v.n_distinct
FROM via_bitmap v JOIN plain p
  ON v.o_orderpriority = p.o_orderpriority AND v.n_distinct = p.nd
"""


QUERIES.update({"agg_bitmap_distinct": q_agg_bitmap_distinct})


def q_format_constraint_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-time CHECK constraints
    (``table_format.py::commit_append_checked`` — the lakehouse
    ``ADD CONSTRAINT CHECK`` contract): a clean batch commits, a batch
    violating ``o_totalprice > 0`` is REJECTED before publication
    (atomically — the table still reads as if the bad batch never
    existed), and a second clean batch lands on the original head.  The
    check costs one aggregate over the BATCH (change-proportional, zero
    write I/O on rejection).  The rollup proves exactly the two clean
    slices are visible; rejection/atomicity corner cases are pinned in
    ``tests/test_table_format.py``."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    path = _scratch.scratch_dir("format_constraint", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    cons = [("positive_price", "o_totalprice > 0")]
    TF.commit_append_checked(
        spark, path, o.filter(F.col("o_orderkey") % 3 == 0),
        stat_cols=["o_orderkey"], constraints=cons,
    )
    try:
        TF.commit_append_checked(
            spark, path,
            o.filter(F.col("o_orderkey") % 3 == 1).withColumn(
                "o_totalprice",
                F.when(
                    F.col("o_orderkey") % 30 == 1, -F.col("o_totalprice")
                ).otherwise(F.col("o_totalprice")),
            ),
            stat_cols=["o_orderkey"], constraints=cons,
        )
        raise AssertionError("violating commit must be rejected")
    except TF.ConstraintViolation:
        pass
    TF.commit_append_checked(
        spark, path, o.filter(F.col("o_orderkey") % 3 == 2),
        stat_cols=["o_orderkey"], constraints=cons,
    )
    result = (
        TF.read_table(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["format_constraint_check"] = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM orders
WHERE o_orderkey % 3 IN (0, 2)
GROUP BY o_orderpriority
"""


QUERIES.update({"format_constraint_check": q_format_constraint_check})


def _kcore_sql(k: int, rounds: int) -> str:
    parts = ["""e0 AS (
  SELECT DISTINCT c.c_custkey AS u, -(l.l_suppkey + 1) AS v
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
)"""]
    for r in range(1, rounds + 1):
        parts.append(f"""d{r} AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM e{r - 1}
    UNION ALL SELECT v AS node FROM e{r - 1}
  ) GROUP BY node
)""")
        parts.append(
            f"k{r} AS (SELECT node FROM d{r} WHERE deg >= {k})"
        )
        parts.append(f"""e{r} AS (
  SELECT e.u, e.v FROM e{r - 1} e
  JOIN k{r} a ON a.node = e.u
  JOIN k{r} b ON b.node = e.v
)""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT node, COUNT(*) AS degree FROM (
  SELECT u AS node FROM e{rounds}
  UNION ALL SELECT v AS node FROM e{rounds}
) GROUP BY node
"""
    )


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling (`operators/graph.py::kcore_peel`, k=10,
    3 rounds) over the bipartite customer↔supplier purchase graph —
    the density-decomposition primitive alongside pagerank/BFS/
    triangles/components.  Each round drops degree-<10 vertices with
    their edges; the oracle unrolls the SAME 3 rounds as CTEs (the
    bounded-iteration discipline — aggregates can't live inside a
    recursive CTE, so the fixpoint form is not SQL-expressible
    anyway)."""
    from table_streaming_source_spark.operators.graph import kcore_peel

    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    edges = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("c_custkey").alias("u"),
            (-(F.col("l_suppkey") + 1)).alias("v"),
        )
        .distinct()
    )
    return kcore_peel(edges, k=10, rounds=3)


ORACLES["graph_kcore"] = _kcore_sql(10, 3)


QUERIES.update({"graph_kcore": q_graph_kcore})


def q_window_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-gap session windows (`F.session_window` with a per-event
    gap expression — Spark 3.2+): error events close sessions after 10
    minutes of inactivity, everything else after 45 — the
    heterogeneous-timeout sessionization real products need (short
    fuses for failure flows, long for browsing).  Semantics are
    interval-union merging of ``[ts, ts + gap(event))``; the oracle
    states exactly that via the running-max-end gaps-and-islands form
    (the `text_substring_dedup` island discipline with a variable
    reach).  One session-window aggregate per user — state bounded by
    the gap, the same at any scale."""
    e = t(spark, sf_dir, "events")
    # the dynamic form takes a STRING gap column (parsed per row);
    # ANSI INTERVAL literals type as DayTimeIntervalType, which
    # session_window rejects
    gap = F.when(
        F.col("event_type") == "error", F.lit("10 minutes")
    ).otherwise(F.lit("45 minutes"))
    return (
        e.groupBy(
            F.session_window("ts", gap).alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


ORACLES["window_session_dynamic"] = """
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN event_type = 'error' THEN INTERVAL 10 MINUTE
              ELSE INTERVAL 45 MINUTE END AS gap
  FROM events
),
m AS (
  SELECT user_id, ts, value,
         MAX(ts + gap) OVER (PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_end
  FROM g
),
f AS (
  SELECT user_id, ts, value,
         CASE WHEN prev_end IS NULL OR ts > prev_end THEN 1 ELSE 0 END
           AS nf
  FROM m
),
s AS (
  SELECT user_id, ts, value,
         SUM(nf) OVER (PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM f
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM s GROUP BY user_id, sid
"""


QUERIES.update({"window_session_dynamic": q_window_session_dynamic})


def q_api_pandas_on_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The THIRD query front door: pandas API on Spark
    (``pyspark.pandas``) — the migration surface for pandas codebases,
    compiling ``read_parquet → filter → assign → groupby.agg`` to the
    same Catalyst plans as the DataFrame/SQL doors (Spark's answer to
    "my pipeline is pandas").  Money goes through integer CENTS
    (``round(price*100)`` is exact — prices carry 2 decimals, so the
    scaled value is integer-valued and no rounding-mode boundary
    exists), keeping the sum associative without decimal dtypes the
    pandas API lacks.  Returns via ``to_spark()``."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        import pyspark.pandas as ps

        psdf = ps.read_parquet(f"{sf_dir}/orders.parquet")
        psdf = psdf[psdf["o_totalprice"] > 1000.0]
        psdf = psdf.assign(
            cents=(psdf["o_totalprice"] * 100).round().astype("int64")
        )
        out = (
            psdf.groupby("o_orderpriority")
            .agg(
                n=("o_orderkey", "count"),
                sum_cents=("cents", "sum"),
                max_price=("o_totalprice", "max"),
            )
            .reset_index()
        )
        sdf = out.to_spark()
    return sdf.select(
        "o_orderpriority",
        F.col("n").cast("bigint").alias("n"),
        (F.col("sum_cents") / 100.0).alias("sum_price"),
        "max_price",
    )


ORACLES["api_pandas_on_spark"] = """
SELECT o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
         / 100.0 AS sum_price,
       MAX(o_totalprice) AS max_price
FROM orders
WHERE o_totalprice > 1000.0
GROUP BY o_orderpriority
"""


QUERIES.update({"api_pandas_on_spark": q_api_pandas_on_spark})


def q_format_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish (``table_format.py::commit_stage/
    read_staged/commit_publish/commit_abandon`` — the Iceberg WAP
    governance pattern): a poisoned batch is STAGED, audited via the
    staged view (negative prices found), and ABANDONED — main-table
    readers never saw it; a clean batch stages, audits clean, and
    publishes atomically.  Unlike commit-time CHECK constraints
    (synchronous predicates), the audit between write and visibility is
    an ARBITRARY query.  The rollup proves exactly base + published are
    visible; staged-invisibility and conflict corners are pinned in
    ``tests/test_table_format.py``."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    path = _scratch.scratch_dir("format_wap", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    TF.commit_append(
        spark, path, o.filter(F.col("o_orderkey") % 3 == 0).coalesce(1),
        stat_cols=["o_orderkey"],
    )
    TF.commit_stage(
        spark, path,
        o.filter(F.col("o_orderkey") % 3 == 1).withColumn(
            "o_totalprice", -F.col("o_totalprice")
        ),
        stat_cols=["o_orderkey"], audit_id="poisoned",
    )
    n_bad = (
        TF.read_staged(spark, path, audit_id="poisoned")
        .filter(F.col("o_totalprice") < 0)
        .count()
    )
    if n_bad == 0:
        raise AssertionError("audit must catch the poisoned batch")
    TF.commit_abandon(path, audit_id="poisoned")
    TF.commit_stage(
        spark, path, o.filter(F.col("o_orderkey") % 3 == 2),
        stat_cols=["o_orderkey"], audit_id="clean",
    )
    n_bad = (
        TF.read_staged(spark, path, audit_id="clean")
        .filter(F.col("o_totalprice") < 0)
        .count()
    )
    if n_bad:
        raise AssertionError("clean batch must audit clean")
    TF.commit_publish(path, audit_id="clean")
    result = (
        TF.read_table(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["format_wap_publish"] = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM orders
WHERE o_orderkey % 3 IN (0, 2)
GROUP BY o_orderpriority
"""


QUERIES.update({"format_wap_publish": q_format_wap_publish})


def q_scalar_timezone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone scalar pack: UTC event times localized into three IANA
    zones (``from_utc_timestamp`` ≡ DuckDB's double ``AT TIME ZONE``)
    with per-(zone, local-hour) volume — the localization step every
    geographic rollup runs.  Both engines resolve the SAME IANA tzdata
    for the fixture's window, so local timestamps are value-identical;
    the hour histogram shape shifts per zone exactly as the offsets
    dictate."""
    ev = t(spark, sf_dir, "events")
    zones = F.array(
        F.lit("America/New_York"),
        F.lit("Asia/Tokyo"),
        F.lit("Europe/Berlin"),
    )
    local = ev.select(
        F.explode(zones).alias("zone"), F.col("ts")
    ).select(
        "zone",
        F.hour(F.expr("from_utc_timestamp(ts, zone)"))
        .cast("int")
        .alias("local_hour"),
    )
    return local.groupBy("zone", "local_hour").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


ORACLES["scalar_timezone"] = """
WITH z AS (
  SELECT UNNEST(['America/New_York', 'Asia/Tokyo', 'Europe/Berlin'])
    AS zone
),
l AS (
  SELECT z.zone,
         CAST(EXTRACT(HOUR FROM (e.ts AT TIME ZONE 'UTC'
                                 AT TIME ZONE z.zone)) AS INT)
           AS local_hour
  FROM events e, z
)
SELECT zone, local_hour, COUNT(*) AS n
FROM l GROUP BY zone, local_hour
"""


QUERIES.update({"scalar_timezone": q_scalar_timezone})


# ---------------------------------------------------------------------------
# round 7: merge-on-read deletes, shallow clone, row lineage, history
# expiry, 3-D z-order
# ---------------------------------------------------------------------------


def q_format_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read equality deletes (``table_format.py::
    commit_delete_keys`` + ``read_table_mor``): two delete commits land
    as tiny key files — NO data rewrite — and the snapshot read
    subtracts them with a broadcast anti-join applied ONLY to the data
    files whose manifest key range overlaps a delete range; files
    provably disjoint are returned verbatim.  Write amplification of a
    delete drops from O(files touched × file size) to O(keys deleted);
    the read-side split is asserted from the manifest in
    ``tests/test_table_format.py``.  The oracle states the surviving
    rows directly."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    path = _scratch.scratch_dir("format_delvec", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    TF.commit_append(
        spark,
        path,
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        ),
        stat_cols=["o_orderkey"],
    )
    TF.commit_delete_keys(
        spark, path,
        o.filter((k <= 600) & (k % 10 == 0)), key="o_orderkey",
    )
    TF.commit_delete_keys(
        spark, path,
        o.filter((k > 600) & (k <= 900) & (k % 7 == 0)),
        key="o_orderkey",
    )
    result = (
        TF.read_table_mor(spark, path)
        .groupBy((k % 3).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["format_delete_vectors"] = """
SELECT CAST(o_orderkey % 3 AS INT) AS bucket, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM orders
WHERE NOT (o_orderkey <= 600 AND o_orderkey % 10 = 0)
  AND NOT (o_orderkey > 600 AND o_orderkey <= 900
           AND o_orderkey % 7 = 0)
GROUP BY 1
"""


def q_format_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy branching (``table_format.py::shallow_clone`` — the
    Delta SHALLOW CLONE / Iceberg branch workflow): the clone's first
    commit lists the source's data files BY REFERENCE, then the two
    logs diverge — an experimental append lands only in the clone, and
    the source's head is bit-identical before and after.  At 100 TB a
    dev branch costs one manifest write, not a table copy.  The entry
    reads both heads and emits one rollup row per branch; the oracle
    states main = evens, clone = evens + odds."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    base = _scratch.scratch_dir("format_clone", sf_dir, fresh=True)
    main = base + "/main"
    clone = base + "/clone"
    TF.create_table(main)
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    TF.commit_append(
        spark, main, o.filter(k % 2 == 0), stat_cols=["o_orderkey"]
    )
    TF.shallow_clone(main, clone)
    TF.commit_append(
        spark, clone, o.filter(k % 2 == 1), stat_cols=["o_orderkey"]
    )
    rollup = lambda path, name: (
        TF.read_table(spark, path)
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .select(F.lit(name).alias("branch"), "n", "sum_price")
    )
    result = (
        rollup(main, "main")
        .unionByName(rollup(clone, "clone"))
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(base, ignore_errors=True)
    return result


ORACLES["format_shallow_clone"] = """
SELECT 'main' AS branch, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT 'clone', COUNT(*),
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
FROM orders
"""


def q_format_row_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-lineage ids through a rewrite (the Iceberg v3 row-lineage
    contract on ``table_format.py::row_id_expr``): commit 1 MINTS a
    stable id per row (md5 of ``key:version``, first 16 hex); a
    copy-on-write MERGE then updates/deletes/inserts — and surviving
    rows keep their COMMIT-1 id verbatim (an engine that lazily
    re-derived ids would stamp ``:2`` and is value-visible), while
    inserts mint commit-2 ids.  The id function is deterministic, so
    the oracle restates the whole lineage table."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    path = _scratch.scratch_dir("format_lineage", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    ).filter(F.col("o_orderkey") <= 800)
    k = F.col("o_orderkey")
    TF.commit_append(
        spark,
        path,
        o.repartitionByRange(4, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        ),
        stat_cols=["o_orderkey"],
        row_ids_from="o_orderkey",
    )
    # k >= 1: key 0 would otherwise receive BOTH a delete and an
    # insert (-0 = 0) in one batch, violating MERGE's one-op-per-key
    # precondition
    low = o.filter((k >= 1) & (k <= 400))
    changes = (
        low.filter((k % 4 == 0) & (k % 10 != 0)).select(
            "o_orderkey", F.lit("U").alias("op"),
            (F.col("o_totalprice") + 5.0).alias("o_totalprice"),
        )
        .unionByName(
            low.filter(k % 10 == 0).select(
                "o_orderkey", F.lit("D").alias("op"),
                F.lit(None).cast("double").alias("o_totalprice"),
            )
        )
        .unionByName(
            low.filter(k % 7 == 0).select(
                (-k).alias("o_orderkey"), F.lit("I").alias("op"),
                "o_totalprice",
            )
        )
    )
    TF.commit_merge(
        spark, path, changes, key="o_orderkey",
        stat_cols=["o_orderkey"], row_id_col="_row_id",
    )
    result = (
        TF.read_table(spark, path)
        .select("o_orderkey", "_row_id")
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["format_row_lineage"] = """
SELECT o_orderkey,
       SUBSTR(MD5(CAST(o_orderkey AS VARCHAR) || ':1'), 1, 16)
         AS _row_id
FROM orders
WHERE o_orderkey <= 800
  AND NOT (o_orderkey BETWEEN 1 AND 400 AND o_orderkey % 10 = 0)
UNION ALL
SELECT -o_orderkey,
       SUBSTR(MD5(CAST(-o_orderkey AS VARCHAR) || ':2'), 1, 16)
FROM orders
WHERE o_orderkey BETWEEN 1 AND 400 AND o_orderkey % 7 = 0
"""


def q_format_expire_snapshots(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """History expiry (``table_format.py::expire_snapshots`` — the
    Iceberg ``expire_snapshots`` maintenance op): after four append
    commits, expiring to the last two rewrites the oldest retained
    commit as a full snapshot and DELETES the older log entries — the
    metadata chain stays O(retained), time travel past the horizon
    raises (asserted in ``tests/test_table_format.py``), and the head
    read is bit-identical before and after.  The emitted row carries
    the maintenance counters plus the head rollup the oracle states."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    path = _scratch.scratch_dir("format_expire", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    for i in range(4):
        TF.commit_append(
            spark,
            path,
            o.filter(F.col("o_orderkey") % 4 == i).coalesce(1),
            stat_cols=["o_orderkey"],
        )
    removed = TF.expire_snapshots(path, keep_last=2)
    head = TF.latest_version(path)
    result = (
        TF.read_table(spark, path)
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .select(
            F.lit(removed).cast("int").alias("n_expired"),
            F.lit(head).cast("int").alias("head_version"),
            "n",
            "sum_price",
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["format_expire_snapshots"] = """
SELECT 3 AS n_expired, 4 AS head_version, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM orders
"""


def q_format_zorder_3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-dimensional z-order clustering × manifest skipping
    (``operators/hof.py::morton3_key``): orders land range-partitioned
    on the 3-way Morton interleave of three INDEPENDENT dimensions
    (``o_orderkey % 32``, ``o_custkey % 32``, day-of-month), so every
    file's manifest range is tight in all three at once and a range
    read on ANY one dimension prunes files — the 2-D entry
    (``format_zorder_pruning``) generalized.  All-three-dimension
    pruning effectiveness is asserted from the manifest in
    ``tests/test_table_format.py``; the value contract is the d3-range
    read below."""
    import shutil as _shutil

    from table_streaming_source_spark.operators.hof import morton3_key
    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    path = _scratch.scratch_dir("format_zorder3", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 32).cast("int").alias("d1"),
        (F.col("o_custkey") % 32).cast("int").alias("d2"),
        F.dayofmonth("o_orderdate").cast("int").alias("d3"),
        "o_totalprice",
    ).withColumn(
        "zkey",
        morton3_key(F.col("d1"), F.col("d2"), F.col("d3"), bits=5),
    )
    TF.commit_append(
        spark,
        path,
        o.repartitionByRange(16, "zkey").sortWithinPartitions("zkey"),
        stat_cols=["d1", "d2", "d3"],
    )
    result = (
        TF.read_table(spark, path, prune=("d3", 8, 15))
        .filter((F.col("d3") >= 8) & (F.col("d3") <= 15))
        .groupBy("d3")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["format_zorder_3d"] = """
SELECT CAST(EXTRACT(DAY FROM o_orderdate) AS INT) AS d3,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM orders
WHERE EXTRACT(DAY FROM o_orderdate) BETWEEN 8 AND 15
GROUP BY 1
"""


def q_format_positional_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Merge-on-read POSITIONAL deletes (``table_format.py::
    commit_delete_positions`` + ``positions_where`` — the Iceberg v2
    position-delete-file surface beside ``format_delete_vectors``'s
    equality deletes): two delete commits store ``(file_path,
    row-ordinal)`` tuples — no key column, no data rewrite — and the
    snapshot read subtracts them by ``_metadata.row_index`` with a
    broadcast anti-join applied ONLY to the data files the delete
    entries NAME; unnamed files take the no-join path.  Positions
    expire with their file on rewrite (merge/compact), so a re-insert
    of the same logical key can never be swallowed by a stale ordinal.
    Mixed equality+positional reads and the carry-through-merge/clear-
    on-compact lifecycle are pinned in ``tests/test_table_format.py``;
    the oracle states the surviving rows directly."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    path = _scratch.scratch_dir("format_posdel", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    TF.commit_append(
        spark,
        path,
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        ),
        stat_cols=["o_orderkey"],
    )
    TF.commit_delete_positions(
        spark, path,
        TF.positions_where(
            spark, path, "o_orderkey <= 600 AND o_orderkey % 6 = 0"
        ),
    )
    TF.commit_delete_positions(
        spark, path,
        TF.positions_where(
            spark, path,
            "o_orderkey > 600 AND o_orderkey <= 900 "
            "AND o_orderkey % 11 = 0",
        ),
    )
    result = (
        TF.read_table_mor(spark, path)
        .groupBy((k % 3).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["format_positional_deletes"] = """
SELECT CAST(o_orderkey % 3 AS INT) AS bucket, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM orders
WHERE NOT (o_orderkey <= 600 AND o_orderkey % 6 = 0)
  AND NOT (o_orderkey > 600 AND o_orderkey <= 900
           AND o_orderkey % 11 = 0)
GROUP BY 1
"""


def q_format_cdf_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED read (``table_format.py::read_cdf`` — the Delta
    CDF / Iceberg changelog-scan surface): row-level ``insert`` /
    ``update_preimage`` / ``update_postimage`` / ``delete`` images
    derived from the commit payloads across an append (v1), a
    copy-on-write MERGE (v2 — diffed on the recorded merge key over
    ONLY the rewritten files), a positional delete (v3 — pre-images by
    row ordinal), an equality delete (v4 — pre-images exclude rows the
    v3 positions already removed), and a compaction (v5 — MAINTENANCE,
    emits NO CDF rows; its absence from the output is the assertion).
    Cost is change-proportional: appends read their own files, the
    merge diff touches only rewritten files, delete pre-images prune to
    overlapping/named files with the delete side broadcast.  The oracle
    restates every image class from the base table."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    path = _scratch.scratch_dir("format_cdf", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    TF.commit_append(
        spark,
        path,
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        ),
        stat_cols=["o_orderkey"],
    )
    low = o.filter(k <= 600)
    changes = (
        low.filter((k % 4 == 0) & (k % 10 != 0)).select(
            "o_orderkey", F.lit("U").alias("op"),
            (F.col("o_totalprice") + 5.0).alias("o_totalprice"),
        )
        .unionByName(
            low.filter(k % 10 == 0).select(
                "o_orderkey", F.lit("D").alias("op"),
                F.lit(None).cast("double").alias("o_totalprice"),
            )
        )
        .unionByName(
            # k > 0: key 0 would collide with its own re-keyed copy
            # (-0 == 0) — a delete+insert of identical values is a NET
            # NO-OP the CDF diff correctly emits nothing for
            low.filter((k % 7 == 0) & (k > 0)).select(
                (-k).alias("o_orderkey"), F.lit("I").alias("op"),
                "o_totalprice",
            )
        )
    )
    TF.commit_merge(
        spark, path, changes, key="o_orderkey", stat_cols=["o_orderkey"]
    )
    TF.commit_delete_positions(
        spark, path,
        TF.positions_where(
            spark, path, "o_orderkey > 600 AND o_orderkey % 9 = 0"
        ),
    )
    TF.commit_delete_keys(
        spark, path,
        o.filter((k > 600) & (k % 11 == 0)), key="o_orderkey",
    )
    TF.commit_compact(spark, path, stat_cols=["o_orderkey"])
    result = (
        TF.read_cdf(spark, path, from_version=0)
        .groupBy(
            F.col("_change_type").alias("change_type"),
            F.col("_commit_version").alias("commit_version"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["format_cdf_read"] = """
WITH images AS (
  SELECT 'insert' AS change_type, 1 AS commit_version,
         o_totalprice AS p
  FROM orders
  UNION ALL
  SELECT 'update_preimage', 2, o_totalprice FROM orders
  WHERE o_orderkey <= 600 AND o_orderkey % 4 = 0
    AND o_orderkey % 10 <> 0
  UNION ALL
  SELECT 'update_postimage', 2, o_totalprice + 5.0 FROM orders
  WHERE o_orderkey <= 600 AND o_orderkey % 4 = 0
    AND o_orderkey % 10 <> 0
  UNION ALL
  SELECT 'delete', 2, o_totalprice FROM orders
  WHERE o_orderkey <= 600 AND o_orderkey % 10 = 0
  UNION ALL
  SELECT 'insert', 2, o_totalprice FROM orders
  WHERE o_orderkey <= 600 AND o_orderkey % 7 = 0 AND o_orderkey > 0
  UNION ALL
  SELECT 'delete', 3, o_totalprice FROM orders
  WHERE o_orderkey > 600 AND o_orderkey % 9 = 0
  UNION ALL
  SELECT 'delete', 4, o_totalprice FROM orders
  WHERE o_orderkey > 600 AND o_orderkey % 11 = 0
    AND o_orderkey % 9 <> 0
)
SELECT change_type, commit_version, COUNT(*) AS n,
       CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM images GROUP BY 1, 2
"""


def q_format_multi_key_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MULTI-COLUMN equality deletes (``table_format.py::
    commit_delete_keys(key=[...])`` — the Iceberg equality-field-ids
    surface): two delete commits store COMPOSITE key tuples
    (priority, bucket); a row subtracts only when EVERY key column
    matches, so one-column twins survive (the property a single-key
    delete can't express), and the manifest stats prune composes per
    column — any provably disjoint key column exempts a data file from
    the broadcast anti-join.  The oracle states the surviving rows as
    the negated tuple predicates."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    path = _scratch.scratch_dir("format_mkdel", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice",
        (F.col("o_orderkey") % 7).cast("int").alias("bucket"),
    )
    TF.commit_append(
        spark,
        path,
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        ),
        stat_cols=["o_orderkey", "bucket"],
    )
    TF.commit_delete_keys(
        spark, path,
        o.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & F.col("bucket").isin(0, 3)
        ),
        key=["o_orderpriority", "bucket"],
    )
    TF.commit_delete_keys(
        spark, path,
        o.filter(
            (F.col("o_orderpriority") == "3-MEDIUM")
            & (F.col("bucket") == 5)
        ),
        key=["o_orderpriority", "bucket"],
    )
    result = (
        TF.read_table_mor(spark, path)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["format_multi_key_deletes"] = """
SELECT o_orderpriority AS priority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM orders
WHERE NOT (o_orderpriority = '1-URGENT' AND o_orderkey % 7 IN (0, 3))
  AND NOT (o_orderpriority = '3-MEDIUM' AND o_orderkey % 7 = 5)
GROUP BY 1
"""


QUERIES.update(
    {
        "format_delete_vectors": q_format_delete_vectors,
        "format_shallow_clone": q_format_shallow_clone,
        "format_row_lineage": q_format_row_lineage,
        "format_expire_snapshots": q_format_expire_snapshots,
        "format_zorder_3d": q_format_zorder_3d,
        "format_positional_deletes": q_format_positional_deletes,
        "format_cdf_read": q_format_cdf_read,
        "format_multi_key_deletes": q_format_multi_key_deletes,
    }
)


def q_sink_python_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-format WRITE through the Spark 4 Python ``DataSource``
    writer API (`sources/fixed_width.py::FixedWidthWriter`) — the
    other half of `source_python_batch`'s connector surface, with the
    REAL task-commit protocol: every task stages ``part-*.tsr.tmp``
    and returns a commit message; the driver-side ``commit`` renames
    staged files visible, ``abort`` sweeps them, so a crashed job
    leaves nothing a reader can see (the stage-then-publish discipline
    the table format uses, here at the connector layer; crash-residue
    invisibility is pinned in ``tests/test_fixed_width.py``).  The
    value contract: orders written through the custom sink from 8
    genuine task partitions and read back through the split-planned
    reader equal the oracle rollup."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark.sources import fixed_width as FW

    base = _scratch.scratch_dir("tsr_sink", sf_dir, fresh=True)
    out = f"{base}/out"
    FW.register(spark)
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        (F.col("o_orderkey") % 10).alias("grp"),
        F.col("o_totalprice").alias("value"),
    )
    o.repartition(8).write.format("tsr").mode("overwrite").option(
        "path", out
    ).save()
    result = (
        spark.read.format("tsr")
        .option("path", out)
        .option("recordsPerSplit", 2048)
        .load()
        .groupBy(F.col("grp").cast("int").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("sum_value"),
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(base, ignore_errors=True)
    return result


ORACLES["sink_python_batch"] = """
SELECT CAST(o_orderkey % 10 AS INT) AS grp,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_value
FROM orders
GROUP BY 1
"""


QUERIES.update({"sink_python_batch": q_sink_python_batch})


def q_ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau whiteness statistic per event type —
    ``Q = n(n+2) Σ_{k≤3} r_k²/(n−k)`` over the lag-1..3 hourly-series
    autocorrelations — the residual-diagnostics companion to
    `ts_autocorr` (large Q ⇒ the series is NOT white noise, i.e. a
    forecaster has signal left to model).  The r_k are exactly
    `ts_autocorr`'s rounded-at-9 coefficients; each Q term is rounded
    and summed on the DECIMAL path so the 3-term reduction is
    order-free, and the final scale by n(n+2) is one double multiply —
    bit-stable across engines.  df = 3 rides along for the caller's
    chi-square lookup."""
    acf = q_ts_autocorr(spark, sf_dir)
    n = F.col("n_pairs") + F.col("lag")  # series length, per lag row
    term = F.round(
        (F.col("acf") * F.col("acf")) / (n - F.col("lag")), 15
    ).cast("decimal(25,15)")
    return (
        acf.select("event_type", "lag", "n_pairs", "acf", n.alias("__n"),
                   term.alias("__term"))
        .groupBy("event_type")
        .agg(
            F.max("__n").cast("bigint").alias("n_obs"),
            F.count(F.lit(1)).cast("int").alias("df"),
            F.round(
                F.max("__n")
                * (F.max("__n") + 2)
                * F.sum("__term").cast("double"),
                6,
            ).alias("q_stat"),
        )
    )


ORACLES["ts_ljung_box"] = """
WITH hourly AS (
  SELECT event_type, DATE_TRUNC('hour', ts) AS hour,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 6) AS v
  FROM events GROUP BY event_type, DATE_TRUNC('hour', ts)
),
lagged AS (
  SELECT event_type, v,
         LAG(v, 1) OVER w AS l1,
         LAG(v, 2) OVER w AS l2,
         LAG(v, 3) OVER w AS l3
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour)
),
pairs AS (
  SELECT event_type, 1 AS lag, l1 AS x, v AS y FROM lagged WHERE l1 IS NOT NULL
  UNION ALL
  SELECT event_type, 2, l2, v FROM lagged WHERE l2 IS NOT NULL
  UNION ALL
  SELECT event_type, 3, l3, v FROM lagged WHERE l3 IS NOT NULL
),
mom AS (
  SELECT event_type, lag, COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(28,6))) AS DOUBLE) AS syy
  FROM pairs GROUP BY event_type, lag
),
acf AS (
  SELECT event_type, lag, n + lag AS n_obs,
         ROUND((n * sxy - sx * sy)
               / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 9)
           AS r
  FROM mom
)
SELECT event_type,
       CAST(MAX(n_obs) AS BIGINT) AS n_obs,
       CAST(COUNT(*) AS INT) AS df,
       ROUND(MAX(n_obs) * (MAX(n_obs) + 2)
             * CAST(SUM(CAST(ROUND(r * r / (n_obs - lag), 15)
                             AS DECIMAL(25,15))) AS DOUBLE), 6)
         AS q_stat
FROM acf GROUP BY event_type
"""


QUERIES.update({"ts_ljung_box": q_ts_ljung_box})


def q_ts_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation at lags 1..3 per event type via the
    closed-form Durbin–Levinson recursion over `ts_autocorr`'s rounded
    lag-1..3 coefficients — the AR-order diagnostic read next to the ACF
    (a PACF cutoff at lag p suggests an AR(p) forecaster).  φ11 = r1,
    φ22 = (r2 − r1²)/(1 − r1²), and φ33 closes the level-3 recursion
    with φ21 = r1 − φ22·r1.  Every expression is written in the SAME
    association order on both engines over the same rounded-at-9 inputs,
    so the double arithmetic is bit-identical; outputs round at 9.

    Scale shape: identical to `ts_autocorr` — one hash aggregate over
    raw events, then |types|×3 rows pivoted to one row per type.  The
    recursion itself is row-local scalar math on a |types|-row frame."""
    acf = q_ts_autocorr(spark, sf_dir)
    piv = acf.groupBy("event_type").agg(
        F.max(F.when(F.col("lag") == 1, F.col("acf"))).alias("r1"),
        F.max(F.when(F.col("lag") == 2, F.col("acf"))).alias("r2"),
        F.max(F.when(F.col("lag") == 3, F.col("acf"))).alias("r3"),
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    phi22 = (r2 - r1 * r1) / (F.lit(1.0) - r1 * r1)
    phi21 = r1 - phi22 * r1
    phi33 = (r3 - phi21 * r2 - phi22 * r1) / (
        F.lit(1.0) - phi21 * r1 - phi22 * r2
    )
    return piv.select(
        "event_type",
        F.round(r1, 9).alias("pacf1"),
        F.round(phi22, 9).alias("pacf2"),
        F.round(phi33, 9).alias("pacf3"),
    )


ORACLES["ts_pacf"] = """
WITH hourly AS (
  SELECT event_type, DATE_TRUNC('hour', ts) AS hour,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 6) AS v
  FROM events GROUP BY event_type, DATE_TRUNC('hour', ts)
),
lagged AS (
  SELECT event_type, v,
         LAG(v, 1) OVER w AS l1,
         LAG(v, 2) OVER w AS l2,
         LAG(v, 3) OVER w AS l3
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour)
),
pairs AS (
  SELECT event_type, 1 AS lag, l1 AS x, v AS y FROM lagged WHERE l1 IS NOT NULL
  UNION ALL
  SELECT event_type, 2, l2, v FROM lagged WHERE l2 IS NOT NULL
  UNION ALL
  SELECT event_type, 3, l3, v FROM lagged WHERE l3 IS NOT NULL
),
mom AS (
  SELECT event_type, lag, COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(28,6))) AS DOUBLE) AS syy
  FROM pairs GROUP BY event_type, lag
),
acf AS (
  SELECT event_type, lag,
         ROUND((n * sxy - sx * sy)
               / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 9)
           AS r
  FROM mom
),
piv AS (
  SELECT event_type,
         MAX(CASE WHEN lag = 1 THEN r END) AS r1,
         MAX(CASE WHEN lag = 2 THEN r END) AS r2,
         MAX(CASE WHEN lag = 3 THEN r END) AS r3
  FROM acf GROUP BY event_type
),
dl AS (
  SELECT event_type, r1, r2, r3,
         (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi22
  FROM piv
),
dl2 AS (
  SELECT event_type, r1, r2, r3, phi22,
         r1 - phi22 * r1 AS phi21
  FROM dl
)
SELECT event_type,
       ROUND(r1, 9) AS pacf1,
       ROUND(phi22, 9) AS pacf2,
       ROUND((r3 - phi21 * r2 - phi22 * r1)
             / (1.0 - phi21 * r1 - phi22 * r2), 9) AS pacf3
FROM dl2
"""


QUERIES.update({"ts_pacf": q_ts_pacf})


def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline single-changepoint detection per event type — the first
    binary-segmentation split (Scott–Knott / CUSUM form): over the
    daily revenue series, pick the split k maximizing
    ``|n·S_k − k·S_n|`` (the unnormalized between-segment mean shift),
    reporting the split day, the exact statistic and the two segment
    means.  All series arithmetic is n-scaled BIGINT cents (the
    `anomaly_cusum` discipline) so the argmax is exact — no float
    comparison decides a winner; ties break to the earliest day via
    struct ordering.

    Scale shape: raw events collapse in one map-combinable hash
    aggregate to |types|×|days| rows; the prefix sums and the argmax
    run on that bounded frame (one sort per type, one struct-max
    aggregate — no self-join over splits)."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("s_cents")
    )
    w_ord = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    scored = daily.select(
        "event_type",
        "day",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .cast("bigint")
        .alias("k"),
        F.sum("s_cents").over(w_ord).alias("cum"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n"),
        F.sum("s_cents").over(w_all).alias("total"),
    ).filter(F.col("k") < F.col("n"))
    stat = F.abs(
        F.col("n") * F.col("cum") - F.col("k") * F.col("total")
    )
    best = (
        scored.select(
            "event_type",
            F.struct(
                stat.alias("stat"),
                (-F.col("k")).alias("negk"),
                F.col("day").alias("day"),
                F.col("k").alias("k"),
                F.col("n").alias("n"),
                F.col("cum").alias("cum"),
                F.col("total").alias("total"),
            ).alias("__b"),
        )
        .groupBy("event_type")
        .agg(F.max("__b").alias("b"))
    )
    return best.select(
        "event_type",
        F.date_format("b.day", "yyyy-MM-dd").alias("cp_day"),
        F.col("b.k").alias("k"),
        F.col("b.n").alias("n_days"),
        F.col("b.stat").alias("stat_cents"),
        F.round(
            F.col("b.cum").cast("double") / (F.col("b.k") * 100), 6
        ).alias("pre_mean"),
        F.round(
            (F.col("b.total") - F.col("b.cum")).cast("double")
            / ((F.col("b.n") - F.col("b.k")) * 100),
            6,
        ).alias("post_mean"),
    )


ORACLES["ts_changepoint"] = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS s_cents
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, day,
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS k,
         CAST(SUM(s_cents) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         CAST(SUM(s_cents) OVER (PARTITION BY event_type) AS BIGINT)
           AS total
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
cand AS (
  SELECT *, ABS(n * cum - k * total) AS stat,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ABS(n * cum - k * total) DESC,
                                     k ASC) AS rn
  FROM scored WHERE k < n
)
SELECT event_type, STRFTIME(day, '%Y-%m-%d') AS cp_day, k, n AS n_days,
       CAST(stat AS BIGINT) AS stat_cents,
       ROUND(CAST(cum AS DOUBLE) / (k * 100), 6) AS pre_mean,
       ROUND(CAST(total - cum AS DOUBLE) / ((n - k) * 100), 6)
         AS post_mean
FROM cand WHERE rn = 1
"""


QUERIES.update({"ts_changepoint": q_ts_changepoint})


def q_agg_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald sequential probability ratio test per event type — the
    always-valid A/B decision rule an experimentation platform runs as
    data ARRIVES instead of at a fixed horizon.  Success = value > 100;
    H0: p = 0.5 vs H1: p = 0.6, alpha = beta = 0.05.  The cumulative
    log-likelihood ratio after k observations is ``s·C1 + (k−s)·C0``
    with C1 = ln(p1/p0), C0 = ln((1−p1)/(1−p0)) pinned as rounded
    DECIMAL(20,12) literals, so every trajectory point is exact decimal
    arithmetic (the `agg_psi` one-rounded-ln discipline) and the FIRST
    boundary crossing (±ln 19) is an exact comparison — no float drift
    can move the stopping time.  Reports the decision, the stopping
    point and the LLR there; streams that never cross report
    ``continue`` at their final observation.

    Scale shape: one ordered window per type builds the running
    success count; the first-crossing and final rows reduce via
    struct-min/max aggregates — no per-step iteration, no self-join.
    The same plan applied to a billion-event stream is one sort +
    two map-combinable aggregates per experiment key."""
    e = t(spark, sf_dir, "events")
    c1 = F.lit("0.182321556794").cast("decimal(20,12)")
    c0 = F.lit("-0.223143551314").cast("decimal(20,12)")
    bound = F.lit("2.944438979166").cast("decimal(20,12)")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = e.select(
        "event_type",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("ts", "event_id"))
        .cast("bigint")
        .alias("k"),
        F.sum((F.col("value") > 100).cast("bigint"))
        .over(w)
        .alias("s"),
    ).withColumn(
        # counts cast to DECIMAL(10,0) so count×constant stays inside
        # precision 38 with the full 12-digit scale (bigint×decimal
        # would force Spark to drop scale to fit)
        "llr",
        (
            F.col("s").cast("decimal(10,0)") * c1
            + (F.col("k") - F.col("s")).cast("decimal(10,0)") * c0
        ).cast("decimal(38,12)"),
    )
    crossed = cum.filter(
        (F.col("llr") >= bound) | (F.col("llr") <= -bound)
    )
    first_cross = (
        crossed.select(
            "event_type",
            F.struct(
                F.col("k").alias("k"),
                F.col("s").alias("s"),
                F.col("llr").alias("llr"),
            ).alias("__c"),
        )
        .groupBy("event_type")
        .agg(F.min("__c").alias("c"))
    )
    final = (
        cum.select(
            "event_type",
            F.struct(
                F.col("k").alias("k"),
                F.col("s").alias("s"),
                F.col("llr").alias("llr"),
            ).alias("__f"),
        )
        .groupBy("event_type")
        .agg(F.max("__f").alias("f"))
    )
    j = final.join(first_cross, "event_type", "left")
    pick = F.coalesce(F.col("c"), F.col("f"))
    return j.select(
        "event_type",
        F.when(F.col("c").isNull(), F.lit("continue"))
        .when(F.col("c.llr") >= bound, F.lit("accept_h1"))
        .otherwise(F.lit("accept_h0"))
        .alias("decision"),
        pick["k"].alias("n_obs"),
        pick["s"].alias("n_success"),
        F.round(pick["llr"].cast("double"), 9).alias("llr"),
    )


ORACLES["agg_sprt"] = """
WITH cum AS (
  SELECT event_type,
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS k,
         CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END)
              OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS s
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
),
llrs AS (
  SELECT event_type, k, s,
         CAST(CAST(s AS DECIMAL(10,0))
                * CAST('0.182321556794' AS DECIMAL(20,12))
              + CAST(k - s AS DECIMAL(10,0))
                * CAST('-0.223143551314' AS DECIMAL(20,12))
              AS DECIMAL(38,12)) AS llr
  FROM cum
),
crossed AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY k) AS rn
  FROM llrs
  WHERE llr >= CAST('2.944438979166' AS DECIMAL(20,12))
     OR llr <= -CAST('2.944438979166' AS DECIMAL(20,12))
),
first_cross AS (SELECT * FROM crossed WHERE rn = 1),
final AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY k DESC) AS rn
    FROM llrs
  ) WHERE rn = 1
)
SELECT f.event_type,
       CASE WHEN c.k IS NULL THEN 'continue'
            WHEN c.llr >= CAST('2.944438979166' AS DECIMAL(20,12))
              THEN 'accept_h1'
            ELSE 'accept_h0' END AS decision,
       COALESCE(c.k, f.k) AS n_obs,
       COALESCE(c.s, f.s) AS n_success,
       ROUND(CAST(COALESCE(c.llr, f.llr) AS DOUBLE), 9) AS llr
FROM final f LEFT JOIN first_cross c ON c.event_type = f.event_type
"""


QUERIES.update({"agg_sprt": q_agg_sprt})


def q_ts_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic representation of each event type's daily series
    (Lin et al. 2003): z-normalize, Piecewise Aggregate Approximate
    into 6 segments, then map each segment mean through the N(0,1)
    quartile breakpoints (±0.6745, 0) to a 4-letter alphabet — the
    discretization that powers motif discovery / HOT-SAX anomaly
    mining over billions of series.  Moments come from the exact-
    decimal sum discipline of `ts_autocorr`; mean/std/z/PAA are each
    rounded once so both engines compare identical doubles at the
    breakpoints; the word assembles from an array_sort over (segment,
    symbol) structs — order-independent of partitioning.

    Scale shape: one hash aggregate collapses events to |types|×|days|
    rows; moments, z-scores and the 6-segment PAA all run windowed on
    that bounded frame; the word is one struct-sort aggregate per
    series.  No step touches raw events twice."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double"), 6
        ).alias("v")
    )
    w_all = Window.partitionBy("event_type")
    w_ord = Window.partitionBy("event_type").orderBy("day")
    mom = daily.select(
        "event_type",
        "day",
        "v",
        F.row_number().over(w_ord).cast("bigint").alias("k"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n"),
        F.sum(F.col("v").cast("decimal(28,6)"))
        .over(w_all)
        .cast("double")
        .alias("sx"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(28,6)"))
        .over(w_all)
        .cast("double")
        .alias("sxx"),
    )
    mu = F.round(F.col("sx") / F.col("n"), 9)
    sigma = F.round(
        F.sqrt(
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            / F.col("n")
        ),
        9,
    )
    z = mom.select(
        "event_type",
        "n",
        F.floor((F.col("k") - 1) * 6 / F.col("n")).alias("seg"),
        F.round((F.col("v") - mu) / sigma, 9).alias("z"),
    )
    paa = z.groupBy("event_type", "seg", "n").agg(
        F.round(
            F.sum(F.col("z").cast("decimal(28,9)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("paa")
    )
    sym = paa.withColumn(
        "sym",
        F.when(F.col("paa") < -0.6745, F.lit("a"))
        .when(F.col("paa") < 0, F.lit("b"))
        .when(F.col("paa") < 0.6745, F.lit("c"))
        .otherwise(F.lit("d")),
    )
    return (
        sym.groupBy("event_type")
        .agg(
            F.max("n").alias("n_days"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seg", "sym"))
                    ),
                    lambda s: s["sym"],
                ),
                "",
            ).alias("sax_word"),
        )
        .select("event_type", "sax_word", "n_days")
    )


ORACLES["ts_sax"] = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 6) AS v
  FROM events GROUP BY 1, 2
),
mom AS (
  SELECT event_type, day, v,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS k,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         CAST(SUM(CAST(v AS DECIMAL(28,6))) OVER w AS DOUBLE) AS sx,
         CAST(SUM(CAST(v * v AS DECIMAL(28,6))) OVER w AS DOUBLE) AS sxx
  FROM daily
  WINDOW w AS (PARTITION BY event_type)
),
z AS (
  SELECT event_type, n,
         CAST(FLOOR((k - 1) * 6 / n) AS BIGINT) AS seg,
         ROUND((v - ROUND(sx / n, 9))
               / ROUND(SQRT((sxx - sx * sx / n) / n), 9), 9) AS z
  FROM mom
),
paa AS (
  SELECT event_type, seg, n,
         ROUND(CAST(SUM(CAST(z AS DECIMAL(28,9))) AS DOUBLE)
               / COUNT(*), 9) AS paa
  FROM z GROUP BY 1, 2, 3
),
sym AS (
  SELECT event_type, seg, n,
         CASE WHEN paa < -0.6745 THEN 'a'
              WHEN paa < 0 THEN 'b'
              WHEN paa < 0.6745 THEN 'c'
              ELSE 'd' END AS sym
  FROM paa
)
SELECT event_type,
       STRING_AGG(sym, '' ORDER BY seg) AS sax_word,
       CAST(MAX(n) AS BIGINT) AS n_days
FROM sym GROUP BY event_type
"""


QUERIES.update({"ts_sax": q_ts_sax})


def q_format_branch_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named refs on ONE table (`table_format.py::create_branch/
    create_tag/commit_append_branch/read_ref` — the Iceberg ref model,
    vs `format_shallow_clone`'s two-log copy): a release TAG pins the
    v1 snapshot forever, an ``audit`` BRANCH takes staged appends, and
    ``main`` advances independently — three refs, three different
    versions of one commit log, full isolation.  Branch commits share
    the global version namespace (racing writers still collide on the
    rename — optimistic concurrency is unchanged) and only move their
    own pointer; `vacuum` pins every ref's snapshot.  The entry reads
    all three refs and emits one rollup row per ref; the oracle states
    tag = base slice, audit = base+auditslice, main = base+mainslice.

    At 100 TB a branch or tag costs one JSON pointer write — no data
    movement; the WAP pattern (`format_wap_publish`) gets multi-commit
    staging for free by auditing a branch and fast-forwarding main."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    path = _scratch.scratch_dir("format_refs", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    TF.commit_append(
        spark, path, o.filter(k % 4 == 0), stat_cols=["o_orderkey"]
    )
    TF.create_tag(path, "release-v1")
    TF.create_branch(path, "audit")
    TF.commit_append_branch(
        spark, path, "audit", o.filter(k % 4 == 1),
        stat_cols=["o_orderkey"],
    )
    TF.commit_append_branch(
        spark, path, "main", o.filter(k % 4 == 2),
        stat_cols=["o_orderkey"],
    )
    rollup = lambda ref: (
        TF.read_ref(spark, path, ref)
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .select(F.lit(ref).alias("ref"), "n", "sum_price")
    )
    result = (
        rollup("release-v1")
        .unionByName(rollup("audit"))
        .unionByName(rollup("main"))
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["format_branch_tag"] = """
SELECT 'release-v1' AS ref, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM orders WHERE o_orderkey % 4 = 0
UNION ALL
SELECT 'audit', COUNT(*),
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
FROM orders WHERE o_orderkey % 4 IN (0, 1)
UNION ALL
SELECT 'main', COUNT(*),
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
FROM orders WHERE o_orderkey % 4 IN (0, 2)
"""


QUERIES.update({"format_branch_tag": q_format_branch_tag})


def q_ts_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-time-warping distance between every pair of event-type
    daily series — the elastic similarity measure (Sakoe–Chiba 1978)
    that matches shapes shifted in phase, used to cluster/search
    series where Euclidean alignment fails.  The full DP runs as ONE
    nested JVM `aggregate` higher-order expression per pair (outer
    fold = DP rows, inner fold = the left-to-right carry), entirely in
    BIGINT cents — |Δ| costs and mins are exact integers, so any
    correct DTW agrees bit-for-bit and the oracle restates the DP as a
    recursive CTE with a `list_reduce` row carry.

    Scale shape: raw events collapse once to |types|×|days| rows; the
    |types|² pair frame is tiny and the O(m·n) fold is row-local —
    at a million series the same plan blocks pairs first (the
    `sim_pairs_blocked` discipline) and the DP cost per pair is
    unchanged."""
    INF = 1 << 60
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("c")
    )
    ser = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "c"))),
            lambda s: s["c"],
        ).alias("arr")
    )
    a_side = ser.select(
        F.col("event_type").alias("type_a"), F.col("arr").alias("a")
    )
    b_side = ser.select(
        F.col("event_type").alias("type_b"), F.col("arr").alias("b")
    )
    pairs = a_side.join(
        F.broadcast(b_side), F.col("type_a") < F.col("type_b")
    )
    inf = F.lit(INF).cast("long")
    init_row = F.concat(
        F.array(F.lit(0).cast("long")),
        F.transform(F.col("a"), lambda _: inf),
    )
    dp = F.aggregate(
        F.col("b"),
        init_row,
        lambda prev, bj: F.aggregate(
            F.sequence(F.lit(1), F.size(F.col("a"))),
            F.array(inf),
            lambda acc, i: F.concat(
                acc,
                F.array(
                    F.abs(F.element_at(F.col("a"), i) - bj)
                    + F.least(
                        F.element_at(prev, i + 1),
                        F.element_at(prev, i),
                        F.element_at(acc, i),
                    )
                ),
            ),
        ),
    )
    return pairs.select(
        "type_a",
        "type_b",
        F.size("a").alias("n_a"),
        F.size("b").alias("n_b"),
        F.element_at(dp, F.size(F.col("a")) + 1).alias("dtw_cents"),
    ).withColumn(
        "dtw_per_step",
        F.round(
            F.col("dtw_cents").cast("double")
            / (F.col("n_a") + F.col("n_b")),
            6,
        ),
    )


ORACLES["ts_dtw"] = """
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
ser AS (
  SELECT event_type, LIST(c ORDER BY day) AS arr
  FROM daily GROUP BY 1
),
pairs AS (
  SELECT x.event_type AS ta, y.event_type AS tb, x.arr AS a, y.arr AS b
  FROM ser x JOIN ser y ON x.event_type < y.event_type
),
dp AS (
  SELECT ta, tb, a, b, 0 AS i,
         list_prepend(0::BIGINT,
           list_transform(a, x -> (1::BIGINT << 60))) AS row
  FROM pairs
  UNION ALL
  SELECT ta, tb, a, b, i + 1,
         list_reduce(
           list_prepend([(1::BIGINT << 60)],
             list_transform(range(1, len(a) + 1), j -> [j])),
           (acc, x) -> list_append(acc,
               abs(a[x[1]] - b[i + 1]) +
               least(row[x[1] + 1], row[x[1]], acc[x[1]]))
         ) AS row
  FROM dp WHERE i < len(b)
)
SELECT ta AS type_a, tb AS type_b,
       CAST(len(a) AS INT) AS n_a,
       CAST(len(b) AS INT) AS n_b,
       row[len(a) + 1] AS dtw_cents,
       ROUND(CAST(row[len(a) + 1] AS DOUBLE) / (len(a) + len(b)), 6)
         AS dtw_per_step
FROM dp WHERE i = len(b)
"""


QUERIES.update({"ts_dtw": q_ts_dtw})


# ---------------------------------------------------------------------------
# round 10: delete-file compaction, deletion-vector encoding, projected CDF,
# txn watermarks through history expiry
# ---------------------------------------------------------------------------


def q_format_delete_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-file MINOR COMPACTION (``table_format.py::compact_deletes``
    — Iceberg's rewrite_position_delete_files + the v3 equality→DV
    conversion): two positional-delete commits and two equality-delete
    commits coalesce into ONE deletion-vector file in a MAINTENANCE
    commit — no data rewrite, logical content unchanged, and
    ``_mor_resolve``'s anti-join group count returns to 1 (the growth
    bound under a long-running ``format_upsert_sink`` stream).  The
    entry asserts the coalesced shape from the commit payload (single
    dv-encoded entry, equality state cleared) and returns the MOR
    rollup AFTER compaction; the oracle states the surviving rows.
    N-commits→1-file and CDF silence are pinned in
    ``tests/test_table_format.py``."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    path = _scratch.scratch_dir("format_delcomp", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    TF.commit_append(
        spark, path,
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        ),
        stat_cols=["o_orderkey"],
    )
    TF.commit_delete_positions(
        spark, path,
        TF.positions_where(
            spark, path, "o_orderkey <= 400 AND o_orderkey % 6 = 0",
            # range-shaped predicate → manifest pruning is lossless:
            # only the files the range can touch are scanned
            prune=("o_orderkey", 0, 400),
        ),
    )
    TF.commit_delete_positions(
        spark, path,
        TF.positions_where(
            spark, path,
            "o_orderkey > 400 AND o_orderkey <= 800 "
            "AND o_orderkey % 11 = 0",
            prune=("o_orderkey", 401, 800),
        ),
    )
    TF.commit_delete_keys(
        spark, path, o.filter(k % 97 == 0), key="o_orderkey"
    )
    TF.commit_delete_keys(
        spark, path, o.filter(k % 89 == 0), key="o_orderkey"
    )
    v = TF.compact_deletes(spark, path)
    c = TF._read_commit(path, v)
    assert c.get("maintenance") and "deletes" not in c
    assert len(c["pos_deletes"]) == 1
    assert c["pos_deletes"][0]["encoding"] == "dv"
    result = (
        TF.read_table_mor(spark, path)
        .groupBy((k % 4).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["format_delete_compaction"] = """
SELECT CAST(o_orderkey % 4 AS INT) AS bucket, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM orders
WHERE NOT (o_orderkey <= 400 AND o_orderkey % 6 = 0)
  AND NOT (o_orderkey > 400 AND o_orderkey <= 800
           AND o_orderkey % 11 = 0)
  AND NOT (o_orderkey % 97 = 0)
  AND NOT (o_orderkey % 89 = 0)
GROUP BY 1
"""


def q_format_dv_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETION-VECTOR encoding beside the legacy tuple layout
    (``table_format.py::_dv_encode`` — varint-run ordinal bitmaps, the
    Iceberg-v3/Delta DV model): one positional delete lands
    tuple-encoded (Iceberg v2 rows) and one dv-encoded on the SAME
    table; both resolve through one pair-expansion helper
    (``_pos_delete_pairs_df`` — DV decode fans out executor-side via
    ``mapInPandas``), so mixed old/new delete files compose.  The
    entry asserts both encodings are present in the snapshot, then
    returns the jointly-subtracted MOR rollup.  Codec losslessness is
    property-tested in ``tests/test_table_format.py``; a contiguous
    dead range costs ~2 varints, the storage win over 8-byte ordinal
    rows."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    path = _scratch.scratch_dir("format_dvenc", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    TF.commit_append(
        spark, path,
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        ),
        stat_cols=["o_orderkey"],
    )
    TF.commit_delete_positions(
        spark, path,
        TF.positions_where(
            spark, path, "o_orderkey <= 500 AND o_orderkey % 5 = 0"
        ),
        encoding="tuples",
    )
    TF.commit_delete_positions(
        spark, path,
        TF.positions_where(
            spark, path, "o_orderkey > 500 AND o_orderkey % 7 = 0"
        ),
        encoding="dv",
    )
    entries = TF._snapshot_pos_deletes(path, TF.latest_version(path))
    assert sorted(e.get("encoding") or "tuples" for e in entries) == [
        "dv", "tuples",
    ]
    result = (
        TF.read_table_mor(spark, path)
        .groupBy((k % 3).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["format_dv_encoding"] = """
SELECT CAST(o_orderkey % 3 AS INT) AS bucket, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM orders
WHERE NOT (o_orderkey <= 500 AND o_orderkey % 5 = 0)
  AND NOT (o_orderkey > 500 AND o_orderkey % 7 = 0)
GROUP BY 1
"""


def q_format_cdf_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN-PROJECTED change data feed (``read_cdf(columns=...)`` —
    Delta CDF under a select, with the projection PUSHED to the scans):
    the feed is semantically the CDF of the projected table, so a merge
    row whose change lies entirely OUTSIDE the projection (here: only
    ``o_orderpriority`` changed) emits no update pair, and Catalyst
    prunes every parquet ``ReadSchema`` to merge-key + requested
    columns (asserted in ``tests/test_table_format.py``).  The oracle
    restates the projected image classes: inserts for every base row,
    update pairs ONLY for the price-changed keys."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    path = _scratch.scratch_dir("format_cdfproj", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    k = F.col("o_orderkey")
    TF.commit_append(
        spark, path,
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        ),
        stat_cols=["o_orderkey"],
    )
    low = o.filter(k <= 600)
    changes = (
        # price changed → inside the projection → update pair
        low.filter(k % 4 == 0).select(
            "o_orderkey", F.lit("U").alias("op"),
            (F.col("o_totalprice") + 10.0).alias("o_totalprice"),
            "o_orderpriority",
        )
        .unionByName(
            # ONLY the priority changed → outside the projection →
            # no update pair in the projected feed
            low.filter(k % 4 == 1).select(
                "o_orderkey", F.lit("U").alias("op"),
                "o_totalprice",
                F.lit("9-SHUFFLED").alias("o_orderpriority"),
            )
        )
        .unionByName(
            low.filter((k % 9 == 0) & (k > 0)).select(
                (-k).alias("o_orderkey"), F.lit("I").alias("op"),
                "o_totalprice", "o_orderpriority",
            )
        )
    )
    TF.commit_merge(
        spark, path, changes, key="o_orderkey", stat_cols=["o_orderkey"]
    )
    result = (
        TF.read_cdf(
            spark, path, from_version=0,
            columns=["o_orderkey", "o_totalprice"],
        )
        .groupBy(
            F.col("_change_type").alias("change_type"),
            F.col("_commit_version").alias("commit_version"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["format_cdf_projected"] = """
WITH images AS (
  SELECT 'insert' AS change_type, 1 AS commit_version,
         o_totalprice AS p
  FROM orders
  UNION ALL
  SELECT 'update_preimage', 2, o_totalprice FROM orders
  WHERE o_orderkey <= 600 AND o_orderkey % 4 = 0
  UNION ALL
  SELECT 'update_postimage', 2, o_totalprice + 10.0 FROM orders
  WHERE o_orderkey <= 600 AND o_orderkey % 4 = 0
  UNION ALL
  SELECT 'insert', 2, o_totalprice FROM orders
  WHERE o_orderkey <= 600 AND o_orderkey % 9 = 0 AND o_orderkey > 0
)
SELECT change_type, commit_version, COUNT(*) AS n,
       CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM images GROUP BY 1, 2
"""


def q_format_txn_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ACROSS HISTORY EXPIRY (the Delta rule that
    SetTransaction actions survive checkpointing): three idempotent
    CDC merges land with txn watermarks, history is expired PAST the
    newest of them, and a replayed batch — same app/batch id,
    different payload — is still recognized and skipped because
    ``expire_snapshots`` hoists per-app watermarks from folded-in
    ancestors into the cut commit.  The entry asserts the replay was a
    no-op post-expiry and returns the final MOR state; the oracle
    restates it closed-form (updates applied once, deletes gone,
    re-keyed inserts present, replay payload absent)."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    path = _scratch.scratch_dir("format_txnexp", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    TF.commit_append(
        spark, path,
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        ),
        stat_cols=["o_orderkey"],
    )
    batches = [
        o.filter(k % 10 == 0).select(
            "o_orderkey", F.lit("U").alias("op"),
            (F.col("o_totalprice") + 100.0).alias("o_totalprice"),
        ),
        o.filter(k % 10 == 1).select(
            "o_orderkey", F.lit("D").alias("op"),
            F.lit(None).cast("double").alias("o_totalprice"),
        ),
        o.filter((k % 10 == 2) & (k > 0)).select(
            (-k).alias("o_orderkey"), F.lit("I").alias("op"),
            "o_totalprice",
        ),
    ]
    for b_id, b in enumerate(batches):
        assert TF.commit_merge_idempotent(
            spark, path, b, key="o_orderkey", stat_cols=["o_orderkey"],
            app_id="cdc-etl", batch_id=b_id,
        ) is not None
    # push the horizon past every merge, then expire
    extra = spark.createDataFrame(
        [(9_000_001, 1.0), (9_000_002, 2.0)],
        "o_orderkey long, o_totalprice double",
    )
    TF.commit_append(spark, path, extra, stat_cols=["o_orderkey"])
    TF.commit_append(
        spark, path,
        spark.createDataFrame(
            [(9_000_003, 3.0)], "o_orderkey long, o_totalprice double"
        ),
        stat_cols=["o_orderkey"],
    )
    TF.expire_snapshots(path, keep_last=2)
    # the replay (same id, poisoned payload) must be skipped
    head = TF.latest_version(path)
    assert TF.commit_merge_idempotent(
        spark, path,
        batches[2].withColumn(
            "o_totalprice", F.col("o_totalprice") + 9_999.0
        ),
        key="o_orderkey", stat_cols=["o_orderkey"],
        app_id="cdc-etl", batch_id=2,
    ) is None
    assert TF.latest_version(path) == head
    result = (
        TF.read_table_mor(spark, path)
        .groupBy((F.col("o_orderkey") % 5).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .localCheckpoint(eager=True)
    )
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["format_txn_expiry"] = """
WITH final AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 100.0
              ELSE o_totalprice END AS p
  FROM orders
  WHERE o_orderkey % 10 <> 1
  UNION ALL
  SELECT -o_orderkey, o_totalprice FROM orders
  WHERE o_orderkey % 10 = 2 AND o_orderkey > 0
  UNION ALL
  SELECT * FROM (VALUES (9000001, 1.0), (9000002, 2.0),
                        (9000003, 3.0)) v(k, p)
)
SELECT CAST(k % 5 AS INT) AS bucket, COUNT(*) AS n,
       CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM final GROUP BY 1
"""


QUERIES.update(
    {
        "format_delete_compaction": q_format_delete_compaction,
        "format_dv_encoding": q_format_dv_encoding,
        "format_cdf_projected": q_format_cdf_projected,
        "format_txn_expiry": q_format_txn_expiry,
    }
)


def q_format_null_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-COUNT manifest pruning (the Iceberg ``null_value_counts``
    field — ``table_format.py::snapshot_files(null_prune=)``): the
    manifest records per-column null counts from the parquet footers,
    so an ``IS NULL`` scan skips files with zero nulls and an
    ``IS NOT NULL`` scan skips all-null files — the sparse-column shape
    where a rarely-populated column reads only the files that ever
    populated it.  The entry asserts BOTH prunes drop files from the
    manifest alone, then returns the union of the two pruned reads
    (re-filtered exactly, so pruning is provably lossless — the
    oracle restates both predicates)."""
    import shutil as _shutil

    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark import table_format as TF

    path = _scratch.scratch_dir("format_nullp", sf_dir, fresh=True)
    TF.create_table(path)
    base = t(spark, sf_dir, "orders")
    # SF-independent sparse band: the bottom quarter of the key domain
    # is all-null, so the 8 range-partitioned files always split into
    # all-null / mixed / no-null classes (one 1-row scalar collect)
    thr = base.agg(
        F.floor(F.max("o_orderkey") / 4).alias("t")
    ).collect()[0]["t"]
    o = base.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") <= thr, None)
        .otherwise(F.col("o_totalprice"))
        .alias("v"),
    )
    TF.commit_append(
        spark, path,
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        ),
        stat_cols=["o_orderkey", "v"],
    )
    _, kept_null, total = TF.snapshot_files(
        path, null_prune=("v", "isnull")
    )
    _, kept_nn, _ = TF.snapshot_files(path, null_prune=("v", "notnull"))
    assert kept_null < total and kept_nn < total, (
        kept_null, kept_nn, total,
    )
    k = F.col("o_orderkey")
    nulls = (
        TF.read_table(spark, path, null_prune=("v", "isnull"))
        .filter(F.col("v").isNull())
        .groupBy((k % 4).cast("int").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("isnull").alias("scan"), "bucket", "n")
    )
    vals = (
        TF.read_table(spark, path, null_prune=("v", "notnull"))
        .filter(F.col("v").isNotNull())
        .groupBy((k % 4).cast("int").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("notnull").alias("scan"), "bucket", "n")
    )
    result = nulls.unionByName(vals).localCheckpoint(eager=True)
    _shutil.rmtree(path, ignore_errors=True)
    return result


ORACLES["format_null_pruning"] = """
WITH thr AS (
  SELECT FLOOR(MAX(o_orderkey) / 4) AS t FROM orders
)
SELECT 'isnull' AS scan, CAST(o_orderkey % 4 AS INT) AS bucket,
       COUNT(*) AS n
FROM orders, thr WHERE o_orderkey <= t
GROUP BY 2
UNION ALL
SELECT 'notnull', CAST(o_orderkey % 4 AS INT), COUNT(*)
FROM orders, thr WHERE o_orderkey > t
GROUP BY 2
"""


QUERIES.update({"format_null_pruning": q_format_null_pruning})
