"""TTL-refreshed table snapshots — the engine's core source semantics.

The reference's one real operator is a periodically-refreshed full-table
snapshot fed to every micro-batch
(`src/main/scala/io/cdap/plugin/table/streaming/TableInputDStream.scala:26-28`
scaladoc; refresh logic `TableInputDStream.scala:56-62`).  Spark-first
re-expression:

- the *scan* is ``spark.read.parquet`` / ``spark.table`` — Catalyst gives us
  column pruning + predicate pushdown the reference never had (it fetched
  whole rows, `TableInputDStream.scala:59`);
- the *TTL cache* is ``persist(MEMORY_AND_DISK)`` plus driver-side
  epoch-aligned refresh arithmetic identical to `TableInputDStream.scala:57`;
- unlike the reference (which leaks the old cached RDD on refresh —
  `TableInputDStream.scala:59` replaces the reference without freeing), we
  ``unpersist`` the previous snapshot before each re-scan;
- ``start()`` zeroes the refresh clock forcing a fresh scan on (re)start,
  matching `TableInputDStream.scala:42-45`.

The snapshot is the lookup side of every micro-batch's enrichment join, and
Structured Streaming re-plans that join on every trigger.  When the join key
is set (:func:`~table_streaming_source_spark.streaming.enrichment.start_enriched_stream`
sets it), each refresh hash-partitions the scan by the key into exactly
``spark.sql.shuffle.partitions`` partitions and sorts every partition before
``persist``: the table's layout cost is paid once per TTL, and a sort-merge
join against the cached snapshot exchanges only the micro-batch.
"""

from __future__ import annotations

import time
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from table_streaming_source_spark.config import FailureCollector, SourceConfig


def load_snapshot(
    spark: SparkSession,
    name_or_path: str,
    schema=None,
    row_field: Optional[str] = None,
) -> DataFrame:
    """Scan a table into a schema-projected DataFrame (reference A1+A3).

    The reference scans the whole table then decodes each row to a
    ``StructuredRecord`` per the declared schema, with ``rowField`` decoded
    from the row key (`TableStreamingSource.java:95`, `:101-118`;
    `TableInputDStream.scala:59`).  With a columnar source the decode is a
    projection: select the schema's columns with their declared types —
    Catalyst prunes and pushes down into the parquet scan.

    ``row_field``, when given, is surfaced first (the "key column") and
    checked non-null, preserving the reference's key semantics
    (`TableStreamingSourceConfig.java:131-143`).
    """
    if name_or_path.endswith(".parquet") or "/" in name_or_path:
        df = spark.read.parquet(name_or_path)
    else:
        df = spark.table(name_or_path)

    if schema is not None:
        available = {f.name for f in df.schema.fields}
        missing = [f.name for f in schema.fields if f.name not in available]
        if missing:
            raise ValueError(
                f"Schema fields {missing} not present in table {name_or_path!r}"
            )
        df = df.select(
            [F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        )

    if row_field is not None:
        if row_field not in df.columns:
            raise ValueError(
                f"rowField {row_field!r} not present in table {name_or_path!r}"
            )
        others = [c for c in df.columns if c != row_field]
        df = df.select([row_field, *others]).filter(F.col(row_field).isNotNull())
    return df


def _aligned_threshold(last_refresh_ms: int, interval_ms: int) -> int:
    """Next epoch-aligned refresh boundary after ``last_refresh_ms``.

    Exactly the reference's arithmetic (`TableInputDStream.scala:57`)::

        threshold = lastRefreshTime + refreshInterval
                    - lastRefreshTime % refreshInterval

    i.e. the next *multiple of the interval* — all restarts/instances
    converge on the same cadence rather than drifting by start time.
    """
    return last_refresh_ms + interval_ms - last_refresh_ms % interval_ms


class SnapshotManager:
    """Driver-side TTL cache of a table snapshot (reference A2).

    Every call to :meth:`current` within a TTL window returns the *same*
    persisted DataFrame (the reference returns the same cached RDD to every
    intervening batch, `TableInputDStream.scala:51-54`); once wall-clock
    passes the epoch-aligned boundary the old snapshot is unpersisted and
    the table re-scanned into a newly persisted one.

    ``clock_ms`` is injectable for deterministic tests (the reference's
    equivalent is the batch ``validTime`` passed into ``compute``,
    `TableInputDStream.scala:51`).
    """

    def __init__(
        self,
        spark: SparkSession,
        loader: Callable[[], DataFrame] | str,
        refresh_interval_ms: int = 3_600_000,
        clock_ms: Optional[Callable[[], int]] = None,
        storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
        eager: bool = False,
    ) -> None:
        if isinstance(loader, str):
            path = loader
            loader = lambda: load_snapshot(spark, path)  # noqa: E731
        self._spark = spark
        self._loader = loader
        self._interval_ms = max(1, int(refresh_interval_ms))
        self._clock_ms = clock_ms or (lambda: int(time.time() * 1000))
        self._storage_level = storage_level
        self.eager = eager
        #: join key columns; when set, each refresh lays the snapshot out
        #: by them (hash-partitioned, sorted within partitions)
        self.key: Optional[list[str]] = None
        self._df: Optional[DataFrame] = None
        self._last_refresh_ms = 0
        self._refresh_duration_ms = 0
        self._rows: Optional[int] = None
        self.refresh_count = 0

    @classmethod
    def from_config(
        cls,
        spark: SparkSession,
        config: SourceConfig,
        clock_ms: Optional[Callable[[], int]] = None,
        **kwargs,
    ) -> "SnapshotManager":
        """Build from a validated :class:`SourceConfig` — the runtime path of
        the reference (`TableStreamingSource.java:73-96`): re-validate, then
        construct the snapshot stream."""
        collector = FailureCollector()
        config.validate(collector)
        collector.get_or_throw()
        schema = config.get_schema() if config.schema_json else None
        return cls(
            spark,
            loader=lambda: load_snapshot(
                spark, config.name, schema=schema, row_field=config.row_field
            ),
            refresh_interval_ms=config.get_refresh_interval_ms(),
            clock_ms=clock_ms,
            **kwargs,
        )

    def start(self) -> "SnapshotManager":
        """(Re)start: zero the refresh clock so the next access re-scans,
        matching ``TableInputDStream.start`` (`TableInputDStream.scala:42-45`)."""
        self._last_refresh_ms = 0
        return self

    def current(self) -> DataFrame:
        """The current snapshot DataFrame, refreshing if the TTL elapsed
        (reference ``compute`` → ``refreshIfNeeded``,
        `TableInputDStream.scala:51-62`)."""
        self._refresh_if_needed(self._clock_ms())
        assert self._df is not None
        return self._df

    def _refresh_if_needed(self, now_ms: int) -> None:
        threshold = _aligned_threshold(self._last_refresh_ms, self._interval_ms)
        # first access always refreshes (`TableInputDStream.scala:58`:
        # ``lastRefreshTime == 0 || currentTime > threshold``)
        if self._df is None or self._last_refresh_ms == 0 or now_ms > threshold:
            # Spark keeps one cache entry per plan, and a re-read of an
            # unchanged source (same path) has the old snapshot's plan:
            # persisting the new snapshot first would count the old cached
            # rows, and freeing the old one afterwards would uncache the
            # new one.  So the old snapshot goes first (the reference leaks
            # it, `TableInputDStream.scala:59`); after a failed refresh
            # there is none, and the next access scans again.
            self.stop()
            new = self._loader()
            if self.key:
                # an explicit partition count (REPARTITION_BY_NUM) is
                # never coalesced by AQE, so the cached layout matches
                # the batch side's hash exchange on the same key
                n = int(self._spark.conf.get("spark.sql.shuffle.partitions"))
                new = new.repartition(n, *self.key).sortWithinPartitions(
                    *self.key
                )
            new = new.persist(self._storage_level)
            try:
                # the eager count materializes the cache; its exact row
                # count feeds stats()["rows"]
                self._rows = new.count() if self.eager else None
            except Exception:
                new.unpersist()
                raise
            self._df = new
            self._last_refresh_ms = now_ms
            self._refresh_duration_ms = self._clock_ms() - now_ms
            self.refresh_count += 1

    def stats(self) -> dict:
        """What the cache did: ``refreshes`` (count), ``rows`` (the
        snapshot's exact row count from the eager refresh count, else
        ``None``), ``last_refresh_ms`` (clock time of the last refresh; 0
        before the first and after :meth:`start` or :meth:`stop`, which
        force the next access to re-scan) and ``refresh_ms`` (the last
        refresh's duration on the same clock)."""
        return {
            "refreshes": self.refresh_count,
            "rows": self._rows,
            "last_refresh_ms": self._last_refresh_ms,
            "refresh_ms": self._refresh_duration_ms,
        }

    def stop(self) -> None:
        """Release the cached snapshot."""
        if self._df is not None:
            self._df.unpersist()
            self._df = None
        self._last_refresh_ms = 0
        self._rows = None


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    key: str,
    compare_cols: Optional[list[str]] = None,
    include_values: bool = False,
) -> DataFrame:
    """Change-data-capture between two snapshots of the same table: which
    rows were inserted, deleted, or updated between TTL refreshes.

    The reference re-emits the *entire* snapshot every refresh
    (`TableInputDStream.scala:51-54`) and leaves change detection to the
    consumer; at 100 TB re-processing the full table per refresh is the
    thing you cannot do, so the engine provides the delta natively.

    Shape: each side reduces to ``(key, xxhash64 of compared columns)``
    row-locally *before* the full-outer join, so only 16-byte digests
    shuffle — never the payload; the join partitions on the key.  The
    digest compares bit-patterns, which is exactly the "did the stored row
    change" contract (it is not numeric-tolerance equality).

    Returns ``(key, change)`` with ``change`` ∈ ``insert | delete |
    update`` — unchanged rows are dropped (the whole point of a delta).
    With ``include_values`` the new-side row values ride along (null for
    deletes), making the result a *changeset* that
    :func:`snapshot_apply` can replay onto the old snapshot.  The values
    are fetched by re-joining only the (small) delta against ``new`` —
    the digest comparison itself still shuffles digests only, so the
    payload cost is proportional to the delta, not the table.
    """
    cols = compare_cols or [c for c in new.columns if c != key]
    digest = F.xxhash64(*[F.col(c) for c in cols])
    o = old.select(F.col(key), digest.alias("__h_old"))
    n = new.select(F.col(key), digest.alias("__h_new"))
    delta = (
        o.join(n, key, "full_outer")
        .withColumn(
            "change",
            F.when(F.col("__h_old").isNull(), F.lit("insert"))
            .when(F.col("__h_new").isNull(), F.lit("delete"))
            .when(F.col("__h_old") != F.col("__h_new"), F.lit("update")),
        )
        .filter(F.col("change").isNotNull())
        .select(key, "change")
    )
    if not include_values:
        return delta
    return delta.join(new, key, "left").select(key, "change", *[
        c for c in new.columns if c != key
    ])


#: changed-key count up to which :func:`snapshot_apply` broadcasts the
#: key set into its anti-join
_APPLY_BROADCAST_MAX_KEYS = 1_000_000


def snapshot_apply(
    old: DataFrame,
    changeset: DataFrame,
    *,
    key: str,
    change_col: str = "change",
) -> DataFrame:
    """Replay a changeset (``snapshot_diff(..., include_values=True)``
    shape: key, change, new-side values) onto a snapshot: drop every
    changed key from the old snapshot, then union the insert/update
    rows.  ``apply(old, diff(old, new)) ≡ new`` — the round-trip law the
    catalog entry's oracle states directly.

    Shape: one anti-join of the old snapshot against the changed key
    set plus a union.  The broadcast hint on the key set is
    COUNT-GATED, not unconditional: delta size tracks the table's churn
    rate, which is not bounded by design — a full-churn refresh would
    OOM a forced broadcast (the ``dedup.py`` verify-gate discipline).
    The changeset is lazily checkpointed first, so the scalar count
    materializes work both consumers (anti-join keys + upsert rows)
    need anyway; in the small-delta steady state the hinted broadcast
    keeps the old payload from ever shuffling, and past the gate the
    plan degrades to a shuffled anti-join that AQE still converts when
    runtime stats allow.  The gate makes plan construction eager: the
    count runs when the function is called.
    """
    value_cols = [c for c in changeset.columns if c not in (key, change_col)]
    changeset = changeset.localCheckpoint(eager=False)
    changed_keys = changeset.select(key)
    if changeset.count() <= _APPLY_BROADCAST_MAX_KEYS:
        changed_keys = F.broadcast(changed_keys)
    upserts = changeset.filter(
        F.col(change_col).isin("insert", "update")
    ).select(key, *value_cols)
    kept = old.join(changed_keys, key, "left_anti").select(
        key, *value_cols
    )
    return kept.unionByName(upserts)


def merge_into(
    target: DataFrame,
    source: DataFrame,
    *,
    key: str,
    op_col: str = "op",
    insert: str = "I",
    update: str = "U",
    delete: str = "D",
    sequence_col: str | None = None,
    upsert: bool = False,
) -> DataFrame:
    """ANSI ``MERGE INTO`` as one full-outer shuffle join: apply a CDC
    batch of inserts/updates/deletes to a keyed target.

    ``source`` carries ``key``, ``op_col`` ∈ {insert, update, delete},
    and the target's value columns (null-allowed for deletes).

    **One source row per key is a precondition** — the same one ANSI
    MERGE enforces by erroring when a target row matches twice.  A raw
    CDC feed routinely violates it (several ops for one key inside one
    batch); pass ``sequence_col`` (the feed's LSN / offset / version)
    and the batch is first compacted latest-wins per key with a
    struct-max aggregate — the ``changelog_compact`` primitive fused in
    front of the merge.  Without a sequence column there is no defined
    order to compact by, so the caller must guarantee uniqueness (a
    duplicate-key batch would otherwise emit duplicate keyed rows).

    Strict-MERGE rules (``upsert=False``):

    - matched & delete  → row removed
    - matched & update  → source values win
    - not matched & insert → row added
    - not matched & update/delete → no-op (nothing to change)
    - matched & insert → target row kept unchanged (engines disagree
      here — Delta errors, Hudi upserts; keeping the target is the
      conservative documented choice)

    ``upsert=True`` treats insert and update identically as
    *insert-or-update* (matched → source wins, unmatched → row added),
    which is the changelog-application semantics for feeds carrying
    full row images — and the mode under which latest-wins compaction
    is EQUIVALENT to applying the batch's ops sequentially (under the
    strict rules an insert-then-update key would compact to a lone
    unmatched update and vanish).  Sequenced CDC application wants
    ``upsert=True``; strict mode is for curated single-op batches.

    Physical shape: both sides hash-partition ONCE on the key; every
    merge decision is a row-local CASE over the joined row, and no
    second pass or per-row lookup exists.  At 100 TB the batch is ≪ the
    target, so AQE converts the join to broadcast and the target never
    shuffles; a reused partitioning on ``key`` (bucketed target) makes
    the merge exchange-free entirely.  This is the write-side operator
    that maintains the tables the reference's snapshot source re-reads
    (`TableInputDStream.scala:51-59`).
    """
    value_cols = [c for c in target.columns if c != key]
    if sequence_col is not None:
        # latest-wins compaction: one struct-max hash aggregate (the
        # sequence rides first, so ties are impossible given a feed's
        # monotone per-key sequence) — map-side combinable, same
        # exchange key as the merge join that follows
        source = (
            source.groupBy(key)
            .agg(
                F.max(
                    F.struct(sequence_col, op_col, *value_cols)
                ).alias("__last")
            )
            .select(
                key,
                F.col(f"__last.{op_col}").alias(op_col),
                *[F.col(f"__last.{c}").alias(c) for c in value_cols],
            )
        )
    src = source.select(
        F.col(key),
        F.col(op_col).alias("__op"),
        *[F.col(c).alias(f"__s_{c}") for c in value_cols],
    )
    tgt = target.withColumn("__t", F.lit(True))
    m = tgt.join(src, key, "full_outer")
    matched = F.col("__t").isNotNull()
    op = F.col("__op")
    if upsert:
        keep = op.isNull() | op.isin(insert, update)
        take_src = op.isin(insert, update)
    else:
        keep = (
            op.isNull()
            | (matched & (op == update))
            | (~matched & (op == insert))
            | (matched & (op == insert))
        )
        take_src = (matched & (op == update)) | (
            ~matched & (op == insert)
        )
    return m.filter(keep).select(
        key,
        *[
            F.when(take_src, F.col(f"__s_{c}"))
            .otherwise(F.col(c))
            .alias(c)
            for c in value_cols
        ],
    )
