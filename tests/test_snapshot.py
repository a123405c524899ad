"""SnapshotManager + load_snapshot tests.

Fake-clock tests pin the reference's refresh semantics: epoch-aligned
threshold arithmetic (`TableInputDStream.scala:57`), first-batch refresh
(`scala:58`), same-snapshot-within-TTL (`scala:51-54`), forced re-scan on
restart (`scala:42-45`), and our deliberate divergence — unpersisting the
old snapshot (the reference leaks it at `scala:59`).
"""

import json
import os
import shutil

import pytest

from table_streaming_source_spark.config import SourceConfig
from table_streaming_source_spark.snapshot import (
    SnapshotManager,
    _aligned_threshold,
    load_snapshot,
)


class FakeClock:
    def __init__(self, now_ms=0):
        self.now_ms = now_ms

    def __call__(self):
        return self.now_ms


@pytest.mark.parametrize(
    ("last", "interval", "expected"),
    [
        # threshold = last + interval - last % interval (`scala:57`)
        (0, 5_000, 5_000),
        (1_000, 5_000, 5_000),
        (4_999, 5_000, 5_000),
        (5_000, 5_000, 10_000),
        (7_200, 5_000, 10_000),
        (12_345, 10_000, 20_000),
    ],
)
def test_aligned_threshold(last, interval, expected):
    assert _aligned_threshold(last, interval) == expected


def make_manager(spark, clock, tmp_path=None, interval_ms=5_000):
    calls = {"n": 0}

    def loader():
        calls["n"] += 1
        return spark.range(calls["n"] * 10)

    mgr = SnapshotManager(
        spark, loader, refresh_interval_ms=interval_ms, clock_ms=clock
    )
    return mgr, calls


def test_first_access_refreshes(spark):
    clock = FakeClock(1_234)
    mgr, calls = make_manager(spark, clock)
    df = mgr.current()
    assert calls["n"] == 1
    assert df.count() == 10


def test_same_snapshot_within_ttl(spark):
    clock = FakeClock(1_000)
    mgr, calls = make_manager(spark, clock, interval_ms=5_000)
    first = mgr.current()
    clock.now_ms = 4_000  # before the 5 000 ms aligned boundary
    again = mgr.current()
    assert calls["n"] == 1
    assert again is first  # literally the same cached DataFrame


def test_refresh_after_aligned_boundary(spark):
    clock = FakeClock(1_000)
    mgr, calls = make_manager(spark, clock, interval_ms=5_000)
    first = mgr.current()
    assert first.count() == 10
    clock.now_ms = 5_001  # past the aligned boundary (5 000), not last+ttl (6 000)
    second = mgr.current()
    assert calls["n"] == 2
    assert second.count() == 20
    # old snapshot freed (reference leaks here — `scala:59`)
    assert first.storageLevel.useMemory is False


def test_restart_forces_rescan(spark):
    clock = FakeClock(1_000)
    mgr, calls = make_manager(spark, clock, interval_ms=3_600_000)
    mgr.current()
    clock.now_ms = 2_000  # well within TTL
    mgr.current()
    assert calls["n"] == 1
    mgr.start()  # restart zeroes lastRefreshTime (`scala:42-45`)
    mgr.current()
    assert calls["n"] == 2


def test_stats_report_refreshes_rows_and_duration(spark):
    clock = FakeClock(1_000)

    def loader():
        clock.now_ms += 250  # the scan takes 250 ms on the fake clock
        return spark.range(7)

    mgr = SnapshotManager(
        spark, loader, refresh_interval_ms=5_000, clock_ms=clock, eager=True
    )
    assert mgr.stats() == {
        "refreshes": 0, "rows": None, "last_refresh_ms": 0, "refresh_ms": 0,
    }
    mgr.current()
    assert mgr.stats() == {
        "refreshes": 1, "rows": 7, "last_refresh_ms": 1_000, "refresh_ms": 250,
    }
    clock.now_ms = 5_001
    mgr.current()
    assert mgr.stats() == {
        "refreshes": 2, "rows": 7, "last_refresh_ms": 5_001, "refresh_ms": 250,
    }
    mgr.stop()
    assert mgr.stats()["rows"] is None


def test_stats_rows_unknown_without_eager_count(spark):
    mgr, _ = make_manager(spark, FakeClock(1_000))
    mgr.current()
    assert mgr.stats()["refreshes"] == 1
    assert mgr.stats()["rows"] is None
    mgr.stop()


def test_keyed_refresh_partitions_and_sorts_by_key(spark):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        mgr = SnapshotManager(
            spark,
            lambda: spark.range(100).selectExpr("(id * 37) % 100 AS k", "id"),
            clock_ms=FakeClock(1_000),
            eager=True,
        )
        mgr.key = ["k"]
        df = mgr.current()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    parts = df.rdd.glom().map(lambda rows: [r.k for r in rows]).collect()
    assert len(parts) == 3  # exactly the shuffle partition count
    assert all(keys == sorted(keys) for keys in parts)
    assert sorted(k for keys in parts for k in keys) == list(range(100))
    assert mgr.stats()["rows"] == 100
    mgr.stop()


def test_snapshot_reflects_table_mutation(spark, tmp_path):
    # the e2e refresh behavior of `PipelineTest.java:129-149`: write row,
    # snapshot, append row, refresh → snapshot reflects the append.
    path = str(tmp_path / "tbl.parquet")
    spark.createDataFrame([(1, "Samuel")], "id long, name string").write.parquet(
        path
    )
    clock = FakeClock(1_000)
    mgr = SnapshotManager(
        spark, lambda: spark.read.parquet(path), 5_000, clock_ms=clock
    )
    assert {r.name for r in mgr.current().collect()} == {"Samuel"}
    spark.createDataFrame([(2, "L")], "id long, name string").write.mode(
        "append"
    ).parquet(path)
    clock.now_ms = 3_000
    assert {r.name for r in mgr.current().collect()} == {"Samuel"}  # cached
    clock.now_ms = 6_000
    assert {r.name for r in mgr.current().collect()} == {"Samuel", "L"}
    mgr.stop()


def test_refresh_of_same_source_caches_new_rows(spark, tmp_path):
    """A re-read of the same path has the old snapshot's plan, so Spark
    would share one cache entry between them: the refresh must still
    count and keep cached the rows a writer outside this session added."""
    path = str(tmp_path / "tbl.parquet")
    spark.range(3).write.parquet(path)
    clock = FakeClock(1_000)
    mgr = SnapshotManager(
        spark, lambda: spark.read.parquet(path), 5_000, clock_ms=clock,
        eager=True,
    )
    assert mgr.current().count() == 3
    staged = str(tmp_path / "staged")
    spark.range(3, 5).write.parquet(staged)
    for name in os.listdir(staged):
        if name.endswith(".parquet"):
            shutil.move(os.path.join(staged, name), path)
    clock.now_ms = 6_000
    df = mgr.current()
    assert mgr.stats()["rows"] == 5
    assert df.storageLevel.useMemory  # the swap left the new snapshot cached
    assert sorted(r.id for r in df.collect()) == [0, 1, 2, 3, 4]
    mgr.stop()


def test_load_snapshot_row_field_and_schema(spark, sf_dir):
    from table_streaming_source_spark.avro_schema import avro_json_to_struct

    schema = avro_json_to_struct(
        {
            "type": "record",
            "name": "customer",
            "fields": [
                {"name": "c_name", "type": ["null", "string"]},
                {"name": "c_custkey", "type": "long"},
                {"name": "c_acctbal", "type": ["null", "double"]},
            ],
        }
    )
    df = load_snapshot(
        spark,
        f"{sf_dir}/customer.parquet",
        schema=schema,
        row_field="c_custkey",
    )
    # rowField surfaced first (the key column), schema projected
    assert df.columns == ["c_custkey", "c_name", "c_acctbal"]
    assert df.count() > 0


def test_load_snapshot_missing_field(spark, sf_dir):
    from table_streaming_source_spark.avro_schema import avro_json_to_struct

    schema = avro_json_to_struct(
        {
            "type": "record",
            "name": "r",
            "fields": [{"name": "nope", "type": "long"}],
        }
    )
    with pytest.raises(ValueError, match="nope"):
        load_snapshot(spark, f"{sf_dir}/customer.parquet", schema=schema)


def test_manager_from_config(spark, sf_dir):
    config = SourceConfig(
        name=f"{sf_dir}/nation.parquet",
        schema_json=json.dumps(
            {
                "type": "record",
                "name": "nation",
                "fields": [
                    {"name": "n_nationkey", "type": "int"},
                    {"name": "n_name", "type": ["null", "string"]},
                ],
            }
        ),
        row_field="n_nationkey",
        refresh_interval="5s",
    )
    clock = FakeClock(1_000)
    mgr = SnapshotManager.from_config(spark, config, clock_ms=clock)
    df = mgr.current()
    assert df.columns == ["n_nationkey", "n_name"]
    assert df.count() == 25
    mgr.stop()


def test_manager_from_config_invalid(spark):
    from table_streaming_source_spark.config import ValidationException

    config = SourceConfig(name="t", schema_json="test", refresh_interval="t3")
    with pytest.raises(ValidationException):
        SnapshotManager.from_config(spark, config)


def test_snapshot_diff_classifies_changes(spark):
    from table_streaming_source_spark.snapshot import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        # 1 unchanged, 2 value-updated, 3 deleted, 5 inserted
        [(1, "a", 10.0), (2, "b", 99.0), (4, "d", 40.0), (5, "e", 50.0)],
        "k int, s string, v double",
    )
    got = {r.k: r.change for r in snapshot_diff(old, new, key="k").collect()}
    assert got == {2: "update", 3: "delete", 5: "insert"}


def test_snapshot_diff_compare_cols_subset(spark):
    """Columns outside compare_cols never produce an update row."""
    from table_streaming_source_spark.snapshot import snapshot_diff

    old = spark.createDataFrame([(1, "a", 1.0)], "k int, s string, v double")
    new = spark.createDataFrame([(1, "a", 2.0)], "k int, s string, v double")
    assert snapshot_diff(old, new, key="k", compare_cols=["s"]).count() == 0
    assert (
        snapshot_diff(old, new, key="k", compare_cols=["v"]).head().change
        == "update"
    )


def test_snapshot_apply_roundtrip(spark):
    from table_streaming_source_spark.snapshot import (
        snapshot_apply,
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        # 1 updated, 2 deleted, 4 inserted, 3 unchanged
        [(1, "a", 99.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k int, s string, v double",
    )
    cs = snapshot_diff(old, new, key="k", include_values=True)
    rows = {r.k: r for r in cs.collect()}
    assert rows[2].change == "delete" and rows[2].s is None
    assert rows[1].change == "update" and rows[1].v == 99.0
    assert rows[4].change == "insert"
    got = sorted(
        map(tuple, snapshot_apply(old, cs, key="k").collect())
    )
    want = sorted(map(tuple, new.collect()))
    assert got == want


def test_merge_into_all_rules(spark):
    """Every MERGE rule, including the corner cases the catalog entry's
    synthetic batch never reaches: unmatched update/delete are no-ops,
    and a matched insert keeps the target row (documented choice)."""
    from table_streaming_source_spark.snapshot import merge_into

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k int, s string, v double",
    )
    source = spark.createDataFrame(
        [
            (2, "U", "bb", 99.0),   # matched update → source wins
            (3, "D", None, None),   # matched delete → removed
            (5, "I", "e", 50.0),    # unmatched insert → added
            (6, "U", "x", 1.0),     # unmatched update → no-op
            (7, "D", None, None),   # unmatched delete → no-op
            (4, "I", "zz", 0.0),    # matched insert → target kept
        ],
        "k int, op string, s string, v double",
    )
    got = sorted(map(tuple, merge_into(target, source, key="k").collect()))
    assert got == [
        (1, "a", 10.0),
        (2, "bb", 99.0),
        (4, "d", 40.0),
        (5, "e", 50.0),
    ]


def test_merge_into_empty_batch_is_identity(spark):
    from table_streaming_source_spark.snapshot import merge_into

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k int, s string, v double"
    )
    source = spark.createDataFrame([], "k int, op string, s string, v double")
    got = sorted(map(tuple, merge_into(target, source, key="k").collect()))
    assert got == sorted(map(tuple, target.collect()))
