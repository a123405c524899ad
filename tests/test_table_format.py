"""Contract tests for the minimal log-structured table format
(`table_format.py`): snapshot isolation (uncommitted files invisible),
optimistic-concurrency conflicts, time travel, and lossless manifest
pruning."""

import json
import os

import pytest
from pyspark.sql import functions as F

from table_streaming_source_spark import table_format as TF


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    TF.create_table(path)
    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") % 10).cast("int").alias("bucket"),
        (F.col("id") * 2).alias("v"),
    )
    TF.commit_append(
        spark, path, df.filter("bucket < 5"), stat_cols=["bucket"]
    )
    TF.commit_append(
        spark, path, df.filter("bucket >= 5"), stat_cols=["bucket"]
    )
    return path, df


def test_snapshot_is_exactly_the_committed_union(spark, table):
    path, df = table
    got = TF.read_table(spark, path).count()
    assert got == df.count()


def test_uncommitted_files_are_invisible(spark, table):
    """A data file written WITHOUT a commit (a crashed writer's orphan)
    must not appear in any snapshot — readers resolve the log, never
    the directory."""
    path, df = table
    stray = os.path.join(path, "data", "orphan")
    df.limit(7).write.parquet(stray)  # crashed writer: no commit
    assert TF.read_table(spark, path).count() == df.count()


def test_commit_conflict_raises_and_table_is_untouched(spark, table):
    path, df = table
    head = TF.latest_version(path)
    # two writers both read `head` and race the same next version
    TF.commit_append(
        spark, path, df.limit(3), stat_cols=["bucket"],
        expected_version=head,
    )
    with pytest.raises(TF.CommitConflict):
        TF.commit_append(
            spark, path, df.limit(5), stat_cols=["bucket"],
            expected_version=head,
        )
    # winner's commit landed; loser changed nothing
    assert TF.latest_version(path) == head + 1
    assert TF.read_table(spark, path).count() == df.count() + 3


def test_time_travel_reads_exact_old_snapshots(spark, table):
    path, df = table
    assert TF.read_table(spark, path, version=1).count() == df.filter(
        "bucket < 5"
    ).count()
    v2 = TF.read_table(spark, path, version=2)
    assert v2.count() == df.count()
    # a later commit does not change the old snapshot
    TF.commit_append(spark, path, df.limit(9), stat_cols=["bucket"])
    assert TF.read_table(spark, path, version=2).count() == df.count()


def test_manifest_pruning_skips_files_and_loses_nothing(spark, table):
    path, df = table
    files, kept, total = TF.snapshot_files(path, prune=("bucket", 7, 8))
    assert kept < total, "pruning never skipped a file"
    pruned = (
        TF.read_table(spark, path, prune=("bucket", 7, 8))
        .filter("bucket BETWEEN 7 AND 8")
    )
    direct = df.filter("bucket BETWEEN 7 AND 8")
    assert sorted(r.k for r in pruned.collect()) == sorted(
        r.k for r in direct.collect()
    )


def test_pruning_keeps_files_without_stats(spark, tmp_path):
    """A column missing from the recorded stats must never prune — the
    safe direction when a writer didn't (or couldn't) record footer
    stats for it."""
    path = str(tmp_path / "nostats")
    TF.create_table(path)
    df = spark.range(10).select(F.col("id").alias("k"))
    TF.commit_append(spark, path, df, stat_cols=["k"])
    _, kept, total = TF.snapshot_files(
        path, prune=("not_a_stat_col", 0, 1)
    )
    assert kept == total


def test_format_entry_prunes_more_than_half_the_files(spark, sf_dir):
    """The catalog entry's pruning claim, asserted from the manifest:
    the bucket ∈ [5, 9] read touches commits 1 and 2 only — at most
    half of the four commits' files."""
    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark.plans.common import t

    path = _scratch.scratch_dir("format_pruning_test", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 16).cast("int").alias("bucket"),
        "o_totalprice",
    )
    for i in range(4):
        TF.commit_append(
            spark, path,
            o.filter(
                (F.col("bucket") >= 4 * i) & (F.col("bucket") < 4 * i + 4)
            ),
            stat_cols=["bucket"],
        )
    _, kept, total = TF.snapshot_files(path, prune=("bucket", 5, 9))
    assert total >= 4
    assert kept <= total / 2, (kept, total)


def test_compact_preserves_content_and_time_travel(spark, table):
    path, df = table
    before_files, _, total_before = TF.snapshot_files(path)
    v = TF.commit_compact(spark, path, stat_cols=["bucket"])
    files, kept, total = TF.snapshot_files(path)
    assert total < total_before  # fewer, larger files
    got = TF.read_table(spark, path)
    assert sorted(r.k for r in got.collect()) == sorted(
        r.k for r in df.collect()
    )
    # time travel still resolves the pre-compaction snapshot
    assert TF.read_table(spark, path, version=v - 1).count() == df.count()


def test_vacuum_sweeps_orphans_keeps_retained_snapshots(spark, table):
    path, df = table
    # lost-race orphan: data files written, commit never landed
    import os as _os

    stray = _os.path.join(path, "data", "lost-race")
    df.limit(5).write.parquet(stray)
    TF.commit_compact(spark, path, stat_cols=["bucket"])
    removed, kept = TF.vacuum(path, retain_versions=2)
    assert removed > 0  # the orphan (at least) went
    # both retained snapshots still read clean
    head = TF.latest_version(path)
    assert TF.read_table(spark, path, version=head).count() == df.count()
    assert TF.read_table(spark, path, version=head - 1).count() == (
        df.count()
    )
    # vacuum with retention 1 retires the pre-compaction files
    removed2, _ = TF.vacuum(path, retain_versions=1)
    assert removed2 > 0
    assert TF.read_table(spark, path).count() == df.count()


def test_merge_rewrites_only_stat_overlapping_files(spark, sf_dir):
    """Copy-on-write minimality: a CDC batch touching only keys <= 600
    over a key-clustered table must rewrite far fewer files than the
    snapshot holds — the manifest's per-file key ranges prove the other
    files cannot contain a changed key."""
    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark.plans.common import t

    path = _scratch.scratch_dir("format_merge_test", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    TF.commit_append(
        spark, path,
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        ),
        stat_cols=["o_orderkey"],
    )
    changes = o.filter("o_orderkey <= 600 AND o_orderkey % 4 = 0").select(
        "o_orderkey",
        F.lit("U").alias("op"),
        (F.col("o_totalprice") + 1.0).alias("o_totalprice"),
    )
    _v, rewritten, total = TF.commit_merge(
        spark, path, changes, key="o_orderkey", stat_cols=["o_orderkey"]
    )
    assert total >= 4
    assert rewritten <= total / 2, (rewritten, total)
    # value check: only the touched keys changed
    got = TF.read_table(spark, path)
    assert got.count() == o.count()
    changed = got.join(o.withColumnRenamed("o_totalprice", "orig"),
                       "o_orderkey")
    n_diff = changed.filter("o_totalprice <> orig").count()
    assert n_diff == changes.count()


def test_format_tail_is_incremental_across_restarts(spark, sf_dir, tmp_path):
    """The commit-version offset must survive the checkpoint: after a
    first drain of 3 commits, a 4th commit and a RESTARTED query (same
    checkpoint) emit only the 4th commit's rows — no re-emission, no
    loss."""
    from pyspark.sql import functions as F

    from table_streaming_source_spark.plans.common import t
    from table_streaming_source_spark.streaming.format_tail import (
        register_format_tail,
    )

    path = str(tmp_path / "tbl")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    for i in range(3):
        TF.commit_append(
            spark, path, o.filter(F.col("o_orderkey") % 4 == i),
            stat_cols=["o_orderkey"],
        )
    register_format_tail(spark)

    def drain():
        stream = spark.readStream.format("format_tail").option(
            "path", path
        ).load()
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()

    drain()
    first = spark.read.parquet(out).count()
    assert first == o.filter("o_orderkey % 4 < 3").count()
    TF.commit_append(
        spark, path, o.filter("o_orderkey % 4 = 3"),
        stat_cols=["o_orderkey"],
    )
    drain()  # restart from the same checkpoint
    total = spark.read.parquet(out).count()
    assert total == o.count()  # exactly the 4th slice added, no dupes


def test_zorder_prunes_on_both_dimensions(spark, sf_dir):
    """Z-order's promise, measured from the manifest: files clustered
    on the morton interleave have tight ranges in BOTH dimensions, so
    a range read on EITHER prunes files; single-key clustering (sorted
    by d1 alone) prunes d1 but NOT d2."""
    from pyspark.sql import functions as F

    from table_streaming_source_spark.operators.hof import morton_key
    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark.plans.common import t

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 64).cast("int").alias("d1"),
        (F.col("o_custkey") % 64).cast("int").alias("d2"),
    ).withColumn("zkey", morton_key(F.col("d1"), F.col("d2"), bits=6))

    def build(df, order_col):
        path = _scratch.scratch_dir(
            f"format_z_{order_col}", sf_dir, fresh=True
        )
        TF.create_table(path)
        TF.commit_append(
            spark, path,
            df.repartitionByRange(16, order_col).sortWithinPartitions(
                order_col
            ),
            stat_cols=["d1", "d2"],
        )
        return path

    zpath = build(o, "zkey")
    dpath = build(o, "d1")
    for col in ("d1", "d2"):
        _, kept, total = TF.snapshot_files(zpath, prune=(col, 8, 15))
        assert kept < total, f"z-order failed to prune on {col}"
    # the single-key layout prunes its own key but not the other
    _, kept_d1, total_d1 = TF.snapshot_files(dpath, prune=("d1", 8, 15))
    assert kept_d1 < total_d1
    _, kept_d2, total_d2 = TF.snapshot_files(dpath, prune=("d2", 8, 15))
    assert kept_d2 == total_d2, "d1-sorted layout should NOT prune d2"


def test_incremental_read_returns_only_the_range(spark, table):
    """(from, to] semantics: files from commits ≤ from_version are
    excluded, each emitted row is attributed to the commit that
    introduced its file."""
    path, df = table  # v1: bucket<5, v2: bucket>=5
    inc = TF.read_incremental(spark, path, from_version=1, to_version=2)
    rows = inc.collect()
    assert all(r["commit_version"] == 2 for r in rows)
    assert sorted(r["k"] for r in rows) == sorted(
        r["k"] for r in df.filter("bucket >= 5").collect()
    )


def test_incremental_read_empty_range_raises(spark, table):
    path, _ = table
    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty incremental range"):
        TF.read_incremental(spark, path, from_version=2, to_version=2)


def test_incremental_read_reemits_rewrites_carryover(spark, table):
    """A full-snapshot commit (compact) inside the range re-emits the
    rows it rewrote — the documented changelog-scan carryover caveat:
    stated, not hidden."""
    path, df = table
    TF.commit_compact(spark, path, stat_cols=["bucket"])  # v3 rewrites all
    inc = TF.read_incremental(spark, path, from_version=2, to_version=3)
    rows = inc.collect()
    assert all(r["commit_version"] == 3 for r in rows)
    assert len(rows) == df.count()


def test_incremental_io_is_proportional_to_the_change(spark, table):
    """Manifest-only resolution: the (1, 2] range opens only commit 2's
    files — never the whole table's."""
    path, _ = table
    pairs = TF.incremental_files(path, from_version=1, to_version=2)
    all_files = TF._snapshot_file_dicts(path, 2)
    assert 0 < len(pairs) < len(all_files)
    assert {v for v, _ in pairs} == {2}


def test_cluster_evolution_prunes_new_layout_keeps_old(spark, sf_dir):
    """The format_cluster_evolution claim, asserted from the manifest:
    a bucket-range read keeps EVERY era-1 file (no bucket stats —
    pruning cannot prove absence) and prunes era-2 files outside the
    range."""
    from table_streaming_source_spark.plans import _scratch
    from table_streaming_source_spark.plans.common import t

    path = _scratch.scratch_dir("format_cluster_evo_test", sf_dir, fresh=True)
    TF.create_table(path)
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 16).cast("int").alias("bucket"),
        "o_totalprice",
    )
    TF.commit_append(
        spark, path,
        o.filter(F.col("o_orderkey") % 2 == 0).repartitionByRange(4, "o_orderkey"),
        stat_cols=["o_orderkey"],
    )
    era1 = {f["path"] for f in TF._snapshot_file_dicts(path, 1)}
    TF.commit_append(
        spark, path,
        o.filter(F.col("o_orderkey") % 2 == 1).repartitionByRange(4, "bucket"),
        stat_cols=["bucket"],
    )
    kept_paths, kept, total = TF.snapshot_files(path, prune=("bucket", 3, 5))
    import os as _os

    kept_rel = {_os.path.relpath(p, path) for p in kept_paths}
    # every era-1 file survives (no stats for the prune column)
    assert era1 <= kept_rel
    # at least one era-2 file is pruned (4 range files cover 16 buckets;
    # a 3-bucket range cannot touch them all)
    assert kept < total, (kept, total)


def test_checked_commit_rejects_before_any_write(spark, tmp_path):
    """A violating batch is rejected with ZERO files staged (the check
    runs before the write), and the table head is untouched."""
    import os as _os

    path = str(tmp_path / "ck")
    TF.create_table(path)
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") - 5).alias("v")
    )
    with pytest.raises(TF.ConstraintViolation, match="positive_v"):
        TF.commit_append_checked(
            spark, path, df,
            stat_cols=["k"], constraints=[("positive_v", "v > 0")],
        )
    assert TF.latest_version(path) == 0
    files = [
        n
        for _r, _d, ns in _os.walk(_os.path.join(path, "data"))
        for n in ns
        if n.endswith(".parquet")
    ]
    assert files == []  # rejection cost zero write I/O


def test_checked_commit_publishes_clean_batches(spark, tmp_path):
    path = str(tmp_path / "ck2")
    TF.create_table(path)
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") + 1).alias("v")
    )
    v = TF.commit_append_checked(
        spark, path, df,
        stat_cols=["k"],
        constraints=[("positive_v", "v > 0"), ("k_bound", "k < 100")],
    )
    assert v == 1
    assert TF.read_table(spark, path).count() == 10


def test_staged_commit_is_invisible_until_published(spark, table):
    path, df = table
    TF.commit_stage(
        spark, path, df.limit(5).select("k", "bucket", "v"),
        stat_cols=["bucket"], audit_id="aud1",
    )
    assert TF.latest_version(path) == 2  # unchanged by staging
    assert TF.read_table(spark, path).count() == df.count()
    # the audit view sees table + staged
    assert (
        TF.read_staged(spark, path, audit_id="aud1").count()
        == df.count() + 5
    )
    TF.commit_publish(path, audit_id="aud1")
    assert TF.latest_version(path) == 3
    assert TF.read_table(spark, path).count() == df.count() + 5


def test_abandoned_stage_leaves_orphans_for_vacuum(spark, table):
    import os as _os

    path, df = table
    TF.commit_stage(
        spark, path, df.limit(3).select("k", "bucket", "v"),
        stat_cols=["bucket"], audit_id="aud2",
    )
    TF.commit_abandon(path, audit_id="aud2")
    with pytest.raises(FileNotFoundError):
        TF.read_staged(spark, path, audit_id="aud2")
    removed, kept = TF.vacuum(path, retain_versions=10)
    assert removed >= 1  # the abandoned files swept
    assert TF.read_table(spark, path).count() == df.count()


def test_publish_loses_race_like_any_commit(spark, table):
    path, df = table
    TF.commit_stage(
        spark, path, df.limit(2).select("k", "bucket", "v"),
        stat_cols=["bucket"], audit_id="aud3",
    )
    # another writer lands version 3 first
    TF.commit_append(
        spark, path, df.limit(1).select("k", "bucket", "v"),
        stat_cols=["bucket"],
    )
    with pytest.raises(TF.CommitConflict):
        TF.commit_publish(path, audit_id="aud3")


def test_commit_race_keeps_the_winner(tmp_path, monkeypatch):
    """A competing writer publishes the same version just before this
    writer's publish: this writer gets CommitConflict, the competitor's
    commit stays intact, and no scratch file is left in the log."""
    path = str(tmp_path / "tbl")
    TF.create_table(path)
    final = os.path.join(path, "_log", "1.json")
    winner = {"version": 1, "files": [], "parent": 0, "writer": "winner"}
    real_link = os.link

    def race_then_link(src, dst):
        if dst == final:  # the winner lands first
            with open(final, "w") as fh:
                json.dump(winner, fh)
        real_link(src, dst)

    monkeypatch.setattr(TF.os, "link", race_then_link)
    with pytest.raises(TF.CommitConflict):
        TF._write_commit(
            path, 1, {"version": 1, "files": [], "parent": 0, "writer": "loser"}
        )
    monkeypatch.undo()
    with open(final) as fh:
        assert json.load(fh) == winner
    assert sorted(os.listdir(os.path.join(path, "_log"))) == [
        "0.json", "1.json",
    ]


# ---------------------------------------------------------------------------
# round 7: MOR deletes, shallow clone, row lineage, expiry, 3-D z-order,
# WAP-safe vacuum
# ---------------------------------------------------------------------------


def test_delete_keys_writes_no_data_files_and_read_subtracts(
    spark, table
):
    path, df = table
    before = {
        os.path.relpath(p, path)
        for p in TF.snapshot_files(path)[0]
    }
    TF.commit_delete_keys(
        spark, path, df.filter("k % 10 = 0").select("k"), key="k"
    )
    commit = TF._read_commit(path, TF.latest_version(path))
    # data file list untouched — the delete landed as a delete file only
    assert {f["path"] for f in commit["files"]} == before
    assert len(commit["deletes"]) == 1
    got = TF.read_table_mor(spark, path)
    assert got.count() == df.filter("k % 10 <> 0").count()
    assert got.filter("k % 10 = 0").count() == 0


def test_mor_read_anti_joins_only_overlapping_files(spark, tmp_path):
    """Files whose manifest key range is disjoint from every delete
    range must take the no-join path — the merge-on-read cost is
    proportional to the files a delete can touch."""
    path = str(tmp_path / "mor")
    TF.create_table(path)
    df = spark.range(1000).select(F.col("id").alias("k"))
    TF.commit_append(
        spark, path,
        df.repartitionByRange(8, "k").sortWithinPartitions("k"),
        stat_cols=["k"],
    )
    TF.commit_delete_keys(
        spark, path, df.filter("k < 100 and k % 3 = 0"), key="k"
    )
    commit = TF._read_commit(path, TF.latest_version(path))
    dr = commit["deletes"][0]["stats"]["k"]
    overlapping = [
        f for f in commit["files"]
        if f["stats"]["k"][0] <= dr[1] and dr[0] <= f["stats"]["k"][1]
    ]
    # the 8-file range layout localizes keys < 100 to one file
    assert len(overlapping) == 1
    assert (
        TF.read_table_mor(spark, path).count()
        == 1000 - df.filter("k < 100 and k % 3 = 0").count()
    )


def test_compact_materializes_mor_deletes(spark, table):
    path, df = table
    TF.commit_delete_keys(
        spark, path, df.filter("k % 10 = 0").select("k"), key="k"
    )
    # compaction reads the MOR view and publishes a delete-free snapshot
    v = TF.commit_compact(spark, path, stat_cols=["k"])
    commit = TF._read_commit(path, v)
    assert commit.get("deletes", []) == []
    expected = df.filter("k % 10 <> 0").count()
    # after compaction the plain and MOR reads agree: deletes are
    # materialized in the rewritten files, not just cleared
    for got in (
        TF.read_table(spark, path),
        TF.read_table_mor(spark, path),
    ):
        assert got.count() == expected
        assert got.filter("k % 10 = 0").count() == 0


def test_append_after_delete_does_not_resurrect(spark, table):
    """The round-7 resurrection bug: a commit AFTER an equality delete
    must keep the delete outstanding — and the new commit's own rows
    (higher data sequence number) survive even on deleted keys."""
    path, df = table
    TF.commit_delete_keys(
        spark, path, df.filter("k % 10 = 0").select("k"), key="k"
    )
    # re-insert two previously-deleted keys plus three fresh ones
    extra = spark.range(5).select(
        F.when(F.col("id") < 2, F.col("id") * 10)
        .otherwise(F.col("id") + 1000)
        .alias("k"),
        F.lit(1).cast("int").alias("bucket"),
        F.lit(-1).cast("bigint").alias("v"),
    )
    TF.commit_append(spark, path, extra, stat_cols=["k"])
    got = TF.read_table_mor(spark, path)
    assert got.count() == 95  # 100 - 10 deleted + 5 appended
    # the re-inserted copies are the POST-delete rows, exactly once
    hits = got.filter("k in (0, 10)").collect()
    assert len(hits) == 2 and all(r["v"] == -1 for r in hits)


def test_merge_preserves_deletes_on_untouched_files(spark, tmp_path):
    """commit_merge must read affected files THROUGH outstanding
    equality deletes and carry the delete files forward for the files
    it does not rewrite."""
    path = str(tmp_path / "mor_merge")
    TF.create_table(path)
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    TF.commit_append(
        spark, path,
        df.repartitionByRange(8, "k").sortWithinPartitions("k"),
        stat_cols=["k"],
    )
    TF.commit_delete_keys(
        spark, path, df.filter("k < 100 and k % 3 = 0").select("k"),
        key="k",
    )
    # the merge touches only high keys; the deleted-low file is untouched
    changes = df.filter("k >= 900 and k < 910").select(
        "k", (F.col("v") + 1).alias("v"), F.lit("U").alias("op")
    )
    _v, rewritten, total = TF.commit_merge(
        spark, path, changes, key="k", stat_cols=["k"]
    )
    assert rewritten < total
    got = TF.read_table_mor(spark, path)
    assert got.count() == 1000 - 34
    assert got.filter("k < 100 and k % 3 = 0").count() == 0
    assert (
        got.filter("k >= 900 and k < 910 and v = k * 2 + 1").count()
        == 10
    )


def test_vacuum_keeps_outstanding_delete_files(spark, table):
    path, df = table
    TF.commit_delete_keys(
        spark, path, df.filter("k % 10 = 0").select("k"), key="k"
    )
    TF.commit_append(spark, path, df.limit(1), stat_cols=["bucket"])
    TF.vacuum(path, retain_versions=2)
    # the delete file is part of the retained snapshots — sweeping it
    # would resurrect the deleted rows
    assert TF.read_table_mor(spark, path).count() == 91


def test_shallow_clone_diverges_without_copy(spark, tmp_path):
    main = str(tmp_path / "main")
    clone = str(tmp_path / "clone")
    TF.create_table(main)
    df = spark.range(100).select(F.col("id").alias("k"))
    TF.commit_append(spark, main, df.filter("k < 50"), stat_cols=["k"])
    TF.shallow_clone(main, clone)
    # zero data files under the clone's own data dir
    clone_files = [
        n
        for _r, _d, names in os.walk(os.path.join(clone, "data"))
        for n in names
        if n.endswith(".parquet")
    ]
    assert clone_files == []
    TF.commit_append(
        spark, clone, df.filter("k >= 50"), stat_cols=["k"]
    )
    assert TF.read_table(spark, clone).count() == 100
    # the source never sees clone commits
    assert TF.read_table(spark, main).count() == 50


def test_clone_vacuum_never_touches_source_files(spark, tmp_path):
    main = str(tmp_path / "m2")
    clone = str(tmp_path / "c2")
    TF.create_table(main)
    df = spark.range(60).select(F.col("id").alias("k"))
    TF.commit_append(spark, main, df, stat_cols=["k"])
    TF.shallow_clone(main, clone)
    TF.commit_append(spark, clone, df.limit(5), stat_cols=["k"])
    TF.vacuum(clone, retain_versions=10)
    # every source data file still present and readable via the clone
    assert TF.read_table(spark, clone).count() == 65
    assert TF.read_table(spark, main).count() == 60


def test_row_ids_minted_once_and_preserved_through_merge(
    spark, tmp_path
):
    path = str(tmp_path / "lineage")
    TF.create_table(path)
    df = spark.range(1, 41).select(
        F.col("id").alias("k"), (F.col("id") * 10.0).alias("v")
    )
    TF.commit_append(
        spark, path, df, stat_cols=["k"], row_ids_from="k"
    )
    v1 = {
        r["k"]: r["_row_id"]
        for r in TF.read_table(spark, path).collect()
    }
    changes = (
        df.filter("k % 2 = 0")
        .select("k", F.lit("U").alias("op"), (F.col("v") + 1).alias("v"))
        .unionByName(
            spark.range(100, 103).select(
                F.col("id").alias("k"),
                F.lit("I").alias("op"),
                F.lit(0.0).alias("v"),
            )
        )
    )
    TF.commit_merge(
        spark, path, changes, key="k", stat_cols=["k"],
        row_id_col="_row_id",
    )
    v2 = {
        r["k"]: r["_row_id"]
        for r in TF.read_table(spark, path).collect()
    }
    # survivors (updated or untouched) keep their minted id verbatim
    for k, rid in v1.items():
        assert v2[k] == rid, k
    # inserts mint NEW ids under the merge commit's version
    assert all(v2[k] not in v1.values() for k in (100, 101, 102))
    # ids are stable, unique names
    assert len(set(v2.values())) == len(v2)


def test_expire_snapshots_truncates_history_keeps_head(spark, table):
    path, df = table
    TF.commit_append(spark, path, df.limit(3), stat_cols=["bucket"])
    head = TF.latest_version(path)
    before = TF.read_table(spark, path).count()
    removed = TF.expire_snapshots(path, keep_last=2)
    assert removed > 0
    assert TF.latest_version(path) == head
    assert TF.read_table(spark, path).count() == before
    # time travel to the expired prefix now raises
    with pytest.raises(FileNotFoundError):
        TF.read_table(spark, path, version=0)
    # the retained horizon still reads
    TF.read_table(spark, path, version=head - 1)


def test_zorder3_prunes_on_all_three_dimensions(spark, tmp_path):
    from table_streaming_source_spark.operators.hof import morton3_key

    path = str(tmp_path / "z3")
    TF.create_table(path)
    df = spark.range(4096).select(
        (F.col("id") % 16).cast("int").alias("d1"),
        ((F.col("id") / 16).cast("int") % 16).cast("int").alias("d2"),
        ((F.col("id") / 256).cast("int") % 16).cast("int").alias("d3"),
    ).withColumn(
        "zkey", morton3_key(F.col("d1"), F.col("d2"), F.col("d3"), bits=4)
    )
    TF.commit_append(
        spark, path,
        df.repartitionByRange(16, "zkey").sortWithinPartitions("zkey"),
        stat_cols=["d1", "d2", "d3"],
    )
    for dim in ("d1", "d2", "d3"):
        _kept, n_kept, n_total = TF.snapshot_files(
            path, prune=(dim, 0, 3)
        )
        assert n_kept < n_total, dim
        got = (
            TF.read_table(spark, path, prune=(dim, 0, 3))
            .filter(f"{dim} between 0 and 3")
            .count()
        )
        assert got == df.filter(f"{dim} between 0 and 3").count()


def test_vacuum_retains_open_audit_staged_files(spark, table):
    """A staged-but-unpublished WAP commit's data files are NOT orphans:
    vacuum during an open audit must keep them so a later publish
    cannot promote a manifest pointing at deleted files."""
    path, df = table
    TF.commit_stage(
        spark, path, df.limit(9), stat_cols=["bucket"],
        audit_id="audit-1",
    )
    TF.vacuum(path, retain_versions=1)
    # audit still readable, publish still succeeds, content intact
    assert TF.read_staged(spark, path, audit_id="audit-1").count() == (
        df.count() + 9
    )
    TF.commit_publish(path, audit_id="audit-1")
    assert TF.read_table(spark, path).count() == df.count() + 9


def test_merge_overlap_resolution_collects_only_file_ids(
    spark, tmp_path, monkeypatch
):
    """The Spark-side overlap join must never collect the change-key
    set to the driver — assert the only collect is the affected-file-id
    frame (bounded by file count)."""
    path = str(tmp_path / "mergecollect")
    TF.create_table(path)
    df = spark.range(1, 1001).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    TF.commit_append(
        spark, path,
        df.repartitionByRange(8, "k").sortWithinPartitions("k"),
        stat_cols=["k"],
    )
    collected_schemas = []
    from pyspark.sql import DataFrame as _DF

    orig = _DF.collect

    def spy(self):
        collected_schemas.append([f.name for f in self.schema.fields])
        return orig(self)

    monkeypatch.setattr(_DF, "collect", spy)
    changes = df.filter("k < 120").select(
        "k", F.lit("U").alias("op"), (F.col("v") + 1).alias("v")
    )
    _v, rewritten, total = TF.commit_merge(
        spark, path, changes, key="k", stat_cols=["k"]
    )
    assert rewritten < total
    for cols in collected_schemas:
        assert cols == ["__file_idx"], cols


def test_maintenance_commit_is_noop_to_tail(spark, tmp_path):
    """Compaction (flagged ``maintenance``) must not re-emit rewritten
    rows into a live tail, and an append after it must still emit."""
    from table_streaming_source_spark.streaming.format_tail import (
        _commit_new_files,
        register_format_tail,
    )

    path = str(tmp_path / "tbl")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    TF.create_table(path)
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    TF.commit_append(spark, path, df.filter("k < 50"), stat_cols=["k"])
    TF.commit_append(spark, path, df.filter("k >= 50"), stat_cols=["k"])
    register_format_tail(spark)

    def drain():
        stream = spark.readStream.format("format_tail").option(
            "path", path
        ).load()
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()

    drain()
    assert spark.read.parquet(out).count() == 100
    v = TF.commit_compact(spark, path, stat_cols=["k"])
    assert TF._read_commit(path, v).get("maintenance") is True
    assert _commit_new_files(path, v) == []
    TF.vacuum(path, retain_versions=1)
    TF.commit_append(spark, path, df.limit(7), stat_cols=["k"])
    drain()
    # exactly the 7 new rows — nothing re-emitted by the compaction
    assert spark.read.parquet(out).count() == 107


def _new_files_by_diff(path: str, version: int) -> list[str]:
    """The pre-round-15 snapshot-diff derivation of a commit's new
    files — the reference the seq fast path must byte-match."""
    import os as _os

    commit = TF._read_commit(path, version)
    if commit.get("maintenance"):
        return []
    cur = {f["path"] for f in TF._snapshot_file_dicts(path, version)}
    base = commit["parent"] if commit["parent"] is not None else (
        commit.get("prev")
    )
    prev = (
        {f["path"] for f in TF._snapshot_file_dicts(path, base)}
        if base is not None
        else set()
    )
    return [_os.path.join(path, p) for p in sorted(cur - prev)]


def test_commit_new_files_seq_fast_path_matches_snapshot_diff(
    spark, tmp_path
):
    """Round 15: `_commit_new_files` reads the new-file set off the
    commit payload's data sequence numbers (O(commit)) instead of two
    full snapshot resolves (O(history) per tail micro-batch).  Pin the
    equivalence across every commit kind, and pin the guarded
    fallbacks: a clone's v1 (entries carry the SOURCE's seq) must
    still emit everything, a maintenance commit nothing."""
    from table_streaming_source_spark.streaming.format_tail import (
        _commit_new_files,
    )

    path = str(tmp_path / "tbl")
    TF.create_table(path)
    df = spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    TF.commit_append(spark, path, df.filter("k < 30"), stat_cols=["k"])
    TF.commit_append(spark, path, df.filter("k >= 30"), stat_cols=["k"])
    changes = df.filter("k % 7 = 0").select(
        "k", F.lit("U").alias("op"), (F.col("v") + 1).alias("v")
    )
    TF.commit_merge(spark, path, changes, key="k", stat_cols=["k"])
    TF.commit_delete_keys(
        spark, path, df.filter("k % 11 = 0").select("k"), key="k"
    )
    TF.commit_compact(spark, path, stat_cols=["k"])
    TF.commit_append(spark, path, df.limit(5), stat_cols=["k"])
    for v in range(TF.latest_version(path) + 1):
        assert _commit_new_files(path, v) == _new_files_by_diff(path, v), v
    # clone v1: no logical predecessor, entries keep the source's seq —
    # the fast path must NOT fire (it would return []); the diff rule
    # emits the whole referenced snapshot
    clone = str(tmp_path / "clone")
    TF.shallow_clone(path, clone)
    got = _commit_new_files(clone, 1)
    assert got == _new_files_by_diff(clone, 1)
    assert len(got) == len(TF._snapshot_file_dicts(clone, 1))
    assert got, "clone v1 must emit its referenced files"


# ---------------------------------------------------------------------------
# named refs: branches and tags
# ---------------------------------------------------------------------------


def test_branch_commits_are_isolated_per_ref(spark, table):
    path, df = table
    v_base = TF.latest_version(path)
    TF.create_tag(path, "rel", at=v_base)
    TF.create_branch(path, "audit")
    TF.commit_append_branch(
        spark, path, "audit",
        df.select("k", "bucket", (F.col("v") + 1000).alias("v")),
        stat_cols=["bucket"],
    )
    TF.commit_append_branch(
        spark, path, "main", df.limit(10), stat_cols=["bucket"]
    )
    n = df.count()
    assert TF.read_ref(spark, path, "rel").count() == n
    assert TF.read_ref(spark, path, "audit").count() == 2 * n
    assert TF.read_ref(spark, path, "main").count() == n + 10
    # the linear head is the last commit regardless of branch — but
    # main's POINTER is what read_ref follows
    assert TF.resolve_ref(path, "main") == TF.latest_version(path)


def test_tags_are_immutable_and_refs_unique(spark, table):
    path, df = table
    TF.create_tag(path, "rel")
    with pytest.raises(ValueError, match="already exists"):
        TF.create_branch(path, "rel")
    with pytest.raises(ValueError, match="immutable"):
        TF.commit_append_branch(
            spark, path, "rel", df.limit(1), stat_cols=["bucket"]
        )
    with pytest.raises(ValueError, match="unknown"):
        TF.read_ref(spark, path, "nope")


def test_fast_forward_requires_ancestry(spark, table):
    path, df = table
    TF.create_branch(path, "audit")
    v = TF.commit_append_branch(
        spark, path, "audit", df.limit(5), stat_cols=["bucket"]
    )
    # main has not diverged -> fast-forward promotes the audit work
    assert TF.fast_forward(path, "main", "audit") == v
    assert TF.read_ref(spark, path, "main").count() == df.count() + 5
    # now diverge: audit and main each take a commit
    TF.commit_append_branch(
        spark, path, "audit", df.limit(1), stat_cols=["bucket"]
    )
    TF.commit_append_branch(
        spark, path, "main", df.limit(2), stat_cols=["bucket"]
    )
    with pytest.raises(ValueError, match="not an ancestor"):
        TF.fast_forward(path, "main", "audit")


def test_vacuum_pins_every_ref_snapshot(spark, table):
    path, df = table
    TF.create_tag(path, "rel")  # pins the 2-commit base snapshot
    # push the head far past the retention window with compactions
    for _ in range(3):
        TF.commit_compact(spark, path, stat_cols=["bucket"])
    removed, kept = TF.vacuum(path, retain_versions=1)
    # the tag's files must survive even though its version is outside
    # the retain window
    assert TF.read_ref(spark, path, "rel").count() == df.count()


def test_expire_clamps_to_pinned_refs(spark, table):
    """A branch/tag below the expiry horizon pins its history: expiry
    must stop at the oldest pinned version, never strand a ref."""
    path, df = table
    TF.create_tag(path, "rel1", at=1)
    TF.commit_append(spark, path, df.limit(3), stat_cols=["bucket"])
    # the tag pins v1 — only the empty v0 below it may expire
    assert TF.expire_snapshots(path, keep_last=1) == 1
    assert TF.read_ref(spark, path, "rel1").count() == 50
    # vacuum over the pinned history keeps resolving too
    TF.vacuum(path, retain_versions=1)
    assert TF.read_ref(spark, path, "rel1").count() == 50
    # dropping the tag unpins v1 (main stays pinned at v2)
    TF.drop_ref(path, "rel1")
    assert TF.expire_snapshots(path, keep_last=1) == 1
    with pytest.raises(FileNotFoundError):
        TF._read_commit(path, 1)
    assert TF.read_table(spark, path).count() == 103
    assert TF.read_ref(spark, path, "main").count() == 100


def test_fast_forward_across_full_snapshot_commits(spark, table):
    """Compaction (or merge / delete_keys) cuts the physical parent
    chain; ancestry must follow the recorded logical predecessor so a
    branch can still fast-forward across it on linear history."""
    path, df = table
    TF.create_branch(path, "dev")  # at v2; pins main at v2
    TF.commit_compact(spark, path, stat_cols=["bucket"])  # v3, parent None
    TF.commit_append(spark, path, df.limit(3), stat_cols=["bucket"])
    assert TF.fast_forward(path, "dev", 4) == 4
    assert TF.read_ref(spark, path, "dev").count() == 103


def test_partition_evolution_prunes_per_spec(spark, tmp_path):
    """Two specs in one table: bucket-spec files prune to exactly one
    bucket for a point read; month-spec files fall back to stats."""
    from pyspark.sql import functions as F

    from table_streaming_source_spark import table_format as TF

    path = str(tmp_path / "tbl")
    TF.create_table(path)
    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        (F.col("id") % 50).alias("v"),
        F.to_date(F.lit("2024-03-01")).alias("d"),
    )
    TF.commit_append_spec(
        spark, path, df.filter("id < 200"),
        spec={"col": "d", "transform": "month"}, stat_cols=["v"],
    )
    TF.commit_append_spec(
        spark, path, df.filter("id >= 200"),
        spec={"col": "v", "transform": "bucket", "param": 8},
        stat_cols=["v"],
    )
    kept, n_kept, n_total = TF.snapshot_files_point(path, "v", 7)
    assert n_kept < n_total  # bucket pruning really dropped files
    # every surviving commit-2 file carries the matching bucket value
    want = str(TF._bucket_of(7, 8))
    c2 = TF._read_commit(path, 2)
    kept_set = set(kept)
    import os
    for f in c2["files"]:
        full = os.path.join(path, f["path"])
        if full in kept_set:
            assert f["partition"] == want
        else:
            assert f["partition"] != want
    got = TF.read_table_point(spark, path, "v", 7)
    rows = got.collect()
    # v = 7 occurs for id in {7, 57, ..., 357}: 8 rows, both commits
    assert len(rows) == 8
    assert all(r.v == 7 for r in rows)
    assert "_pval" not in got.columns


def test_partition_transforms_identity_truncate_month(spark, tmp_path):
    from pyspark.sql import functions as F

    from table_streaming_source_spark import table_format as TF

    path = str(tmp_path / "tbl")
    TF.create_table(path)
    df = spark.range(0, 30).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("m")
    )
    TF.commit_append_spec(
        spark, path, df,
        spec={"col": "m", "transform": "truncate", "param": 100},
        stat_cols=[],
    )
    # truncate(100) of m = 150 → partition "100"
    assert TF._transform_point(
        {"col": "m", "transform": "truncate", "param": 100}, 150
    ) == "100"
    kept, n_kept, n_total = TF.snapshot_files_point(path, "m", 150)
    assert n_kept <= n_total
    rows = TF.read_table_point(spark, path, "m", 150).collect()
    assert [r.k for r in rows] == [15]
    # month transform point form
    assert TF._transform_point(
        {"col": "d", "transform": "month"}, "2024-03-17"
    ) == "2024-03"
    import pytest as _pytest
    with _pytest.raises(ValueError, match="transform"):
        TF.commit_append_spec(
            spark, path, df, spec={"col": "m", "transform": "nope"},
            stat_cols=[],
        )


def test_streaming_backfill_on_branch_isolates_main(spark, tmp_path):
    """The WAP-on-a-branch production pattern (verdict demand 8b): a
    STREAMING writer lands micro-batches on a 'backfill' branch while
    main keeps serving its pinned snapshot; fast_forward publishes the
    audited backfill atomically."""
    path = str(tmp_path / "tbl")
    src = str(tmp_path / "src")
    TF.create_table(path)
    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("bucket")
    )
    TF.commit_append(spark, path, base, stat_cols=["k"])
    TF.create_branch(path, "backfill")
    main_before = TF.read_ref(spark, path, "main").count()
    # 3 micro-batches of late data through foreachBatch onto the branch
    late = spark.range(1000, 1030).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("bucket")
    )
    late.repartition(3).write.mode("overwrite").parquet(src)
    batches = []

    def _sink(df, batch_id):
        v = TF.commit_append_branch(
            spark, path, "backfill", df, stat_cols=["k"]
        )
        # main's view is UNCHANGED while the backfill streams in
        assert (
            TF.read_ref(spark, path, "main").count() == main_before
        )
        batches.append((batch_id, v))

    q = (
        spark.readStream.schema(late.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    assert len(batches) == 3  # genuine micro-batches, one per file
    assert TF.read_ref(spark, path, "backfill").count() == 130
    assert TF.read_ref(spark, path, "main").count() == main_before
    # audited: promote atomically
    TF.fast_forward(path, "main", "backfill")
    assert TF.read_ref(spark, path, "main").count() == 130


def test_staged_audit_view_applies_outstanding_deletes(spark, table):
    """The WAP audit must see the REAL committed table — outstanding
    equality deletes applied — plus the staged files, or an auditor
    validates row counts against resurrected rows."""
    path, df = table
    TF.commit_delete_keys(
        spark, path, df.filter("k % 10 = 0").select("k"), key="k"
    )
    TF.commit_stage(
        spark, path, df.limit(0).select("k", "bucket", "v"),
        stat_cols=["k"], audit_id="aud_mor",
    )
    got = TF.read_staged(spark, path, audit_id="aud_mor")
    assert got.count() == 90
    assert got.filter("k % 10 = 0").count() == 0
    TF.commit_abandon(path, audit_id="aud_mor")


def test_delete_key_consistency_guard_and_reset_by_compaction(
    spark, table
):
    """Mixed-key equality deletes are rejected while any are
    outstanding (the anti-join key must be single-valued); compaction
    materializes and clears them, after which a different key is
    legal."""
    path, df = table
    TF.commit_delete_keys(
        spark, path, df.filter("k < 10").select("k"), key="k"
    )
    with pytest.raises(ValueError, match="outstanding deletes"):
        TF.commit_delete_keys(
            spark, path,
            df.filter("v < 10").select("v"), key="v",
        )
    TF.commit_compact(spark, path, stat_cols=["k"])
    # cleared: a v-keyed delete is now accepted and applied
    TF.commit_delete_keys(
        spark, path, df.filter("v >= 180").select("v"), key="v"
    )
    got = TF.read_table_mor(spark, path)
    # 100 - 10 (k<10) - 10 (v>=180 i.e. k>=90) = 80
    assert got.count() == 80


def test_mor_read_plans_broadcast_anti_join_only(spark, tmp_path):
    """The scale claim of the MOR read, asserted from the physical
    plan: the delete side is a BROADCAST anti-join (delete batches are
    CDC-sized by design) — never a shuffled sort-merge join."""
    path = str(tmp_path / "morplan")
    TF.create_table(path)
    df = spark.range(1000).select(F.col("id").alias("k"))
    TF.commit_append(
        spark, path,
        df.repartitionByRange(8, "k").sortWithinPartitions("k"),
        stat_cols=["k"],
    )
    TF.commit_delete_keys(
        spark, path, df.filter("k % 5 = 0"), key="k"
    )
    got = TF.read_table_mor(spark, path)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert got.count() == 800


def test_shallow_clone_carries_outstanding_deletes(spark, tmp_path):
    """A clone of a table with pending equality deletes must show the
    source's MOR view — deletes clone by reference with their
    sequence numbers, not silently drop."""
    main = str(tmp_path / "m3")
    clone = str(tmp_path / "c3")
    TF.create_table(main)
    df = spark.range(100).select(F.col("id").alias("k"))
    TF.commit_append(spark, main, df, stat_cols=["k"])
    TF.commit_delete_keys(
        spark, main, df.filter("k % 4 = 0"), key="k"
    )
    TF.shallow_clone(main, clone)
    got = TF.read_table_mor(spark, clone)
    assert got.count() == 75
    assert got.filter("k % 4 = 0").count() == 0
    # the sequence rule survives the clone: an append to the CLONE on
    # a deleted key is the post-delete copy and must not be subtracted
    TF.commit_append(spark, clone, df.filter("k = 0"), stat_cols=["k"])
    assert TF.read_table_mor(spark, clone).count() == 76
    # source untouched
    assert TF.read_table_mor(spark, main).count() == 75


def test_expire_cuts_every_retained_lineage(spark, table):
    """Branched histories interleave version numbers: a retained
    branch whose chain crosses the horizon through an EXPIRED version
    must be cut (rewritten full) too, or read_ref dangles — the
    multi-lineage expiry case."""
    path, df = table  # linear v1, v2
    TF.create_branch(path, "dev")           # pins main@2, dev@2
    TF.commit_append_branch(                # v3, parent 2 (dev lineage)
        spark, path, "dev", df.limit(5), stat_cols=["bucket"]
    )
    TF.commit_append_branch(                # v4, parent 2 (main lineage)
        spark, path, "main", df.limit(3), stat_cols=["bucket"]
    )
    # horizon = min(head-0, dev@3, main@4) = 3: v0-v2 expire; BOTH the
    # dev head (3, parent 2) and the main head (4, parent 2) cross the
    # horizon and must be rewritten as full snapshots
    removed = TF.expire_snapshots(path, keep_last=1)
    assert removed == 3  # v0, v1, v2
    assert TF.read_ref(spark, path, "dev").count() == 105
    assert TF.read_ref(spark, path, "main").count() == 103
    with pytest.raises(FileNotFoundError):
        TF._read_commit(path, 2)


def test_table_format_model_random_walk(spark, tmp_path):
    """Model-based interaction test: a seeded random walk over
    append / delete_keys / merge / compact / expire / vacuum, checked
    after EVERY step against a plain-dict model of the table — the
    mechanical sweep for cross-feature holes of the resurrection
    class (append-after-delete, merge-over-deletes, expiry of delete
    state, vacuum of delete files...)."""
    import random

    for seed in (11, 23, 47):
        rnd = random.Random(seed)
        path = str(tmp_path / f"walk{seed}")
        TF.create_table(path)
        model: dict[int, int] = {}
        retired: list[int] = []  # deleted keys available to resurrect
        next_key = 0

        def _df(pairs):
            return spark.createDataFrame(
                [(int(k), int(v)) for k, v in pairs], "k long, v long"
            )

        for step in range(12):
            op = rnd.choice(
                ["append", "append", "delete", "merge",
                 "compact", "expire", "vacuum"]
            )
            if op == "append" or not model:
                fresh = [next_key + i for i in range(rnd.randint(1, 6))]
                next_key += len(fresh)
                back = [
                    retired.pop(rnd.randrange(len(retired)))
                    for _ in range(min(len(retired), rnd.randint(0, 2)))
                ]
                rows = [(k, k * 10 + step) for k in fresh + back]
                TF.commit_append(spark, path, _df(rows), stat_cols=["k"])
                model.update(dict(rows))
            elif op == "delete":
                dels = rnd.sample(
                    sorted(model), k=rnd.randint(1, min(4, len(model)))
                )
                TF.commit_delete_keys(
                    spark, path, _df((k, 0) for k in dels).select("k"),
                    key="k",
                )
                for k in dels:
                    del model[k]
                    retired.append(k)
            elif op == "merge":
                ups = rnd.sample(
                    sorted(model), k=rnd.randint(1, min(3, len(model)))
                )
                ins = [next_key]
                next_key += 1
                changes = spark.createDataFrame(
                    [(int(k), int(k * 100 + step), "U") for k in ups]
                    + [(int(k), int(k * 100 + step), "I") for k in ins],
                    "k long, v long, op string",
                )
                TF.commit_merge(
                    spark, path, changes, key="k", stat_cols=["k"]
                )
                for k in ups + ins:
                    model[k] = k * 100 + step
            elif op == "compact":
                TF.commit_compact(spark, path, stat_cols=["k"])
            elif op == "compact_deletes":
                # round-10: delete-file minor compaction is logically
                # invisible — the model does NOT change
                TF.compact_deletes(spark, path)
            elif op == "expire":
                TF.expire_snapshots(
                    path, keep_last=rnd.choice([1, 2, 3])
                )
            elif op == "vacuum":
                TF.vacuum(path, retain_versions=rnd.choice([1, 2]))
            got = sorted(
                (r.k, r.v)
                for r in TF.read_table_mor(spark, path).collect()
            )
            assert got == sorted(model.items()), (
                f"seed {seed} step {step} op {op}"
            )


def test_table_format_branch_model_random_walk(spark, tmp_path):
    """Model-based walk over the REF surface: per-branch append /
    delete_keys / merge / compact (the ``branch=`` write targets),
    tag create/drop, ref-targeted shallow clones, expiry and vacuum —
    after every step each live branch's read_ref must equal its model
    dict and each live tag must equal the snapshot frozen at tagging
    time.  The cross-lineage holes this sweeps for: a branch write
    leaking onto another lineage, a ref read resurrecting MOR-deleted
    rows, expiry/vacuum breaking a pinned ref's snapshot."""
    import random

    for seed in (7, 31):
        rnd = random.Random(seed)
        path = str(tmp_path / f"bwalk{seed}")
        TF.create_table(path)

        def _df(pairs):
            return spark.createDataFrame(
                [(int(k), int(v)) for k, v in pairs], "k long, v long"
            )

        TF.commit_append(
            spark, path, _df((k, k) for k in range(5)), stat_cols=["k"]
        )
        TF.create_branch(path, "dev")
        models = {
            "main": {k: k for k in range(5)},
            "dev": {k: k for k in range(5)},
        }
        tags: dict[str, dict[int, int]] = {}
        next_key = 5
        next_tag = 0

        for step in range(12):
            b = rnd.choice(["main", "dev"])
            op = rnd.choice(
                ["append", "append", "delete", "merge", "compact",
                 "tag", "clone", "expire", "vacuum", "promote"]
            )
            model = models[b]
            if op == "append" or not model:
                fresh = [next_key + i for i in range(rnd.randint(1, 5))]
                next_key += len(fresh)
                rows = [(k, k * 10 + step) for k in fresh]
                TF.commit_append(
                    spark, path, _df(rows), stat_cols=["k"], branch=b
                )
                model.update(dict(rows))
            elif op == "delete":
                dels = rnd.sample(
                    sorted(model), k=rnd.randint(1, min(3, len(model)))
                )
                TF.commit_delete_keys(
                    spark, path, _df((k, 0) for k in dels).select("k"),
                    key="k", branch=b,
                )
                for k in dels:
                    del model[k]
            elif op == "merge":
                ups = rnd.sample(
                    sorted(model), k=rnd.randint(1, min(2, len(model)))
                )
                ins = [next_key]
                next_key += 1
                changes = spark.createDataFrame(
                    [(int(k), int(k * 100 + step), "U") for k in ups]
                    + [(int(k), int(k * 100 + step), "I") for k in ins],
                    "k long, v long, op string",
                )
                TF.commit_merge(
                    spark, path, changes, key="k", stat_cols=["k"],
                    branch=b,
                )
                for k in ups + ins:
                    model[k] = k * 100 + step
            elif op == "compact":
                TF.commit_compact(spark, path, stat_cols=["k"], branch=b)
            elif op == "tag":
                if len(tags) >= 2:
                    victim = rnd.choice(sorted(tags))
                    TF.drop_ref(path, victim)
                    del tags[victim]
                name = f"t{next_tag}"
                next_tag += 1
                TF.create_tag(path, name, at=b)
                tags[name] = dict(model)
            elif op == "clone":
                dst = str(tmp_path / f"clone{seed}-{step}")
                TF.shallow_clone(path, dst, at=b)
                got = sorted(
                    (r.k, r.v)
                    for r in TF.read_table_mor(spark, dst).collect()
                )
                assert got == sorted(model.items()), (
                    f"seed {seed} step {step} clone of {b}"
                )
            elif op == "promote":
                # the WAP pattern: stage row-level work on a temp
                # branch off b, audit (modeled), fast-forward b onto
                # it, drop the temp ref
                TF.create_branch(path, "stage", at=b)
                staged = dict(model)
                fresh = [next_key + i for i in range(2)]
                next_key += 2
                rows = [(k, k * 10 + step) for k in fresh]
                TF.commit_append(
                    spark, path, _df(rows), stat_cols=["k"],
                    branch="stage",
                )
                staged.update(dict(rows))
                if len(staged) > 3:
                    dels = rnd.sample(sorted(staged), k=2)
                    TF.commit_delete_keys(
                        spark, path,
                        _df((k, 0) for k in dels).select("k"),
                        key="k", branch="stage",
                    )
                    for k in dels:
                        del staged[k]
                TF.fast_forward(path, b, "stage")
                TF.drop_ref(path, "stage")
                models[b] = staged
                model = staged
            elif op == "expire":
                TF.expire_snapshots(path, keep_last=rnd.choice([1, 2]))
            elif op == "vacuum":
                TF.vacuum(path, retain_versions=rnd.choice([1, 2]))
            for name, frozen in [*models.items(), *tags.items()]:
                got = sorted(
                    (r.k, r.v)
                    for r in TF.read_ref(spark, path, name).collect()
                )
                assert got == sorted(frozen.items()), (
                    f"seed {seed} step {step} op {op} on {b}, ref {name}"
                )


def test_read_ref_applies_outstanding_deletes(spark, table):
    """A ref read is the LOGICAL view: branch/tag reads subtract
    outstanding equality deletes (same class as the WAP-audit and
    shallow-clone resurrection holes), while read_table at the
    resolved version stays the documented data-file view."""
    path, df = table
    n = df.count()
    TF.commit_delete_keys(
        spark, path, df.select("k").limit(7), key="k"
    )
    TF.create_branch(path, "dev")            # pins main + dev at head
    TF.create_tag(path, "rel", at="dev")
    for ref in ("main", "dev", "rel"):
        assert TF.read_ref(spark, path, ref).count() == n - 7, ref
    v = TF.resolve_ref(path, "dev")
    assert TF.read_table(spark, path, version=v).count() == n


def test_branch_write_conflict_on_stale_head(spark, table):
    """With ``branch=``, expected_version is the expected BRANCH head:
    a stale token conflicts BEFORE any data is staged, and the branch
    pointer is untouched."""
    path, df = table
    TF.create_branch(path, "dev")
    head = TF.resolve_ref(path, "dev")
    TF.commit_append(
        spark, path, df.limit(3), stat_cols=["k"],
        branch="dev", expected_version=head,
    )
    with pytest.raises(TF.CommitConflict):
        TF.commit_append(
            spark, path, df.limit(3), stat_cols=["k"],
            branch="dev", expected_version=head,
        )
    with pytest.raises(ValueError, match="unknown branch"):
        TF.commit_delete_keys(
            spark, path, df.select("k").limit(1), key="k",
            branch="nope",
        )


def test_concurrent_writers_all_land_exactly_once(spark, tmp_path):
    """Optimistic-concurrency torture: four threads race appends
    through the real retry loop (read head -> write data -> commit ->
    on CommitConflict, re-read and retry).  Every batch must land
    exactly once, the log must be one unbroken parent chain, and the
    losers' orphaned data files must be sweepable by vacuum without
    touching committed rows."""
    import threading

    path = str(tmp_path / "race")
    TF.create_table(path)
    n_threads, n_commits, rows_each = 4, 4, 10
    errs: list[Exception] = []
    conflicts = [0]

    def worker(t: int) -> None:
        try:
            for i in range(n_commits):
                df = spark.range(rows_each).selectExpr(
                    f"id + {t * 10_000 + i * 100} as k"
                )
                while True:
                    try:
                        TF.commit_append(
                            spark, path, df, stat_cols=["k"],
                            expected_version=TF.latest_version(path),
                        )
                        break
                    except TF.CommitConflict:
                        conflicts[0] += 1
        except Exception as exc:  # surfaced by the main thread
            errs.append(exc)

    threads = [
        threading.Thread(target=worker, args=(t,))
        for t in range(n_threads)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    total = n_threads * n_commits * rows_each
    head = TF.latest_version(path)
    assert head == n_threads * n_commits
    assert TF.read_table(spark, path).count() == total
    # the log is one unbroken linear chain — no commit vanished or
    # double-landed
    for v in range(1, head + 1):
        assert TF._read_commit(path, v)["parent"] == v - 1
    removed, kept = TF.vacuum(path, retain_versions=head + 1)
    if conflicts[0]:
        assert removed > 0  # the losers' orphans
    assert TF.read_table(spark, path).count() == total


def test_format_tail_follows_one_lineage(spark, tmp_path):
    """On a branched table the tail follows ONE ref's lineage (Iceberg
    semantics: you tail a branch).  Versions come from a shared
    namespace, so consecutive integers interleave lineages — a main
    tail that walked ``range(start+1, head+1)`` would emit dev's
    commits into main's consumer.  After fast_forward promotes the
    branch, the next drain emits the promoted rows exactly once."""
    from table_streaming_source_spark.streaming.format_tail import (
        register_format_tail,
    )

    path = str(tmp_path / "tbl")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    TF.create_table(path)
    base = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    TF.commit_append(spark, path, base, stat_cols=["k"])
    TF.create_branch(path, "dev")  # pins main at v1
    # interleave: dev, main, dev — versions 2, 3, 4 alternate lineages
    dev_rows = spark.range(100, 120).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    TF.commit_append(
        spark, path, dev_rows.limit(10), stat_cols=["k"], branch="dev"
    )
    main_rows = spark.range(200, 215).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    TF.commit_append(
        spark, path, main_rows, stat_cols=["k"], branch="main"
    )
    TF.commit_delete_keys(
        spark, path, spark.range(100, 103).select(F.col("id").alias("k")),
        key="k", branch="dev",
    )
    register_format_tail(spark)

    def drain():
        stream = spark.readStream.format("format_tail").option(
            "path", path
        ).load()
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()

    drain()
    got = spark.read.parquet(out)
    # main's tail: the base commit + main's append — dev's 10 rows and
    # dev's delete commit never reach it
    assert got.count() == 50 + 15
    assert got.filter("k >= 100 AND k < 200").count() == 0
    # promotion: main fast-forwards onto dev's head (legal here only
    # after rebasing; rebuild the ancestry by forwarding from main's
    # lineage instead — dev diverged, so promote dev's COMMITS by
    # tailing the dev ref directly)
    dev_out = str(tmp_path / "dev_out")
    dev_ckpt = str(tmp_path / "dev_ckpt")
    stream = spark.readStream.format("format_tail").option(
        "path", path
    ).option("ref", "dev").load()
    q = (
        stream.writeStream.format("parquet")
        .option("path", dev_out)
        .option("checkpointLocation", dev_ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    dev_got = spark.read.parquet(dev_out)
    # dev's tail: base + dev's append (the delete commit introduces no
    # data files — the documented append-changelog caveat); main's 15
    # rows never reach it
    assert dev_got.count() == 50 + 10
    assert dev_got.filter("k >= 200").count() == 0


def test_concurrent_branch_writers_do_not_clobber_pointers(
    spark, tmp_path
):
    """Two threads race appends onto TWO branches.  Commit versions
    come from the shared namespace (losers retry on CommitConflict);
    pointer advancement is a refs read-modify-write serialized by the
    refs mutex — without it, one branch's advancement is silently
    lost when both writers re-write the refs file from a stale read."""
    import threading

    path = str(tmp_path / "tbl")
    TF.create_table(path)
    base = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    TF.commit_append(spark, path, base, stat_cols=["k"])
    TF.create_branch(path, "dev")
    TF.create_branch(path, "exp")
    n_commits, rows_each = 4, 10
    errs: list[Exception] = []

    def worker(branch: str, lo: int) -> None:
        try:
            for i in range(n_commits):
                df = spark.range(rows_each).selectExpr(
                    f"id + {lo + i * 100} as k", "id as v"
                )
                while True:
                    try:
                        TF.commit_append(
                            spark, path, df, stat_cols=["k"],
                            branch=branch,
                        )
                        break
                    except TF.CommitConflict:
                        continue
        except Exception as exc:
            errs.append(exc)

    threads = [
        threading.Thread(target=worker, args=("dev", 1000)),
        threading.Thread(target=worker, args=("exp", 5000)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    expect = 50 + n_commits * rows_each
    for b in ("dev", "exp"):
        assert TF.read_ref(spark, path, b).count() == expect, b
    assert TF.read_ref(spark, path, "main").count() == 50
    # each lineage walks cleanly from its head to the shared base
    refs = TF.list_refs(path)
    for b in ("dev", "exp"):
        v = refs[b]["version"]
        seen = 0
        while v is not None:
            c = TF._read_commit(path, v)
            seen += 1
            v = c["parent"]
        assert seen == n_commits + 2  # base append + create + n appends


def test_ref_read_plans_broadcast_anti_join_and_prunes(spark, tmp_path):
    """read_ref's MOR path keeps both scale properties: manifest
    pruning composes (pruned files never enter the plan) and the
    delete subtraction is a BROADCAST anti-join, never a shuffled
    sort-merge join."""
    path = str(tmp_path / "refplan")
    TF.create_table(path)
    df = spark.range(1000).select(F.col("id").alias("k"))
    TF.commit_append(
        spark, path,
        df.repartitionByRange(8, "k").sortWithinPartitions("k"),
        stat_cols=["k"],
    )
    TF.commit_delete_keys(spark, path, df.filter("k % 5 = 0"), key="k")
    TF.create_tag(path, "rel")
    got = TF.read_ref(spark, path, "rel", prune=("k", 0, 499))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    # pruning: of the 8 range-clustered files only ~half survive —
    # read the data-side scan's file-index size from the plan
    import re

    n_files = sum(
        int(m) for m in re.findall(r"InMemoryFileIndex\((\d+) paths?\)", plan)
    )
    assert 0 < n_files <= 5, plan[:500]
    assert got.filter("k < 500").count() == 400  # deletes applied


def test_snapshot_manager_composes_with_format_ref(spark, tmp_path):
    """The reference's A2 TTL cache over a FORMAT ref: within the TTL
    window every caller gets the SAME snapshot even as commits land
    (snapshot isolation at the cache layer), the epoch-aligned refresh
    picks up the new commits, and the logical view holds — a delete
    committed between refreshes subtracts its rows after the next one."""
    from table_streaming_source_spark.snapshot import SnapshotManager

    path = str(tmp_path / "tbl")
    TF.create_table(path)
    df = spark.range(100).select(F.col("id").alias("k"))
    TF.commit_append(spark, path, df, stat_cols=["k"])
    TF.create_branch(path, "dev")  # pin main; dev churn must not leak

    now = [1_020_000]  # an exact epoch boundary for the 60 s interval
    mgr = SnapshotManager(
        spark,
        lambda: TF.read_ref(spark, path, "main"),
        refresh_interval_ms=60_000,
        clock_ms=lambda: now[0],
    )
    assert mgr.current().count() == 100
    # commits land on main mid-window: the cache must NOT see them yet
    TF.commit_append(
        spark, path, spark.range(100, 120).select(F.col("id").alias("k")),
        stat_cols=["k"], branch="main",
    )
    TF.commit_delete_keys(
        spark, path, spark.range(10).select(F.col("id").alias("k")),
        key="k", branch="main",
    )
    TF.commit_append(  # dev noise, never visible to a main loader
        spark, path, spark.range(900, 950).select(F.col("id").alias("k")),
        stat_cols=["k"], branch="dev",
    )
    now[0] += 30_000
    assert mgr.current().count() == 100  # same TTL window, same snapshot
    now[0] += 40_000  # crosses the epoch boundary
    assert mgr.current().count() == 110  # +20 appended, -10 MOR-deleted
    assert mgr.refresh_count == 2


def test_stale_refs_lock_is_stolen(spark, tmp_path):
    """A lock file leaked by a crashed writer (old mtime) must not
    wedge the table: the next refs update steals it; a FRESH lock
    still blocks (and times out) rather than being stolen."""
    import os as _os

    path = str(tmp_path / "tbl")
    TF.create_table(path)
    TF.commit_append(
        spark, path,
        spark.range(10).select(F.col("id").alias("k")),
        stat_cols=["k"],
    )
    lock = _os.path.join(TF._log_dir(path), "_refs.lock")
    with open(lock, "w"):
        pass
    _os.utime(lock, (1, 1))  # ancient: a crashed writer's leak
    TF.create_branch(path, "dev")  # steals the stale lock
    assert TF.resolve_ref(path, "dev") == 1
    assert not _os.path.exists(lock)


# ---------------------------------------------------------------------------
# round 9: positional delete files + change-data-feed read
# ---------------------------------------------------------------------------


@pytest.fixture()
def ranged_table(spark, tmp_path):
    """1000 keys range-clustered into 8 files — per-file disjoint key
    ranges, the layout positional/equality delete tests need."""
    path = str(tmp_path / "ptbl")
    TF.create_table(path)
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).cast("double").alias("v")
    )
    TF.commit_append(
        spark, path,
        df.repartitionByRange(8, "k").sortWithinPartitions("k"),
        stat_cols=["k"],
    )
    return path, df


def test_positional_delete_subtracts_by_ordinal(spark, ranged_table):
    """commit_delete_positions stores (file, row-ordinal) tuples; the
    MOR read subtracts exactly those rows while the data-file view
    stays physical — same split contract as equality deletes."""
    path, df = ranged_table
    TF.commit_delete_positions(
        spark, path, TF.positions_where(spark, path, "k % 10 = 0")
    )
    assert TF.read_table(spark, path).count() == 1000  # physical view
    got = TF.read_table_mor(spark, path)
    assert got.count() == 900
    assert got.filter("k % 10 = 0").count() == 0


def test_positional_delete_no_join_for_unnamed_files(spark, ranged_table):
    """Only the data files a positional delete NAMES are anti-joined;
    the other files take the verbatim no-join path (the manifest entry
    records the named paths, so the split needs no delete-file I/O)."""
    path, _ = ranged_table
    TF.commit_delete_positions(
        spark, path, TF.positions_where(spark, path, "k < 100")
    )
    commit = TF._read_commit(path, TF.latest_version(path))
    # the 8-file range layout localizes keys < 100 to one file
    assert len(commit["pos_deletes"][0]["paths"]) == 1
    plan = TF.read_table_mor(spark, path)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert TF.read_table_mor(spark, path).count() == 900


def test_mixed_equality_and_positional_deletes(spark, ranged_table):
    """Both delete kinds outstanding at once: the read applies BOTH
    subtractions, each carrier (delete_keys / delete_positions) keeps
    the other kind's state across its chain cut, and compaction
    materializes and clears both."""
    path, df = ranged_table
    TF.commit_delete_positions(
        spark, path, TF.positions_where(spark, path, "k % 10 = 0")
    )
    TF.commit_delete_keys(spark, path, df.filter("k % 7 = 0"), key="k")
    # a second positional delete AFTER the equality delete: its chain
    # cut must carry the equality state too
    TF.commit_delete_positions(
        spark, path, TF.positions_where(spark, path, "k = 13")
    )
    expected = df.filter(
        "k % 10 <> 0 and k % 7 <> 0 and k <> 13"
    ).count()
    got = TF.read_table_mor(spark, path)
    assert got.count() == expected
    v = TF.commit_compact(spark, path, stat_cols=["k"])
    commit = TF._read_commit(path, v)
    assert commit.get("deletes", []) == []
    assert commit.get("pos_deletes", []) == []
    assert TF.read_table(spark, path).count() == expected
    assert TF.read_table_mor(spark, path).count() == expected


def test_positional_deletes_expire_with_rewritten_files(spark, ranged_table):
    """The Iceberg rewrite rule: a merge gives surviving rows NEW
    files, so positions on rewritten files are materialized and
    dropped — a later re-insert of the same logical key can never be
    swallowed by a stale ordinal.  Positions on untouched files stay
    subtracted."""
    path, df = ranged_table
    TF.commit_delete_positions(
        spark, path, TF.positions_where(spark, path, "k % 10 = 0")
    )
    # rewrite the low-key file (k < 125 under the 8-file layout) and
    # RE-INSERT k=10 (deleted above) with a new value
    changes = spark.createDataFrame(
        [(10, 777.0, "I"), (20, 888.0, "U")], "k long, v double, op string"
    )
    TF.commit_merge(spark, path, changes, key="k", stat_cols=["k"])
    got = {r["k"]: r["v"] for r in TF.read_table_mor(spark, path).filter(
        "k in (10, 20, 30, 130, 500)"
    ).collect()}
    assert got.get(10) == 777.0   # re-insert survives (new file)
    # 'U' matches nothing (row 20 was deleted; the merge reads THROUGH
    # the positions) — WHEN MATCHED semantics, so it stays gone
    assert 20 not in got
    assert 30 not in got          # deleted pre-merge, file rewritten -> materialized
    assert 130 not in got         # untouched file: position still applies
    assert got.get(500) is None or 500 not in got
    # the merge carried only entries still naming a surviving file
    commit = TF._read_commit(path, TF.latest_version(path))
    surviving = {
        os.path.abspath(os.path.join(path, f["path"]))
        for f in commit["files"]
    }
    for d in commit.get("pos_deletes", []):
        assert any(p in surviving for p in d["paths"])


def test_positional_delete_unknown_file_raises(spark, ranged_table):
    path, _ = ranged_table
    bogus = spark.createDataFrame(
        [("/nope/missing.parquet", 0)], "file_path string, pos long"
    )
    with pytest.raises(ValueError, match="outside snapshot"):
        TF.commit_delete_positions(spark, path, bogus)


def _data_listing(path: str) -> list[str]:
    root = TF._data_dir(path)
    return sorted(
        os.path.relpath(os.path.join(d, n), root)
        for d, subdirs, names in os.walk(root)
        for n in names + subdirs
    )


def test_refused_positional_delete_leaves_no_scratch(spark, ranged_table):
    path, _ = ranged_table
    bogus = spark.createDataFrame(
        [("/nope/missing.parquet", 0)], "file_path string, pos long"
    )
    before = _data_listing(path)
    for encoding in ("dv", "tuples"):
        with pytest.raises(ValueError, match="outside snapshot"):
            TF.commit_delete_positions(
                spark, path, bogus, encoding=encoding
            )
        assert _data_listing(path) == before


def test_refused_replace_where_leaves_no_scratch(spark, ranged_table):
    """The straddling files' survivors are staged before the incoming
    rows are checked: a violation must remove both staging dirs."""
    path, _ = ranged_table
    before = _data_listing(path)
    with pytest.raises(ValueError, match="replaceWhere violation"):
        TF.commit_replace_where(
            spark, path,
            spark.createDataFrame([(5, 0.0)], "k long, v double"),
            col="k", lo=100, hi=300, stat_cols=["k"],
        )
    assert _data_listing(path) == before


def test_vacuum_keeps_positional_delete_files(spark, ranged_table):
    path, _ = ranged_table
    TF.commit_delete_positions(
        spark, path, TF.positions_where(spark, path, "k % 10 = 0")
    )
    removed, _kept = TF.vacuum(path, retain_versions=1)
    assert TF.read_table_mor(spark, path).count() == 900


def test_cdf_spans_merge_delete_compaction(spark, ranged_table):
    """The demanded CDF algebra: insert images from appends, pre/post
    images from the merge diff (unchanged rows in rewritten files emit
    NOTHING), delete pre-images from both delete kinds, and a
    compaction in range emits NO CDF rows."""
    path, df = ranged_table
    changes = (
        df.filter("k >= 100 and k < 110")
        .select("k", (F.col("v") + 1).alias("v"), F.lit("U").alias("op"))
        .unionByName(
            df.filter("k >= 110 and k < 115").select(
                "k", F.lit(None).cast("double").alias("v"),
                F.lit("D").alias("op"),
            )
        )
        .unionByName(
            spark.createDataFrame(
                [(5000, 1.0, "I")], "k long, v double, op string"
            )
        )
    )
    TF.commit_merge(spark, path, changes, key="k", stat_cols=["k"])      # v2
    TF.commit_delete_positions(                                          # v3
        spark, path, TF.positions_where(spark, path, "k >= 200 and k < 203")
    )
    TF.commit_delete_keys(spark, path, df.filter("k = 300"), key="k")    # v4
    TF.commit_compact(spark, path, stat_cols=["k"])                      # v5
    cdf = TF.read_cdf(spark, path, from_version=0)
    agg = {
        (r["_change_type"], r["_commit_version"]): r["n"]
        for r in cdf.groupBy("_change_type", "_commit_version")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert agg == {
        ("insert", 1): 1000,
        ("update_preimage", 2): 10,
        ("update_postimage", 2): 10,
        ("delete", 2): 5,
        ("insert", 2): 1,
        ("delete", 3): 3,
        ("delete", 4): 1,
    }  # nothing at v5: compaction is maintenance
    # post-images carry the NEW values, pre-images the old
    post = {r["k"]: r["v"] for r in cdf.filter(
        "_change_type = 'update_postimage'"
    ).collect()}
    assert post[100] == 201.0
    # a from_version past the merge sees only the later deletes
    late = TF.read_cdf(spark, path, from_version=2)
    assert late.count() == 4


def test_cdf_preimages_skip_already_deleted_rows(spark, ranged_table):
    """A row removed at v2 must not produce a SECOND pre-image when a
    later delete names it again — pre-images resolve through the
    deletes outstanding at the parent snapshot."""
    path, df = ranged_table
    TF.commit_delete_positions(                                          # v2
        spark, path, TF.positions_where(spark, path, "k >= 100 and k < 105")
    )
    # v3 equality-deletes an overlapping range (k 100..109): only the
    # five rows still alive at v2 yield pre-images
    TF.commit_delete_keys(
        spark, path, df.filter("k >= 100 and k < 110"), key="k"
    )
    # v4 re-deletes positions already gone (same ordinals): no images
    cdf = TF.read_cdf(spark, path, from_version=1)
    agg = {
        (r["_change_type"], r["_commit_version"]): r["n"]
        for r in cdf.groupBy("_change_type", "_commit_version")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert agg == {("delete", 2): 5, ("delete", 3): 5}


def test_cdf_maintenance_only_range_raises(spark, ranged_table):
    path, _ = ranged_table
    TF.commit_compact(spark, path, stat_cols=["k"])
    with pytest.raises(ValueError, match="no change commits"):
        TF.read_cdf(spark, path, from_version=1)


def test_clone_carries_positional_deletes(spark, tmp_path):
    """A shallow clone of a table with outstanding positional deletes
    must see the SOURCE's logical view: the delete-file reference is
    path-rewritten, the entries' absolute data-file names stay valid."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    TF.create_table(src)
    df = spark.range(100).select(F.col("id").alias("k"))
    TF.commit_append(spark, src, df, stat_cols=["k"])
    TF.commit_delete_positions(
        spark, src, TF.positions_where(spark, src, "k % 10 = 0")
    )
    TF.shallow_clone(src, dst)
    assert TF.read_table_mor(spark, dst).count() == 90


def test_multi_column_equality_deletes(spark, tmp_path):
    """Iceberg equality deletes are MULTI-column: a row is deleted only
    when ALL key columns match a delete tuple — a one-column match must
    not subtract.  Stats pruning composes per column (any provably
    disjoint key column exempts the file)."""
    path = str(tmp_path / "mk")
    TF.create_table(path)
    df = spark.range(200).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("int").alias("grp"),
        (F.col("id") * 2).cast("double").alias("v"),
    )
    TF.commit_append(
        spark, path,
        df.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stat_cols=["k", "grp"],
    )
    # delete tuples (k, grp) for k % 10 == 0 — the (k, grp+1) twins
    # must survive even though their k matches
    TF.commit_delete_keys(
        spark, path, df.filter("k % 10 = 0"), key=["k", "grp"]
    )
    got = TF.read_table_mor(spark, path)
    assert got.count() == 200 - 20
    assert got.filter("k % 10 = 0").count() == 0
    # a second delete with the SAME composite key accumulates
    TF.commit_delete_keys(
        spark, path, df.filter("k = 7"), key=["k", "grp"]
    )
    assert TF.read_table_mor(spark, path).count() == 179
    # a MISMATCHED key raises until compaction clears the state
    with pytest.raises(ValueError, match="compact the table"):
        TF.commit_delete_keys(spark, path, df.filter("k = 9"), key="k")
    TF.commit_compact(spark, path, stat_cols=["k", "grp"])
    TF.commit_delete_keys(spark, path, df.filter("k = 9"), key="k")
    assert TF.read_table_mor(spark, path).count() == 178
    # CDF pre-images work for the composite key too
    cdf = TF.read_cdf(spark, path, from_version=1, to_version=2)
    assert cdf.filter("_change_type = 'delete'").count() == 20


def test_cdf_follows_a_branch_lineage(spark, tmp_path):
    """read_cdf(to_version='branch') walks THE BRANCH's lineage: the
    dev branch's append appears, main-only commits after the fork do
    not (and vice versa)."""
    path = str(tmp_path / "cdfbr")
    TF.create_table(path)
    df = spark.range(50).select(F.col("id").alias("k"))
    TF.commit_append(spark, path, df, stat_cols=["k"])          # v1
    TF.create_branch(path, "dev")
    TF.commit_append_branch(
        spark, path, "dev", spark.range(50, 60).select(F.col("id").alias("k")),
        stat_cols=["k"],
    )                                                           # v2 on dev
    TF.commit_append_branch(
        spark, path, "main",
        spark.range(100, 105).select(F.col("id").alias("k")),
        stat_cols=["k"],
    )                                                           # v3 on main
    dev = TF.read_cdf(spark, path, from_version=0, to_version="dev")
    ks = {r["k"] for r in dev.select("k").collect()}
    assert set(range(50)) <= ks and set(range(50, 60)) <= ks
    assert not ks & set(range(100, 105))
    main = TF.read_cdf(spark, path, from_version=0, to_version="main")
    km = {r["k"] for r in main.select("k").collect()}
    assert set(range(100, 105)) <= km and not km & set(range(50, 60))


def test_streaming_cdf_matches_batch_read_cdf(spark, ranged_table):
    """The streaming CDF source's driver-side pandas algebra must be
    row-for-row IDENTICAL to the Spark-side batch read_cdf over the
    same commits — appends, a merge (update/insert/delete legs), a
    positional delete, an equality delete, and a compaction (which
    must emit nothing in both)."""
    from table_streaming_source_spark.streaming.format_cdf import (
        register_format_cdf,
    )

    path, df = ranged_table
    changes = (
        df.filter("k >= 100 and k < 110")
        .select("k", (F.col("v") + 1).alias("v"), F.lit("U").alias("op"))
        .unionByName(
            df.filter("k >= 110 and k < 115").select(
                "k", F.lit(None).cast("double").alias("v"),
                F.lit("D").alias("op"),
            )
        )
        .unionByName(
            spark.createDataFrame(
                [(5000, 1.0, "I")], "k long, v double, op string"
            )
        )
    )
    TF.commit_merge(spark, path, changes, key="k", stat_cols=["k"])      # v2
    TF.commit_delete_positions(                                          # v3
        spark, path, TF.positions_where(spark, path, "k >= 200 and k < 203")
    )
    TF.commit_delete_keys(spark, path, df.filter("k = 300"), key="k")    # v4
    TF.commit_compact(spark, path, stat_cols=["k"])                      # v5
    batch = sorted(
        (r["k"], r["v"], r["_change_type"], r["_commit_version"])
        for r in TF.read_cdf(spark, path, from_version=0).collect()
    )
    register_format_cdf(spark)
    stream = (
        spark.readStream.format("format_cdf").option("path", path).load()
    )
    name = "__cdf_parity"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    streamed = sorted(
        (r["k"], r["v"], r["_change_type"], r["_commit_version"])
        for r in spark.table(name).collect()
    )
    spark.catalog.dropTempView(name)
    assert streamed == batch
    assert len(batch) == 1000 + 10 + 10 + 5 + 1 + 3 + 1  # v5 silent


def test_table_format_posdelete_model_random_walk(spark, tmp_path):
    """The round-9 surface folded into the model walk: positional
    deletes mixed with append / equality-delete / merge / compact /
    expire / vacuum, the MOR view checked against a plain-dict model
    after EVERY step — the mechanical sweep for cross-feature holes
    (positions vs rewrites, positions vs equality state, positions vs
    expiry and vacuum)."""
    import random

    for seed in (7, 31):
        rnd = random.Random(seed)
        path = str(tmp_path / f"pwalk{seed}")
        TF.create_table(path)
        model: dict[int, int] = {}
        retired: list[int] = []
        next_key = 0

        def _df(pairs):
            return spark.createDataFrame(
                [(int(k), int(v)) for k, v in pairs], "k long, v long"
            )

        for step in range(12):
            op = rnd.choice(
                ["append", "append", "delete", "pos_delete",
                 "pos_delete", "merge", "compact", "compact_deletes",
                 "expire", "vacuum"]
            )
            if op == "append" or not model:
                fresh = [next_key + i for i in range(rnd.randint(1, 6))]
                next_key += len(fresh)
                back = [
                    retired.pop(rnd.randrange(len(retired)))
                    for _ in range(min(len(retired), rnd.randint(0, 2)))
                ]
                rows = [(k, k * 10 + step) for k in fresh + back]
                TF.commit_append(spark, path, _df(rows), stat_cols=["k"])
                model.update(dict(rows))
            elif op == "delete":
                dels = rnd.sample(
                    sorted(model), k=rnd.randint(1, min(4, len(model)))
                )
                TF.commit_delete_keys(
                    spark, path, _df((k, 0) for k in dels).select("k"),
                    key="k",
                )
                for k in dels:
                    del model[k]
                    retired.append(k)
            elif op == "pos_delete":
                dels = rnd.sample(
                    sorted(model), k=rnd.randint(1, min(4, len(model)))
                )
                pred = "k in (" + ",".join(str(k) for k in dels) + ")"
                TF.commit_delete_positions(
                    spark, path, TF.positions_where(spark, path, pred),
                    # round-10: both encodings walk through every
                    # cross-feature interaction
                    encoding=rnd.choice(["dv", "tuples"]),
                )
                for k in dels:
                    del model[k]
                    retired.append(k)
            elif op == "merge":
                ups = rnd.sample(
                    sorted(model), k=rnd.randint(1, min(3, len(model)))
                )
                ins = [next_key]
                next_key += 1
                changes = spark.createDataFrame(
                    [(int(k), int(k * 100 + step), "U") for k in ups]
                    + [(int(k), int(k * 100 + step), "I") for k in ins],
                    "k long, v long, op string",
                )
                TF.commit_merge(
                    spark, path, changes, key="k", stat_cols=["k"]
                )
                for k in ups + ins:
                    model[k] = k * 100 + step
            elif op == "compact":
                TF.commit_compact(spark, path, stat_cols=["k"])
            elif op == "compact_deletes":
                # round-10: delete-file minor compaction is logically
                # invisible — the model does NOT change
                TF.compact_deletes(spark, path)
            elif op == "expire":
                TF.expire_snapshots(
                    path, keep_last=rnd.choice([1, 2, 3])
                )
            elif op == "vacuum":
                TF.vacuum(path, retain_versions=rnd.choice([1, 2]))
            got = sorted(
                (r.k, r.v)
                for r in TF.read_table_mor(spark, path).collect()
            )
            assert got == sorted(model.items()), (
                f"seed {seed} step {step} op {op}"
            )


def test_cdf_replay_reconstructs_final_state(spark, tmp_path):
    """THE change-data-feed invariant: applying the image stream from
    v0 in commit order (insert→put, update_postimage→put, delete→del)
    reconstructs exactly the final MOR snapshot — over a seeded random
    walk of appends, both delete kinds, merges and compactions (no
    expiry: the CDF range must stay readable)."""
    import random

    for seed in (13, 59):
        rnd = random.Random(seed)
        path = str(tmp_path / f"cwalk{seed}")
        TF.create_table(path)
        model: dict[int, int] = {}
        retired: list[int] = []
        next_key = 0

        def _df(pairs):
            return spark.createDataFrame(
                [(int(k), int(v)) for k, v in pairs], "k long, v long"
            )

        for step in range(10):
            op = rnd.choice(
                ["append", "append", "delete", "pos_delete", "merge",
                 "compact"]
            )
            if op == "append" or not model:
                fresh = [next_key + i for i in range(rnd.randint(1, 5))]
                next_key += len(fresh)
                back = [
                    retired.pop(rnd.randrange(len(retired)))
                    for _ in range(min(len(retired), rnd.randint(0, 2)))
                ]
                rows = [(k, k * 10 + step) for k in fresh + back]
                TF.commit_append(spark, path, _df(rows), stat_cols=["k"])
                model.update(dict(rows))
            elif op == "delete":
                dels = rnd.sample(
                    sorted(model), k=rnd.randint(1, min(3, len(model)))
                )
                TF.commit_delete_keys(
                    spark, path, _df((k, 0) for k in dels).select("k"),
                    key="k",
                )
                for k in dels:
                    del model[k]
                    retired.append(k)
            elif op == "pos_delete":
                dels = rnd.sample(
                    sorted(model), k=rnd.randint(1, min(3, len(model)))
                )
                pred = "k in (" + ",".join(str(k) for k in dels) + ")"
                TF.commit_delete_positions(
                    spark, path, TF.positions_where(spark, path, pred)
                )
                for k in dels:
                    del model[k]
                    retired.append(k)
            elif op == "merge":
                ups = rnd.sample(
                    sorted(model), k=rnd.randint(1, min(3, len(model)))
                )
                ins = [next_key]
                next_key += 1
                changes = spark.createDataFrame(
                    [(int(k), int(k * 100 + step), "U") for k in ups]
                    + [(int(k), int(k * 100 + step), "I") for k in ins],
                    "k long, v long, op string",
                )
                TF.commit_merge(
                    spark, path, changes, key="k", stat_cols=["k"]
                )
                for k in ups + ins:
                    model[k] = k * 100 + step
            elif op == "compact":
                TF.commit_compact(spark, path, stat_cols=["k"])
        images = sorted(
            (
                (r["_commit_version"], r["_change_type"], r["k"], r["v"])
                for r in TF.read_cdf(spark, path, from_version=0).collect()
            ),
        )
        state: dict[int, int] = {}
        for _v, ctype, k, val in images:
            if ctype in ("insert", "update_postimage"):
                state[k] = val
            elif ctype == "delete":
                state.pop(k, None)
        assert sorted(state.items()) == sorted(model.items()), (
            f"seed {seed}: CDF replay diverged from the model"
        )
        got = sorted(
            (r.k, r.v)
            for r in TF.read_table_mor(spark, path).collect()
        )
        assert got == sorted(model.items())


def test_format_cdf_stream_is_incremental_across_restarts(
    spark, tmp_path
):
    """The CDF stream's commit-version offset must survive the
    checkpoint: a first drain emits the append's inserts; a merge and
    a delete committed AFTER it, drained from the SAME checkpoint,
    emit only their own images — no re-emission, no loss, and the
    in-between compaction emits nothing."""
    from table_streaming_source_spark.streaming.format_cdf import (
        register_format_cdf,
    )

    path = str(tmp_path / "tbl")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    TF.create_table(path)
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).cast("double").alias("v")
    )
    TF.commit_append(spark, path, df, stat_cols=["k"])
    register_format_cdf(spark)

    def drain():
        stream = spark.readStream.format("format_cdf").option(
            "path", path
        ).load()
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()

    drain()
    got = spark.read.parquet(out)
    assert got.count() == 100
    assert got.select("_change_type").distinct().collect()[0][0] == "insert"
    # post-drain commits: a merge, a compaction (silent), a delete
    changes = spark.createDataFrame(
        [(5, 999.0, "U"), (200, 1.0, "I"), (7, None, "D")],
        "k long, v double, op string",
    )
    TF.commit_merge(spark, path, changes, key="k", stat_cols=["k"])
    TF.commit_compact(spark, path, stat_cols=["k"])
    TF.commit_delete_positions(
        spark, path, TF.positions_where(spark, path, "k = 9")
    )
    drain()  # restart from the same checkpoint
    after = spark.read.parquet(out)
    agg = {
        (r["_change_type"], r["_commit_version"]): r["n"]
        for r in after.groupBy("_change_type", "_commit_version")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert agg == {
        ("insert", 1): 100,
        ("update_preimage", 2): 1,
        ("update_postimage", 2): 1,
        ("insert", 2): 1,
        ("delete", 2): 1,
        ("delete", 4): 1,  # the pos delete; v3 compaction is silent
    }


def test_positions_where_prunes_files_from_manifest(spark, ranged_table):
    """``positions_where(prune=(col, lo, hi))`` must skip disjoint
    files BEFORE any I/O (manifest stats), and the pruned resolution
    equals the unpruned one for a range-shaped predicate."""
    path, _ = ranged_table
    full = set(
        (r["file_path"], r["pos"])
        for r in TF.positions_where(
            spark, path, "k >= 10 and k < 30 and k % 2 = 0"
        ).collect()
    )
    pruned_df = TF.positions_where(
        spark, path, "k >= 10 and k < 30 and k % 2 = 0",
        prune=("k", 10, 29),
    )
    pruned = set((r["file_path"], r["pos"]) for r in pruned_df.collect())
    assert pruned == full and len(full) == 10
    # the pruned scan opens only the one file covering k in [10, 30)
    files = {r["file_path"] for r in pruned_df.collect()}
    kept, _n, total = TF.snapshot_files(path, prune=("k", 10, 29))
    assert len(kept) == 1 and total == 8


def test_cdf_spans_schema_evolution(spark, tmp_path):
    """A CDF range crossing an additive schema evolution: the
    pre-evolution insert images NULL-backfill the new column
    (allowMissingColumns union), post-evolution images carry it, and a
    delete whose pre-images span BOTH schema generations resolves
    through the mergeSchema read."""
    path = str(tmp_path / "cdfse")
    TF.create_table(path)
    old = spark.range(10).select(F.col("id").alias("k"))
    TF.commit_append(spark, path, old, stat_cols=["k"])          # v1
    new = spark.range(10, 20).select(
        F.col("id").alias("k"), F.lit("x").alias("tag")
    )
    TF.commit_append(spark, path, new, stat_cols=["k"])          # v2
    TF.commit_delete_keys(                                       # v3
        spark, path,
        spark.createDataFrame([(5,), (15,)], "k long"), key="k",
    )
    cdf = TF.read_cdf(spark, path, from_version=0)
    assert set(cdf.columns) == {"k", "tag", "_change_type",
                                "_commit_version"}
    rows = {(r["k"], r["_change_type"], r["_commit_version"]): r["tag"]
            for r in cdf.collect()}
    assert rows[(3, "insert", 1)] is None       # pre-evolution backfill
    assert rows[(15, "insert", 2)] == "x"
    assert rows[(5, "delete", 3)] is None       # old-generation pre-image
    assert rows[(15, "delete", 3)] == "x"       # new-generation pre-image
    assert len(rows) == 22


def test_commit_merge_idempotent_skips_replay(spark, ranged_table):
    """The txn watermark (Delta txn/appId): a replayed batch id is
    recognized on the lineage and skipped; a NEW batch id applies; a
    SECOND app's ids are independent."""
    path, df = ranged_table
    ch = spark.createDataFrame(
        [(5, 111.0, "U")], "k long, v double, op string"
    )
    r1 = TF.commit_merge_idempotent(
        spark, path, ch, key="k", stat_cols=["k"],
        app_id="job-a", batch_id=0,
    )
    assert r1 is not None
    v_after = TF.latest_version(path)
    # the replay: same app, same batch — must be a no-op
    ch2 = spark.createDataFrame(
        [(5, 999.0, "U")], "k long, v double, op string"
    )
    assert TF.commit_merge_idempotent(
        spark, path, ch2, key="k", stat_cols=["k"],
        app_id="job-a", batch_id=0,
    ) is None
    assert TF.latest_version(path) == v_after
    got = {r["k"]: r["v"] for r in TF.read_table_mor(spark, path)
           .filter("k = 5").collect()}
    assert got[5] == 111.0  # the replay's differing payload never landed
    # a compaction between batches must not break the watermark walk
    TF.commit_compact(spark, path, stat_cols=["k"])
    assert TF.last_committed_txn(path, "job-a") == 0
    assert TF.commit_merge_idempotent(
        spark, path, ch2, key="k", stat_cols=["k"],
        app_id="job-a", batch_id=1,
    ) is not None
    # another app's watermark is independent
    assert TF.last_committed_txn(path, "job-b") is None


def test_format_upsert_sink_streams_cdc_exactly_once(spark, tmp_path):
    """End-to-end streaming upserts into the format: CDC micro-batches
    drain through foreachBatch(format_upsert_sink(...)), each batch a
    stats-targeted MERGE with a txn watermark; a manual re-delivery of
    the final batch (checkpoint-replay shape) changes nothing."""
    src = str(tmp_path / "cdc")
    path = str(tmp_path / "tbl")
    os.makedirs(src)
    TF.create_table(path)
    df = spark.range(400).select(
        F.col("k"), (F.col("k") * 2).cast("double").alias("v"), F.lit("I").alias("op")
    ) if False else spark.range(400).selectExpr(
        "id as k", "cast(id * 2 as double) as v", "'I' as op"
    )
    TF.commit_append(
        spark, path, df.select("k", "v"),
        stat_cols=["k"],
    )
    # 3 CDC batches over disjoint key ranges: updates, deletes, inserts
    batches = [
        spark.createDataFrame(
            [(k, 1000.0 + k, "U") for k in range(0, 50, 2)]
            + [(k, None, "D") for k in range(1, 50, 2)],
            "k long, v double, op string",
        ),
        spark.createDataFrame(
            [(k, None, "D") for k in range(100, 110)],
            "k long, v double, op string",
        ),
        spark.createDataFrame(
            [(10_000 + i, float(i), "I") for i in range(5)],
            "k long, v double, op string",
        ),
    ]
    import glob as _glob
    import shutil as _shutil

    for i, b in enumerate(batches):
        staging = str(tmp_path / f"stage{i}")
        b.coalesce(1).write.parquet(staging)
        part = _glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        # the file stream source lists FLAT files — land each batch as
        # one file, not a directory
        _shutil.move(part, os.path.join(src, f"b{i}.parquet"))
    sink = TF.format_upsert_sink(
        path, key="k", stat_cols=["k"], app_id="cdc-job"
    )
    stream = spark.readStream.schema(
        "k long, v double, op string"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    got = {r["k"]: r["v"] for r in TF.read_table_mor(spark, path).collect()}
    assert got[0] == 1000.0 and got[48] == 1048.0   # updates landed
    assert 1 not in got and 105 not in got          # both delete batches
    assert got[10_002] == 2.0                       # inserts landed
    assert len(got) == 400 - 25 - 10 + 5
    assert TF.last_committed_txn(path, "cdc-job") == 2
    # checkpoint-replay shape: re-deliver the LAST batch manually
    v_before = TF.latest_version(path)
    sink(batches[2].withColumn("v", F.col("v") + 99), 2)
    assert TF.latest_version(path) == v_before
    assert TF.read_table_mor(spark, path).filter("k = 10002").collect()[0]["v"] == 2.0


# ---------------------------------------------------------------------------
# round 10: deletion vectors, delete-file compaction, txn-through-expiry,
# zombie-replay + branch-CAS serializability, CDF column pruning,
# partition-planned streaming CDF
# ---------------------------------------------------------------------------


def test_dv_codec_roundtrip():
    """The deletion-vector varint-run codec is lossless over the shapes
    that matter: contiguous runs, scattered singletons, duplicates,
    the empty set, and a 0-anchored range — and a contiguous run is
    byte-cheap (2 varints), the reason DVs beat tuple rows."""
    cases = [
        [],
        [0],
        [5],
        list(range(100)),
        [0, 1, 2, 10, 11, 999, 10_000_000],
        [7, 7, 7, 3, 3],            # duplicates collapse
        list(range(0, 1000, 2)),    # worst case: all singleton runs
    ]
    for positions in cases:
        blob = TF._dv_encode(positions)
        assert TF._dv_decode(blob) == sorted(set(positions))
    assert len(TF._dv_encode(range(100_000))) <= 5  # one run, two varints


def test_dv_and_tuple_encodings_compose(spark, ranged_table):
    """A legacy tuple-encoded positional delete and a new dv-encoded one
    on the SAME table subtract jointly — readers resolve both through
    one helper, so mixed old/new delete files can never diverge."""
    path, df = ranged_table
    TF.commit_delete_positions(
        spark, path,
        TF.positions_where(spark, path, "k >= 10 and k < 20"),
        encoding="tuples",
    )
    TF.commit_delete_positions(
        spark, path,
        TF.positions_where(spark, path, "k >= 500 and k < 505"),
        encoding="dv",
    )
    entries = TF._snapshot_pos_deletes(path, TF.latest_version(path))
    assert {e.get("encoding") for e in entries} == {None, "dv"} or {
        e.get("encoding") for e in entries
    } == {"dv", None}
    got = {r["k"] for r in TF.read_table_mor(spark, path).collect()}
    assert got == set(range(1000)) - set(range(10, 20)) - set(range(500, 505))


def test_compact_deletes_coalesces_to_one_dv_file(spark, ranged_table):
    """Delete-file minor compaction: three positional-delete commits +
    two equality-delete commits coalesce into ONE deletion-vector file
    in a MAINTENANCE commit — the MOR read is bit-identical before and
    after, equality state is cleared (converted to positions), the CDF
    skips the compaction, and _mor_resolve's group count returns to 1
    (the growth bound under a long-running upsert stream)."""
    path, df = ranged_table
    TF.commit_delete_positions(                                     # v2
        spark, path, TF.positions_where(spark, path, "k < 5")
    )
    TF.commit_delete_positions(                                     # v3
        spark, path, TF.positions_where(spark, path, "k >= 700 and k < 705")
    )
    TF.commit_delete_positions(                                     # v4
        spark, path,
        TF.positions_where(spark, path, "k >= 300 and k < 302"),
        encoding="tuples",
    )
    TF.commit_delete_keys(spark, path, df.filter("k = 900"), key="k")  # v5
    TF.commit_delete_keys(spark, path, df.filter("k = 901"), key="k")  # v6
    before = sorted(
        (r["k"], r["v"]) for r in TF.read_table_mor(spark, path).collect()
    )
    assert len(TF._snapshot_pos_deletes(path, 6)) == 3
    v = TF.compact_deletes(spark, path)                              # v7
    assert v == 7
    c = TF._read_commit(path, 7)
    assert c["maintenance"] is True
    assert "deletes" not in c and "delete_key" not in c
    assert len(c["pos_deletes"]) == 1
    assert c["pos_deletes"][0]["encoding"] == "dv"
    after = sorted(
        (r["k"], r["v"]) for r in TF.read_table_mor(spark, path).collect()
    )
    assert after == before
    dead = set(range(5)) | set(range(700, 705)) | {300, 301, 900, 901}
    assert {k for k, _ in after} == set(range(1000)) - dead
    # CDF: the compaction emits nothing; a fresh consumer still sees
    # every logical change before it
    cdf = TF.read_cdf(spark, path, from_version=0)
    assert cdf.filter("_commit_version = 7").count() == 0
    assert cdf.filter("_change_type = 'delete'").count() == len(dead)
    # idempotent: one DV file and no equality state → no new commit
    head = TF.latest_version(path)
    TF.compact_deletes(spark, path)
    assert TF.latest_version(path) == head
    # equality deletes may now target a DIFFERENT key (state cleared)
    TF.commit_delete_keys(spark, path, df.filter("v = 20.0"), key="v")
    assert TF.read_table_mor(spark, path).filter("k = 10").count() == 0


def test_compact_deletes_bounds_mor_groups(spark, ranged_table):
    """The scale contract: N outstanding delete commits produce O(N)
    anti-join groups in the MOR plan; compact_deletes returns the
    grouping to a single dirty set (one broadcast anti-join)."""
    path, df = ranged_table
    for lo in (0, 130, 260, 390):
        TF.commit_delete_positions(
            spark, path,
            TF.positions_where(spark, path, f"k >= {lo} and k < {lo + 3}"),
        )
    def n_groups():
        pos = TF._snapshot_pos_deletes(path, TF.latest_version(path))
        files = TF._snapshot_file_dicts(path, TF.latest_version(path))
        sets = set()
        for f in files:
            ap = os.path.abspath(os.path.join(path, f["path"]))
            s = frozenset(
                d["path"] for d in pos if ap in d.get("paths", [])
            )
            if s:
                sets.add(s)
        return len(sets)
    assert n_groups() >= 2            # distinct per-commit delete sets
    TF.compact_deletes(spark, path)
    assert n_groups() == 1            # one DV file names every dirty file
    got = {r["k"] for r in TF.read_table_mor(spark, path).collect()}
    assert got == set(range(1000)) - {
        k for lo in (0, 130, 260, 390) for k in range(lo, lo + 3)
    }


def test_expire_snapshots_preserves_txn_watermarks(spark, tmp_path):
    """History expiry must hoist per-app transaction watermarks from
    folded-in ancestors (Delta preserves SetTransaction through
    checkpoints for the same reason): after expiring past an app's
    newest commit, last_committed_txn still answers and a replayed
    micro-batch is still skipped — exactly-once survives expiry."""
    path = str(tmp_path / "texp")
    TF.create_table(path)
    df = spark.range(100).selectExpr("id as k", "cast(id as double) as v")
    TF.commit_append(spark, path, df, stat_cols=["k"])               # v1
    assert TF.commit_merge_idempotent(
        spark, path,
        spark.createDataFrame([(5, 99.0, "U")], "k long, v double, op string"),
        key="k", stat_cols=["k"], app_id="app-a", batch_id=7,
    ) is not None                                                    # v2
    TF.commit_append(spark, path, df.limit(1), stat_cols=["k"])      # v3
    TF.commit_append(spark, path, df.limit(1), stat_cols=["k"])      # v4
    removed = TF.expire_snapshots(path, keep_last=2)
    assert removed >= 2
    assert TF.last_committed_txn(path, "app-a") == 7
    # the replayed batch is recognized and skipped post-expiry
    head = TF.latest_version(path)
    assert TF.commit_merge_idempotent(
        spark, path,
        spark.createDataFrame([(5, -1.0, "U")], "k long, v double, op string"),
        key="k", stat_cols=["k"], app_id="app-a", batch_id=7,
    ) is None
    assert TF.latest_version(path) == head
    # a second expiry round re-hoists the hoisted map
    TF.commit_append(spark, path, df.limit(1), stat_cols=["k"])
    TF.expire_snapshots(path, keep_last=1)
    assert TF.last_committed_txn(path, "app-a") == 7


def test_zombie_merge_replay_cannot_double_apply(spark, tmp_path):
    """The Delta txn-conflict rule: a zombie driver that passed the
    caller's watermark pre-check BEFORE the primary's commit landed
    must still lose — commit_merge re-validates the watermark after
    pinning its base, and commit_merge_idempotent maps that conflict
    to the skip (None), never a second apply."""
    path = str(tmp_path / "zomb")
    TF.create_table(path)
    df = spark.range(50).selectExpr("id as k", "cast(id as double) as v")
    TF.commit_append(spark, path, df, stat_cols=["k"])
    batch = spark.createDataFrame(
        [(3, 100.0, "U")], "k long, v double, op string"
    )
    # primary applies batch 1
    assert TF.commit_merge_idempotent(
        spark, path, batch, key="k", stat_cols=["k"],
        app_id="job", batch_id=1,
    ) is not None
    # zombie replay of batch 1 arrives AFTER the primary committed but
    # believes it already passed the pre-check: calling commit_merge
    # directly (the post-pre-check path) raises, not double-applies
    with pytest.raises(TF.CommitConflict, match="already committed"):
        TF.commit_merge(
            spark, path,
            batch.withColumn("v", F.col("v") + 1),
            key="k", stat_cols=["k"], txn={"app": "job", "batch": 1},
        )
    # and through the idempotent wrapper the replay is a clean skip
    assert TF.commit_merge_idempotent(
        spark, path, batch.withColumn("v", F.col("v") + 1),
        key="k", stat_cols=["k"], app_id="job", batch_id=1,
    ) is None
    got = TF.read_table_mor(spark, path).filter("k = 3").collect()
    assert [r["v"] for r in got] == [100.0]


def test_branch_pointer_advance_is_cas(spark, tmp_path):
    """Two branch writers that pinned the SAME head both survive the
    commit rename (branch versions come from the shared namespace) —
    the pointer CAS is what makes the second writer lose instead of
    silently orphaning the first's commit after success was returned."""
    path = str(tmp_path / "bcas")
    TF.create_table(path)
    df = spark.range(10).selectExpr("id as k")
    TF.commit_append(spark, path, df, stat_cols=["k"])
    TF.create_branch(path, "dev")
    base = TF.resolve_ref(path, "dev")
    TF.commit_append(spark, path, df.limit(1), stat_cols=["k"], branch="dev")
    # a writer still holding the OLD head loses the CAS
    with pytest.raises(TF.CommitConflict, match="moved during write"):
        TF._advance_branch(path, "dev", 99, base=base)
    # and an end-to-end stale write loses BEFORE data lands
    with pytest.raises(TF.CommitConflict):
        TF.commit_append(
            spark, path, df.limit(1), stat_cols=["k"], branch="dev",
            expected_version=base,
        )


def test_two_writer_merge_torture_is_serializable(spark, tmp_path):
    """Two concurrent MERGE writers (distinct apps, overlapping keys)
    with the standard retry-on-conflict loop: every batch applies
    exactly once and the final table equals the sequential result —
    the serializability contract the CAS + pinned-watermark re-check
    provide.  (Full recompute-on-retry makes interleavings commute
    here: each app updates its own column band.)"""
    import threading

    path = str(tmp_path / "tort")
    TF.create_table(path)
    df = spark.range(100).selectExpr(
        "id as k", "cast(0 as double) as v"
    )
    TF.commit_append(spark, path, df, stat_cols=["k"])
    errs: list = []

    def writer(app: str, delta: float) -> None:
        try:
            for b in range(4):
                batch = spark.createDataFrame(
                    [(k, delta * (b + 1), "U") for k in range(0, 100, 3)],
                    "k long, v double, op string",
                )
                while True:
                    try:
                        TF.commit_merge_idempotent(
                            spark, path, batch, key="k",
                            stat_cols=["k"], app_id=app, batch_id=b,
                        )
                        break
                    except TF.CommitConflict:
                        continue
        except Exception as exc:  # surfaced to the main thread
            errs.append(exc)

    t1 = threading.Thread(target=writer, args=("app-1", 1000.0))
    t2 = threading.Thread(target=writer, args=("app-2", 7.0))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    assert TF.last_committed_txn(path, "app-1") == 3
    assert TF.last_committed_txn(path, "app-2") == 3
    got = {r["k"]: r["v"] for r in TF.read_table_mor(spark, path).collect()}
    assert len(got) == 100
    # last writer per key band wins; both final values are legal serial
    # outcomes — what is ILLEGAL is a lost batch (watermark < 3) or a
    # doubled row, both asserted above
    assert got[0] in (4000.0, 28.0)
    assert got[1] == 0.0


def test_read_cdf_column_projection_prunes_scans(spark, tmp_path):
    """read_cdf(columns=...) is the CDF of the PROJECTED table: only
    requested columns come back, a merge whose change lies entirely
    outside the projection emits no update pair, and the projection
    reaches the parquet scans (no ReadSchema names the dropped
    column)."""
    path = str(tmp_path / "cdfproj")
    TF.create_table(path)
    df = spark.range(100).selectExpr(
        "id as k", "cast(id as double) as v", "repeat('x', 20) as wide_col"
    )
    TF.commit_append(spark, path, df, stat_cols=["k"])               # v1
    changes = spark.createDataFrame(
        [(5, 99.0, "a", "U"), (6, 6.0, "b", "U")],
        "k long, v double, wide_col string, op string",
    )
    TF.commit_merge(spark, path, changes, key="k", stat_cols=["k"])  # v2
    cdf = TF.read_cdf(spark, path, from_version=0, columns=["k", "v"])
    assert cdf.columns == ["k", "v", "_change_type", "_commit_version"]
    rows = {
        (r["k"], r["_change_type"]): r["v"]
        for r in cdf.filter("_commit_version = 2").collect()
    }
    # k=5: v changed 5.0→99.0 → update pair; k=6: only wide_col changed
    # (v stays 12.0) → OUTSIDE the projection, no update pair
    assert rows[(5, "update_postimage")] == 99.0
    assert rows[(5, "update_preimage")] == 5.0
    assert (6, "update_postimage") not in rows
    plan = cdf._jdf.queryExecution().executedPlan().toString()
    assert "wide_col" not in plan


def test_streaming_cdf_partitions_fan_out_per_commit(spark, tmp_path):
    """The streaming CDF source is partition-planned: a micro-batch
    spanning N commits plans N input partitions (one per commit —
    image computation runs executor-side), and per-partition reads
    reproduce exactly that commit's images."""
    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StringType, StructType,
    )

    from table_streaming_source_spark.streaming.format_cdf import (
        CdfStreamReader,
    )

    path = str(tmp_path / "fanout")
    TF.create_table(path)
    df = spark.range(60).selectExpr("id as k", "cast(id as double) as v")
    TF.commit_append(spark, path, df, stat_cols=["k"])               # v1
    TF.commit_append(                                                # v2
        spark, path,
        spark.range(60, 70).selectExpr("id as k", "cast(id as double) as v"),
        stat_cols=["k"],
    )
    TF.commit_delete_keys(spark, path, df.filter("k < 3"), key="k")  # v3
    schema = (
        StructType()
        .add("k", LongType())
        .add("v", DoubleType())
        .add("_change_type", StringType())
        .add("_commit_version", IntegerType())
    )
    reader = CdfStreamReader(schema, {"path": path})
    assert reader.latestOffset() == {"version": 3}
    parts = reader.partitions({"version": 0}, {"version": 3})
    assert len(parts) == 3                       # one per commit
    per_commit = {}
    for p in parts:
        # read() yields Arrow record batches (round 16: whole columns
        # cross the Python-worker boundary, not per-row tuples)
        for batch in reader.read(p):
            for row in batch.to_pylist():
                per_commit.setdefault(
                    row["_commit_version"], []
                ).append(row)
    assert len(per_commit[1]) == 60
    assert len(per_commit[2]) == 10
    assert sorted(r["k"] for r in per_commit[3]) == [0, 1, 2]
    assert {r["_change_type"] for r in per_commit[3]} == {"delete"}


def test_streaming_cdf_parity_across_schema_evolution(spark, tmp_path):
    """The ADVICE gap: a stream over a table with ADDITIVE schema
    evolution must match the batch read_cdf row-for-row — pre-evolution
    files lack the new column, and the pandas reader must null-backfill
    it instead of crashing on pyarrow's missing-FieldRef."""
    from table_streaming_source_spark.streaming.format_cdf import (
        register_format_cdf,
    )

    path = str(tmp_path / "sevo")
    TF.create_table(path)
    old = spark.range(20).selectExpr("id as k")
    TF.commit_append(spark, path, old, stat_cols=["k"])              # v1
    new = spark.range(20, 30).selectExpr("id as k", "'x' as tag")
    TF.commit_append(spark, path, new, stat_cols=["k"])              # v2
    TF.commit_delete_keys(                                           # v3
        spark, path,
        spark.createDataFrame([(5,), (25,)], "k long"), key="k",
    )
    batch = sorted(
        (r["k"], r["tag"], r["_change_type"], r["_commit_version"])
        for r in TF.read_cdf(spark, path, from_version=0).collect()
    )
    register_format_cdf(spark)
    stream = (
        spark.readStream.format("format_cdf").option("path", path).load()
    )
    assert set(stream.columns) == {"k", "tag", "_change_type",
                                   "_commit_version"}
    name = "__cdf_evo_parity"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    streamed = sorted(
        (r["k"], r["tag"], r["_change_type"], r["_commit_version"])
        for r in spark.table(name).collect()
    )
    spark.catalog.dropTempView(name)
    assert streamed == batch
    assert len(batch) == 20 + 10 + 2


def test_cdf_over_vacuumed_history_raises_cleanly(spark, tmp_path):
    """The soak-found hole: a CDF range reaching a commit whose data
    files were VACUUMED (rewritten by later merges, then swept) must
    raise the clear retention ValueError — never a raw Spark
    PATH_NOT_FOUND — and a range starting at a retained version still
    works.  Both the batch read and the streaming twin."""
    from table_streaming_source_spark.streaming.format_cdf import (
        _cdf_rows,
    )

    path = str(tmp_path / "cdfvac")
    TF.create_table(path)
    df = spark.range(50).selectExpr("id as k", "cast(id as double) as v")
    TF.commit_append(spark, path, df, stat_cols=["k"])               # v1
    TF.commit_merge(                                                 # v2
        spark, path,
        spark.createDataFrame(
            [(int(k), 0.0, "U") for k in range(50)],
            "k long, v double, op string",
        ),
        key="k", stat_cols=["k"],
    )
    TF.commit_append(                                                # v3
        spark, path,
        spark.range(50, 60).selectExpr("id as k", "cast(0 as double) as v"),
        stat_cols=["k"],
    )
    removed, _ = TF.vacuum(path, retain_versions=1)
    assert removed >= 1                    # v1's files are gone
    with pytest.raises(ValueError, match="vacuumed"):
        TF.read_cdf(spark, path, from_version=0).count()
    with pytest.raises(ValueError, match="vacuumed"):
        _cdf_rows(path, 1, ["k", "v"])
    # a range over retained history still reads
    assert (
        TF.read_cdf(spark, path, from_version=2).count() == 10
    )


def test_null_count_pruning_is_lossless(spark, tmp_path):
    """Manifest null-count pruning (Iceberg null_value_counts): an
    IS NULL scan skips zero-null files, an IS NOT NULL scan skips
    all-null files, both reads equal the unpruned filtered read
    (lossless), columns without recorded counts never prune, and an
    unknown kind raises."""
    path = str(tmp_path / "nullp")
    TF.create_table(path)
    df = spark.range(400).selectExpr(
        "id as k",
        "case when id < 100 then null else cast(id as double) end as v",
    )
    TF.commit_append(
        spark, path,
        df.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stat_cols=["k", "v"],
    )
    _, kept_null, total = TF.snapshot_files(path, null_prune=("v", "isnull"))
    _, kept_nn, _ = TF.snapshot_files(path, null_prune=("v", "notnull"))
    assert kept_null < total          # zero-null files pruned
    assert kept_nn < total            # the all-null file pruned
    nulls = TF.read_table(spark, path, null_prune=("v", "isnull")).filter(
        "v is null"
    )
    assert nulls.count() == 100
    vals = TF.read_table(spark, path, null_prune=("v", "notnull")).filter(
        "v is not null"
    )
    assert vals.count() == 300
    # a column without recorded null counts (not in stat_cols at write
    # time for this file) keeps every file — never lossy
    kept, n, tot = TF.snapshot_files(path, null_prune=("k2", "isnull"))
    assert n == tot
    with pytest.raises(ValueError, match="null_prune"):
        TF.snapshot_files(path, null_prune=("v", "nope"))


def test_compact_deletes_on_a_branch(spark, tmp_path):
    """Delete-file compaction targets ONE lineage: positional and
    equality deletes on a dev branch coalesce into one DV via a
    maintenance commit on THAT branch — dev's MOR view is unchanged,
    main never sees the deletes or the compaction."""
    path = str(tmp_path / "bcomp")
    TF.create_table(path)
    df = spark.range(100).selectExpr("id as k", "cast(id*2 as double) as v")
    TF.commit_append(spark, path, df, stat_cols=["k"])
    TF.create_branch(path, "dev")
    TF.commit_delete_positions(
        spark, path,
        TF.positions_where(
            spark, path, "k < 5", version=TF.resolve_ref(path, "dev")
        ),
        branch="dev",
    )
    TF.commit_delete_keys(
        spark, path, df.filter("k >= 90"), key="k", branch="dev"
    )
    v = TF.compact_deletes(spark, path, branch="dev")
    c = TF._read_commit(path, v)
    assert c["maintenance"] and "deletes" not in c
    assert len(c["pos_deletes"]) == 1
    assert TF.resolve_ref(path, "dev") == v
    dev = sorted(r.k for r in TF.read_ref(spark, path, "dev").collect())
    assert dev == list(range(5, 90))
    main = sorted(r.k for r in TF.read_ref(spark, path, "main").collect())
    assert main == list(range(100))


def test_streaming_cdf_columns_projection_parity(spark, tmp_path):
    """The streaming CDF source's ``columns`` option matches the batch
    ``read_cdf(columns=)`` row-for-row — including the projected-table
    semantics that a merge row whose change lies entirely OUTSIDE the
    projection emits no update pair, and a projection that excludes
    the merge key still classifies on it."""
    from table_streaming_source_spark.streaming.format_cdf import (
        register_format_cdf,
    )

    path = str(tmp_path / "cdfcols")
    TF.create_table(path)
    df = spark.range(40).selectExpr(
        "id as k", "cast(id as double) as v", "repeat('y', 8) as w"
    )
    TF.commit_append(spark, path, df, stat_cols=["k"])               # v1
    changes = spark.createDataFrame(
        [(3, 99.0, "yyyyyyyy", "U"),   # v changed → in projection
         (4, 4.0, "CHANGED", "U"),     # only w changed → outside
         (-1, 1.0, "new", "I")],
        "k long, v double, w string, op string",
    )
    TF.commit_merge(spark, path, changes, key="k", stat_cols=["k"])  # v2
    batch = sorted(
        (r["k"], r["v"], r["_change_type"], r["_commit_version"])
        for r in TF.read_cdf(
            spark, path, from_version=0, columns=["k", "v"]
        ).collect()
    )
    register_format_cdf(spark)
    stream = (
        spark.readStream.format("format_cdf")
        .option("path", path)
        .option("columns", "k,v")
        .load()
    )
    assert stream.columns == ["k", "v", "_change_type",
                              "_commit_version"]
    name = "__cdf_cols_parity"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    streamed = sorted(
        (r["k"], r["v"], r["_change_type"], r["_commit_version"])
        for r in spark.table(name).collect()
    )
    spark.catalog.dropTempView(name)
    assert streamed == batch
    kinds = {(k, c) for k, _, c, _ in streamed}
    assert (3, "update_postimage") in kinds
    assert (4, "update_postimage") not in kinds  # outside projection
    assert (-1, "insert") in kinds
    # projection EXCLUDING the merge key still classifies on it
    vonly = (
        spark.readStream.format("format_cdf")
        .option("path", path)
        .option("columns", "v")
        .load()
    )
    assert vonly.columns == ["v", "_change_type", "_commit_version"]
    q = (
        vonly.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    got = sorted(
        (r["v"], r["_change_type"], r["_commit_version"])
        for r in spark.table(name).collect()
    )
    spark.catalog.dropTempView(name)
    want = sorted(
        (r["v"], r["_change_type"], r["_commit_version"])
        for r in TF.read_cdf(
            spark, path, from_version=0, columns=["v"]
        ).collect()
    )
    assert got == want


def test_streaming_cdf_projection_excluding_eq_delete_key(spark, tmp_path):
    """Round-11 ADVICE fix: a ``columns`` projection that EXCLUDES the
    equality-delete key must not crash the stream — the delete leg
    joins on the key, so the pandas reads widen to include it and
    project back, matching the batch ``read_cdf(columns=)`` which
    scans full schema and projects in ``_tag``.  Covers both the
    delete commit itself (``_cdf_rows``'s eq leg) and a later commit
    whose pre-image resolve applies the OUTSTANDING delete
    (``_resolve_pandas``)."""
    from table_streaming_source_spark.streaming.format_cdf import (
        register_format_cdf,
    )

    path = str(tmp_path / "cdfdelproj")
    TF.create_table(path)
    df = spark.range(30).selectExpr("id as k", "cast(id*10 as double) as v")
    TF.commit_append(spark, path, df, stat_cols=["k"])               # v1
    TF.commit_delete_keys(spark, path, df.filter("k < 3"), key="k")  # v2
    # v3: a merge rewriting files that still carry v2's outstanding
    # equality delete — its pre-image resolve must subtract k<3 even
    # though the projection excludes k
    TF.commit_merge(                                                 # v3
        spark, path,
        spark.createDataFrame([(7, 777.0, "U")],
                              "k long, v double, op string"),
        key="k", stat_cols=["k"],
    )
    want = sorted(
        (r["v"], r["_change_type"], r["_commit_version"])
        for r in TF.read_cdf(
            spark, path, from_version=0, columns=["v"]
        ).collect()
    )
    register_format_cdf(spark)
    stream = (
        spark.readStream.format("format_cdf")
        .option("path", path)
        .option("columns", "v")
        .load()
    )
    assert stream.columns == ["v", "_change_type", "_commit_version"]
    name = "__cdf_delkey_proj"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    got = sorted(
        (r["v"], r["_change_type"], r["_commit_version"])
        for r in spark.table(name).collect()
    )
    spark.catalog.dropTempView(name)
    assert got == want
    assert (0.0, "delete", 2) in got and (20.0, "delete", 2) in got
    assert (70.0, "update_preimage", 3) in got
    assert (777.0, "update_postimage", 3) in got
    # the outstanding delete stayed subtracted in v3's pre-image
    assert (0.0, "update_preimage", 3) not in got


def test_cdf_stream_schema_sees_merge_introduced_column(spark, tmp_path):
    """Round-11 ADVICE fix: ``CdfDataSource.schema()`` unifies one
    footer per commit, preferring a file of the commit's OWN
    generation — a merge commit lists carried survivors first, so
    ``files[0]`` can be a pre-evolution file and a column introduced
    ONLY by merges (never a pure append) would silently vanish from
    the stream while the batch read_cdf emits it."""
    from table_streaming_source_spark.streaming.format_cdf import (
        CdfDataSource,
        register_format_cdf,
    )

    path = str(tmp_path / "cdfmergecol")
    TF.create_table(path)
    old = spark.range(10, 30).selectExpr(
        "id as k", "cast(id as double) as v"
    )
    TF.commit_append(spark, path, old, stat_cols=["k"])              # v1
    # v2: insert-only merge whose keys fall OUTSIDE every file range —
    # no file is rewritten (all survivors carried, listed first) and
    # the new data file introduces column ``tag``
    ins = spark.createDataFrame(
        [(1, 100.0, "t1", "I"), (2, 200.0, "t2", "I")],
        "k long, v double, tag string, op string",
    )
    TF.commit_merge(spark, path, ins, key="k", stat_cols=["k"])      # v2
    c = TF._read_commit(path, 2)
    own = [f for f in c["files"] if f.get("seq") == 2]
    assert own and c["files"][0].get("seq") != 2  # survivors lead
    ds = CdfDataSource(options={"path": path})
    names = [f.name for f in ds.schema().fields]
    assert names == ["k", "v", "tag", "_change_type", "_commit_version"]
    # and the stream emits the column, matching batch
    want = sorted(
        (r["k"], r["tag"], r["_change_type"], r["_commit_version"])
        for r in TF.read_cdf(spark, path, from_version=0).collect()
    )
    register_format_cdf(spark)
    name = "__cdf_merge_col"
    q = (
        spark.readStream.format("format_cdf").option("path", path).load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    got = sorted(
        (r["k"], r["tag"], r["_change_type"], r["_commit_version"])
        for r in spark.table(name).collect()
    )
    spark.catalog.dropTempView(name)
    assert got == want
    assert (1, "t1", "insert", 2) in got


def test_format_tail_partitions_fan_out_per_file(spark, tmp_path):
    """Round-11: the plain commit-log tail is partition-planned like
    the CDF stream — a window spanning N new data files plans N input
    partitions (executor-side reads, a big append never serializes
    through the driver), maintenance commits plan nothing, and
    per-partition reads reproduce exactly that file's rows."""
    from pyspark.sql.types import DoubleType, LongType, StructType

    from table_streaming_source_spark.streaming.format_tail import (
        CommitLogStreamReader,
    )

    path = str(tmp_path / "tailfan")
    TF.create_table(path)
    df = spark.range(60).selectExpr("id as k", "cast(id as double) as v")
    TF.commit_append(                                                # v1
        spark, path,
        df.repartitionByRange(3, "k").sortWithinPartitions("k"),
        stat_cols=["k"],
    )
    TF.commit_append(                                                # v2
        spark, path,
        spark.range(60, 70).selectExpr(
            "id as k", "cast(id as double) as v"
        ).coalesce(1),
        stat_cols=["k"],
    )
    TF.commit_compact(spark, path, stat_cols=["k"])                  # v3
    schema = StructType().add("k", LongType()).add("v", DoubleType())
    reader = CommitLogStreamReader(schema, {"path": path})
    parts = reader.partitions({"version": 0}, {"version": 2})
    assert len(parts) == 4                       # 3 files + 1 file
    # read() yields ARROW RecordBatches (the round-12 vectorized
    # boundary) — one per file
    ks = [
        k
        for p in parts
        for batch in reader.read(p)
        for k in batch.column("k").to_pylist()
    ]
    assert sorted(ks) == list(range(70))
    # the maintenance compaction introduces no partitions (one empty
    # placeholder keeps Spark's >=1-partition rule)
    maint = reader.partitions({"version": 2}, {"version": 3})
    assert len(maint) == 1
    assert list(reader.read(maint[0])) == []


def test_compact_binpack_rewrites_only_small_files(spark, tmp_path):
    """Bin-packed partial OPTIMIZE: only files below target_rows are
    rewritten (in parallel, ~target-sized outputs); large files'
    PATHS survive the compaction unchanged; the commit is an
    incremental maintenance commit (untouched files carried by
    reference, prev chains the base); and the MOR view is identical
    across it — outstanding deletes materialized for packed files,
    carried for survivors."""
    path = str(tmp_path / "binpack")
    TF.create_table(path)
    big = spark.range(500).selectExpr("id as k", "cast(id as double) as v")
    TF.commit_append(spark, path, big.coalesce(1), stat_cols=["k"])  # v1
    for lo in range(500, 560, 20):                                   # v2-4
        TF.commit_append(
            spark, path,
            spark.range(lo, lo + 20).selectExpr(
                "id as k", "cast(id as double) as v"
            ).coalesce(1),
            stat_cols=["k"],
        )
    TF.commit_delete_keys(                                           # v5
        spark, path,
        spark.createDataFrame([(1,), (510,)], "k long"), key="k",
    )
    TF.commit_delete_positions(                                      # v6
        spark, path, TF.positions_where(spark, path, "k = 530"),
    )
    before = sorted(
        (r.k, r.v) for r in TF.read_table_mor(spark, path).collect()
    )
    pre_dicts = TF._snapshot_file_dicts(path, 6)
    big_paths = {f["path"] for f in pre_dicts if f["rows"] >= 100}
    assert len(big_paths) == 1 and len(pre_dicts) == 4
    v = TF.compact_binpack(spark, path, stat_cols=["k"], target_rows=100)
    assert v == 7
    c = TF._read_commit(path, v)
    assert c["maintenance"] and c["prev"] == 6 and c["parent"] is None
    post_dicts = TF._snapshot_file_dicts(path, v)
    # the big file survives by reference, path unchanged
    assert big_paths <= {f["path"] for f in post_dicts}
    packed = [f for f in post_dicts if f["path"] not in big_paths]
    assert all(f.get("seq") == v for f in packed)
    assert len(packed) == 1                      # 58 live rows -> 1 bin
    # deletes on the packed files were MATERIALIZED; the carried
    # equality delete still subtracts k=1 from the big file
    after = sorted(
        (r.k, r.v) for r in TF.read_table_mor(spark, path).collect()
    )
    assert after == before
    assert {k for k, _ in after}.isdisjoint({1, 510, 530})
    # positional deletes named only rewritten files -> expired
    assert not TF._snapshot_pos_deletes(path, v)
    # equality delete carried for the survivor
    key, eq = TF._snapshot_deletes(path, v)
    assert key == "k" and len(eq) == 1
    # time travel through the compaction still works
    assert TF.read_table(spark, path, version=4).count() == 560


def test_compact_binpack_noop_and_stream_silence(spark, tmp_path):
    """<2 small files is a no-op (no commit); CDF and tail consumers
    see NOTHING across a bin-pack (maintenance semantics)."""
    from table_streaming_source_spark.streaming.format_cdf import (
        _cdf_rows,
    )
    from table_streaming_source_spark.streaming.format_tail import (
        CommitLogStreamReader,
        _commit_new_files,
    )
    from pyspark.sql.types import DoubleType, LongType, StructType

    path = str(tmp_path / "binpack2")
    TF.create_table(path)
    TF.commit_append(                                                # v1
        spark, path,
        spark.range(300).selectExpr(
            "id as k", "cast(id as double) as v"
        ).coalesce(1),
        stat_cols=["k"],
    )
    assert TF.compact_binpack(
        spark, path, stat_cols=["k"], target_rows=100
    ) == 1                                        # no-op: 0 small files
    TF.commit_append(                                                # v2
        spark, path,
        spark.range(300, 320).selectExpr(
            "id as k", "cast(id as double) as v"
        ).coalesce(1),
        stat_cols=["k"],
    )
    TF.commit_append(                                                # v3
        spark, path,
        spark.range(320, 340).selectExpr(
            "id as k", "cast(id as double) as v"
        ).coalesce(1),
        stat_cols=["k"],
    )
    v = TF.compact_binpack(spark, path, stat_cols=["k"], target_rows=100)
    assert v == 4
    assert _cdf_rows(path, v, ["k", "v"]) == []   # CDF silent
    assert _commit_new_files(path, v) == []       # tail silent
    schema = StructType().add("k", LongType()).add("v", DoubleType())
    reader = CommitLogStreamReader(schema, {"path": path})
    parts = reader.partitions({"version": 3}, {"version": 4})
    assert [b for p in parts for b in reader.read(p)] == []
    assert TF.read_table(spark, path).count() == 340


def test_python_xxh64_matches_spark_expression(spark):
    """`xxh64.py` (from-scratch public-spec XXH64 + Spark's
    chained-seed composition) must agree with the LIVE xxhash64
    expression for longs and strings — the contract that lets a
    driver-side Python probe consult a Spark-built bloom."""
    from pyspark.sql import functions as F

    from table_streaming_source_spark.xxh64 import (
        spark_xxhash64,
    )

    rows = spark.createDataFrame(
        [
            (0, "a"),
            (1, ""),
            (-5, "hello world"),
            (2**62, "x" * 41),
            (-(2**63), "UTF-8 ☃ snowman"),
            (123456789, "0123456789abcdef0123456789abcdef"),
        ],
        "k long, s string",
    ).select(
        "k",
        "s",
        F.xxhash64("k").alias("hk"),
        F.xxhash64("s").alias("hs"),
        F.xxhash64("k", F.lit(2).cast("long")).alias("hk2"),
        F.xxhash64("s", F.lit(7).cast("long")).alias("hs7"),
    ).collect()
    for r in rows:
        assert spark_xxhash64(r.k) == r.hk
        assert spark_xxhash64(r.s) == r.hs
        assert spark_xxhash64(r.k, 2) == r.hk2
        assert spark_xxhash64(r.s, 7) == r.hs7


def test_bloom_point_lookup_prunes_files(spark, tmp_path):
    """Per-file Bloom fingerprints (commit_append(bloom_cols=)): on a
    NON-CLUSTERED key every file's [min, max] overlaps a point
    predicate — range stats prune nothing — but the fingerprint still
    skips files that never saw the key, and the pruned read equals
    the unpruned filtered read (lossless)."""
    path = str(tmp_path / "bloomp")
    TF.create_table(path)
    # interleaved keys: k % 4 decides the file, so every file spans
    # ~[0, 400) — ranges are useless, blooms are not
    df = spark.range(400).selectExpr("id as k", "cast(id as double) as v")
    for r in range(4):
        TF.commit_append(
            spark, path, df.filter(f"k % 4 = {r}").coalesce(1),
            stat_cols=["k"], bloom_cols=["k"],
        )
    dicts = TF._snapshot_file_dicts(path, 4)
    assert len(dicts) == 4
    assert all("bloom" in f and "k" in f["bloom"] for f in dicts)
    # range stats keep everything
    _, kept_range, total = TF.snapshot_files(path, prune=("k", 37, 37))
    assert kept_range == total == 4
    # the bloom proves absence for (at least) the 3 files that never
    # saw k=37 — false positives can keep a file, never lose one
    _, kept_bloom, _ = TF.snapshot_files(path, point=("k", 37))
    assert 1 <= kept_bloom <= 2
    got = TF.read_table(spark, path, point=("k", 37)).filter("k = 37")
    assert [(r.k, r.v) for r in got.collect()] == [(37, 37.0)]
    # a key the table never held: typically 0 files — empty snapshot
    # raises, the read_table contract
    _, kept_miss, _ = TF.snapshot_files(path, point=("k", 999_999))
    assert kept_miss <= 1
    # files without blooms never prune
    path2 = str(tmp_path / "nobloom")
    TF.create_table(path2)
    TF.commit_append(spark, path2, df.drop("b"), stat_cols=["k"])
    _, kept2, tot2 = TF.snapshot_files(path2, point=("k", 999_999))
    assert kept2 == tot2


def test_bloom_tightens_merge_targeting(spark, tmp_path):
    """Stats-targeted MERGE minimality: with interleaved (non-
    clustered) keys the range join hits EVERY file; per-file blooms on
    the merge key clear the files the changed keys provably miss, so
    the merge rewrites fewer files — and the result is unchanged."""
    path = str(tmp_path / "bloomm")
    TF.create_table(path)
    df = spark.range(400).selectExpr("id as k", "cast(id as double) as v")
    for r in range(4):
        TF.commit_append(
            spark, path, df.filter(f"k % 4 = {r}").coalesce(1),
            stat_cols=["k"], bloom_cols=["k"],
        )
    changes = spark.createDataFrame(
        [(37, 999.0, "U"), (41, 888.0, "U")],
        "k long, v double, op string",
    )
    v, rewritten, total = TF.commit_merge(
        spark, path, changes, key="k", stat_cols=["k"],
        bloom_cols=["k"],
    )
    assert total == 4
    # k=37 and k=41 live in two distinct files (37%4=1, 41%4=1 — same
    # file actually); bloom clears the provably-missed files.  With
    # 8192-bit blooms over 100 keys, false positives are ~0: expect
    # exactly the 1 file holding both keys, allow 2 for fp slack.
    assert rewritten <= 2
    got = {r.k: r.v for r in TF.read_table(spark, path).collect()}
    assert got[37] == 999.0 and got[41] == 888.0 and len(got) == 400
    assert got[36] == 36.0
    # the merge's own output files carry fresh blooms
    head = TF._snapshot_file_dicts(path, v)
    assert any(
        f.get("seq") == v and "k" in f.get("bloom", {}) for f in head
    )


def test_bloom_survives_json_roundtrip_and_merge_without_blooms(
    spark, tmp_path
):
    """A table with blooms merged WITHOUT bloom_cols= still works
    (new files simply lack fingerprints, point= keeps them), and the
    bloom entries survive the manifest JSON round-trip byte-exactly."""
    path = str(tmp_path / "bloomj")
    TF.create_table(path)
    df = spark.range(100).selectExpr("id as k", "cast(id as double) as v")
    TF.commit_append(
        spark, path, df, stat_cols=["k"], bloom_cols=["k"]
    )
    f0 = TF._snapshot_file_dicts(path, 1)[0]
    b = f0["bloom"]["k"]
    assert b["m"] == 8192 and b["k"] == 3
    assert all(isinstance(v, int) for v in b["words"].values())
    TF.commit_merge(
        spark, path,
        spark.createDataFrame([(5, 0.0, "U")], "k long, v double, op string"),
        key="k", stat_cols=["k"],
    )
    _, kept, tot = TF.snapshot_files(path, point=("k", 999_999))
    # the 3 untouched bloomed files prune; the merge's new output file
    # (written without bloom_cols=) has no fingerprint and is KEPT —
    # absent blooms never prune
    assert tot == 4 and kept == 1
    assert TF.read_table(spark, path).count() == 100


def test_replace_where_touches_only_predicate_files(spark, tmp_path):
    """commit_replace_where: files fully outside the predicate survive
    BY PATH; fully-inside files drop without I/O; straddlers rewrite
    to their out-of-range rows through MOR; incoming rows outside the
    predicate raise; and the final table equals the SQL-semantics
    result."""
    path = str(tmp_path / "replw")
    TF.create_table(path)
    df = spark.range(400).selectExpr("id as k", "cast(id as double) as v")
    TF.commit_append(                                                # v1
        spark, path,
        df.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stat_cols=["k"],
    )
    TF.commit_delete_keys(                                           # v2
        spark, path,
        spark.createDataFrame([(10,), (150,)], "k long"), key="k",
    )
    pre = TF._snapshot_file_dicts(path, 2)
    outside = {
        f["path"] for f in pre if f["stats"]["k"][1] < 120
        or f["stats"]["k"][0] > 320
    }
    new = spark.createDataFrame(
        [(200, -1.0), (250, -2.0)], "k long, v double"
    )
    v, n_drop, n_rw, n_keep = TF.commit_replace_where(
        spark, path, new, col="k", lo=120, hi=320, stat_cols=["k"]
    )
    # 4 range files of 100: [0,99][100,199][200,299][300,399] →
    # [200,299] drops, two straddle, [0,99] untouched
    assert (n_drop, n_rw, n_keep) == (1, 2, 1)
    post = TF._snapshot_file_dicts(path, v)
    assert outside <= {f["path"] for f in post}  # untouched by path
    got = {r.k: r.v for r in TF.read_table_mor(spark, path).collect()}
    # SQL semantics: delete k in [120,320], insert the two new rows;
    # the k=10 equality delete still applies (carried), k=150 was
    # inside the replaced range (gone with it)
    want = {
        k: float(k) for k in range(400)
        if (k < 120 or k > 320) and k != 10
    }
    want.update({200: -1.0, 250: -2.0})
    assert got == want
    # incoming rows outside the predicate refuse
    with pytest.raises(ValueError, match="replaceWhere violation"):
        TF.commit_replace_where(
            spark, path,
            spark.createDataFrame([(5, 0.0)], "k long, v double"),
            col="k", lo=120, hi=320, stat_cols=["k"],
        )
    # time travel to before the replace still reads
    assert TF.read_table(spark, path, version=1).count() == 400


def test_replace_where_conflicts_with_concurrent_append(spark, tmp_path):
    """Optimistic concurrency: a replace pinned to a stale head loses
    to the append that landed meanwhile (CommitConflict), and the
    winning append is intact."""
    path = str(tmp_path / "replwcc")
    TF.create_table(path)
    df = spark.range(100).selectExpr("id as k", "cast(id as double) as v")
    TF.commit_append(spark, path, df, stat_cols=["k"])               # v1
    head = TF.latest_version(path)
    TF.commit_append(                                                # v2
        spark, path,
        spark.range(100, 110).selectExpr(
            "id as k", "cast(id as double) as v"
        ),
        stat_cols=["k"],
    )
    with pytest.raises(TF.CommitConflict):
        TF.commit_replace_where(
            spark, path,
            spark.createDataFrame([(50, 0.0)], "k long, v double"),
            col="k", lo=40, hi=60, stat_cols=["k"],
            expected_version=head,
        )
    assert TF.read_table(spark, path).count() == 110
    # retry on the new head wins
    v, *_ = TF.commit_replace_where(
        spark, path,
        spark.createDataFrame([(50, 0.0)], "k long, v double"),
        col="k", lo=40, hi=60, stat_cols=["k"],
        expected_version=TF.latest_version(path),
    )
    got = {r.k: r.v for r in TF.read_table(spark, path).collect()}
    assert got[50] == 0.0 and 41 not in got and got[39] == 39.0


def test_format_tail_rate_limit_caps_commits_per_batch(spark, tmp_path):
    """maxCommitsPerTrigger admission control: a tail starting 6
    commits behind drains them through the offset protocol in
    ceil(6/2)=3 planned windows of <=2 commits each, and the union of
    the windows' rows equals the uncapped read.  (Asserted at the
    reader protocol level: availableNow pre-snapshots latestOffset,
    so engine-visible batch counts aren't the cap's contract.)"""
    from pyspark.sql.types import DoubleType, LongType, StructType

    from table_streaming_source_spark.streaming.format_tail import (
        CommitLogStreamReader,
    )

    path = str(tmp_path / "tailrate")
    TF.create_table(path)
    for b in range(6):
        TF.commit_append(
            spark, path,
            spark.range(b * 10, b * 10 + 10).selectExpr(
                "id as k", "cast(id as double) as v"
            ).coalesce(1),
            stat_cols=["k"],
        )
    schema = StructType().add("k", LongType()).add("v", DoubleType())
    reader = CommitLogStreamReader(
        schema, {"path": path, "maxCommitsPerTrigger": "2"}
    )
    start = reader.initialOffset()
    rows: list = []
    windows = 0
    while True:
        end = reader.latestOffset()
        if end == start:
            break
        windows += 1
        span = end["version"] - start["version"]
        assert span <= 2
        for p in reader.partitions(start, end):
            for batch in reader.read(p):
                rows.extend(batch.column("k").to_pylist())
        start = end
    assert windows == 3
    assert sorted(rows) == list(range(60))
    # restart recovery: a FRESH reader that never saw initialOffset
    # admits everything on its first window (the documented Delta
    # behavior), then caps again
    r2 = CommitLogStreamReader(
        schema, {"path": path, "maxCommitsPerTrigger": "2"}
    )
    assert r2.latestOffset() == {"version": 6}


def test_read_cdf_classifies_replace_where(spark, tmp_path):
    """CDF over a replaceWhere commit (round-11): delete images = the
    replaced region's old rows (through outstanding MOR deletes),
    insert images = the incoming batch; carried out-of-range rows —
    including survivor-rewrite files' rows — emit NOTHING.  Batch and
    streaming twins agree row-for-row, including under a projection
    that excludes the predicate column."""
    from table_streaming_source_spark.streaming.format_cdf import (
        register_format_cdf,
    )

    path = str(tmp_path / "cdfreplw")
    TF.create_table(path)
    df = spark.range(100).selectExpr("id as k", "cast(id as double) as v")
    TF.commit_append(                                                # v1
        spark, path,
        df.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stat_cols=["k"],
    )
    TF.commit_delete_keys(                                           # v2
        spark, path, spark.createDataFrame([(40,)], "k long"), key="k",
    )
    new = spark.createDataFrame(
        [(35, -1.0), (55, -2.0)], "k long, v double"
    )
    TF.commit_replace_where(                                         # v3
        spark, path, new, col="k", lo=30, hi=60, stat_cols=["k"]
    )
    cdf = TF.read_cdf(spark, path, from_version=2)
    rows = sorted(
        (r.k, r.v, r["_change_type"])
        for r in cdf.filter("_commit_version = 3").collect()
    )
    # deletes: old rows 30..60 minus the already-deleted k=40
    want_del = sorted(
        (k, float(k), "delete") for k in range(30, 61) if k != 40
    )
    want_ins = [(35, -1.0, "insert"), (55, -2.0, "insert")]
    assert rows == sorted(want_del + want_ins)
    # streaming parity (projection excludes the predicate column k)
    batch = sorted(
        (r.v, r["_change_type"], r["_commit_version"])
        for r in TF.read_cdf(
            spark, path, from_version=0, columns=["v"]
        ).collect()
    )
    register_format_cdf(spark)
    name = "__cdf_replw"
    q = (
        spark.readStream.format("format_cdf")
        .option("path", path)
        .option("columns", "v")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    streamed = sorted(
        (r.v, r["_change_type"], r["_commit_version"])
        for r in spark.table(name).collect()
    )
    spark.catalog.dropTempView(name)
    assert streamed == batch


def test_update_where_rewrites_only_pruned_candidates(spark, tmp_path):
    """commit_update_where: with a prune hint the UPDATE rewrites only
    files whose range can hold matching rows; untouched files survive
    by path; MOR deletes are honored; the result equals SQL UPDATE
    semantics; and read_history classifies the whole log."""
    path = str(tmp_path / "updw")
    TF.create_table(path)
    df = spark.range(400).selectExpr("id as k", "cast(id as double) as v")
    TF.commit_append(                                                # v1
        spark, path,
        df.repartitionByRange(4, "k").sortWithinPartitions("k"),
        stat_cols=["k"],
    )
    TF.commit_delete_keys(                                           # v2
        spark, path, spark.createDataFrame([(150,)], "k long"), key="k",
    )
    v, rewritten, total = TF.commit_update_where(
        spark, path,
        set_exprs={"v": "v * 10"},
        where="k % 2 = 0 AND k BETWEEN 100 AND 199",
        stat_cols=["k"],
        prune=("k", 100, 199),
    )
    assert total == 4 and rewritten == 1
    pre = TF._snapshot_file_dicts(path, 2)
    post = TF._snapshot_file_dicts(path, v)
    outside = {
        f["path"] for f in pre
        if f["stats"]["k"][1] < 100 or f["stats"]["k"][0] > 199
    }
    assert outside <= {f["path"] for f in post}
    got = {r.k: r.v for r in TF.read_table_mor(spark, path).collect()}
    assert 150 not in got and len(got) == 399
    assert got[100] == 1000.0 and got[101] == 101.0
    assert got[98] == 98.0 and got[200] == 200.0
    # empty-candidate no-op: prune range holding no files
    v2, rw2, _ = TF.commit_update_where(
        spark, path, set_exprs={"v": "0.0"}, where="k = -1",
        stat_cols=["k"], prune=("k", -10, -1),
    )
    assert v2 == v and rw2 == 0
    hist = {
        r.version: r.operation
        for r in TF.read_history(spark, path).collect()
    }
    assert hist[0] == "CREATE TABLE"
    assert hist[1] == "WRITE"
    assert hist[2] == "DELETE"
    assert hist[v] == "UPDATE"


def test_update_where_emits_cdf_update_pairs(spark, tmp_path):
    """Round-11: an UPDATE commit stages a CHANGE-DATA sidecar (the
    Delta CDC-file technique) — the change feed reads the matched
    rows' pre/post images verbatim (batch and stream parity), carried
    rows emit nothing, vacuum pins the sidecar while the version is
    retained, and history classifies the commit."""
    from table_streaming_source_spark.streaming.format_cdf import (
        register_format_cdf,
    )

    path = str(tmp_path / "updcdf")
    TF.create_table(path)
    df = spark.range(60).selectExpr("id as k", "cast(id as double) as v")
    TF.commit_append(spark, path, df, stat_cols=["k"])               # v1
    TF.commit_update_where(                                          # v2
        spark, path,
        set_exprs={"v": "v + 1000"},
        where="k % 10 = 3",
        stat_cols=["k"],
    )
    cdf = TF.read_cdf(spark, path, from_version=1)
    rows = sorted(
        (r.k, r.v, r["_change_type"])
        for r in cdf.collect()
    )
    want = sorted(
        [(k, float(k), "update_preimage") for k in range(3, 60, 10)]
        + [(k, k + 1000.0, "update_postimage") for k in range(3, 60, 10)]
    )
    assert rows == want
    # streaming parity
    register_format_cdf(spark)
    name = "__upd_cdf"
    q = (
        spark.readStream.format("format_cdf").option("path", path).load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    streamed = sorted(
        (r.k, r.v, r["_change_type"], r["_commit_version"])
        for r in spark.table(name).collect()
    )
    spark.catalog.dropTempView(name)
    batch_all = sorted(
        (r.k, r.v, r["_change_type"], r["_commit_version"])
        for r in TF.read_cdf(spark, path, from_version=0).collect()
    )
    assert streamed == batch_all
    # vacuum with the version retained keeps the sidecar readable
    TF.commit_append(                                                # v3
        spark, path,
        spark.range(60, 70).selectExpr(
            "id as k", "cast(id as double) as v"
        ),
        stat_cols=["k"],
    )
    removed, _ = TF.vacuum(path, retain_versions=3)
    assert TF.read_cdf(spark, path, from_version=1).filter(
        "_commit_version = 2"
    ).count() == 12


# ---------------------------------------------------------------------------
# column rename (metadata-only column mapping)
# ---------------------------------------------------------------------------


def test_rename_is_metadata_only_and_reads_translate(spark, table):
    path, df = table
    data_dir = os.path.join(path, "data")
    before = {
        os.path.join(r, f)
        for r, _, fs in os.walk(data_dir) for f in fs
    }
    v = TF.commit_rename_column(path, {"v": "value_x2"})
    after = {
        os.path.join(r, f)
        for r, _, fs in os.walk(data_dir) for f in fs
    }
    assert before == after  # zero data I/O
    got = TF.read_table(spark, path)
    assert "value_x2" in got.columns and "v" not in got.columns
    assert got.agg(F.sum("value_x2")).collect()[0][0] == sum(
        i * 2 for i in range(100)
    )
    # time travel BEFORE the rename shows the old name
    old = TF.read_table(spark, path, version=v - 1)
    assert "v" in old.columns and "value_x2" not in old.columns


def test_rename_pruning_translates_old_file_stats(spark, table):
    path, _ = table
    TF.commit_rename_column(path, {"bucket": "shard"})
    kept, n_kept, n_total = TF.snapshot_files(
        path, prune=("shard", 0, 4)
    )
    # the second append's files (bucket >= 5) all prune away on the
    # NEW name even though their manifest stats were recorded under
    # the old one
    assert 0 < n_kept < n_total
    got = spark.read.parquet(*kept)
    assert got.count() == 50 and got.agg(F.max("bucket")).collect()[0][0] == 4


def test_rename_then_append_unions_eras_by_name(spark, table):
    path, _ = table
    TF.commit_rename_column(path, {"v": "value_x2"})
    extra = spark.range(100, 110).select(
        F.col("id").alias("k"),
        F.lit(3).cast("int").alias("bucket"),
        (F.col("id") * 2).alias("value_x2"),
    )
    TF.commit_append(spark, path, extra, stat_cols=["bucket"])
    got = TF.read_table(spark, path)
    assert got.count() == 110
    assert got.agg(F.sum("value_x2")).collect()[0][0] == sum(
        i * 2 for i in range(110)
    )


def test_rename_then_merge_without_compaction(spark, table):
    """Round 15: the row-level rewriters are ERA-AWARE — a MERGE right
    after a rename (NO compaction in between) reads pre-rename files
    under their physical names, rewrites with current names, and
    carries untouched files with their translation chain baked in.
    The MOR delete reconcilers still refuse (compact remains the
    materializer for those)."""
    path, _ = table
    TF.commit_rename_column(path, {"v": "value_x2"})
    changes = spark.range(3).select(
        F.col("id").alias("k"),
        F.lit(0).cast("int").alias("bucket"),
        F.lit(0).alias("value_x2"),
        F.lit("U").alias("op"),
    )
    v, rewritten, total = TF.commit_merge(
        spark, path, changes, key="k", stat_cols=["bucket"]
    )
    got = TF.read_table(spark, path)
    assert set(got.columns) == {"k", "bucket", "value_x2"}
    assert got.filter("k < 3").agg(F.sum("value_x2")).collect()[0][0] == 0
    assert got.count() == 100
    assert got.agg(F.sum("value_x2")).collect()[0][0] == sum(
        i * 2 for i in range(3, 100)
    )
    # this merge rewrote EVERY file (no stats on the merge key), which
    # materializes the current schema — so the delete reconcilers are
    # unguarded again (the carried-entry guard case is pinned in
    # test_deletes_and_point_read_still_refuse_on_era_entries)
    assert TF.positions_where(spark, path, "k = 1").count() == 1
    # time travel to before the rename still shows the old name
    old = TF.read_table(spark, path, version=2)
    assert "v" in old.columns and "value_x2" not in old.columns


def test_rename_validation_errors(spark, table):
    path, _ = table
    with pytest.raises(ValueError, match="empty"):
        TF.commit_rename_column(path, {})
    with pytest.raises(ValueError, match="itself"):
        TF.commit_rename_column(path, {"v": "v"})
    with pytest.raises(ValueError, match="chained"):
        TF.commit_rename_column(path, {"v": "w", "w": "x"})


def test_rename_of_delete_key_requires_compaction(spark, table):
    path, _ = table
    TF.commit_delete_keys(
        spark, path,
        spark.range(1, 3).select(F.col("id").alias("k")),
        key="k",
    )
    with pytest.raises(ValueError, match="outstanding"):
        TF.commit_rename_column(path, {"k": "pk"})
    TF.commit_compact(spark, path, stat_cols=["bucket"])
    v = TF.commit_rename_column(path, {"k": "pk"})
    got = TF.read_table(spark, path)
    assert "pk" in got.columns and got.count() == 98


def test_widen_is_metadata_only_and_casts_eras(spark, table):
    path, _ = table
    v = TF.commit_widen_column(path, {"bucket": "bigint"})
    got = TF.read_table(spark, path)
    assert dict(got.dtypes)["bucket"] == "bigint"
    assert got.count() == 100
    # post-widen append carries the new type physically; eras union
    extra = spark.range(100, 105).select(
        F.col("id").alias("k"),
        F.lit(7).cast("bigint").alias("bucket"),
        (F.col("id") * 2).alias("v"),
    )
    TF.commit_append(spark, path, extra, stat_cols=["bucket"])
    got2 = TF.read_table(spark, path)
    assert got2.count() == 105
    assert dict(got2.dtypes)["bucket"] == "bigint"
    # time travel before the widen shows the old type
    old = TF.read_table(spark, path, version=v - 1)
    assert dict(old.dtypes)["bucket"] == "int"
    # pruning on the widened column still skips by the old stats
    kept, n_kept, n_total = TF.snapshot_files(
        path, prune=("bucket", 7, 7)
    )
    assert n_kept < n_total


def test_widen_guards_rewriters_until_compact(spark, table):
    path, _ = table
    TF.commit_widen_column(path, {"bucket": "bigint"})
    with pytest.raises(NotImplementedError, match="commit_compact"):
        TF.positions_where(spark, path, "k = 1")
    TF.commit_compact(spark, path, stat_cols=["bucket"])
    assert TF.positions_where(spark, path, "k = 1").count() == 1


def test_schema_ops_refuse_over_any_mor_delete_state(spark, table):
    """Round-14 (advisor repro): a rename/widen landing over LIVE
    merge-on-read delete state — positional deletes, or equality
    deletes on ANY column, not just the renamed one — used to commit
    fine and then leave read_table_mor AND commit_compact (the
    prescribed remedy) permanently raising.  Both schema ops now
    refuse up front; compact-first clears the state and the op
    succeeds."""
    path, _ = table
    # positional delete on k — rename of a DIFFERENT column must refuse
    TF.commit_delete_positions(
        spark, path, TF.positions_where(spark, path, "k = 7")
    )
    with pytest.raises(ValueError, match="outstanding"):
        TF.commit_rename_column(path, {"v": "value_x2"})
    with pytest.raises(ValueError, match="outstanding"):
        TF.commit_widen_column(path, {"bucket": "bigint"})
    # the remedy is always runnable from the refused state
    TF.commit_compact(spark, path, stat_cols=["bucket"])
    TF.commit_rename_column(path, {"v": "value_x2"})
    got = TF.read_table_mor(spark, path)
    assert got.count() == 99 and "value_x2" in got.columns


def test_widen_refuses_narrowing_target(spark, table):
    """The ALTER COLUMN TYPE route is documented as SAFE widening —
    a narrowing target (bigint -> int) would silently truncate
    pre-widen data at read time through the era cast, so the commit
    itself now validates against the promotion allowlist."""
    path, _ = table
    with pytest.raises(ValueError, match="not a safe promotion"):
        TF.commit_widen_column(path, {"v": "int"})  # v is bigint
    with pytest.raises(ValueError, match="not a safe promotion"):
        TF.commit_widen_column(path, {"bucket": "string"})
    # chained promotion validates against the NEWEST widen target
    TF.commit_widen_column(path, {"bucket": "bigint"})
    with pytest.raises(ValueError, match="not a safe promotion"):
        TF.commit_widen_column(path, {"bucket": "int"})


def test_read_incremental_is_era_aware_across_rename(spark, table):
    """An incremental range spanning a rename used to silently union
    pre-rename (old physical name) and post-rename files with NULL
    backfill on both columns; each version group now translates
    through the schema-op chain, so every row carries the to_version
    names with no phantom NULLs."""
    path, _ = table                                   # v1, v2 appends
    TF.commit_rename_column(path, {"v": "value_x2"})  # v3
    extra = spark.range(100, 110).select(
        F.col("id").alias("k"),
        F.lit(3).cast("int").alias("bucket"),
        (F.col("id") * 2).alias("value_x2"),
    )
    TF.commit_append(spark, path, extra, stat_cols=["bucket"])  # v4
    inc = TF.read_incremental(spark, path, from_version=1)
    assert "value_x2" in inc.columns and "v" not in inc.columns
    assert inc.count() == 60  # v2's 50 rows + v4's 10
    assert inc.filter(F.col("value_x2").isNull()).count() == 0
    assert inc.agg(F.sum("value_x2")).collect()[0][0] == sum(
        i * 2 for i in range(100) if i % 10 >= 5
    ) + sum(i * 2 for i in range(100, 110))


def test_read_cdf_spans_rename_commit(spark, table):
    """A CDF range containing a rename/widen commit used to crash with
    UNABLE_TO_INFER_SCHEMA (parquet read over the commit's empty file
    list).  The schema-op commit now emits no rows — it changes none —
    and every OTHER leg translates through it, so the feed carries one
    schema: the to_version names."""
    path, _ = table                                   # v1, v2 appends
    TF.commit_rename_column(path, {"v": "value_x2"})  # v3
    extra = spark.range(100, 105).select(
        F.col("id").alias("k"),
        F.lit(3).cast("int").alias("bucket"),
        (F.col("id") * 2).alias("value_x2"),
    )
    TF.commit_append(spark, path, extra, stat_cols=["bucket"])  # v4
    feed = TF.read_cdf(spark, path, from_version=0)
    assert "value_x2" in feed.columns and "v" not in feed.columns
    rows = feed.groupBy("_commit_version").count().collect()
    got = {r["_commit_version"]: r["count"] for r in rows}
    assert got == {1: 50, 2: 50, 4: 5}  # v3 emits nothing
    assert feed.filter(F.col("value_x2").isNull()).count() == 0


def test_read_staged_is_era_aware_across_rename(spark, table):
    """WAP audit view over a renamed-uncompacted table: the committed
    side reads era-aware, so the staged union carries ONE schema (the
    current names) with no phantom NULLs."""
    path, _ = table
    TF.commit_rename_column(path, {"v": "value_x2"})
    staged = spark.range(100, 105).select(
        F.col("id").alias("k"),
        F.lit(1).cast("int").alias("bucket"),
        (F.col("id") * 2).alias("value_x2"),
    )
    TF.commit_stage(
        spark, path, staged, stat_cols=["bucket"], audit_id="aud1"
    )
    got = TF.read_staged(spark, path, audit_id="aud1")
    assert "value_x2" in got.columns and "v" not in got.columns
    assert got.count() == 105
    assert got.filter(F.col("value_x2").isNull()).count() == 0
    assert got.agg(F.sum("value_x2")).collect()[0][0] == sum(
        i * 2 for i in range(105)
    )


# ---------------------------------------------------------------------------
# Round 15: era-aware row-level rewriters (rename/widen history no longer
# refuses MERGE/UPDATE/REPLACE/binpack; carried entries bake their chain)
# ---------------------------------------------------------------------------


def _two_file_table(spark, tmp_path, name="era_tbl"):
    """Two files with DISJOINT k ranges and stats on k — targeting is
    observable."""
    path = str(tmp_path / name)
    TF.create_table(path)
    lo = spark.range(0, 10).selectExpr("id as k", "id * 2 as v")
    hi = spark.range(100, 110).selectExpr("id as k", "id * 2 as v")
    TF.commit_append(spark, path, lo.coalesce(1), stat_cols=["k"])   # v1
    TF.commit_append(spark, path, hi.coalesce(1), stat_cols=["k"])   # v2
    return path


def test_merge_targeting_prunes_across_renamed_key(spark, tmp_path):
    """Stats-targeted MERGE on a RENAMED key: the manifest ranges were
    recorded under the old physical name, the CDC batch arrives under
    the current name — translation keeps the file pruning (only the
    overlapping file rewrites) and the untouched file is carried with
    its chain baked in and stays readable."""
    path = _two_file_table(spark, tmp_path)
    TF.commit_rename_column(path, {"k": "pk"})                       # v3
    changes = spark.range(5, 8).selectExpr(
        "id as pk", "cast(0 as bigint) as v", "'U' as op"
    )
    v, rewritten, total = TF.commit_merge(
        spark, path, changes, key="pk", stat_cols=["pk"]
    )
    assert (rewritten, total) == (1, 2)  # pruning survived the rename
    got = TF.read_table(spark, path)
    assert set(got.columns) == {"pk", "v"}
    assert got.count() == 20
    assert got.filter("pk BETWEEN 5 AND 7").agg(
        F.sum("v")
    ).collect()[0][0] == 0
    # the carried file reads correctly through its baked chain
    assert got.filter("pk >= 100").agg(F.sum("v")).collect()[0][0] == sum(
        i * 2 for i in range(100, 110)
    )
    # a SECOND merge targets through the baked entry chain too
    changes2 = spark.range(105, 107).selectExpr(
        "id as pk", "cast(1 as bigint) as v", "'U' as op"
    )
    v2, rw2, tot2 = TF.commit_merge(
        spark, path, changes2, key="pk", stat_cols=["pk"]
    )
    assert rw2 < tot2  # the 0-9 era file(s) stayed untouched
    got2 = TF.read_table(spark, path)
    assert got2.filter("pk IN (105, 106)").agg(
        F.sum("v")
    ).collect()[0][0] == 2
    assert got2.count() == 20


def test_update_and_replace_where_after_rename(spark, tmp_path):
    path = _two_file_table(spark, tmp_path, "era_upd")
    TF.commit_rename_column(path, {"v": "amount"})                   # v3
    # UPDATE with prune on the UNrenamed stat column; SET on the
    # renamed one — only the overlapping file rewrites
    v, rewritten, total = TF.commit_update_where(
        spark, path,
        set_exprs={"amount": "amount + 1000"},
        where="k <= 3",
        stat_cols=["k"],
        prune=("k", 0, 3),
    )
    assert (rewritten, total) == (1, 2)
    got = TF.read_table(spark, path)
    assert got.filter("k <= 3").agg(F.sum("amount")).collect()[0][0] == (
        sum(i * 2 + 1000 for i in range(4))
    )
    assert got.filter("k >= 100").count() == 10
    # REPLACE WHERE on the untouched (still era-carrying) region
    batch = spark.range(100, 103).selectExpr(
        "id as k", "cast(-1 as bigint) as amount"
    )
    v2, dropped, straddle, untouched_n = TF.commit_replace_where(
        spark, path, batch, col="k", lo=100, hi=109,
        stat_cols=["k"],
    )
    got2 = TF.read_table(spark, path)
    assert got2.filter("k >= 100").count() == 3
    assert got2.filter("k >= 100").agg(
        F.sum("amount")
    ).collect()[0][0] == -3
    assert got2.filter("k <= 9").count() == 10  # carried era intact


def test_binpack_after_rename_is_silent_maintenance(spark, tmp_path):
    path = _two_file_table(spark, tmp_path, "era_pack")
    TF.commit_rename_column(path, {"v": "val"})                      # v3
    head = TF.latest_version(path)
    v = TF.compact_binpack(
        spark, path, stat_cols=["k"], target_rows=1_000
    )
    assert v == head + 1
    got = TF.read_table(spark, path)
    assert set(got.columns) == {"k", "val"}
    assert got.count() == 20
    assert got.agg(F.sum("val")).collect()[0][0] == sum(
        i * 2 for i in list(range(10)) + list(range(100, 110))
    )
    # maintenance commit: the CDF feed over it emits nothing (the
    # documented maintenance-only-range contract is a loud raise)
    with pytest.raises(ValueError, match="no change commits"):
        TF.read_cdf(spark, path, from_version=head, to_version=v)


def test_widen_then_merge_without_compaction(spark, tmp_path):
    path = str(tmp_path / "era_widen")
    TF.create_table(path)
    df = spark.range(10).selectExpr("cast(id as int) as k", "id as n")
    TF.commit_append(spark, path, df.coalesce(1), stat_cols=["k"])   # v1
    TF.commit_widen_column(path, {"k": "bigint"})                    # v2
    changes = spark.range(3).selectExpr(
        "cast(id as bigint) as k", "cast(0 as bigint) as n", "'U' as op"
    )
    TF.commit_merge(spark, path, changes, key="k", stat_cols=["k"])
    got = TF.read_table(spark, path)
    assert dict(got.dtypes)["k"] == "bigint"
    assert got.count() == 10
    assert got.filter("k < 3").agg(F.sum("n")).collect()[0][0] == 0


def test_chained_eras_rename_merge_rename_merge(spark, tmp_path):
    """Entry-baked chains COMPOSE with later commit-level ops: rename,
    merge (bakes chain into carried file), rename again, merge again —
    every era still translates to the newest names."""
    path = _two_file_table(spark, tmp_path, "era_chain")
    TF.commit_rename_column(path, {"k": "pk"})                       # v3
    TF.commit_merge(
        spark, path,
        spark.range(5, 6).selectExpr(
            "id as pk", "cast(0 as bigint) as v", "'U' as op"
        ),
        key="pk", stat_cols=["pk"],
    )                                                                # v4
    TF.commit_rename_column(path, {"v": "amount"})                   # v5
    TF.commit_merge(
        spark, path,
        spark.range(105, 106).selectExpr(
            "id as pk", "cast(0 as bigint) as amount", "'U' as op"
        ),
        key="pk", stat_cols=["pk"],
    )                                                                # v6
    got = TF.read_table(spark, path)
    assert set(got.columns) == {"pk", "amount"}
    assert got.count() == 20
    assert got.filter("pk IN (5, 105)").agg(
        F.sum("amount")
    ).collect()[0][0] == 0
    assert got.agg(F.sum("amount")).collect()[0][0] == sum(
        i * 2 for i in list(range(10)) + list(range(100, 110))
    ) - 10 - 210


def test_deletes_and_point_read_still_refuse_on_era_entries(
    spark, tmp_path
):
    """After an era-carrying rewrite the commit-level rename records
    are cut away — the guard must detect the ENTRY-level chains so the
    non-era-aware ops (MOR deletes, hidden-partition point read) keep
    refusing with the compact remedy, and compaction still clears."""
    path = _two_file_table(spark, tmp_path, "era_guard")
    TF.commit_rename_column(path, {"k": "pk"})                       # v3
    TF.commit_merge(
        spark, path,
        spark.range(5, 6).selectExpr(
            "id as pk", "cast(0 as bigint) as v", "'U' as op"
        ),
        key="pk", stat_cols=["pk"],
    )                                                                # v4
    # the merge cut the parent chain; only entries carry eras now
    c = TF._read_commit(path, 4)
    assert c["parent"] is None
    assert any(f.get("eras") for f in c["files"])
    with pytest.raises(NotImplementedError, match="commit_compact"):
        TF.commit_delete_keys(
            spark, path,
            spark.range(1, 2).selectExpr("id as pk"), key="pk",
        )
    with pytest.raises(NotImplementedError, match="commit_compact"):
        TF.snapshot_files_point(path, "pk", 5)
    TF.commit_compact(spark, path, stat_cols=["pk"])
    TF.commit_delete_keys(
        spark, path, spark.range(1, 2).selectExpr("id as pk"), key="pk",
    )
    assert TF.read_table_mor(spark, path).count() == 19


def test_cdf_of_merge_right_after_rename(spark, tmp_path):
    """The CDF merge leg reads the PRE side era-aware: a merge landing
    directly on a renamed (uncompacted) table classifies its images
    under the current names instead of null-backfilling."""
    path = _two_file_table(spark, tmp_path, "era_cdf")
    TF.commit_rename_column(path, {"v": "amount"})                   # v3
    changes = (
        spark.range(5, 6).selectExpr(
            "id as k", "cast(0 as bigint) as amount", "'U' as op"
        )
        .unionByName(
            spark.range(500, 501).selectExpr(
                "id as k", "cast(7 as bigint) as amount", "'I' as op"
            )
        )
        .unionByName(
            spark.range(100, 101).selectExpr(
                "id as k", "cast(null as bigint) as amount", "'D' as op"
            )
        )
    )
    TF.commit_merge(spark, path, changes, key="k", stat_cols=["k"])  # v4
    feed = TF.read_cdf(spark, path, from_version=3, to_version=4)
    by_type = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert by_type == {
        "insert": 1, "delete": 1,
        "update_preimage": 1, "update_postimage": 1,
    }
    pre = feed.filter("_change_type = 'update_preimage'").collect()[0]
    post = feed.filter("_change_type = 'update_postimage'").collect()[0]
    assert pre["amount"] == 10 and post["amount"] == 0
    assert feed.filter("_change_type = 'delete'").collect()[0]["k"] == 100


def test_clone_of_renamed_source_bakes_eras(spark, tmp_path):
    src = _two_file_table(spark, tmp_path, "era_clone_src")
    TF.commit_rename_column(src, {"v": "amount"})                    # v3
    dst = str(tmp_path / "era_clone_dst")
    TF.shallow_clone(src, dst)
    got = TF.read_table(spark, dst)
    assert set(got.columns) == {"k", "amount"}
    assert got.count() == 20
    # the clone is independently writable era-aware
    TF.commit_merge(
        spark, dst,
        spark.range(5, 6).selectExpr(
            "id as k", "cast(0 as bigint) as amount", "'U' as op"
        ),
        key="k", stat_cols=["k"],
    )
    assert TF.read_table(spark, dst).filter("k = 5").collect()[0][
        "amount"
    ] == 0
    # source untouched
    assert TF.read_table(spark, src).filter("k = 5").collect()[0][
        "amount"
    ] == 10


def test_expire_preserves_era_translation_and_stream_stop(
    spark, tmp_path
):
    """History expiry folds ancestor files into the cut commit: baked
    entry chains keep the data readable under current names, and the
    hoisted ``folded_ops`` keep the streams' schema-change bookkeeping
    (renamed-away names, landed widens) intact after the rename
    commits themselves are deleted."""
    from table_streaming_source_spark.streaming.format_cdf import (
        _schema_ops_for,
    )

    path = _two_file_table(spark, tmp_path, "era_expire")
    TF.commit_rename_column(path, {"v": "amount"})                   # v3
    TF.commit_widen_column(path, {"k": "bigint"})                    # v4 (no-op widen-compatible)
    extra = spark.range(200, 205).selectExpr(
        "id as k", "id * 2 as amount"
    )
    TF.commit_append(spark, path, extra.coalesce(1), stat_cols=["k"])  # v5
    removed = TF.expire_snapshots(path, keep_last=1)
    assert removed > 0
    head = TF.latest_version(path)
    c = TF._read_commit(path, head)
    got = TF.read_table(spark, path)
    assert set(got.columns) == {"k", "amount"}
    assert got.count() == 25
    assert got.agg(F.sum("amount")).collect()[0][0] == sum(
        i * 2
        for i in list(range(10)) + list(range(100, 110))
        + list(range(200, 205))
    )
    # stream bookkeeping survives: the old name is still known
    # renamed-away, the widen target still pinned
    ops, away, widens = _schema_ops_for(path, head, None)
    assert "v" in away
    assert widens.get("k") == "bigint"
    # and the rewriters keep working on the folded table
    TF.commit_merge(
        spark, path,
        spark.range(200, 201).selectExpr(
            "cast(id as bigint) as k", "cast(0 as bigint) as amount",
            "'U' as op",
        ),
        key="k", stat_cols=["k"],
    )
    assert TF.read_table(spark, path).filter("k = 200").collect()[0][
        "amount"
    ] == 0


def test_incremental_era_attribution_through_rewrite(spark, tmp_path):
    """A file appended BETWEEN a rename and a later rewrite, consumed
    incrementally from before the rename: the rewrite re-lists it with
    a baked chain, and the incremental read translates it instead of
    unioning two schemas."""
    path = str(tmp_path / "era_incr")
    TF.create_table(path)
    a = spark.range(0, 5).selectExpr("id as k", "id * 2 as v")
    TF.commit_append(spark, path, a.coalesce(1), stat_cols=["k"])    # v1
    TF.commit_rename_column(path, {"v": "amount"})                   # v2
    b = spark.range(10, 15).selectExpr("id as k", "id * 2 as amount")
    TF.commit_append(spark, path, b.coalesce(1), stat_cols=["k"])    # v3
    # a merge whose key range only touches the FIRST file: the second
    # file (written post-rename, pre-rewrite) is carried by reference
    TF.commit_merge(
        spark, path,
        spark.range(0, 1).selectExpr(
            "id as k", "cast(0 as bigint) as amount", "'U' as op"
        ),
        key="k", stat_cols=["k"],
    )                                                                # v4
    inc = TF.read_incremental(spark, path, from_version=1)
    assert set(inc.columns) == {"k", "amount", "commit_version"}
    # file B attributed to its carrying commit, translated; no NULLs
    assert inc.filter(F.col("amount").isNull()).count() == 0
    assert inc.filter("k >= 10").count() == 5


def test_commit_cache_invalidates_on_expire_rewrite(spark, tmp_path):
    """The stat-validated commit cache must see expire_snapshots'
    in-place cut-commit rewrite (os.replace changes mtime/size) — a
    stale payload would resurrect expired parents."""
    path = _two_file_table(spark, tmp_path, "cache_tbl")
    extra = spark.range(200, 203).selectExpr("id as k", "id * 2 as v")
    TF.commit_append(spark, path, extra.coalesce(1), stat_cols=["k"])
    head = TF.latest_version(path)
    before = TF._read_commit(path, head)
    assert before["parent"] is not None
    TF.expire_snapshots(path, keep_last=1)
    after = TF._read_commit(path, head)  # must re-read, not cache-hit
    assert after["parent"] is None
    assert len(after["files"]) == 3
    assert TF.read_table(spark, path).count() == 23


def test_commit_cache_returns_stable_payloads(spark, tmp_path):
    """Two reads of an immutable commit return the same content (the
    cache contract) and mutating a COPY never poisons the cache —
    writers copy before editing, pinned here."""
    path = _two_file_table(spark, tmp_path, "cache_tbl2")
    a = TF._read_commit(path, 1)
    b = TF._read_commit(path, 1)
    assert a is b  # cache hit on the immutable commit
    c = {**a, "files": list(a["files"])}
    c["files"].append({"path": "poison", "rows": 0, "stats": {}})
    assert len(TF._read_commit(path, 1)["files"]) == len(a["files"])
