"""Batch Python DataSource (sources/fixed_width.py): split planning,
range-exact reads, and format validation."""

import struct

import pytest

from table_streaming_source_spark.sources import fixed_width as FW


def test_write_read_roundtrip_and_split_fanout(spark, tmp_path):
    path = str(tmp_path / "t.tsr")
    rows = [(i, i % 7, i * 1.5) for i in range(10_000)]
    FW.write_tsr(path, rows)
    FW.register(spark)
    df = (
        spark.read.format("tsr")
        .option("path", path)
        .option("recordsPerSplit", 1024)
        .load()
    )
    # split planning: ceil(10000/1024) = 10 partitions, no funnel
    assert df.rdd.getNumPartitions() == 10
    got = sorted((r["key"], r["grp"], r["value"]) for r in df.collect())
    assert got == rows


def test_reader_ranges_partition_the_file_exactly(tmp_path):
    path = str(tmp_path / "t.tsr")
    FW.write_tsr(path, [(i, 0, 0.0) for i in range(100)])
    reader = FW.FixedWidthReader({"path": path, "recordsPerSplit": "33"})
    parts = reader.partitions()
    assert [(p.start, p.count) for p in parts] == [
        (0, 33), (33, 33), (66, 33), (99, 1),
    ]
    # read() yields Arrow record batches since round 16 (whole columns
    # cross the Python-worker boundary, not per-row unpacked tuples)
    keys = [
        k
        for p in parts
        for b in reader.read(p)
        for k in b.column(0).to_pylist()
    ]
    assert keys == list(range(100))


def test_reader_rejects_wrong_magic(tmp_path):
    path = str(tmp_path / "bad.tsr")
    with open(path, "wb") as fh:
        fh.write(b"NOPE" + struct.pack("<I", 0))
    with pytest.raises(ValueError, match="not a TSR1 file"):
        FW.FixedWidthReader({"path": path})


def test_empty_file_yields_one_empty_partition(tmp_path):
    path = str(tmp_path / "e.tsr")
    FW.write_tsr(path, [])
    reader = FW.FixedWidthReader({"path": path})
    parts = reader.partitions()
    assert len(parts) == 1 and parts[0].count == 0
    assert list(reader.read(parts[0])) == []


def test_writer_commit_protocol_and_directory_read(spark, tmp_path):
    """The custom writer stages per-task files and publishes them only
    at commit; the directory reader sees exactly the committed files
    and staging residue is invisible."""
    import os

    from table_streaming_source_spark.sources import fixed_width as FW

    out = str(tmp_path / "out")
    FW.register(spark)
    df = spark.range(1000).selectExpr(
        "id AS key", "id % 7 AS grp", "CAST(id AS DOUBLE) AS value"
    ).repartition(4)
    df.write.format("tsr").mode("overwrite").option("path", out).save()
    files = [n for n in os.listdir(out) if n.endswith(".tsr")]
    assert len(files) == 4  # one published file per task
    assert not [n for n in os.listdir(out) if n.endswith(".tmp")]
    # crash residue: a stray staged file must be invisible to the read
    FW.write_tsr(os.path.join(out, "part-dead.tsr.tmp"), [(1, 1, 1.0)])
    back = (
        spark.read.format("tsr").option("path", out).load()
    )
    assert back.count() == 1000
    assert back.agg({"key": "sum"}).collect()[0][0] == 999 * 1000 // 2
    # overwrite clears previous output AND residue
    df.limit(10).repartition(1).write.format("tsr").mode(
        "overwrite"
    ).option("path", out).save()
    assert (
        spark.read.format("tsr").option("path", out).load().count()
        == 10
    )
    assert not [n for n in os.listdir(out) if n.endswith(".tmp")]


def test_writer_rejects_null_and_leaves_no_file(spark, tmp_path):
    """TSR1 has no null encoding: a null key must fail the write, not
    land as INT64_MIN, and the failed job must publish nothing."""
    import os

    out = str(tmp_path / "out")
    FW.register(spark)
    df = spark.createDataFrame([(None, 1, 1.0)], FW.TSR_SCHEMA)
    with pytest.raises(Exception, match="column .key. holds nulls"):
        df.write.format("tsr").mode("overwrite").option("path", out).save()
    left = os.listdir(out) if os.path.isdir(out) else []
    assert not [n for n in left if n.endswith(".tsr")]


def test_writer_abort_skips_failed_tasks_missing_message(tmp_path):
    """A failed task reports ``None``; abort still sweeps the stages
    the other tasks reported."""
    import os

    w = FW.FixedWidthWriter({"path": str(tmp_path)})
    msg = w.write(iter([]))
    assert os.path.exists(msg.staged)
    w.abort([None, msg])
    assert os.listdir(tmp_path) == []


def test_stream_writer_commit_is_idempotent_per_batch(tmp_path):
    """Checkpoint recovery replays the last micro-batch: a second
    commit of the same batchId must discard its stage, not
    double-publish."""
    d = str(tmp_path / "sink")
    w = FW.FixedWidthStreamWriter({"path": d})
    msgs = [w.write(iter([(1, 0, 1.0), (2, 1, 2.0)]))]
    w.commit(msgs, 0)
    import os

    visible = sorted(
        n for n in os.listdir(d) if n.endswith(".tsr")
    )
    assert visible == ["part-b00000-0.tsr"]
    # the replay: same batch id, freshly staged duplicate data
    replay = [w.write(iter([(1, 0, 1.0), (2, 1, 2.0)]))]
    w.commit(replay, 0)
    after = sorted(n for n in os.listdir(d) if n.endswith(".tsr"))
    assert after == visible  # no second publication
    assert not any(n.endswith(".tmp") for n in os.listdir(d))
    # a NEW batch publishes alongside
    w.commit([w.write(iter([(3, 0, 3.0)]))], 1)
    assert sorted(
        n for n in os.listdir(d) if n.endswith(".tsr")
    ) == ["part-b00000-0.tsr", "part-b00001-0.tsr"]


def test_stream_writer_abort_sweeps_stage_invisible_to_reader(
    spark, tmp_path
):
    d = str(tmp_path / "sink2")
    w = FW.FixedWidthStreamWriter({"path": d})
    msgs = [w.write(iter([(9, 9, 9.0)]))]
    w.abort(msgs, 0)
    import os

    assert [n for n in os.listdir(d) if n.endswith(".tsr")] == []
    # a committed batch plus crash residue: reader sees only the commit
    w.commit([w.write(iter([(1, 0, 1.0)]))], 0)
    w.write(iter([(8, 8, 8.0)]))  # orphaned stage, never committed
    FW.register(spark)
    got = (
        spark.read.format("tsr").option("path", d).load().collect()
    )
    assert [(r.key, r.grp, r.value) for r in got] == [(1, 0, 1.0)]


def test_stream_sink_end_to_end_micro_batches(spark, tmp_path):
    """availableNow drain through writeStream.format('tsr'): 4 source
    files at 2 per trigger → 2 micro-batches, batch-tagged files, all
    rows exactly once."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    df = spark.range(40).select(
        F.col("id").alias("key"),
        (F.col("id") % 4).alias("grp"),
        (F.col("id") * 1.5).alias("value"),
    )
    df.repartition(4).write.mode("overwrite").parquet(src)
    FW.register(spark)
    q = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
        .writeStream.format("tsr")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    import os

    batches = {
        n.split("-")[1]
        for n in os.listdir(out)
        if n.endswith(".tsr")
    }
    assert len(batches) == 2  # 4 files / 2 per trigger
    back = spark.read.format("tsr").option("path", out).load()
    assert back.count() == 40
    assert back.select(F.sum("key")).collect()[0][0] == sum(range(40))


def test_stream_writer_crash_between_marker_and_publish(tmp_path):
    """The marker IS the manifest (temp+rename first, publish second):
    a crash after the marker lands but with the publish incomplete must
    recover on replay — the replayed commit finishes the publish FROM
    THE MANIFEST and discards its own differing stage.  No duplicates,
    no visible orphans, regardless of the replay's task count/order."""
    import os

    d = str(tmp_path / "sink3")
    w = FW.FixedWidthStreamWriter({"path": d})
    msgs = [
        w.write(iter([(1, 0, 1.0)])),
        w.write(iter([(2, 1, 2.0)])),
    ]
    # crash injection: let the marker rename through, fail the SECOND
    # staged->final publish rename
    real_replace = os.replace
    published = []

    def failing_replace(src, dst):
        if dst.endswith(".tsr"):
            if published:
                raise OSError("simulated crash mid-publish")
            published.append(dst)
        real_replace(src, dst)

    os.replace = failing_replace
    try:
        import pytest as _pytest

        with _pytest.raises(OSError, match="simulated crash"):
            w.commit(msgs, 0)
    finally:
        os.replace = real_replace
    # crashed state: marker committed, one file published, one staged
    assert os.path.exists(os.path.join(d, "_batch-0.committed"))
    assert sorted(n for n in os.listdir(d) if n.endswith(".tsr")) == [
        "part-b00000-0.tsr"
    ]
    assert any(n.endswith(".tsr.tmp") for n in os.listdir(d))
    # the engine calls abort() when commit() throws: it must NOT sweep
    # the manifest's publication-pending staged file (the batch IS
    # committed — removing it would lose the rows forever)
    w.abort(msgs, 0)
    assert any(n.endswith(".tsr.tmp") for n in os.listdir(d))
    # the replay: DIFFERENT message list (engine re-ran the batch with
    # another task layout — 1 task instead of 2)
    replay = [w.write(iter([(1, 0, 1.0), (2, 1, 2.0)]))]
    w.commit(replay, 0)
    visible = sorted(n for n in os.listdir(d) if n.endswith(".tsr"))
    assert visible == ["part-b00000-0.tsr", "part-b00000-1.tsr"]
    # the manifest's second file was published at replay; the replay's
    # own stage was discarded — no orphaned .tsr.tmp remains
    assert not any(n.endswith(".tsr.tmp") for n in os.listdir(d))
    # and a THIRD commit of the same batch is a clean no-op
    w.commit([w.write(iter([(9, 9, 9.0)]))], 0)
    assert sorted(n for n in os.listdir(d) if n.endswith(".tsr")) == visible
