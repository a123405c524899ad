"""Structured Streaming e2e tests.

Mirrors the reference's `PipelineTest.java` flow (`:82-177`): deploy a
source→sink stream, seed the table, poll the sink until it converges
(`Tasks.waitFor`, `:113-127`); then verify (a) refresh after TTL
(`:129-149`), (b) restart recovery + freshness (`:151-177`).
Plus enrichment-mode and watermark/window/stream-dedup coverage.
"""

import time

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from table_streaming_source_spark.snapshot import SnapshotManager
from table_streaming_source_spark.streaming import (
    register_snapshot_source,
    start_enriched_stream,
)
from table_streaming_source_spark.streaming.enrichment import (
    stream_dedup,
    windowed_stream_agg,
)


def wait_for(predicate, timeout_s=60, interval_s=0.5, message="condition"):
    """`Tasks.waitFor` analogue (`PipelineTest.java:113-127`)."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if predicate():
            return
        time.sleep(interval_s)
    raise AssertionError(f"timed out waiting for {message}")


def write_rows(spark, path, rows, mode="append"):
    spark.createDataFrame(rows, "id long, name string").coalesce(1).write.mode(
        mode
    ).parquet(path)


@pytest.mark.streaming
def test_fidelity_source_refresh_and_restart(spark, tmp_path):
    """The three phases of PipelineTest: initial / post-refresh /
    post-restart, against the snapshot_table streaming source."""
    register_snapshot_source(spark)
    table = str(tmp_path / "item")
    write_rows(spark, table, [(1, "Samuel")], mode="overwrite")

    def start_query(name):
        return (
            spark.readStream.format("snapshot_table")
            .option("path", table)
            .option("refreshInterval", "5s")
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(processingTime="1 second")
            .start()
        )

    def sink_ids(name):
        # fidelity mode re-emits the snapshot per batch → the *set* of ids
        # in the sink is the union of emitted snapshots
        return {
            r.id for r in spark.sql(f"SELECT DISTINCT id FROM {name}").collect()
        }

    q = start_query("fidelity1")
    try:
        # phase 1: initial snapshot appears (`PipelineTest.java:100-127`)
        wait_for(lambda: sink_ids("fidelity1") == {1}, message="initial row")
        # phase 2: append a row; appears after the 5s TTL (`:129-149`)
        write_rows(spark, table, [(2, "L")])
        wait_for(
            lambda: sink_ids("fidelity1") == {1, 2},
            timeout_s=30,
            message="post-refresh rows",
        )
    finally:
        q.stop()

    # phase 3: restart; new reader scans fresh (`:151-177`,
    # `TableInputDStream.scala:42-45`)
    write_rows(spark, table, [(3, "Jackson")])
    q2 = start_query("fidelity2")
    try:
        wait_for(
            lambda: sink_ids("fidelity2") == {1, 2, 3},
            timeout_s=30,
            message="post-restart rows",
        )
    finally:
        q2.stop()


@pytest.mark.streaming
def test_enrichment_mode_ttl_refresh(spark, tmp_path):
    """Production mode: rate stream enriched by a TTL-refreshed snapshot;
    a dimension change shows up in batches after the TTL."""
    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [(0, "zero"), (1, "one")], "key long, label string"
    ).write.mode("overwrite").parquet(dim_path)

    mgr = SnapshotManager(
        spark, lambda: spark.read.parquet(dim_path), refresh_interval_ms=3_000
    )
    seen: list[tuple] = []

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "10")
        .load()
        .select((F.col("value") % 2).alias("key"), "timestamp")
    )
    q = start_enriched_stream(
        stream,
        mgr,
        on="key",
        sink=lambda df, bid: seen.extend(
            (r.key, r.label) for r in df.select("key", "label").collect()
        ),
        trigger="500 milliseconds",
    )
    try:
        wait_for(
            lambda: {"zero", "one"} <= {lab for _, lab in seen},
            message="initial enrichment",
        )
        # dimension update: labels change; post-TTL batches must use them
        spark.createDataFrame(
            [(0, "ZERO"), (1, "ONE")], "key long, label string"
        ).write.mode("overwrite").parquet(dim_path)
        wait_for(
            lambda: {"ZERO", "ONE"} <= {lab for _, lab in seen},
            timeout_s=90,
            message="post-TTL enrichment",
        )
    finally:
        q.stop()
        mgr.stop()


def _plan_paths(node, above=()):
    """Every root-to-leaf path of a physical plan as a tuple of node
    class names, looking through AQE's adaptive root and its query
    stages."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_paths(node.executedPlan(), above)
        return
    if name.endswith("QueryStageExec"):
        yield from _plan_paths(node.plan(), above)
        return
    path = (*above, name)
    children = node.children()
    if children.size() == 0:
        yield path
    for i in range(children.size()):
        yield from _plan_paths(children.apply(i), path)


def _snapshot_join(paths):
    """``(join class, classes between the join and the snapshot's
    InMemoryTableScan)`` for the join that reads the snapshot."""
    path = next(p for p in paths if p[-1] == "InMemoryTableScanExec")
    i = max(i for i, n in enumerate(path) if n.endswith("JoinExec"))
    return path[i], list(path[i + 1:-1])


def _drain_enriched(spark, tmp_path, dim, batches, on, how):
    """Stream ``batches`` (one file, hence one micro-batch, each) through
    ``start_enriched_stream`` against ``dim``; return the rows and the
    snapshot join of each batch's executed plan."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    src = str(tmp_path / "src")
    for rows in batches:
        rows.coalesce(1).write.mode("append").parquet(src)
    dim_path = str(tmp_path / "dim")
    dim.write.parquet(dim_path)
    mgr = SnapshotManager(spark, lambda: spark.read.parquet(dim_path))
    seen: dict[int, tuple] = {}

    def sink(df, batch_id):
        rows = df.collect()
        plan = df._jdf.queryExecution().executedPlan()
        seen[batch_id] = (rows, _snapshot_join(list(_plan_paths(plan))))

    stream = (
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = start_enriched_stream(stream, mgr, on, sink, how=how, available_now=True)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
        mgr.stop()
    assert sorted(seen) == list(range(len(batches)))
    return seen


def _events(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id % 100 AS k", "id AS event")


@pytest.mark.streaming
def test_enrichment_merge_join_reuses_snapshot_layout(spark, tmp_path):
    """Every batch, the first included, joins the snapshot by sort-merge
    with no exchange or sort on the snapshot's side: only the batch is
    shuffled."""
    dim = spark.range(50).selectExpr("id AS k", "id * 10 AS attr")
    seen = _drain_enriched(
        spark, tmp_path, dim,
        [_events(spark, 0, 10), _events(spark, 10, 20)], "k", "inner",
    )
    for batch_id in (0, 1):
        join, between = seen[batch_id][1]
        assert join == "SortMergeJoinExec"
        assert not {"ShuffleExchangeExec", "SortExec",
                    "BroadcastExchangeExec"} & set(between), between


@pytest.mark.streaming
def test_enrichment_left_join_on_two_columns_matches_batch(spark, tmp_path):
    """``how="left"`` with a two-column key returns what the batch join
    returns; unmatched stream rows keep null dimension columns."""
    dim = spark.range(40).selectExpr(
        "id % 20 AS k", "id % 3 AS part", "id AS attr"
    )
    batches = [
        spark.range(lo, lo + 10).selectExpr(
            "id % 25 AS k", "id % 3 AS part", "id AS event"
        )
        for lo in (0, 10, 20)
    ]
    seen = _drain_enriched(
        spark, tmp_path, dim, batches, ["k", "part"], "left"
    )
    got = sorted(tuple(r) for rows, _ in seen.values() for r in rows)
    everything = batches[0].unionByName(batches[1]).unionByName(batches[2])
    want = sorted(
        tuple(r) for r in everything.join(dim, ["k", "part"], "left").collect()
    )
    assert got == want
    assert any(r[-1] is None for r in got)  # unmatched rows survive
    assert len(got) == 30


@pytest.mark.streaming
def test_enrichment_sink_error_propagates_without_retry(spark, tmp_path):
    """An error that is not a missing file is not retried: the sink runs
    once and the query stops with that error."""
    src = str(tmp_path / "src")
    _events(spark, 0, 10).coalesce(1).write.parquet(src)
    mgr = SnapshotManager(
        spark, lambda: spark.range(5).selectExpr("id AS k")
    )
    calls = []

    def sink(df, batch_id):
        calls.append(batch_id)
        raise ValueError("sink rejected the batch")

    stream = spark.readStream.schema("k long, event long").parquet(src)
    q = start_enriched_stream(stream, mgr, "k", sink, available_now=True)
    try:
        with pytest.raises(StreamingQueryException, match="sink rejected"):
            q.awaitTermination(120)
    finally:
        q.stop()
        mgr.stop()
    assert calls == [0]


@pytest.mark.streaming
def test_enrichment_retries_missing_file_and_logs(spark, tmp_path, caplog):
    """A batch that fails on a missing file is logged with its batch id
    and retried once against a fresh snapshot scan."""
    src = str(tmp_path / "src")
    _events(spark, 0, 10).coalesce(1).write.parquet(src)
    dim_path = str(tmp_path / "dim")
    spark.range(5).selectExpr("id AS k").write.parquet(dim_path)
    mgr = SnapshotManager(spark, lambda: spark.read.parquet(dim_path))
    calls = []

    def sink(df, batch_id):
        calls.append(batch_id)
        if len(calls) == 1:
            spark.read.parquet(str(tmp_path / "gone")).count()
        df.collect()

    stream = spark.readStream.schema("k long, event long").parquet(src)
    with caplog.at_level("WARNING"):
        q = start_enriched_stream(stream, mgr, "k", sink, available_now=True)
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
    assert q.exception() is None
    assert calls == [0, 0]
    assert mgr.stats()["refreshes"] == 2
    assert any("batch 0" in r.getMessage() for r in caplog.records)
    mgr.stop()


@pytest.mark.streaming
def test_watermark_window_agg_matches_batch(spark, sf_dir, tmp_path):
    """Watermarked tumbling-window aggregation over a bounded stream equals
    the batch computation (availableNow drain)."""
    from table_streaming_source_spark.io import load_table

    events = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value"
    )
    src = str(tmp_path / "stream_in")
    events.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = windowed_stream_agg(
        stream,
        ts_col="ts",
        watermark="10 minutes",
        window="1 hour",
        keys=["event_type"],
        aggs={"n": F.count(F.lit(1))},
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("winagg")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.window_start, r.event_type): r.n
        for r in spark.sql("SELECT * FROM winagg").collect()
    }
    expected = {
        (r.ws, r.event_type): r.n
        for r in events.groupBy(
            F.window("ts", "1 hour").start.alias("ws"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # append mode only emits windows the watermark has passed; every
    # emitted window must match batch, and most windows must be emitted
    assert got
    for k, v in got.items():
        assert expected[k] == v, k
    assert len(got) >= len(expected) - len(
        {k for k in expected if k[0] == max(e[0] for e in expected)}
    )


@pytest.mark.streaming
def test_stream_dedup_within_watermark(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark over a stream with duplicated event
    ids yields each id once."""
    from table_streaming_source_spark.io import load_table

    events = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type")
        .limit(200)
    )
    src = str(tmp_path / "dedup_in")
    # write the same events twice → exact duplicates in the stream
    events.write.mode("overwrite").parquet(src)
    events.write.mode("append").parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    deduped = stream_dedup(
        stream, ["event_id"], ts_col="ts", watermark="1 hour"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT event_id, COUNT(*) c FROM dedup_sink GROUP BY event_id"
    ).collect()
    assert len(rows) == 200
    assert all(r.c == 1 for r in rows)


@pytest.mark.streaming
def test_stateful_running_totals_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState running totals: the last emission per key
    after an availableNow drain equals the batch groupBy aggregate, with
    state carried across multiple micro-batches."""
    from pyspark.sql import Window
    from table_streaming_source_spark.io import load_table
    from table_streaming_source_spark.streaming import running_totals_stream

    events = load_table(spark, sf_dir, "events").select("user_id", "value")
    src = str(tmp_path / "stateful_in")
    events.repartition(6).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "2")  # force several micro-batches
        .parquet(src)
    )
    q = (
        running_totals_stream(stream)
        .writeStream.format("memory")
        .queryName("stateful_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    # update mode emits one row per (key, batch); the final emission has
    # the largest running count n
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    got = {
        r.user_id: (r.n, r.total)
        for r in spark.table("stateful_totals")
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    expected = {
        r.user_id: (r.n, r.total)
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(got) == set(expected)
    for uid, (n, total) in expected.items():
        assert got[uid][0] == n, uid
        assert got[uid][1] == pytest.approx(total, rel=1e-9), uid


def test_idempotent_sink_skips_replayed_batches(spark, tmp_path):
    """A replayed batch id must be a no-op: Structured Streaming
    re-delivers the same (batch_id, data) after failure, and an append
    sink would otherwise double-write."""
    from table_streaming_source_spark.streaming.enrichment import (
        idempotent_sink,
    )

    writes = []
    sink = idempotent_sink(
        lambda df, bid: writes.append((bid, df.count())),
        str(tmp_path / "ledger"),
    )
    df = spark.range(10)
    sink(df, 0)
    sink(df, 1)
    sink(df, 0)  # replay — must not re-run the sink
    assert writes == [(0, 10), (1, 10)]


def test_schema_evolution_union_and_merged_read(spark, tmp_path):
    """Schema evolution at the storage layer: old files lack a column
    added later.  `mergeSchema` reads both vintages (missing column →
    NULL), and `unionByName(allowMissingColumns=True)` is the same
    contract plan-side."""
    old = spark.range(5).select(F.col("id"), F.lit("a").alias("v1"))
    new = spark.range(5, 8).select(
        F.col("id"), F.lit("b").alias("v1"), F.lit(1.5).alias("v2")
    )
    path = str(tmp_path / "evolving")
    old.write.parquet(path + "/d=1")
    new.write.parquet(path + "/d=2")

    merged = spark.read.option("mergeSchema", "true").parquet(
        path + "/d=1", path + "/d=2"
    )
    assert set(merged.columns) == {"id", "v1", "v2"}
    assert merged.count() == 8
    assert merged.filter(F.col("v2").isNull()).count() == 5

    plan_side = old.unionByName(new, allowMissingColumns=True)
    assert set(plan_side.columns) == {"id", "v1", "v2"}
    assert plan_side.filter(F.col("v2").isNull()).count() == 5


@pytest.mark.streaming
def test_rocksdb_state_store_matches_batch(spark, sf_dir, tmp_path):
    """The RocksDB state store provider (the at-scale state backend,
    docs/SCALE.md §10) produces identical windowed-aggregation results —
    a pure config switch, no code change."""
    from table_streaming_source_spark.io import load_table

    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        events = load_table(spark, sf_dir, "events").select(
            "ts", "event_type", "value"
        )
        src = str(tmp_path / "rocks_in")
        events.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(events.schema).parquet(src)
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").start.alias("ws"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("rocks_win")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        got = {
            (r.ws, r.event_type): r.n
            for r in spark.table("rocks_win").collect()
        }
        expected = {
            (r.ws, r.event_type): r.n
            for r in events.groupBy(
                F.window("ts", "1 hour").start.alias("ws"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == expected
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


class _FakeGroupState:
    """Duck-typed GroupState for driving _sessionize's state machine
    directly (no streaming harness)."""

    def __init__(self, value=None, timed_out=False):
        self._value = value
        self.hasTimedOut = timed_out
        self.timeout_ts = None
        self.removed = False

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = tuple(v)

    def remove(self):
        self._value, self.removed = None, True

    def setTimeoutTimestamp(self, ts):
        self.timeout_ts = ts


def _sess_step(events_us_cents, state):
    """Run one _sessionize micro-batch; returns (closed_sessions, state)."""
    import pandas as pd

    from table_streaming_source_spark.streaming.stateful import _sessionize

    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                pd.Series([t for t, _ in events_us_cents], dtype="int64")
                * 1000
            ),
            "value": [c / 100.0 for _, c in events_us_cents],
        }
    )
    out = list(_sessionize((7,), [pdf], state))
    sessions = [
        (int(r.session_start.value // 1000), int(r.n_events), float(r.sum_value))
        for r in out[0].itertuples()
    ]
    return sessions, state


def test_sessionize_late_event_within_gap_merges_and_expands(spark):
    """A cross-batch straggler inside the gap must merge: session start
    moves back to it, last/timeout never move backward (ADVICE round 3)."""
    gap_us = 30 * 60 * 1000 * 1000
    t0 = 10 * gap_us
    st = _FakeGroupState()
    _sess_step([(t0, 100), (t0 + 1000, 100)], st)
    assert st.get == (t0, t0 + 1000, 2, 200)
    horizon = st.timeout_ts
    # next batch: above-watermark straggler slightly BEFORE the stored
    # session start but within the gap
    closed, st = _sess_step([(t0 - 5000, 50)], st)
    assert closed == []  # merged, not emitted
    assert st.get == (t0 - 5000, t0 + 1000, 3, 250)
    assert st.timeout_ts == horizon  # horizon did not shrink


def test_sessionize_straggler_older_than_gap_is_singleton(spark):
    """A straggler more than one gap before the open session can never
    merge — emitted as its own closed singleton session."""
    gap_us = 30 * 60 * 1000 * 1000
    t0 = 10 * gap_us
    st = _FakeGroupState()
    _sess_step([(t0, 100)], st)
    closed, st = _sess_step([(t0 - 2 * gap_us, 75)], st)
    assert closed == [(t0 - 2 * gap_us, 1, 0.75)]
    assert st.get == (t0, t0, 1, 100)  # open session untouched


def test_sessionize_gap_close_and_timeout_emission(spark):
    """Ordered path unchanged: a gap closes the prior session in-batch;
    a timeout emits the stored tail session and clears state."""
    gap_us = 30 * 60 * 1000 * 1000
    t0 = 10 * gap_us
    st = _FakeGroupState()
    closed, st = _sess_step([(t0, 100), (t0 + 2 * gap_us, 40)], st)
    assert closed == [(t0, 1, 1.0)]
    assert st.get == (t0 + 2 * gap_us, t0 + 2 * gap_us, 1, 40)
    # watermark passes → state-store timeout path
    from table_streaming_source_spark.streaming.stateful import _sessionize

    out = list(_sessionize((7,), [], _FakeGroupState(st.get, timed_out=True)))
    rows = out[0]
    assert len(rows) == 1
    assert int(rows.n_events.iloc[0]) == 1
    assert float(rows.sum_value.iloc[0]) == 0.4


def test_timeout_sessions_twins_share_state_machine():
    """The TWS twin is identical to the legacy operator by construction:
    both call _advance_session.  Pin that equivalence at the state-machine
    level (runs everywhere, no protobuf needed): replaying the same
    chunked arrivals through the shared machine yields the same closed
    sessions and the same final state regardless of chunking."""
    import numpy as np

    from table_streaming_source_spark.streaming.stateful import (
        _advance_session,
    )

    gap_us = 30 * 60 * 1000 * 1000
    rng = np.random.RandomState(3)
    # 40 events in 5 bursts separated by > gap
    ts = np.sort(
        np.concatenate(
            [
                b * 3 * gap_us + rng.randint(0, gap_us // 2, size=8)
                for b in range(5)
            ]
        )
    )
    cents = rng.randint(1, 500, size=ts.size)

    def run(chunks):
        state, closed = None, []
        for lo, hi in zip(chunks[:-1], chunks[1:]):
            c, state = _advance_session(
                state, ts[lo:hi], cents[lo:hi]
            )
            closed.extend(c)
        return closed, state

    one_shot = run([0, ts.size])
    in_four = run([0, 10, 20, 30, ts.size])
    assert one_shot == in_four
    assert len(one_shot[0]) == 4  # 5 bursts → 4 gap-closed + 1 open


def test_timeout_sessions_tws_e2e_matches_legacy(spark, sf_dir):
    """Full drain equivalence of the two stateful APIs — runs only where
    google.protobuf exists (transformWithStateInPandas wire protocol);
    the sandbox skips, a standard cluster executes."""
    import pytest

    pytest.importorskip("google.protobuf")
    from table_streaming_source_spark.plans.streaming_queries import (
        _drain_timeout_sessions,
        q_streaming_timeout_sessions,
    )
    from table_streaming_source_spark.streaming.stateful import (
        timeout_sessions_stream_tws,
    )

    legacy = q_streaming_timeout_sessions(spark, sf_dir).orderBy(
        "user_id", "session_start"
    )
    tws = _drain_timeout_sessions(
        spark,
        sf_dir,
        timeout_sessions_stream_tws,
        "streaming_tosess_tws",
        rocksdb=True,
    ).orderBy("user_id", "session_start")
    assert [r.asDict() for r in legacy.collect()] == [
        r.asDict() for r in tws.collect()
    ]


def test_sessionize_stragglers_merge_among_themselves(spark):
    """Two same-batch stragglers within one gap of each other form ONE
    closed session, not two singletons (round-4 review fix)."""
    gap_us = 30 * 60 * 1000 * 1000
    t0 = 10 * gap_us
    st = _FakeGroupState()
    _sess_step([(t0, 100)], st)
    closed, st = _sess_step(
        [(t0 - 3 * gap_us, 40), (t0 - 3 * gap_us + 1_000_000, 60)], st
    )
    assert closed == [(t0 - 3 * gap_us, 2, 1.0)]
    assert st.get == (t0, t0, 1, 100)


def test_sessionize_straggler_chain_cascades_into_open_session(spark):
    """A chain of stragglers whose links are each within one gap must
    cascade into the open session (largest-first merge): the session
    start walks back across the whole chain."""
    gap_us = 30 * 60 * 1000 * 1000
    t0 = 10 * gap_us
    st = _FakeGroupState()
    _sess_step([(t0, 100)], st)
    horizon = st.timeout_ts
    # 1.5 gaps and 0.8 gaps before start: the nearer one merges, pulling
    # start back so the farther one is then within gap and merges too
    closed, st = _sess_step(
        [
            (t0 - gap_us - gap_us // 2, 25),
            (int(t0 - 0.8 * gap_us), 50),
        ],
        st,
    )
    assert closed == []
    assert st.get == (t0 - gap_us - gap_us // 2, t0, 3, 175)
    assert st.timeout_ts == horizon  # horizon never shrinks


def test_full_outer_interval_join_emits_right_only_rows(spark, sf_dir):
    """The full-outer drain must contain BOTH null-padded sides: clicks
    with no within-6h purchase (left-only) AND purchases with no
    preceding click (right-only) — the latter is what distinguishes it
    from the left-outer twin, and requires the COALESCE'd key (a
    left-keyed drop would null right-only keys and the sentinel filter
    would eat them)."""
    from table_streaming_source_spark.plans.streaming_queries import (
        q_streaming_interval_join_full,
        q_streaming_interval_join_outer,
    )

    full = q_streaming_interval_join_full(spark, sf_dir).toPandas()
    left_only = full[full["purchase_id"].isna()]
    right_only = full[full["click_id"].isna()]
    assert len(right_only) > 0, "right-only rows missing"
    assert len(left_only) > 0, "left-only rows missing"
    assert right_only["user_id"].notna().all()
    # the full result restricted to click-bearing rows equals the
    # left-outer twin's result exactly
    outer = q_streaming_interval_join_outer(spark, sf_dir).toPandas()
    lhs = (
        full[full["click_id"].notna()]
        .astype({"click_id": "int64"})  # NaN-bearing frame floats the col
        .sort_values(["user_id", "click_id", "purchase_id"])
        .reset_index(drop=True)
    )
    rhs = outer.sort_values(
        ["user_id", "click_id", "purchase_id"]
    ).reset_index(drop=True)
    assert lhs.equals(rhs)


def test_stateful_agg_under_rocksdb_state_store(spark, tmp_path):
    """The RocksDB state-store provider (verdict demand 8c): the same
    stateful streaming aggregation runs under
    ``RocksDBStateStoreProvider`` — the provider production clusters
    use for state larger than executor heap — and produces the exact
    result of the default HDFS-backed provider.  The switch is a
    per-query conf read at stream start; it is scoped with a
    try/finally reset so the shared session is never left mutated."""
    src = str(tmp_path / "src")
    df = spark.range(60).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("v")
    )
    df.repartition(3).write.mode("overwrite").parquet(src)

    def _drain(tag):
        q = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            .writeStream.format("memory")
            .queryName(f"rocks_{tag}")
            .outputMode("complete")
            .option(
                "checkpointLocation", str(tmp_path / f"ckpt_{tag}")
            )
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        rows = sorted(
            (r.k, r.n, r.s)
            for r in spark.table(f"rocks_{tag}").collect()
        )
        spark.catalog.dropTempView(f"rocks_{tag}")
        return rows

    conf = "spark.sql.streaming.stateStore.providerClass"
    default_rows = _drain("hdfs")
    old = spark.conf.get(conf, None)
    spark.conf.set(
        conf,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        rocks_rows = _drain("rocksdb")
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)
    assert rocks_rows == default_rows
    assert len(rocks_rows) == 5


@pytest.mark.streaming
@pytest.mark.parametrize("op_name", ["legacy", "tws"])
def test_timeout_sessions_recover_across_checkpoint_restart(
    spark, sf_dir, tmp_path, op_name
):
    """Crash-recovery for the custom sessionizer: drain the first half
    of the event stream, STOP, then restart from the same checkpoint
    over the second half — the recovered state (open sessions + the
    persisted watermark) must continue exactly where the first run
    left off, and the union of both runs' emissions must equal a
    fresh one-shot drain of the whole stream.  This is the property
    checkpointing exists for; the availableNow drains elsewhere never
    exercise recovery."""
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    from table_streaming_source_spark.io import load_table
    from table_streaming_source_spark.streaming.stateful import (
        timeout_sessions_stream,
        timeout_sessions_stream_tws,
    )

    if op_name == "tws":
        # transformWithStateInPandas needs the named-state wire
        # protocol; the sandbox lacks protobuf (same gate as the
        # e2e-equivalence test) — a standard cluster executes this leg
        pytest.importorskip("google.protobuf")
    session_op = (
        timeout_sessions_stream if op_name == "legacy"
        else timeout_sessions_stream_tws
    )
    events = load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "value"
    )
    mm = events.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).head()
    cuts = [mm.lo + (mm.hi - mm.lo) * k / 4 for k in (1, 2, 3)]

    def write_chunk(d, start, end, stamp):
        chunk = events
        if start is not None:
            chunk = chunk.filter(F.col("ts") >= F.lit(start))
        if end is not None:
            chunk = chunk.filter(F.col("ts") < F.lit(end))
        seen = set(_os.listdir(d)) if _os.path.exists(d) else set()
        chunk.coalesce(1).write.mode("append").parquet(d)
        # strictly-increasing mtimes: FileStreamSource lists by
        # (mtime, path), and the restart must see phase-2 files as new
        for name in sorted(set(_os.listdir(d)) - seen):
            _os.utime(_os.path.join(d, name), (stamp, stamp))

    def drain(src, out, ck):
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        sessions = session_op(stream.withWatermark("ts", "7 days"))
        q = (
            sessions.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()

    # restarted path: two drains over one checkpoint
    src = str(tmp_path / "src")
    _os.makedirs(src)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    write_chunk(src, None, cuts[0], 1_700_000_000)
    write_chunk(src, cuts[0], cuts[1], 1_700_000_060)
    drain(src, out, ck)
    mid = spark.read.parquet(out).count()
    write_chunk(src, cuts[1], cuts[2], 1_700_000_120)
    write_chunk(src, cuts[2], None, 1_700_000_180)
    drain(src, out, ck)  # RESTART from the same checkpoint

    # reference path: one fresh drain over the identical file sequence
    src2 = str(tmp_path / "src2")
    _os.makedirs(src2)
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    write_chunk(src2, None, cuts[0], 1_700_000_000)
    write_chunk(src2, cuts[0], cuts[1], 1_700_000_060)
    write_chunk(src2, cuts[1], cuts[2], 1_700_000_120)
    write_chunk(src2, cuts[2], None, 1_700_000_180)
    drain(src2, out2, ck2)

    got = spark.read.parquet(out)
    want = spark.read.parquet(out2)
    assert got.count() > mid > 0  # both runs emitted something
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
