"""``enrich_refresh``: a TTL snapshot serving an open-loop stream while a
writer upserts the same table.

An open-loop source (``source.OpenLoopSource``) emits events on a fixed
schedule whatever the sink does.  Each event's counter maps through a
seed-chosen permutation to a dimension key, so every event finds its
row.
``start_enriched_stream`` joins each micro-batch against a
``SnapshotManager`` whose loader is ``table_format.read_table`` over a
salted customer-shaped dimension; the sink counts enriched rows per
``c_mktsegment``.  Once per TTL the main thread applies a pre-generated
upsert batch to that table with ``table_format.commit_merge``.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

from pyspark.sql import functions as F

from table_streaming_source_spark import table_format as TF
from table_streaming_source_spark.snapshot import SnapshotManager
from table_streaming_source_spark.streaming.enrichment import (
    start_enriched_stream,
)

import inputs
from source import OpenLoopSource

DIM_ROWS = 200_000
DIM_FILES = 8
TTL_MS = 5_000
MERGE_KEYS = 1_000
WARM_BATCHES = 5
WAIT_LIMIT_S = 60.0
TAIL_GRID = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
PROGRESS_PHASES = {
    "stream.trigger_ms": "triggerExecution",
    "stream.add_batch_ms": "addBatch",
    "stream.planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.latest_offset_ms": "latestOffset",
}


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, float]:
    """``(percentile, value)``: the highest percentile of the grid with
    at least ten samples beyond it, or the median below 20 samples."""
    n = len(values)
    for pct in TAIL_GRID:
        if n * (1 - pct / 100) >= 10:
            break
    if n < 2:
        return pct, (values[0] if values else 0.0)
    cuts = statistics.quantiles(values, n=1000, method="inclusive")
    return pct, cuts[int(pct * 10) - 1]


def _parquet_bytes(table: str) -> dict[str, int]:
    sizes = {}
    for root, _dirs, files in os.walk(table):
        if os.path.basename(root) == "_log":
            continue
        for name in files:
            if name.endswith(".parquet"):
                full = os.path.join(root, name)
                sizes[full] = os.path.getsize(full)
    return sizes


def _cause(exc: Exception) -> str:
    """The Java exception behind a Py4J error, else the error itself."""
    return str(getattr(exc, "java_exception", None) or repr(exc))[:300]


class TimedSnapshot(SnapshotManager):
    """A ``SnapshotManager`` whose ``current()`` is timed from outside:
    a call that bumped ``refresh_count`` is a refresh (scan, persist,
    eager count), any other call a serve.  ``start_enriched_stream``
    calls ``start()`` once, then again only to retry a failed batch;
    ``retries`` counts those later calls, except the ones made after
    ``stopping`` was set: stopping the query interrupts the batch in
    flight, and the stream retries it."""

    def __init__(self, run, *args, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self._run = run
        self.calls: list[dict] = []
        self.starts = 0
        self.retries = 0
        self.stopping = False

    def start(self):
        self.starts += 1
        if self.starts > 1 and not self.stopping:
            self.retries += 1
        return super().start()

    def current(self):
        before = self.refresh_count
        n = len(self.calls)
        with self._run.tracer.span("snapshot.current"), \
                self._run.group(f"snapshot-{n}"):
            t0 = time.perf_counter()
            try:
                df = super().current()
            except Exception as exc:  # the stream retries the batch once
                self._run.log(f"snapshot.current raised: {_cause(exc)}")
                raise
            elapsed = time.perf_counter() - t0
        self.calls.append({
            "refreshed": self.refresh_count != before,
            "s": elapsed,
            "end": time.time(),
        })
        return df


def run(r) -> dict:
    """Run the workload for ``r.seconds`` and return its outcome."""
    spark, work = r.spark, r.work
    dim_dir = os.path.join(work, "dimension")
    table = os.path.join(work, "table")

    t0 = time.perf_counter()
    inputs.write_dimension(r.seed, dim_dir, DIM_ROWS, DIM_FILES)
    n_merges = int(r.seconds * 1000 // TTL_MS) + 1
    expected: dict[int, float] = {}
    cdc_dirs, cdc_values = [], []
    for i in range(n_merges):
        cdc_dirs.append(os.path.join(work, f"cdc-{i}"))
        cdc_values.append(inputs.write_upserts(
            r.seed, cdc_dirs[-1], i, MERGE_KEYS, DIM_ROWS
        ))
    gen_s = time.perf_counter() - t0

    t_warm = time.perf_counter()
    TF.create_table(table)
    # one input file per task, so each data file keeps one key range
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 30))
    with r.tracer.span("tf.commit_append"), r.group("append"):
        TF.commit_append(
            spark, table, spark.read.parquet(dim_dir),
            stat_cols=["c_custkey"],
        )
    spark.conf.unset("spark.sql.files.openCostInBytes")

    read_plan: list[float] = []

    def loader():
        with r.tracer.span("tf.read_table"):
            t = time.perf_counter()
            df = TF.read_table(spark, table)
            read_plan.append(time.perf_counter() - t)
        return df

    snap = TimedSnapshot(r, spark, loader, refresh_interval_ms=TTL_MS)
    a, b = inputs.key_permutation(r.seed, DIM_ROWS)
    spark.dataSource.register(OpenLoopSource)
    stream = (
        spark.readStream.format(OpenLoopSource.name())
        .option("start", time.time())
        .load()
        .select(
            ((F.col("value") * a + b) % DIM_ROWS).alias("c_custkey"),
            "created_us",
        )
    )

    batches: dict[int, dict] = {}
    attempts: dict[int, int] = {}
    lock = threading.Lock()

    def sink(df, batch_id: int) -> None:
        # counted on entry, so an attempt that raises is counted too
        with lock:
            attempt = attempts.get(batch_id, 0)
            attempts[batch_id] = attempt + 1
        with r.tracer.span("enrich.sink", batch=batch_id), \
                r.group(f"batch-{batch_id}-{attempt}"):
            t0 = time.perf_counter()
            try:
                rows = (
                    df.groupBy("c_mktsegment")
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.max("created_us").alias("newest"),
                    )
                    .collect()
                )
            except Exception as exc:  # the stream retries the batch once
                r.log(f"batch {batch_id} attempt {attempt} raised: "
                      f"{_cause(exc)}")
                raise
            end = time.time()
            sink_s = time.perf_counter() - t0
        with lock:
            newest = max((row["newest"] for row in rows), default=None)
            batches[batch_id] = {
                "rows": sum(row["n"] for row in rows),
                "end": end,
                "sink_s": sink_s,
                "latency_ms": (
                    None if newest is None else end * 1e3 - newest / 1e3
                ),
                "refreshed": bool(snap.calls and snap.calls[-1]["refreshed"]),
            }

    merges: list[dict] = []

    def merge(i: int) -> None:
        before = _parquet_bytes(table)
        with r.tracer.span("tf.commit_merge", batch=i), r.group(f"merge-{i}"):
            t0 = time.perf_counter()
            _v, rewritten, total = TF.commit_merge(
                spark, table, spark.read.parquet(cdc_dirs[i]),
                key="c_custkey", stat_cols=["c_custkey"], upsert=True,
            )
            wall = time.perf_counter() - t0
        after = _parquet_bytes(table)
        cdc_bytes = sum(_parquet_bytes(cdc_dirs[i]).values())
        merges.append({
            "i": i, "ms": wall * 1e3, "ratio": rewritten / max(1, total),
            "write_amp": sum(after[p] for p in set(after) - set(before))
            / cdc_bytes,
        })
        expected.update(cdc_values[i])

    query = start_enriched_stream(
        stream, snap, "c_custkey", sink, trigger=None,
        query_name=f"enrich_refresh_{os.getpid()}",
    )
    failed_ops = 0
    try:
        merge(0)
        warm_from = len(batches)
        limit = time.perf_counter() + WAIT_LIMIT_S
        while len(batches) < warm_from + WARM_BATCHES:
            if time.perf_counter() > limit or not query.isActive:
                raise RuntimeError(f"stream did not warm up: {query.status}")
            time.sleep(0.05)
        warm_s = time.perf_counter() - t_warm
        # start on a TTL boundary, where the snapshot refreshes, and
        # merge half a TTL later: every run sees the same schedule
        ttl_s = TTL_MS / 1e3
        t_start = (time.time() // ttl_s + 1) * ttl_s
        deadline = t_start + r.seconds
        for i in range(1, n_merges):
            due = t_start + (i - 0.5) * ttl_s
            if due >= deadline:
                break
            time.sleep(max(0.0, due - time.time()))
            try:
                merge(i)
            except Exception as exc:  # a failed commit is a counted failure
                r.log(f"commit_merge {i} raised: {exc!r}")
                failed_ops += 1
        time.sleep(max(0.0, deadline - time.time()))
        t_end = time.time()
        # let the batches that ended in the window report their progress
        with lock:
            done = {bid for bid, b in batches.items() if b["end"] <= t_end}
        limit = time.perf_counter() + WAIT_LIMIT_S
        while query.isActive and time.perf_counter() < limit and not (
            done <= {p.batchId for p in query.recentProgress}
        ):
            time.sleep(0.05)
    finally:
        snap.stopping = True
        query.stop()
    if query.exception() is not None:
        r.log(f"stream stopped with {query.exception()}")
        failed_ops += 1

    progress = {p.batchId: p for p in query.recentProgress}
    window = {
        bid: b for bid, b in batches.items() if t_start <= b["end"] <= t_end
    }
    in_window = sorted(window)
    bad = [
        bid for bid in in_window
        if bid not in progress
        or window[bid]["rows"] != progress[bid].numInputRows
        or window[bid]["latency_ms"] is None
    ]
    for bid in bad:
        r.log(f"batch {bid}: {window[bid]['rows']} enriched rows, input "
              f"{progress[bid].numInputRows if bid in progress else None}")
    failed_ops += len(bad) + snap.retries

    with r.tracer.span("check.final"), r.group("check"):
        final = TF.read_table(spark, table)
        final_rows = final.count()
        want = spark.createDataFrame(
            sorted(expected.items()), "c_custkey long, want double"
        )
        wrong = (
            final.join(want, "c_custkey", "right")
            .filter(~F.col("c_acctbal").eqNullSafe(F.col("want")))
            .count()
        )
    checks_failed = int(final_rows != DIM_ROWS) + int(wrong != 0)
    if checks_failed:
        r.log(f"final table: {final_rows} rows, {wrong} wrong merged keys")

    latencies = [window[bid]["latency_ms"] for bid in in_window
                 if window[bid]["latency_ms"] is not None]
    pct, tail_ms = tail(latencies)
    measured_merges = [m for m in merges if m["i"] > 0]
    calls = [c for c in snap.calls if t_start <= c["end"] <= t_end]
    layers = {
        "snapshot.refreshes": sum(1 for c in calls if c["refreshed"]),
        "snapshot.refresh_ms": median(
            c["s"] * 1e3 for c in calls if c["refreshed"]
        ),
        "snapshot.serve_ms": median(
            c["s"] * 1e3 for c in calls if not c["refreshed"]
        ),
        "snapshot.rows": final_rows,
        "stream.batches": len(in_window),
        "stream.latency_tail_ms": tail_ms,
        "stream.tail_pct": pct,
        "stream.refresh_batch_p50_ms": median(
            window[bid]["latency_ms"] for bid in in_window
            if window[bid]["refreshed"]
        ),
        "enrich.sink_ms": median(window[b]["sink_s"] * 1e3 for b in in_window),
        "enrich.rows_out_per_in": (
            sum(window[b]["rows"] for b in in_window)
            / max(1, sum(progress[b].numInputRows for b in in_window
                         if b in progress))
        ),
        "enrich.retried_batches": snap.retries,
        "tf.commit_p50_ms": median(m["ms"] for m in measured_merges),
        "tf.files_rewritten_ratio": median(
            m["ratio"] for m in measured_merges
        ),
        "tf.write_amp": median(m["write_amp"] for m in measured_merges),
        "tf.live_files": TF.snapshot_files(table)[1],
        "tf.read_plan_ms": median(s * 1e3 for s in read_plan),
    }
    for name, phase in PROGRESS_PHASES.items():
        layers[name] = median(
            progress[b].durationMs.get(phase, 0) for b in in_window
            if b in progress
        )
    layers["stream.floor_ms"] = (
        layers["stream.trigger_ms"] - layers["stream.add_batch_ms"]
    )
    if r.reader is not None:
        refreshes = [
            n for n, c in enumerate(snap.calls)
            if c["refreshed"] and t_start <= c["end"] <= t_end
        ]
        t0 = time.perf_counter()
        layers.update(_status_layers(r, in_window, attempts, measured_merges,
                                     refreshes, t_end - t_start))
        layers["trace.read_s"] = time.perf_counter() - t0
    rows = sum(window[b]["rows"] for b in in_window)
    return {
        "gen_s": gen_s,
        "warm_s": warm_s,
        "e2e": {
            "latency_p50_ms": median(latencies),
            "rows_per_s": rows / (t_end - t_start),
        },
        "layers": layers,
        "attempted": len(in_window) + len(measured_merges) + 2,
        "failed": failed_ops + checks_failed,
    }


def _status_layers(r, in_window, attempts, merges, refreshes, wall_s) -> dict:
    """Per-batch and per-merge counters from the status stores."""
    reader = r.reader
    reader.settle()
    executions = reader.executions()
    groups = [f"batch-{b}-{n}" for b in in_window for n in range(attempts[b])]
    jobs, build, size = [], [], []
    totals = []
    for g in groups:
        t = reader.stage_totals(g)
        totals.append(t)
        jobs.append(t["jobs"])
        for node, metric, value in reader.sql_metrics(
            g, executions, frozenset({"BroadcastExchange"})
        ):
            if metric == "time to build":
                build.append(value)
            elif metric == "data size":
                size.append(value)
    merge_totals = [reader.stage_totals(f"merge-{m['i']}") for m in merges]
    refresh_totals = [reader.stage_totals(f"snapshot-{n}") for n in refreshes]
    everything = totals + merge_totals + refresh_totals
    run_ms = sum(t["executor_run_ms"] for t in everything)
    return {
        "enrich.jobs_per_batch": median(jobs),
        "enrich.broadcast_build_ms": median(build),
        "enrich.broadcast_bytes": median(size),
        "tf.merge_ms": median(t["executor_run_ms"] for t in merge_totals),
        "tf.merge_jobs": median(t["jobs"] for t in merge_totals),
        "tf.merge_shuffle_bytes": median(
            t["shuffle_bytes"] for t in merge_totals
        ),
        "spark.executor_run_ms": run_ms,
        "spark.executor_cpu_ms": sum(
            t["executor_cpu_ms"] for t in everything
        ),
        "spark.gc_ms": sum(t["gc_ms"] for t in everything),
        "spark.busy_frac": run_ms / (r.cpus * wall_s * 1e3),
    }
