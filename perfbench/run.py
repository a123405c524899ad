"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload enrich_refresh --seed 1 \
        --seconds 15 --trace 0

Run from the repository root.  The run pins its environment, starts a
local Spark session, generates its inputs from ``--seed`` under
``perfbench/work/<pid>`` (removed at exit), sets up and warms the
workload, measures it for ``--seconds``, checks the outputs and prints
two lines: a report of every metric the workload has, then the result
line ``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
puts the end-to-end metrics in the result; ``--trace 1`` also tags
every timed call with a job group, reads Spark's status stores for it,
writes the spans to ``perfbench/out/`` and puts the per-layer metrics
in the result.  The exit code is 0 when every check passed, 1 when a
check failed and 2 when the run could not start.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("enrich_refresh", "catalog_batch")

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "rows_per_s": "1/s",
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit.  A workload that does not
    exercise a layer reports 0 for that layer's metrics."""
    from catalog import ENTRIES, FAMILIES

    units = {
        "session.start_s": "s",
        "fixture.gen_s": "s",
        "snapshot.refreshes": "count",
        "snapshot.refresh_ms": "ms",
        "snapshot.serve_ms": "ms",
        "snapshot.rows": "count",
        "stream.batches": "count",
        "stream.latency_tail_ms": "ms",
        "stream.tail_pct": "%",
        "stream.refresh_batch_p50_ms": "ms",
        "stream.trigger_ms": "ms",
        "stream.add_batch_ms": "ms",
        "stream.planning_ms": "ms",
        "stream.wal_commit_ms": "ms",
        "stream.commit_offsets_ms": "ms",
        "stream.latest_offset_ms": "ms",
        "stream.floor_ms": "ms",
        "enrich.sink_ms": "ms",
        "enrich.broadcast_build_ms": "ms",
        "enrich.broadcast_bytes": "B",
        "enrich.jobs_per_batch": "count",
        "enrich.rows_out_per_in": "ratio",
        "enrich.retried_batches": "count",
        "tf.commit_p50_ms": "ms",
        "tf.merge_ms": "ms",
        "tf.merge_jobs": "count",
        "tf.merge_shuffle_bytes": "B",
        "tf.files_rewritten_ratio": "ratio",
        "tf.write_amp": "ratio",
        "tf.live_files": "count",
        "tf.read_plan_ms": "ms",
        "catalog.query_total_s": "s",
    }
    units.update({f"catalog.{family}_s": "s" for family in FAMILIES})
    for entry in ENTRIES:
        units.update({
            f"{entry}.s": "s",
            f"{entry}.jobs": "count",
            f"{entry}.tasks": "count",
            f"{entry}.shuffle_bytes": "B",
            f"{entry}.spill_bytes": "B",
            f"{entry}.executor_run_ms": "ms",
        })
    units.update({
        "spark.executor_run_ms": "ms",
        "spark.executor_cpu_ms": "ms",
        "spark.gc_ms": "ms",
        "spark.busy_frac": "ratio",
        "trace.latency_p50_ms": "ms",
        "trace.read_s": "s",
    })
    return units


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> None:
    """Settings every run shares, fixed before the JVM starts: one
    executor thread per core, the checkout and the benchmark on the
    Python workers' path, no bytecode files, and every scratch file of
    Python, Spark and the JVM inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    path = os.environ.get("PYTHONPATH")
    java = os.environ.get("JAVA_TOOL_OPTIONS")
    os.environ.update({
        "JAVA_TOOL_OPTIONS": " ".join(
            [f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
            + ([java] if java else [])
        ),
        "SPARK_GRAFT_CPUS": str(nproc()),
        "PYTHONPATH": os.pathsep.join([ROOT, HERE] + ([path] if path else [])),
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_DRIVER_MEMORY": "3g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    })


class Run:
    """What a workload receives: the session, its seed and run length,
    its own scratch directory, and the tracing hooks."""

    def __init__(self, spark, args, work, tracer, reader) -> None:
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.cpus = nproc()
        self.work = work
        self.tracer = tracer
        self.reader = reader

    def group(self, name: str):
        """Tag the jobs of a timed call (traced runs only)."""
        if self.reader is None:
            return contextlib.nullcontext()
        return self.reader.group(name)

    @staticmethod
    def log(message: str) -> None:
        print(message, file=sys.stderr, flush=True)


def start_spark(work: str):
    from table_streaming_source_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        shuffle_partitions=nproc(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def measure(args, work: str) -> tuple[dict, dict, int, int]:
    """Run the workload; return (end-to-end, per-layer, attempted, failed)."""
    import catalog
    import enrich
    from status import StatusReader
    from spans import Tracer

    tracer = Tracer(bool(args.trace), f"{args.workload}-{args.seed}")
    t0 = time.perf_counter()
    spark = start_spark(work)
    start_s = time.perf_counter() - t0
    try:
        reader = StatusReader(spark) if args.trace else None
        run = Run(spark, args, work, tracer, reader)
        module = {"enrich_refresh": enrich, "catalog_batch": catalog}
        out = module[args.workload].run(run)
    finally:
        stop_spark(spark)
    e2e = {"setup_s": start_s + out["gen_s"] + out["warm_s"], **out["e2e"]}
    layers = {
        "session.start_s": start_s,
        "fixture.gen_s": out["gen_s"],
        **out["layers"],
    }
    if args.trace:
        layers["trace.latency_p50_ms"] = e2e["latency_p50_ms"]
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        path = os.path.join(
            HERE, "out", f"trace-{args.workload}-{args.seed}.jsonl"
        )
        tracer.write(path)
        Run.log(f"{len(tracer.spans)} spans written to {path}")
    return e2e, layers, out["attempted"], out["failed"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    try:
        import table_streaming_source_spark  # noqa: F401
    except ImportError as exc:
        Run.log(f"cannot import the library from {ROOT}: {exc}")
        return 2
    work = os.path.join(HERE, "work", str(os.getpid()))
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        pin_environment(work)
        e2e, layers, attempted, failed = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))

    units = layer_units() if args.trace else E2E_UNITS
    values = layers if args.trace else e2e
    all_units = {**E2E_UNITS, **layer_units()}
    report = {
        name: {"value": value, "unit": all_units[name]}
        for name, value in {**e2e, **layers}.items()
    }
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "report": report}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": float(values.get(name, 0)), "unit": unit}
            for name, unit in units.items()
        },
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
