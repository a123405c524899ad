"""``catalog_batch``: one catalog entry per operator family, run as batch
queries into a ``noop`` sink.

The entries come from ``plans.catalog.QUERIES`` and read a seeded star
schema written by ``inputs.write_star``.  An untimed warm pass collects
every entry and checks it against its ``ORACLES`` SQL on DuckDB with
the repository's oracle comparison (``scripts/check_oracle.py``).  Timed
passes follow until ``--seconds`` have passed, and at least
``MIN_PASSES`` of them, so that each entry's median has that many
samples; each entry must return the warm pass's row count.  A pass is
a closed loop: each entry starts when the previous one has finished.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import inputs

SCRIPTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"
)
SF = 0.01
MIN_PASSES = 3
FAMILIES = {
    "relational": ("flagship_enrichment", "pricing_summary"),
    "dedup": ("dedup_minhash_lsh",),
    "similarity": ("sim_pairs_blocked",),
    "text": ("text_line_dedup",),
    "graph": ("graph_pagerank",),
    "multimodal": ("multimodal_jpeg_stats",),
}
ENTRIES = tuple(e for entries in FAMILIES.values() for e in entries)


def run(r) -> dict:
    """Run the workload for ``r.seconds`` and return its outcome."""
    import duckdb
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from table_streaming_source_spark.plans.catalog import ORACLES, QUERIES

    sys.path.insert(0, SCRIPTS)
    from check_oracle import compare

    spark = r.spark
    star = os.path.join(r.work, "star")
    t0 = time.perf_counter()
    sizes = inputs.write_star(r.seed, star, SF)
    gen_s = time.perf_counter() - t0

    failed = 0
    warm_rows: dict[str, int] = {}
    t_warm = time.perf_counter()
    con = duckdb.connect()
    for name in sizes:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"'{os.path.join(star, name)}.parquet'"
        )
    for entry in ENTRIES:
        with r.tracer.span("catalog.warm", entry=entry), \
                r.group(f"warm-{entry}"):
            try:
                got = QUERIES[entry](spark, star).toPandas()
                why = compare(entry, got, con.execute(ORACLES[entry]).df())
            except Exception as exc:  # a raising entry is a counted failure
                why = [repr(exc)]
        if not why:
            warm_rows[entry] = len(got)
        else:
            r.log(f"{entry}: warm pass does not match its oracle: {why}")
            failed += 1
    con.close()
    warm_s = time.perf_counter() - t_warm

    times: dict[str, list[float]] = {e: [] for e in ENTRIES}
    attempted = len(ENTRIES)
    passes = 0
    t_start = time.perf_counter()
    while passes < MIN_PASSES or time.perf_counter() - t_start < r.seconds:
        for entry in ENTRIES:
            attempted += 1
            obs = Observation(f"rows_{entry}_{passes}")
            with r.tracer.span("catalog.entry", entry=entry, run=passes), \
                    r.group(f"{entry}-{passes}"):
                try:
                    t0 = time.perf_counter()
                    df = QUERIES[entry](spark, star)
                    df.observe(obs, F.count(F.lit(1)).alias("n")).write \
                        .format("noop").mode("overwrite").save()
                    elapsed = time.perf_counter() - t0
                    rows = obs.get["n"]
                except Exception as exc:  # counted, the pass goes on
                    r.log(f"{entry}: timed pass {passes} raised {exc!r}")
                    failed += 1
                    continue
            if rows != warm_rows.get(entry):
                r.log(f"{entry}: {rows} rows, warm pass had "
                      f"{warm_rows.get(entry)}")
                failed += 1
            times[entry].append(elapsed)
        passes += 1
    timed_s = time.perf_counter() - t_start

    med = {e: statistics.median(v) if v else 0.0 for e, v in times.items()}
    total_s = sum(med.values())
    layers = {"catalog.query_total_s": total_s}
    for family, entries in FAMILIES.items():
        layers[f"catalog.{family}_s"] = sum(med[e] for e in entries)
    for entry in ENTRIES:
        layers[f"{entry}.s"] = med[entry]
    if r.reader is not None:
        t0 = time.perf_counter()
        layers.update(_status_layers(r, passes, timed_s))
        layers["trace.read_s"] = time.perf_counter() - t0
    return {
        "gen_s": gen_s,
        "warm_s": warm_s,
        "e2e": {
            "latency_p50_ms": total_s * 1e3,
            "rows_per_s": sum(sizes.values()) / max(total_s, 1e-9),
        },
        "layers": layers,
        "attempted": attempted,
        "failed": failed,
    }


def _status_layers(r, passes: int, timed_s: float) -> dict:
    """Per-entry medians over the timed passes of the stage counters."""
    r.reader.settle()
    layers = {}
    run_ms = cpu_ms = gc_ms = 0.0
    for entry in ENTRIES:
        totals = [r.reader.stage_totals(f"{entry}-{p}") for p in range(passes)]
        for field in ("jobs", "tasks", "shuffle_bytes", "spill_bytes",
                      "executor_run_ms"):
            layers[f"{entry}.{field}"] = statistics.median(
                t[field] for t in totals
            )
        run_ms += sum(t["executor_run_ms"] for t in totals)
        cpu_ms += sum(t["executor_cpu_ms"] for t in totals)
        gc_ms += sum(t["gc_ms"] for t in totals)
    layers.update({
        "spark.executor_run_ms": run_ms,
        "spark.executor_cpu_ms": cpu_ms,
        "spark.gc_ms": gc_ms,
        "spark.busy_frac": run_ms / (r.cpus * timed_s * 1e3),
    })
    return layers
