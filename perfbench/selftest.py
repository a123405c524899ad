"""Self-test of the status-store reader.

    python3 perfbench/selftest.py

Runs three queries on a small seeded star schema, each under its own
job group, and checks what ``status.StatusReader`` reports for them:

- ``pricing_summary`` (a grouped aggregate) moves shuffle bytes, and
  its ``Exchange`` node reports bytes written;
- ``scan_metadata_only`` (answered from parquet footers) moves at most
  1 KiB: only the footer aggregates travel to the final aggregate's
  single partition;
- a filtered scan with no exchange moves none.

Exits 0 when all hold, 1 otherwise.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import contextlib  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402

import run as bench  # noqa: E402


def main() -> int:
    sys.path.insert(0, bench.ROOT)
    work = os.path.join(bench.HERE, "work", f"selftest-{os.getpid()}")
    try:
        bench.pin_environment(work)
        import inputs
        from status import StatusReader

        from table_streaming_source_spark.plans.catalog import QUERIES

        star = os.path.join(work, "star")
        inputs.write_star(1, star, 0.01)
        spark = bench.start_spark(work)
        try:
            reader = StatusReader(spark)
            queries = {
                **{e: QUERIES[e] for e in (
                    "pricing_summary", "scan_metadata_only"
                )},
                "map_only": lambda spark, star: spark.read.parquet(
                    f"{star}/lineitem.parquet"
                ).filter("l_quantity > 25"),
            }
            for name, query in queries.items():
                with reader.group(name):
                    query(spark, star).write.format("noop") \
                        .mode("overwrite").save()
            reader.settle()
            shuffle = {q: reader.stage_totals(q)["shuffle_bytes"]
                       for q in queries}
            written = sum(
                value for node, metric, value in reader.sql_metrics(
                    "pricing_summary", reader.executions(),
                    frozenset({"Exchange"}),
                )
                if metric == "shuffle bytes written"
            )
        finally:
            bench.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    checks = {
        "pricing_summary moves shuffle bytes": shuffle["pricing_summary"] > 0,
        "pricing_summary Exchange wrote bytes": written > 0,
        "scan_metadata_only moves at most 1 KiB":
            0 <= shuffle["scan_metadata_only"] <= 1024,
        "map-only scan moves no shuffle bytes": shuffle["map_only"] == 0,
    }
    for name, ok in checks.items():
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    print(f"shuffle bytes: {shuffle}, Exchange bytes written: {written}")
    return 0 if all(checks.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
