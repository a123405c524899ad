"""The session keeps a repeated workload's generated code compiled.

Whole-stage codegen compiles each distinct generated class once per JVM
and keeps it in an LRU cache of ``spark.sql.codegen.cache.maxEntries``
classes.  When a workload's classes outnumber the cache, every repeat of
the workload recompiles them all; ``get_spark`` sizes the cache so the
catalog's working set stays compiled.

Building a query is driver work: every ``Column`` and ``functions`` call
is a py4j round trip or more.  ``get_spark`` turns off PySpark's
DataFrame debugging, which would wrap each such call in about ten more
to record its Python call site.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task, which on Python 3.11 and 3.12 re-reads each zip-import directory
(16 of them over pyspark.zip).  ``get_spark`` starts the workers through
``_pydaemon``, which re-reads an archive only when it changed."""

import importlib
import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

# perfbench/catalog.py::ENTRIES: one catalog entry per operator family.
ENTRIES = (
    "flagship_enrichment",
    "pricing_summary",
    "dedup_minhash_lsh",
    "sim_pairs_blocked",
    "text_line_dedup",
    "graph_pagerank",
    "multimodal_jpeg_stats",
)
# Classes a repeated pass may still compile: plan variants that adaptive
# execution picks at run time for the first time (0-22 per pass seen).
# Spark's default cache of 100 classes recompiles ~180 per pass.
MAX_REPEAT_COMPILES = 30


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM: one per cache miss."""
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


def _catalog_pass(spark, sf_dir) -> int:
    from table_streaming_source_spark.plans.catalog import QUERIES

    before = _compiles(spark)
    for entry in ENTRIES:
        QUERIES[entry](spark, sf_dir).write.format("noop") \
            .mode("overwrite").save()
    return _compiles(spark) - before


def test_get_spark_sets_codegen_cache_cap(spark):
    from table_streaming_source_spark.session import (
        CODEGEN_CACHE_MAX_ENTRIES,
    )

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES
    )
    assert CODEGEN_CACHE_MAX_ENTRIES > 100  # Spark's default


def test_repeated_catalog_pass_recompiles_nothing(spark, sf_dir):
    first = _catalog_pass(spark, sf_dir)
    second = _catalog_pass(spark, sf_dir)
    assert second <= MAX_REPEAT_COMPILES, (first, second)


# py4j calls to build pricing_summary without running it: 535 with
# DataFrame debugging on, 135 with it off.  Python's garbage collector
# also sends py4j commands (``m`` for memory) at times of its own; those
# are not counted.
MAX_BUILD_PY4J_CALLS = 200


def test_get_spark_turns_off_dataframe_debugging(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
        == "false"
    )
    assert is_debugging_enabled() is False


def test_building_a_query_records_no_call_sites(spark, sf_dir, monkeypatch):
    from py4j.clientserver import ClientServerConnection

    from table_streaming_source_spark.plans.catalog import QUERIES

    QUERIES["pricing_summary"](spark, sf_dir)  # load the cached tables
    commands = []
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\n"):
            commands.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    QUERIES["pricing_summary"](spark, sf_dir)
    monkeypatch.undo()
    origin = [c for c in commands if "PySparkCurrentOrigin" in c]
    assert origin == [], origin[:3]
    assert len(commands) <= MAX_BUILD_PY4J_CALLS, len(commands)


def test_worker_task_rereads_no_unchanged_zip(spark):
    def zip_reads(batches):
        """In the worker: ``_read_directory`` calls that one
        ``importlib.invalidate_caches()`` makes."""
        import pandas as pd

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)]})

    assert spark.conf.get("spark.python.daemon.module") == (
        "table_streaming_source_spark._pydaemon"
    )
    [row] = spark.range(0, 10, 1, 1).mapInPandas(
        zip_reads, "reads long"
    ).collect()
    # 16 re-reads of pyspark.zip's directory per task without the daemon.
    assert row.reads == 0, row


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_zip_directory_reread_only_when_archive_changed(
    tmp_path, monkeypatch
):
    from table_streaming_source_spark._pydaemon import _invalidate_caches

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"old_mod": "VALUE = 1\n"})
    importer = zipimport.zipimporter(archive)
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory",
        lambda path: reads.append(path) or read(path),
    )
    try:
        _invalidate_caches(importer)  # no stamp yet: reads
        assert reads == [archive]
        _invalidate_caches(importer)
        _invalidate_caches(importer)
        assert reads == [archive]  # unchanged: not re-read
        assert importer.find_spec("new_mod") is None

        _write_zip(
            archive, {"old_mod": "VALUE = 1\n", "new_mod": "VALUE = 2\n"}
        )
        _invalidate_caches(importer)
        assert reads == [archive, archive]
        spec = importer.find_spec("new_mod")
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
        assert module.VALUE == 2
    finally:
        zipimport._zip_directory_cache.pop(archive, None)


def test_importing_pydaemon_patches_nothing():
    before = zipimport.zipimporter.invalidate_caches
    sys.modules.pop("table_streaming_source_spark._pydaemon", None)
    importlib.import_module("table_streaming_source_spark._pydaemon")
    assert zipimport.zipimporter.invalidate_caches is before


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The repo is only on the driver's sys.path; the workers start in /tmp
# with no PYTHONPATH, so they find the package (and the daemon module)
# through spark.executorEnv.PYTHONPATH alone.
_PATH_SCRIPT = r"""
import sys
sys.path.insert(0, {repo!r})
from table_streaming_source_spark.session import get_spark

spark = get_spark(
    app_name="executor-path", shuffle_partitions=2,
    extra_conf={{"spark.executorEnv.PYTHONPATH": {extra!r}}},
)


def tag(batches):
    import caller_mod

    for pdf in batches:
        yield pdf.assign(tag=caller_mod.TAG)


df = spark.range(0, 5, 1, 1).mapInPandas(
    lambda batches: (pdf * 2 for pdf in batches), "id long"
)
print("ROWS", sorted(r.id for r in df.collect()))
tags = spark.range(0, 3, 1, 1).mapInPandas(tag, "id long, tag string")
print("TAGS", sorted({{r.tag for r in tags.collect()}}))
spark.stop()
"""


@pytest.mark.slow
def test_workers_import_the_package_without_pythonpath(tmp_path):
    extra = tmp_path / "caller"
    extra.mkdir()
    (extra / "caller_mod.py").write_text("TAG = 'caller'\n")
    env = {
        k: v for k, v in os.environ.items()
        if k != "PYTHONPATH" and not k.startswith("PYSPARK_DRIVER")
    }
    env["SPARK_GRAFT_CPUS"] = "2"
    proc = subprocess.run(
        [sys.executable, "-c",
         _PATH_SCRIPT.format(repo=REPO, extra=str(extra))],
        capture_output=True, text=True, timeout=300, env=env, cwd="/tmp",
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS [0, 2, 4, 6, 8]" in proc.stdout, proc.stdout
    assert "TAGS ['caller']" in proc.stdout, proc.stdout
