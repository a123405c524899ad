"""The engine reads only deployment settings from the environment.

Every other behaviour is the engine's choice: a ``SPARK_GRAFT_*`` name
that selects a second code path needs a test, a workload and review,
so a new one fails this scan until it is added to the allowlist."""

import pathlib
import re

import table_streaming_source_spark

ALLOWED = {"CPUS", "SF_DIR", "AQE_PARALLELISM_FIRST", "AQE_ADVISORY_SIZE"}


def test_package_reads_only_deployment_env_settings():
    root = pathlib.Path(table_streaming_source_spark.__file__).parent
    found = {
        (str(p.relative_to(root)), name)
        for p in root.rglob("*.py")
        for name in re.findall(r"SPARK_GRAFT_([A-Z_]+)", p.read_text())
    }
    assert {(f, n) for f, n in found if n not in ALLOWED} == set()
    assert found  # the scan sees the package's real settings
