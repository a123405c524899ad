"""Read Spark's status stores for the jobs of one job group.

With ``spark.ui.enabled=false`` the stores still exist: the core
``AppStatusStore`` holds jobs and stages (tasks, shuffle, spill,
executor run, CPU and GC time), and the SQL ``SQLAppStatusStore``
holds each SQL execution's plan graph and its metric values per node.
The benchmark tags every call it times with a job group and reads
both stores for that group once the measured phase is over.  Reads
happen only in traced runs, so untraced runs pay nothing for them.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

from pyspark.sql import SparkSession

STAGE_FIELDS = (
    "jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes",
    "executor_run_ms", "executor_cpu_ms", "gc_ms",
)
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-6, "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6,
}
_VALUE = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric as the store formats it, in bytes, milliseconds or
    a plain count.  Task-aggregated metrics read ``total (min, med,
    max ...)`` on the first line and the values on the second; the
    total is the first value there."""
    line = text.split("\n")[-1].strip()
    match = _VALUE.match(line)
    if not match:
        raise ValueError(f"unparsed SQL metric {text!r}")
    number, unit = match.groups()
    return float(number.replace(",", "")) * _UNITS.get(unit, 1)


class StatusReader:
    """Job-group scoped counters from the core and SQL status stores."""

    def __init__(self, spark: SparkSession) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_tasks = self._sc._jvm.java.util.ArrayList()
        self._no_quantiles = self._sc._gateway.new_array(
            self._sc._jvm.double, 0
        )

    @contextmanager
    def group(self, name: str):
        """Tag the jobs this thread starts inside the block with ``name``."""
        self._sc.setJobGroup(name, name, False)
        try:
            yield name
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, group: str) -> dict[str, float]:
        """Jobs, stages, tasks, shuffle bytes read plus written, bytes
        spilled to memory and disk, and executor run, CPU and GC time
        summed over every stage attempt of the group's jobs."""
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        stage_ids: set[int] = set()
        for job in self.job_ids(group):
            out["jobs"] += 1
            ids = self._store.job(job).stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(
                sid, False, self._no_tasks, False, self._no_quantiles
            )
            for k in range(attempts.size()):
                s = attempts.apply(k)
                if s.numCompleteTasks() == 0 and s.numFailedTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                out["shuffle_bytes"] += (
                    s.shuffleReadBytes() + s.shuffleWriteBytes()
                )
                out["spill_bytes"] += (
                    s.memoryBytesSpilled() + s.diskBytesSpilled()
                )
                out["executor_run_ms"] += s.executorRunTime()
                out["executor_cpu_ms"] += s.executorCpuTime() / 1e6
                out["gc_ms"] += s.jvmGcTime()
        return out

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores reflect all jobs that have returned."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def executions(self) -> list[tuple[int, set[int]]]:
        """``(execution id, job ids)`` for every SQL execution held."""
        out = []
        executions = self._sql.executionsList()
        for i in range(executions.size()):
            execution = executions.apply(i)
            it = execution.jobs().keySet().iterator()
            jobs = set()
            while it.hasNext():
                jobs.add(it.next())
            out.append((execution.executionId(), jobs))
        return out

    def sql_metrics(
        self,
        group: str,
        executions: list[tuple[int, set[int]]],
        node_names: frozenset[str] | None = None,
    ) -> list[tuple[str, str, float]]:
        """``(node name, metric name, value)`` for every plan node (or
        only those named in ``node_names``) of every SQL execution in
        ``executions`` that ran one of the group's jobs."""
        jobs = set(self.job_ids(group))
        found = []
        for eid, ran in executions:
            if not ran & jobs:
                continue
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                name = node.name().strip()
                if node_names is not None and name not in node_names:
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    value = values.get(metric.accumulatorId())
                    if value.isDefined():
                        found.append(
                            (name, metric.name(), parse_metric(value.get()))
                        )
        return found
