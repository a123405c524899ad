"""An open-loop event generator as a Spark streaming data source.

Event ``i`` is due at ``start + i / RATE`` seconds, whatever the query
does; ``latestOffset`` exposes every event due by now, to the
millisecond, and ``read`` stamps each event with its due time in
microseconds (``created_us``).  A stalled query therefore finds a
longer backlog on its next batch, and each event's latency counts from
when it was created.  Spark's own ``rate`` source exposes events only
at whole-second boundaries, which adds a 0-1 s phase term to every
batch's newest-event latency.
"""

from __future__ import annotations

import time

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

RATE = 20_000  # events per second


class EventRange(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


class OpenLoopReader(DataSourceStreamReader):
    def __init__(self, options) -> None:
        self.start = float(options["start"])

    def initialOffset(self) -> dict:
        return {"events": 0}

    def latestOffset(self) -> dict:
        due = int((time.time() - self.start) * RATE)
        return {"events": max(0, due)}

    def partitions(self, start: dict, end: dict):
        return [EventRange(start["events"], end["events"])]

    def read(self, partition: EventRange):
        start_us, us_per_event = self.start * 1e6, 1e6 / RATE
        for i in range(partition.start, partition.end):
            yield (i, int(start_us + i * us_per_event))

    def commit(self, end: dict) -> None:
        pass


class OpenLoopSource(DataSource):
    """Option: ``start``, the epoch second at which event 0 is due."""

    @classmethod
    def name(cls) -> str:
        return "open_loop"

    def schema(self) -> str:
        return "value long, created_us long"

    def streamReader(self, schema) -> OpenLoopReader:
        return OpenLoopReader(self.options)
