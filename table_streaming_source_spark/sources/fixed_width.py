"""A Spark 4 Python BATCH ``DataSource`` for a fixed-width binary record
format ("TSR1") — the batch sibling of the streaming
``SimpleDataSourceStreamReader`` in ``streaming/fidelity_source.py``,
completing the Python DataSource API surface in BOTH directions:

- READ: custom format + SPLIT PLANNING (``partitions()`` returns
  byte-range splits per file, so a 100 TB dataset fans out across
  executors instead of funneling through the driver; a directory of
  ``.tsr`` files adds file-level parallelism on top).
- WRITE: a ``DataSourceArrowWriter`` with the real task-commit protocol —
  each task stages its partition to a ``.tmp`` file and returns a
  commit message; the driver-side ``commit`` atomically renames the
  staged files and ``abort`` removes them, so a failed job leaves no
  torn output visible (the same stage-then-publish discipline as
  ``table_format.py``).

Format spec (defined here, fixed-width so ranges split exactly):

    magic  b"TSR1"
    u32 LE record_count
    records: (i64 key, i64 group, f64 value) × count — 24 bytes each

The reader plans ``ceil(count / records_per_split)`` partitions; each
executor seeks straight to its range — no shared state, no driver I/O.
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

_MAGIC = b"TSR1"
_REC = struct.Struct("<qqd")

TSR_SCHEMA = "key bigint, grp bigint, value double"


def write_tsr(path: str, rows: Sequence[tuple[int, int, float]]) -> int:
    """Write rows to a TSR1 file; returns the record count."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(_MAGIC)
        fh.write(struct.pack("<I", len(rows)))
        for k, g, v in rows:
            fh.write(_REC.pack(int(k), int(g), float(v)))
    return len(rows)


class _RangePartition(InputPartition):
    def __init__(self, file: str, start: int, count: int):
        self.file = file
        self.start = start
        self.count = count


def _tsr_count(path: str) -> int:
    with open(path, "rb") as fh:
        if fh.read(4) != _MAGIC:
            raise ValueError(f"not a TSR1 file: {path}")
        (n,) = struct.unpack("<I", fh.read(4))
    return n


class FixedWidthReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("tsr source requires option 'path'")
        self.records_per_split = int(
            options.get("recordsPerSplit", 4096)
        )
        if os.path.isdir(path):
            self.files = sorted(
                os.path.join(path, n)
                for n in os.listdir(path)
                if n.endswith(".tsr")
            )
        else:
            self.files = [path]
        self.counts = {f: _tsr_count(f) for f in self.files}

    def partitions(self):
        per = self.records_per_split
        parts = [
            _RangePartition(f, start, min(per, n - start))
            for f in self.files
            for n in (self.counts[f],)
            for start in range(0, n, per)
        ]
        return parts or [_RangePartition(self.files[0], 0, 0)]

    def read(self, partition: _RangePartition) -> Iterator:
        # one numpy structured read + one Arrow batch per split (guide
        # §4): the fixed-width layout IS a packed little-endian
        # (i64, i64, f64) structured dtype, so the whole range crosses
        # the Python-worker boundary as three columns instead of
        # ``count`` pickled ``struct.unpack`` tuples.  Row order is the
        # file order either way.
        import numpy as np
        import pyarrow as pa

        if partition.count == 0:
            return
        dt = np.dtype(
            [("key", "<i8"), ("grp", "<i8"), ("value", "<f8")]
        )
        assert dt.itemsize == _REC.size
        with open(partition.file, "rb") as fh:
            fh.seek(8 + _REC.size * partition.start)
            arr = np.fromfile(fh, dtype=dt, count=partition.count)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(arr["key"]),
                pa.array(arr["grp"]),
                pa.array(arr["value"]),
            ],
            names=["key", "grp", "value"],
        )


class _FileCommit(WriterCommitMessage):
    def __init__(self, staged: str, count: int):
        self.staged = staged
        self.count = count


def _tsr_chunks_from_batches(iterator) -> tuple[list[bytes], int]:
    """Arrow record batches → packed TSR1 record byte chunks (guide §4:
    columns cross the boundary, and the 24-byte records are assembled
    by one vectorized structured-array fill per batch — byte-identical
    to the per-row ``_REC.pack`` loop in :func:`write_tsr`).  The format
    has no null encoding, so a batch with a null raises ``ValueError``
    instead of writing ``INT64_MIN`` or NaN in its place."""
    import numpy as np

    dt = np.dtype([("key", "<i8"), ("grp", "<i8"), ("value", "<f8")])
    chunks: list[bytes] = []
    n = 0
    for batch in iterator:
        for i, name in enumerate(batch.schema.names):
            if batch.column(i).null_count > 0:
                raise ValueError(
                    f"tsr sink: column {name!r} holds nulls; the TSR1 "
                    "format cannot encode them"
                )
        arr = np.empty(batch.num_rows, dtype=dt)
        arr["key"] = batch.column(0).to_numpy(zero_copy_only=False)
        arr["grp"] = batch.column(1).to_numpy(zero_copy_only=False)
        arr["value"] = batch.column(2).to_numpy(zero_copy_only=False)
        chunks.append(arr.tobytes())
        n += batch.num_rows
    return chunks, n


def _write_tsr_chunks(path: str, chunks: list[bytes], n: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(_MAGIC)
        fh.write(struct.pack("<I", n))
        for c in chunks:
            fh.write(c)


class FixedWidthWriter(DataSourceArrowWriter):
    """Task-commit protocol: every task stages ``part-*.tsr.tmp`` and
    reports it; only the driver-side ``commit`` renames staged files
    to their visible ``.tsr`` names — a crashed job's staging residue
    is invisible to the directory reader (which lists ``.tsr`` only)
    and ``abort`` sweeps it.  A ``DataSourceArrowWriter``: tasks
    receive Arrow record batches, not per-row pickled Rows."""

    def __init__(self, options: dict):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("tsr sink requires option 'path'")

    def write(self, iterator) -> _FileCommit:
        import uuid

        chunks, n = _tsr_chunks_from_batches(iterator)
        staged = os.path.join(
            self.dir, f"part-{uuid.uuid4().hex}.tsr.tmp"
        )
        _write_tsr_chunks(staged, chunks, n)
        return _FileCommit(staged, n)

    def commit(self, messages) -> None:
        for m in messages:
            os.replace(m.staged, m.staged[: -len(".tmp")])

    def abort(self, messages) -> None:
        # a failed task reports no message (None)
        for m in messages:
            if m is not None and os.path.exists(m.staged):
                os.remove(m.staged)


class FixedWidthStreamWriter(DataSourceStreamWriter):
    """STREAMING task-commit protocol — the streaming twin of
    :class:`FixedWidthWriter`, completing the connector matrix (batch
    read / batch write / stream read / stream write) for the custom
    format.  Per micro-batch: every task stages ``part-*.tsr.tmp`` and
    reports it; the driver-side ``commit(messages, batchId)`` renames
    staged files to ``part-b{batchId:05d}-{i}.tsr``.  EXACTLY-ONCE
    across engine retries, atomic AS A UNIT: commit first writes the
    staged-file MANIFEST into the ``_batch-{batchId}.committed``
    marker via temp+rename — that rename is the commit point — and
    only then publishes, FROM THE MANIFEST.  A crash anywhere leaves a
    recoverable state: before the marker, the batch never committed
    (``.tmp`` residue is invisible and the replay re-publishes its own
    stage); after the marker, the replayed commit FINISHES the
    interrupted publish from the recorded manifest (staged→final
    renames are individually atomic, so each name is either published
    or still staged) and discards its own duplicate stage — dedupe by
    batch id, the idempotent-sink contract Structured Streaming
    requires of any exactly-once sink.  No window exists in which
    published names could be re-published under a different task
    count or order.  Markers and ``.tmp`` residue are invisible to
    the directory reader (it lists ``*.tsr`` only)."""

    def __init__(self, options: dict):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("tsr stream sink requires option 'path'")
        os.makedirs(self.dir, exist_ok=True)

    def write(self, iterator) -> _FileCommit:
        # NOTE: still row-at-a-time — Spark 4.1 has no Arrow variant of
        # ``DataSourceStreamWriter`` (only the batch
        # ``DataSourceArrowWriter``); revisit when one lands.
        import uuid

        rows = [(r[0], r[1], r[2]) for r in iterator]
        staged = os.path.join(
            self.dir, f"part-{uuid.uuid4().hex}.tsr.tmp"
        )
        write_tsr(staged, rows)
        return _FileCommit(staged, len(rows))

    def commit(self, messages, batchId: int) -> None:
        import json
        import uuid

        marker = os.path.join(self.dir, f"_batch-{batchId}.committed")
        if os.path.exists(marker):
            # replayed batch after checkpoint recovery: the batch IS
            # committed (the marker rename was the commit point) —
            # finish any publish the crash interrupted, straight from
            # the recorded manifest, then drop the duplicate stage
            with open(marker) as fh:
                manifest = json.load(fh)
            recorded = set()
            for staged_name, final_name in manifest["files"]:
                recorded.add(staged_name)
                staged = os.path.join(self.dir, staged_name)
                final = os.path.join(self.dir, final_name)
                if os.path.exists(staged) and not os.path.exists(final):
                    os.replace(staged, final)
            for m in messages:
                if (
                    m is not None
                    and os.path.exists(m.staged)
                    and os.path.basename(m.staged) not in recorded
                ):
                    os.remove(m.staged)
            return
        files = [
            [os.path.basename(m.staged), f"part-b{batchId:05d}-{i}.tsr"]
            for i, m in enumerate(messages)
            if m is not None
        ]
        # manifest FIRST, temp+rename: after this rename the batch is
        # committed and any crash recovers by replaying the manifest
        tmp = marker + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump({"batchId": batchId, "files": files}, fh)
        os.replace(tmp, marker)
        for staged_name, final_name in files:
            os.replace(
                os.path.join(self.dir, staged_name),
                os.path.join(self.dir, final_name),
            )

    def abort(self, messages, batchId: int) -> None:
        import json

        # if the marker already landed, the batch IS committed and the
        # manifest's staged files are publication-pending — abort (the
        # engine calls it when commit() throws mid-publish) must NOT
        # sweep them, or the recovery replay would find neither staged
        # nor final and silently lose the rows
        marker = os.path.join(self.dir, f"_batch-{batchId}.committed")
        recorded: set[str] = set()
        if os.path.exists(marker):
            with open(marker) as fh:
                recorded = {s for s, _f in json.load(fh)["files"]}
        for m in messages:
            if (
                m is not None
                and os.path.exists(m.staged)
                and os.path.basename(m.staged) not in recorded
            ):
                os.remove(m.staged)


class FixedWidthDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "tsr"

    def schema(self) -> str:
        return TSR_SCHEMA

    def reader(self, schema: StructType) -> FixedWidthReader:
        return FixedWidthReader(self.options)

    def writer(self, schema: StructType, overwrite: bool):
        path = self.options.get("path")
        if overwrite and path and os.path.isdir(path):
            for n in os.listdir(path):
                if n.endswith((".tsr", ".tsr.tmp")):
                    os.remove(os.path.join(path, n))
        if path:
            os.makedirs(path, exist_ok=True)
        return FixedWidthWriter(self.options)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return FixedWidthStreamWriter(self.options)


def register(spark) -> None:
    spark.dataSource.register(FixedWidthDataSource)
