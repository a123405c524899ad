"""Batch ``DataSource`` front door for the table format — the
``spark.read.format("table_format")`` / SQL surface over
``table_format.py``, so a user can query, time-travel, and write the
format WITHOUT importing this library (the reference's own contract is
SQL-explorable tables, `TableStreamingSource.java:66-69`; its Delta /
Iceberg analogues are ``spark.read.format("delta")`` and
``CREATE TEMPORARY VIEW ... USING``).

READ — options:

- ``path``: table root (required)
- ``version``: time travel to an exact commit version
- ``ref``: branch/tag name (Iceberg ``VERSION AS OF 'branch'``);
  mutually exclusive with ``version``
- ``mor``: ``true`` (default) reads the MERGE-ON-READ view —
  outstanding equality/positional deletes subtracted, matching
  ``read_table_mor`` — because the SQL user must never see deleted
  rows; ``false`` is the raw data-file view (``read_table``)

Scale shape: ``partitions()`` plans ONE INPUT PARTITION PER DATA FILE
from the manifest (a 10⁵-file snapshot fans out 10⁵ tasks wide, no
driver materialization), and ``pushFilters`` prunes files against the
manifest's per-file [min, max] ranges and null counts BEFORE planning —
the same lossless stats pruning ``snapshot_files(prune=)`` does, now
reachable from plain SQL predicates.  Every filter is returned to
Spark for re-evaluation, so pruning can only skip I/O, never rows.
Executors stream their file through pyarrow and yield ARROW batches
(vectorized transfer, no per-row Python).

WRITE — ``df.write.format("table_format").mode("append"|"overwrite")``:
each task stages one parquet file under the table's data dir
(uncommitted files are invisible by the commit-log contract) and the
driver-side ``commit`` publishes ONE commit — append chains the head,
overwrite publishes a full-snapshot replace.  ``statCols`` (comma
list; default: every top-level column) selects manifest stat columns;
``bloomCols`` additionally attaches per-file Bloom fingerprints
(`table_format._attach_blooms`) for point-lookup pruning and MERGE
targeting.

SQL: after ``register_table_format(spark)``,

    CREATE TEMPORARY VIEW orders_t
    USING table_format OPTIONS (path '/data/orders', version '7')

makes the snapshot a plain SQL relation.
"""

from __future__ import annotations

import os
import re
import uuid
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    EqualNullSafe,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from table_streaming_source_spark import table_format as TF


def _opt(options: dict, name: str, default=None):
    """Case-insensitive option lookup: Spark's CaseInsensitiveStringMap
    lower-cases keys, so ``dict(self.options)`` holds ``bloomcols``
    where the user wrote ``bloomCols``."""
    if name in options:
        return options[name]
    return options.get(name.lower(), default)


def _table_path(options: dict) -> str:
    """The table root from options, normalized: the catalog hands
    location-like options back as ``file:`` URIs, while a temp view /
    reader passes the plain path through — both must resolve to the
    same local root.

    Missing path gets the DOCUMENTED catalog-limitation error: Spark
    4.1 persists a ``CREATE TABLE ... USING table_format`` (metadata,
    schema resolution, DESCRIBE all work — the table-properties
    instance sees the stored path) but its SCANS construct the Python
    DataSource from the relation's own options, which are EMPTY for a
    catalog table — so SELECT cannot reach the stored path.  The
    blessed front door is the session-scoped view (docs/SCALE.md
    §33.4); pinned by ``tests/test_format_batch.py``."""
    if "path" not in options:
        raise ValueError(
            "table_format: no 'path' option reached this scan.  Spark "
            "4.1 catalog-table scans pass EMPTY options to Python "
            "DataSources (metadata persists; scans don't see the "
            "stored path).  Use the blessed session-scoped front "
            "door instead: CREATE TEMPORARY VIEW t USING "
            "table_format OPTIONS (path '<table root>')."
        )
    return TF._norm_path(options["path"])


def _resolve_version(options: dict) -> int:
    path = _table_path(options)
    version = options.get("version")
    ref = options.get("ref")
    if version is not None and ref is not None:
        raise ValueError(
            "table_format: pass 'version' OR 'ref', not both"
        )
    if version is not None:
        return int(version)
    return TF.resolve_ref(path, ref)


def _arrow_type_of(spark_type: str):
    """A Spark SQL type string as the pyarrow type the widen-era cast
    publishes (the subset `commit_widen_column`'s allowlist can emit)."""
    import pyarrow as pa

    m = {
        "tinyint": pa.int8(), "smallint": pa.int16(),
        "int": pa.int32(), "integer": pa.int32(),
        "bigint": pa.int64(), "long": pa.int64(),
        "float": pa.float32(), "double": pa.float64(),
        "string": pa.string(), "boolean": pa.bool_(),
        "date": pa.date32(), "binary": pa.binary(),
    }
    t = spark_type.strip().lower()
    if t in m:
        return m[t]
    dm = re.match(r"^decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$", t)
    if dm:
        return pa.decimal128(int(dm.group(1)), int(dm.group(2)))
    raise ValueError(f"table_format: unmapped widen type {spark_type!r}")


def _unified_arrow_schema(path: str, head: int):
    """The latest MERGED schema across additive evolution: one footer
    per lineage commit, preferring a file of the commit's OWN
    generation (merge commits list carried survivors first — same rule
    as the CDF stream's schema).  ERA-AWARE: each commit's footer
    schema is translated through the rename/widen commits NEWER than
    it before unification, so a renamed column appears ONCE under its
    current name (never both names) and a widened column unifies at
    the widened type instead of raising on an int32/int64 conflict."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schemas = []
    v: int | None = head
    collected: list[tuple[str, str, str]] = []  # newest-first ops
    while v is not None:
        c = TF._read_commit(path, v)
        applied = tuple(reversed(collected))
        if c["files"]:
            own = [f for f in c["files"] if f.get("seq") == v]
            sch, chain = None, applied
            for pick in (own or c["files"]):
                fp = os.path.join(path, pick["path"])
                if os.path.exists(fp):  # vacuumed history: footer gone
                    sch = pq.read_schema(fp)
                    # an era-carrying entry (rewriter carry / expiry
                    # fold) translates through its baked chain first
                    chain = TF._entry_eras(pick) + applied
                    break
            for kind, a, b in chain if sch is not None else ():
                idx = sch.get_field_index(a)
                if idx < 0:
                    continue
                fld = sch.field(idx)
                if kind == "r":
                    sch = sch.set(idx, fld.with_name(b))
                else:
                    sch = sch.set(
                        idx, pa.field(a, _arrow_type_of(b))
                    )
            if sch is not None:
                schemas.append(sch)
        ops = [("r", a, b) for a, b in c.get("renames", [])]
        ops += [("w", cc, tt) for cc, tt in c.get("widens", [])]
        if ops:
            collected.extend(reversed(ops))
        v = c["parent"] if c["parent"] is not None else c.get("prev")
    if not schemas:
        raise ValueError(
            "table_format: empty table; pass an explicit schema"
        )
    return pa.unify_schemas(schemas)


def _range_prunes(f: dict, col: str, lo, hi) -> bool:
    """True when file ``f`` provably holds no row with col in
    [lo, hi] (inclusive; pass None for an open end)."""
    rng = f["stats"].get(col)
    if rng is None:
        return False  # no stats → cannot prove absence → keep
    if lo is not None and rng[1] < lo:
        return True
    if hi is not None and rng[0] > hi:
        return True
    return False


class TableFormatReader(DataSourceReader):
    """One input partition per manifest data file; executor-side MOR
    resolution through the same pandas algebra as the streaming CDF
    source (``format_cdf._resolve_pandas``).  ERA-AWARE (round 14):
    manifest entries carry the rename/widen chain their era must pass
    through — pruning runs on TRANSLATED stats (a predicate on the
    current name keeps skipping pre-rename files), and each partition
    reads its file under the era's PHYSICAL names before renaming to
    the published schema, so a renamed table reads one schema instead
    of null-backfilling both names."""

    def __init__(self, schema: StructType, options: dict) -> None:
        self._path = _table_path(options)
        self._version = _resolve_version(options)
        self._mor = str(options.get("mor", "true")).lower() != "false"
        self._cols = list(schema.fieldNames())
        self._schema = schema
        # (col, lo, hi) closed ranges + null-kind prunes collected from
        # pushFilters; partitions() applies them to the manifest
        self._ranges: list[tuple[str, object, object]] = []
        self._null_prunes: list[tuple[str, str]] = []

    def _entries(self) -> list[tuple[dict, tuple]]:
        """(translated manifest entry, rename chain) pairs — stats
        under CURRENT names, chain kept for the physical read."""
        pairs, any_ops = TF._walk_files_renamed(
            self._path, self._version
        )
        if not any_ops:
            return [(f, ()) for f, _ in pairs]
        return [
            (TF._translate_entry_stats(f, applied), applied)
            for f, applied in pairs
        ]

    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        stat_cols = {
            c for f, _ in self._entries() for c in f["stats"]
        }
        out = []
        for flt in filters:
            attr = getattr(flt, "attribute", None)
            col = attr[0] if attr and len(attr) == 1 else None
            if col in stat_cols:
                if isinstance(flt, (EqualTo, EqualNullSafe)):
                    self._ranges.append((col, flt.value, flt.value))
                elif isinstance(flt, GreaterThan):
                    self._ranges.append((col, flt.value, None))
                elif isinstance(flt, GreaterThanOrEqual):
                    self._ranges.append((col, flt.value, None))
                elif isinstance(flt, LessThan):
                    self._ranges.append((col, None, flt.value))
                elif isinstance(flt, LessThanOrEqual):
                    self._ranges.append((col, None, flt.value))
                elif isinstance(flt, IsNull):
                    self._null_prunes.append((col, "isnull"))
                elif isinstance(flt, IsNotNull):
                    self._null_prunes.append((col, "notnull"))
            # every filter goes back to Spark: manifest stats prune
            # FILES (strict > / < bounds are safely widened to ≥ / ≤),
            # Spark still evaluates rows — pruning is lossless
            out.append(flt)
        return out

    def _kept_files(self) -> list[tuple[dict, tuple]]:
        kept = []
        for f, applied in self._entries():
            if any(
                _range_prunes(f, col, lo, hi)
                for col, lo, hi in self._ranges
            ):
                continue
            skip = False
            for col, kind in self._null_prunes:
                nc = f.get("nulls", {}).get(col)
                if nc is None:
                    continue
                if kind == "isnull" and nc == 0:
                    skip = True
                if kind == "notnull" and nc == f["rows"]:
                    skip = True
            if not skip:
                kept.append((f, applied))
        return kept

    def partitions(self) -> Sequence[InputPartition]:
        parts = [
            InputPartition(
                (self._path, self._version, self._mor,
                 tuple(self._cols), f, applied)
            )
            for f, applied in self._kept_files()
        ]
        return parts or [
            InputPartition(
                (self._path, self._version, self._mor,
                 tuple(self._cols), None, ())
            )
        ]

    def read(self, partition: InputPartition) -> Iterator:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from table_streaming_source_spark.streaming.format_cdf import (
            _file_frame,
            _phys_name,
            _resolve_pandas,
        )

        path, version, mor, cols, f, applied = partition.value
        if f is None:
            return
        cols = list(cols)
        if applied:
            # era translation: read the file under its PHYSICAL names,
            # then rename to the published (current) schema.  MOR
            # delete state cannot coexist with a schema op (the commit
            # guards), so the plain file read is exact here — but a
            # LEGACY table written before the guard could hold both;
            # refuse loudly rather than silently skip the subtraction.
            if mor and (
                TF._snapshot_deletes(path, version)[1]
                or TF._snapshot_pos_deletes(path, version)
            ):
                raise ValueError(
                    "table_format: snapshot holds BOTH merge-on-read "
                    "delete state and a column rename/widen (a legacy "
                    "pre-guard state) — run commit_compact to "
                    "materialize, then re-read"
                )
            phys = [_phys_name(c, applied) for c in cols]
            pdf = _file_frame(os.path.join(path, f["path"]), phys)
            pdf = pdf.rename(
                columns={p: c for p, c in zip(phys, cols) if p != c}
            )
        elif mor:
            pdf = _resolve_pandas(path, version, cols, subset=[f])
        else:
            pdf = _file_frame(os.path.join(path, f["path"]), cols)
        target = to_arrow_schema(self._schema)
        table = pa.Table.from_pandas(
            pdf[cols], schema=target, preserve_index=False, safe=False
        )
        yield from table.to_batches()


class _StagedFile(WriterCommitMessage):
    def __init__(self, staged: str, rows: int, blooms: dict | None = None):
        self.staged = staged
        self.rows = rows
        self.blooms = blooms or {}


class TableFormatWriter(DataSourceArrowWriter):
    """Stage-then-publish: tasks write parquet under the table's data
    dir (invisible until committed — readers resolve the LOG, never a
    listing), the driver-side ``commit`` publishes exactly one commit.
    ``overwrite`` publishes a full-snapshot replace (``parent: None``,
    ``prev``: the pinned base — content changes, so NOT maintenance);
    append chains the head.  A lost commit race or abort leaves only
    vacuum-sweepable orphans."""

    def __init__(self, options: dict, overwrite: bool) -> None:
        self._path = _table_path(options)
        self._overwrite = overwrite
        self._stat_cols = [
            c.strip()
            for c in _opt(options, "statCols", "").split(",")
            if c.strip()
        ]
        self._bloom_cols = [
            c.strip()
            for c in _opt(options, "bloomCols", "").split(",")
            if c.strip()
        ]
        self._stage = f"dsw-{uuid.uuid4().hex[:12]}"

    def write(self, iterator) -> _StagedFile:
        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = list(iterator)
        if not batches:  # empty task partition: nothing to stage
            return _StagedFile("", 0)
        table = pa.Table.from_batches(batches)
        d = os.path.join(TF._data_dir(self._path), self._stage)
        os.makedirs(d, exist_ok=True)
        staged = os.path.join(d, f"part-{uuid.uuid4().hex}.parquet")
        pq.write_table(table, staged)
        blooms: dict = {}
        if self._bloom_cols:
            # EXECUTOR-side fingerprint build over the in-memory batch
            # (the distributed sibling of table_format._attach_blooms'
            # Spark aggregate): same bit layout, same XXH64 twin, so
            # snapshot_files(point=) and the MERGE probe read both
            from table_streaming_source_spark.xxh64 import (
                spark_xxhash64,
            )

            m_bits, kh = TF._BLOOM_M, TF._BLOOM_K
            for c in self._bloom_cols:
                if c not in table.column_names:
                    raise ValueError(
                        f"table_format: bloomCols column {c!r} absent"
                    )
                words: dict[str, int] = {}
                for v in table.column(c).to_pylist():
                    if v is None:
                        continue
                    for j in range(kh):
                        p = spark_xxhash64(v, j) % m_bits
                        w = str(p >> 6)
                        words[w] = words.get(w, 0) | (1 << (p & 63))
                # match the Spark builder's SIGNED int64 word values
                blooms[c] = {
                    "m": m_bits,
                    "k": kh,
                    "words": {
                        w: (b - (1 << 64) if b >= (1 << 63) else b)
                        for w, b in words.items()
                    },
                }
        return _StagedFile(staged, table.num_rows, blooms)

    def commit(self, messages) -> None:
        base, new_v = TF._resolve_write_target(self._path, None, None)
        stat_cols = self._stat_cols or None
        entries = []
        for m in messages:
            if m is None or not m.staged:
                continue
            if stat_cols is None:
                import pyarrow.parquet as pq

                stat_cols = pq.read_schema(m.staged).names
            st = TF._file_stats(m.staged, stat_cols)
            entry = {
                "path": os.path.relpath(m.staged, self._path),
                "rows": st["rows"],
                "stats": st["cols"],
                "seq": new_v,
            }
            if st["nulls"]:
                entry["nulls"] = st["nulls"]
            if getattr(m, "blooms", None):
                entry["bloom"] = m.blooms
            entries.append(entry)
        if self._overwrite:
            payload = {
                "version": new_v,
                "files": entries,
                "parent": None,
                "prev": base,
            }
        else:
            payload = {
                "version": new_v,
                "files": entries,
                "parent": base,
            }
        TF._write_commit(self._path, new_v, payload)

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and m.staged and os.path.exists(m.staged):
                os.remove(m.staged)


class TableFormatDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "table_format"

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        if not self.options.get("path"):
            raise ValueError("table_format requires option 'path'")
        path = _table_path(dict(self.options))
        head = _resolve_version(dict(self.options))
        base = from_arrow_schema(_unified_arrow_schema(path, head))
        # every column nullable: pre-evolution files null-backfill
        return StructType(
            [f.__class__(f.name, f.dataType, True) for f in base.fields]
        )

    def reader(self, schema: StructType) -> TableFormatReader:
        return TableFormatReader(schema, dict(self.options))

    def writer(self, schema: StructType, overwrite: bool):
        if not self.options.get("path"):
            raise ValueError("table_format requires option 'path'")
        return TableFormatWriter(dict(self.options), overwrite)


def register_table_format(spark) -> None:
    """Register the DataSource AND enable Python-DataSource filter
    pushdown: ``TableFormatReader.pushFilters`` exists, and PySpark 4.x
    refuses to initialize a reader that implements it unless
    ``spark.sql.python.filterPushdown.enabled=true`` — on a vanilla
    SparkSession (the driver's) the first read would otherwise die with
    ``[DATA_SOURCE_PUSHDOWN_DISABLED]``.  Setting it here makes every
    consumer safe regardless of session factory."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TableFormatDataSource)


class ChangesReader(DataSourceReader):
    """Batch CHANGE-FEED reader: one input partition per commit in
    ``(from_version, to_version]`` on the resolved lineage; executors
    compute their commit's row images through the SAME pandas algebra
    as the streaming CDF source (`streaming/format_cdf._cdf_frames`) —
    appends, merges, equality/positional deletes, replaceWhere, with
    maintenance commits silent."""

    def __init__(self, schema: StructType, options: dict) -> None:
        self._schema = schema
        self._cols = list(schema.fieldNames())[:-2]
        self._path = _table_path(options)
        self._from = int(_opt(options, "from_version", 0))
        to = _opt(options, "to_version")
        ref = options.get("ref")
        if to is not None:
            self._to = int(to)
        else:
            self._to = TF.resolve_ref(self._path, ref)

    def partitions(self) -> Sequence[InputPartition]:
        from table_streaming_source_spark.streaming.format_tail import (
            _lineage_commits,
        )

        parts = [
            InputPartition((self._path, v, tuple(self._cols)))
            for v in _lineage_commits(self._path, self._from, self._to)
        ]
        return parts or [InputPartition((self._path, None, ()))]

    def read(self, partition: InputPartition) -> Iterator:
        from pyspark.sql.pandas.types import to_arrow_schema

        from table_streaming_source_spark.streaming.format_cdf import (
            _cdf_batches,
        )

        path, v, cols = partition.value
        if v is None:
            return iter(())
        # Arrow batches, not per-row pickled tuples (guide §4)
        return _cdf_batches(
            path, v, list(cols), to_arrow_schema(self._schema)
        )


class ChangesDataSource(DataSource):
    """``spark.read.format("format_changes")`` — the SQL-reachable
    batch change feed (Delta's ``table_changes`` TVF analogue):

        CREATE TEMPORARY VIEW changes USING format_changes
        OPTIONS (path '/data/orders', from_version '2')

    Options: ``path`` (required), ``from_version`` (default 0,
    exclusive), ``to_version`` / ``ref`` (default: lineage head).
    Schema = table columns + ``_change_type`` + ``_commit_version``."""

    @classmethod
    def name(cls) -> str:
        return "format_changes"

    def schema(self):
        from table_streaming_source_spark.streaming.format_cdf import (
            CdfDataSource,
        )

        return CdfDataSource(options=dict(self.options)).schema()

    def reader(self, schema: StructType) -> ChangesReader:
        return ChangesReader(schema, dict(self.options))


def register_format_changes(spark) -> None:
    spark.dataSource.register(ChangesDataSource)
