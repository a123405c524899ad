"""Streaming CHANGE DATA FEED over the table-format commit log — the
streaming twin of ``table_format.read_cdf`` (Delta's
``readChangeFeed`` stream): each micro-batch emits the row-level
``insert`` / ``update_preimage`` / ``update_postimage`` / ``delete``
images of exactly the commits since the last processed version.  The
offset IS the commit version (immutable → deterministic replay), the
``ref`` option pins one lineage, and MAINTENANCE commits (compaction,
clustering) emit nothing — OPTIMIZE can run under a live CDC consumer.

Image computation is PARTITION-PLANNED (the full
``DataSourceStreamReader`` API, not the driver-side Simple variant):
``partitions()`` emits one input partition per commit in the offset
range and each EXECUTOR computes its commit's images in pandas/pyarrow
— a micro-batch spanning N commits fans out N-wide, so one huge merge
commit no longer serializes through the driver.  Per-commit cost is
CHANGE-sized (appends read their own files, merges diff only rewritten
files, delete pre-images touch only overlapping/named files) — the
same change-proportional algebra as the batch ``read_cdf``, whose
Spark-side implementation this module is parity-tested against
(``tests/test_table_format.py``).
"""

from __future__ import annotations

import os
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import IntegerType, StringType, StructType

from table_streaming_source_spark import table_format as TF
from table_streaming_source_spark.streaming.format_tail import (
    _lineage_commits,
)


def _file_frame(ap: str, cols: list[str], chain: tuple = ()):
    """One data file as pandas, stamped with the absolute path and the
    within-file row ordinal — the same identity
    ``(_metadata.file_path, _metadata.row_index)`` gives the Spark
    read (parquet rows are emitted in file order by both readers).

    Columns the file PREDATES (additive schema evolution) are
    null-backfilled rather than requested from pyarrow — the pandas
    twin of the ``mergeSchema``/``allowMissingColumns`` contract the
    batch ``read_cdf`` gets for free, so a stream over an evolved
    table cannot crash where the batch read works.

    ``chain`` is the file's schema-op chain RELATIVE to the requested
    names (round 15 — a manifest entry whose era predates renames that
    landed before the commit being processed, or whose entry carries
    baked ``eras``): each requested name is reverse-translated to the
    file's physical spelling before the read and emitted under the
    requested name — the pandas twin of ``_read_era_groups``."""
    import pyarrow.parquet as pq

    phys = [_phys_name(c, chain) for c in cols] if chain else list(cols)
    present = set(pq.read_schema(ap).names)
    have = [p for p in phys if p in present]
    pdf = pq.read_table(ap, columns=have).to_pandas()
    ren = {
        p: c
        for p, c in zip(phys, cols)
        if p != c and p in pdf.columns
    }
    if ren:
        pdf = pdf.rename(columns=ren)
    for c, p in zip(cols, phys):
        if p not in present:
            pdf[c] = None
    pdf = pdf[cols]
    pdf["__file"] = os.path.abspath(ap)
    pdf["__pos"] = range(len(pdf))
    return pdf


def _concat(frames, cols: list[str]):
    import pandas as pd

    if not frames:
        return pd.DataFrame(columns=cols + ["__file", "__pos"])
    return pd.concat(frames, ignore_index=True)


def _resolve_pandas(
    path: str, version: int, cols: list[str], subset=None
):
    """The MOR view of a snapshot (or a file subset of it) in pandas:
    data files minus applicable equality deletes (sequence rule) and
    positional deletes (named file + ordinal) — the driver-side twin
    of ``table_format._mor_resolve``, change-sized because callers
    pass change-sized file subsets."""
    import pandas as pd

    key, eq = TF._snapshot_deletes(path, version)
    pos = TF._snapshot_pos_deletes(path, version)
    file_dicts = (
        subset if subset is not None
        else TF._snapshot_file_dicts(path, version)
    )
    # per-file era chains (round 15): files whose era predates a
    # rename/widen read under their physical names and emit under the
    # requested ones — the walk is manifest-only (no data I/O) and
    # empty chains cost nothing.  Schema-op history never coexists
    # with MOR delete state (the commit guards), so the delete
    # algebra below sees untranslated names only when there are no
    # chains to translate.
    chain_by_path = {
        f["path"]: ch
        for f, ch in TF._walk_files_renamed(path, version)[0]
    }
    keys = TF._key_cols(key) if key is not None else []
    # a projection may exclude the delete-key columns: the anti-join
    # below still needs them, so read them alongside and project back
    # at the end — the streaming twin of batch read_cdf(columns=)'s
    # scan-full-then-project handling of outstanding equality deletes
    read_cols = cols + [k for k in keys if k not in cols]
    eq_frames: dict[str, object] = {}
    for d in eq:
        import pyarrow.parquet as pq

        eq_frames[d["path"]] = (
            pq.read_table(os.path.join(path, d["path"]), columns=keys)
            .to_pandas()
            .drop_duplicates()
        )
    pos_by_file: dict[str, set[int]] = {}
    for fp, p in TF._pos_delete_pairs_local(path, pos):
        pos_by_file.setdefault(fp, set()).add(int(p))
    frames = []
    for f in file_dicts:
        ap = os.path.abspath(os.path.join(path, f["path"]))
        pdf = _file_frame(
            ap, read_cols,
            chain_by_path.get(f["path"], TF._entry_eras(f)),
        )
        dead = pos_by_file.get(ap)
        if dead:
            pdf = pdf[~pdf["__pos"].isin(sorted(dead))]
        fseq = f.get("seq", 0)
        applicable = [
            d for d in eq if fseq < d.get("seq", float("inf"))
        ]
        if applicable and keys:
            kdf = pd.concat(
                [eq_frames[d["path"]] for d in applicable],
                ignore_index=True,
            ).drop_duplicates()
            merged = pdf.merge(kdf, on=keys, how="left", indicator=True)
            pdf = merged[merged["_merge"] == "left_only"].drop(
                columns="_merge"
            )
        frames.append(pdf)
    out = _concat(frames, read_cols)
    return out[cols + ["__file", "__pos"]]


def _neq(a, b):
    """Element-wise 'differs', treating NaN/None as equal to NaN/None
    (the null-safe comparison the Spark struct diff performs)."""
    both_na = a.isna() & b.isna()
    return ~((a == b) | both_na)


def _schema_ops_for(
    path: str, v: int, ref
) -> tuple[tuple, set, dict]:
    """Era bookkeeping for commit ``v`` on the tailed lineage:
    ``(ops_after, renamed_away, widens_before)`` where ``ops_after``
    is the application-ordered rename/widen chain from lineage commits
    NEWER than ``v`` (translates era-``v`` physical names to current
    logical names), ``renamed_away`` is the set of OLD names already
    renamed away at or before ``v`` (a stream whose pinned schema
    still carries one of them predates the rename — the Delta-parity
    schema-change stop), and ``widens_before`` maps each column's
    CURRENT logical name to the newest widen target already landed at
    or before ``v`` (a stream pinned at a NARROWER type than that
    target predates the widen and must stop — a silent cast would
    truncate post-widen values)."""
    head = TF.resolve_ref(path, ref)
    collected: list[tuple[str, str, str]] = []  # newest-first, ALL
    after_v: tuple | None = None
    away: set[str] = set()
    widens_before: dict[str, str] = {}
    cur: int | None = head
    seen: set[int] = set()
    while cur is not None and cur not in seen:
        seen.add(cur)
        c = TF._read_commit(path, cur)
        if cur <= v and after_v is None:
            # parents are strictly older: every commit newer than v
            # has been walked by the first time cur drops to <= v
            after_v = tuple(reversed(collected))
        # a commit's own ops, application-ordered: records hoisted by
        # history expiry (``folded_ops`` — they all landed at or
        # before the cut commit) then the live rename/widen records
        own_ops = [tuple(o) for o in c.get("folded_ops", [])]
        own_ops += [("r", a, b) for a, b in c.get("renames", [])]
        own_ops += [("w", cc, tt) for cc, tt in c.get("widens", [])]
        if cur <= v:
            newer = tuple(reversed(collected))  # ops newer than cur
            # newest-first within the commit too, so the newest widen
            # on a column wins the setdefault
            for i in range(len(own_ops) - 1, -1, -1):
                kind, a, b = own_ops[i]
                if kind == "r":
                    away.add(a)
                    continue
                name = a  # translate to the CURRENT logical name
                for k2, x, y in tuple(own_ops[i + 1:]) + newer:
                    if k2 == "r" and name == x:
                        name = y
                widens_before.setdefault(name, b)  # newest wins
        if own_ops:
            collected.extend(reversed(own_ops))
        cur = c["parent"] if c["parent"] is not None else c.get("prev")
    if after_v is None:
        after_v = tuple(reversed(collected))
    return after_v, away, widens_before


def _check_pinned_types(
    source: str, v: int, cols: list, types, widens_before: dict
) -> None:
    """Raise the schema-change stop when a pinned column's type is
    narrower than a widen target already landed at era ``v``."""
    if not types or not widens_before:
        return
    for col, pinned in zip(cols, types):
        wt = widens_before.get(col)
        # canonical spellings on BOTH sides (logs written before
        # commit_widen_column canonicalized may carry aliases like
        # "long"): a restarted stream pins the published simpleString
        # "bigint", which must match a landed widen to "long"
        if wt and TF._canon_spark_type(wt) != TF._canon_spark_type(
            pinned
        ):
            raise ValueError(
                f"{source}: column {col!r} was widened to {wt} at or "
                f"before commit {v} but the stream's pinned schema "
                f"carries {pinned} — restart the stream to pick up "
                "the widened type (Delta-parity schema-change stop)"
            )


def _phys_name(name: str, ops: tuple) -> str:
    """Reverse-translate a CURRENT logical name through ``ops`` to the
    physical name it had at the era the ops postdate."""
    for kind, a, b in reversed(ops):
        if kind == "r" and name == b:
            name = a
    return name


def _cdf_frames(
    path: str, v: int, cols: list[str], ref=None, types=None
) -> list[tuple]:
    """The CDF images of commit ``v`` as ``(frame, change_type)`` pairs
    — the per-commit algebra of ``table_format.read_cdf`` in pandas.
    Each frame holds exactly the REQUESTED column names in request
    order (physical-era names are translated back before return);
    empty legs are dropped.  ``_cdf_rows`` flattens the pairs to the
    positional tuple layout, ``_cdf_batches`` to Arrow record batches.

    Era-aware (round 14): requested column names are translated to
    their era-``v`` PHYSICAL names before any file is read — the whole
    per-commit algebra (delete-key joins, merge diffs, replace
    predicates) then runs era-consistently, and the positional tuple
    layout emits the values under the stream's pinned schema.  A
    stream whose pinned schema predates a rename that has landed by
    era ``v`` raises the Delta-parity schema-change error instead of
    silently null-backfilling."""
    import pandas as pd

    c = TF._read_commit(path, v)
    if c.get("maintenance"):
        return []
    if (c.get("renames") or c.get("widens")) and not c["files"]:
        return []  # metadata-only schema op: changes no rows
    ops, away, widens_before = _schema_ops_for(path, v, ref)
    stale = [cc for cc in cols if cc in away]
    if stale:
        raise ValueError(
            f"format_cdf: column(s) {stale} were renamed before commit "
            f"{v} on this lineage — the stream's pinned schema predates "
            "the rename; restart the stream to pick up the new schema "
            "(Delta-parity schema-change stop), or replay the range "
            "with the batch table_format.read_cdf, which translates "
            "eras"
        )
    _check_pinned_types("format_cdf", v, cols, types, widens_before)
    logical = list(cols)
    if ops:
        cols = [_phys_name(cc, ops) for cc in cols]
    base = c["parent"] if c["parent"] is not None else c.get("prev")

    def tag(pdf, ctype: str) -> list[tuple]:
        if len(pdf) == 0:
            return []
        vals = pdf[cols].copy()
        vals.columns = logical
        return [(vals, ctype)]

    new_eq = [d for d in c.get("deletes", []) if d.get("seq") == v]
    new_pos = [d for d in c.get("pos_deletes", []) if d.get("seq") == v]
    if new_eq or new_pos:
        import pyarrow.parquet as pq

        out: list[tuple] = []
        prev_dicts = TF._snapshot_file_dicts(path, base)
        if new_eq:
            keys = TF._key_cols(c["delete_key"])
            # CHANGE-proportional: resolve only the files some new
            # delete range can touch (the batch read_cdf's prune)
            cand = [
                f
                for f in prev_dicts
                if any(TF._stats_overlap(keys, f, d) for d in new_eq)
            ]
            if cand:
                TF._require_files(path, cand + new_eq, v)
                # widen past a projection that excludes the delete key:
                # classification joins on it; tag() projects it away
                dcols = cols + [k for k in keys if k not in cols]
                resolved = _resolve_pandas(path, base, dcols, subset=cand)
                kdf = pd.concat(
                    [
                        pq.read_table(
                            os.path.join(path, d["path"]), columns=keys
                        ).to_pandas()
                        for d in new_eq
                    ],
                    ignore_index=True,
                ).drop_duplicates()
                out += tag(resolved.merge(kdf, on=keys), "delete")
        if new_pos:
            named = {p for d in new_pos for p in d.get("paths", [])}
            cand = [
                f
                for f in prev_dicts
                if os.path.abspath(os.path.join(path, f["path"])) in named
            ]
            if cand:
                TF._require_files(path, cand + new_pos, v)
                resolved = _resolve_pandas(path, base, cols, subset=cand)
                ppdf = pd.DataFrame(
                    TF._pos_delete_pairs_local(path, new_pos),
                    columns=["file_path", "pos"],
                ).drop_duplicates()
                pre = resolved.merge(
                    ppdf,
                    left_on=["__file", "__pos"],
                    right_on=["file_path", "pos"],
                )
                out += tag(pre, "delete")
        return out
    if c["parent"] is not None:
        TF._require_files(path, c["files"], v)
        pdf = _concat(
            [
                _file_frame(os.path.join(path, f["path"]), cols)
                for f in c["files"]
            ],
            cols,
        )
        return tag(pdf, "insert")
    if "cdf_files" in c:
        # CHANGE-DATA sidecar: the commit staged its own row images
        TF._require_files(
            path, [{"path": pp} for pp in c["cdf_files"]], v
        )
        frames = _concat(
            [
                _file_frame(
                    os.path.join(path, pp), cols + ["_change_type"]
                )
                for pp in c["cdf_files"]
            ],
            cols + ["_change_type"],
        )
        out = []
        for ct in (
            "insert", "delete", "update_preimage", "update_postimage"
        ):
            out += tag(frames[frames["_change_type"] == ct], ct)
        return out
    if "replace_where" in c:
        # partition overwrite (the batch read_cdf's algebra in
        # pandas): survivors hold only out-of-range rows and the
        # incoming batch only in-range rows, so the predicate splits
        # the seq==v files exactly; a projection may exclude the
        # predicate column — read it alongside, tag() projects it away
        rw = c["replace_where"]
        rcol, lo, hi = rw["col"], rw["lo"], rw["hi"]
        rcols = cols + ([rcol] if rcol not in cols else [])

        def _disjoint(f: dict) -> bool:
            rng = f["stats"].get(rcol)
            return rng is not None and (rng[1] < lo or rng[0] > hi)

        own = [
            f for f in c["files"]
            if f.get("seq") == v and not _disjoint(f)
        ]
        carried = {f["path"] for f in c["files"]}
        # pre-side pruning consults stats TRANSLATED to era-v names
        # (entries may carry chains after a rename or an era-aware
        # rewrite); untranslatable keys fall back to "keep" — lossless
        replaced = [
            f
            for f, ch in TF._walk_files_renamed(path, base)[0]
            if f["path"] not in carried
            and not _disjoint(
                TF._translate_entry_stats(f, ch) if ch else f
            )
        ]
        TF._require_files(path, replaced + own, v)
        out = []
        if replaced:
            pre = _resolve_pandas(path, base, rcols, subset=replaced)
            pre = pre[(pre[rcol] >= lo) & (pre[rcol] <= hi)]
            out += tag(pre, "delete")
        if own:
            post = _concat(
                [
                    _file_frame(os.path.join(path, f["path"]), rcols)
                    for f in own
                ],
                rcols,
            )
            post = post[(post[rcol] >= lo) & (post[rcol] <= hi)]
            out += tag(post, "insert")
        return out
    if "merge_key" not in c:
        raise ValueError(
            f"commit {v} is a full-snapshot rewrite without a recorded "
            "merge_key — not CDF-classifiable; start the stream after it"
        )
    key = c["merge_key"]
    # a projection may exclude the merge key: classification still
    # joins on it, so read it alongside and let tag() project it away
    read_cols = cols if key in cols else cols + [key]
    post_files = [f for f in c["files"] if f.get("seq") == v]
    carried = {f["path"] for f in c["files"]}
    rewritten = [
        f
        for f in TF._snapshot_file_dicts(path, base)
        if f["path"] not in carried
    ]
    TF._require_files(path, rewritten + post_files, v)
    pre = _resolve_pandas(path, base, read_cols, subset=rewritten)
    post = _concat(
        [
            _file_frame(os.path.join(path, f["path"]), read_cols)
            for f in post_files
        ],
        read_cols,
    )
    out = []
    out += tag(post[~post[key].isin(set(pre[key]))], "insert")
    out += tag(pre[~pre[key].isin(set(post[key]))], "delete")
    others = [col for col in cols if col != key]
    if not others:
        return out  # projection holds only the key — no update pairs
    both = post.merge(
        pre[read_cols], on=key, suffixes=("", "__pre")
    )
    if len(both):
        mask = None
        for col in others:
            d = _neq(both[col], both[f"{col}__pre"])
            mask = d if mask is None else (mask | d)
        changed = both[mask] if mask is not None else both.iloc[0:0]
        out += tag(changed, "update_postimage")
        pre_img = changed[
            [key] + [f"{col}__pre" for col in others]
        ].rename(columns={f"{col}__pre": col for col in others})
        out += tag(pre_img, "update_preimage")
    return out


def _cdf_rows(
    path: str, v: int, cols: list[str], ref=None, types=None
) -> list[tuple]:
    """The CDF image tuples of commit ``v``.  Tuple layout: ``cols...,
    _change_type, _commit_version`` — the row-wise flattening of
    ``_cdf_frames`` (kept for tests; the data source readers ship
    ``_cdf_batches`` instead, so row values never cross the Python→JVM
    boundary one pickled tuple at a time)."""
    out: list[tuple] = []
    for pdf, ctype in _cdf_frames(path, v, cols, ref=ref, types=types):
        out += [
            (*row, ctype, v)
            for row in pdf.itertuples(index=False, name=None)
        ]
    return out


def _cdf_batches(path: str, v: int, cols: list[str], arrow_schema,
                 ref=None, types=None):
    """The CDF images of commit ``v`` as Arrow record batches under the
    source's declared schema (``cols... , _change_type,
    _commit_version``) — one batch per change-type leg, in the same leg
    order as ``_cdf_rows``.  Yielding ``pyarrow.RecordBatch`` from a
    Python data source's ``read()`` moves whole columns across the
    worker boundary instead of per-row pickled tuples (the same
    conversion the snapshot reader ``TableFormatReader.read`` uses:
    ``safe=False`` matches its cast semantics)."""
    import pyarrow as pa

    for pdf, ctype in _cdf_frames(path, v, cols, ref=ref, types=types):
        pdf["_change_type"] = ctype
        pdf["_commit_version"] = v
        tbl = pa.Table.from_pandas(
            pdf, schema=arrow_schema, preserve_index=False, safe=False
        )
        yield from tbl.to_batches()


class CdfStreamReader(DataSourceStreamReader):
    """Offset = last processed commit version on the tailed lineage; a
    batch is the CDF images of every commit in ``(start, head]``, one
    INPUT PARTITION per commit (executor-side image computation)."""

    def __init__(self, schema: StructType, options: dict) -> None:
        # the last two fields are the change metadata this source adds
        self._schema = schema
        self._cols = list(schema.fieldNames())[:-2]
        self._types = [
            f.dataType.simpleString() for f in schema.fields[:-2]
        ]
        self._path = options["path"]
        self._ref = options.get("ref")

    def initialOffset(self) -> dict:
        return {"version": 0}

    def latestOffset(self) -> dict:
        return {"version": TF.resolve_ref(self._path, self._ref)}

    def partitions(
        self, start: dict, end: dict
    ) -> Sequence[InputPartition]:
        parts = [
            InputPartition((
                self._path, v, tuple(self._cols), self._ref,
                tuple(self._types),
            ))
            for v in _lineage_commits(
                self._path, start["version"], end["version"]
            )
        ]
        # Spark requires ≥1 partition per planned batch — a range that
        # holds no lineage commits (e.g. another branch advanced the
        # shared version namespace) yields one empty partition
        return parts or [
            InputPartition((self._path, None, (), None, ()))
        ]

    def read(self, partition: InputPartition) -> Iterator:
        from pyspark.sql.pandas.types import to_arrow_schema

        path, v, cols, ref, types = partition.value
        if v is None:
            return iter(())
        # Arrow batches, not per-row pickled tuples (guide §4): whole
        # columns cross the Python-worker boundary once per leg
        return _cdf_batches(
            path, v, list(cols), to_arrow_schema(self._schema),
            ref=ref, types=list(types),
        )

    def commit(self, end: dict) -> None:
        pass  # offsets are durable in the checkpoint; nothing to ack


class CdfDataSource(DataSource):
    """``spark.readStream.format("format_cdf")`` — options:

    - ``path``: table-format root (required)
    - ``ref``: branch/tag whose lineage to tail (default: main when
      refs exist, else the linear head)
    - ``columns``: comma-separated projection — the stream of the
      PROJECTED table, same semantics as the batch
      ``read_cdf(columns=)``: a merge row whose change lies entirely
      outside the projection emits no update pair

    Schema: the table's columns + ``_change_type`` (string) +
    ``_commit_version`` (int)."""

    @classmethod
    def name(cls) -> str:
        return "format_cdf"

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        path = self.options.get("path")
        # the latest MERGED schema across additive evolution AND
        # schema ops: one footer per lineage commit, each translated
        # through the rename/widen chain newer than it (shared with
        # the batch DataSource — sources/format_batch.py), so a stream
        # started after a rename pins ONLY the current names
        from table_streaming_source_spark.sources.format_batch import (
            _unified_arrow_schema,
        )

        head = TF.resolve_ref(path, self.options.get("ref"))
        base = from_arrow_schema(_unified_arrow_schema(path, head))
        want = self.options.get("columns")
        if want:
            keep = [c.strip() for c in want.split(",")]
            known = {f.name for f in base.fields}
            missing = [c for c in keep if c not in known]
            if missing:
                raise ValueError(
                    f"format_cdf: unknown columns {missing}"
                )
            order = {c: i for i, c in enumerate(keep)}
            base = StructType(
                sorted(
                    (f for f in base.fields if f.name in order),
                    key=lambda f: order[f.name],
                )
            )
        return StructType(
            # every data column is nullable: pre-evolution commits
            # null-backfill later columns, delete legs may carry NULLs
            # — a required parquet field (e.g. written from a literal)
            # must not make the feed's schema reject them
            [f.__class__(f.name, f.dataType, True) for f in base.fields]
            + StructType()
            .add("_change_type", StringType())
            .add("_commit_version", IntegerType())
            .fields
        )

    def streamReader(self, schema: StructType) -> CdfStreamReader:
        return CdfStreamReader(schema, dict(self.options))


def register_format_cdf(spark) -> None:
    spark.dataSource.register(CdfDataSource)
