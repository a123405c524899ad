"""A minimal log-structured table format — the lakehouse metadata layer
(Delta/Iceberg's core mechanics) reduced to its essence on plain
parquet + JSON, built for three contracts the catalog value-checks:

1. **Snapshot isolation**: a table version is the union of the data
   files named by the commit log up to that version; readers resolve
   the log, never `listFiles` — a half-written data file is invisible
   until its commit lands, and `version=` gives exact time travel.
2. **Optimistic concurrency**: commit ``n`` lands by an atomic
   put-if-absent of ``n.json``; a racing writer loses and must retry on top
   of the new log head (the loser's data files are orphans, swept by
   vacuum — never corruption).
3. **File skipping**: every commit records per-file, per-column
   min/max stats read back from the parquet FOOTERS it just wrote (the
   same stats a scan consults), so a range predicate prunes whole
   files from the manifest alone — no file I/O for pruned files.

The pointer-protocol sinks (`sinks.py::upsert_sink`/`scd2_sink`) show
single-pointer versioning; this module is the append-log generalization
a real table format uses (log replay instead of one pointer, per-file
stats instead of directory granularity).  A local-filesystem primitive
(`os.link`, which fails when the name exists) stands in for the
object-store put-if-absent; the log/manifest/pruning shapes are
unchanged.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


class CommitConflict(RuntimeError):
    """Another writer committed this version first — retry on the new
    log head."""


def _log_dir(path: str) -> str:
    return os.path.join(path, "_log")


def _data_dir(path: str) -> str:
    return os.path.join(path, "data")


def create_table(path: str) -> None:
    """Initialize an empty table: data dir + log dir + the v0 commit
    (empty file list) so the log head always exists."""
    os.makedirs(_data_dir(path), exist_ok=True)
    os.makedirs(_log_dir(path), exist_ok=True)
    _write_commit(path, 0, {"version": 0, "files": [], "parent": None})


def _write_commit(path: str, version: int, payload: dict) -> None:
    """Atomically publish commit ``version``; lose the race → conflict."""
    final = os.path.join(_log_dir(path), f"{version}.json")
    tmp = final + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    try:
        # put-if-absent: link() fails when the name exists, so of two
        # writers racing for one version exactly one publishes
        os.link(tmp, final)
    except FileExistsError:
        raise CommitConflict(f"version {version} already committed") from None
    finally:
        os.remove(tmp)


def latest_version(path: str) -> int:
    versions = [
        int(n.split(".", 1)[0])
        for n in os.listdir(_log_dir(path))
        if n.endswith(".json") and n.split(".", 1)[0].isdigit()
    ]
    if not versions:
        raise FileNotFoundError(f"no commit log at {path}")
    return max(versions)


#: stat-validated commit cache: commits are immutable once published
#: (the ONE exception — expire_snapshots rewriting a cut commit via
#: os.replace — changes mtime/size and invalidates the entry), so a
#: chain walk over 10k commits parses each JSON once per process, not
#: once per read.  Bounded by a full flush at the cap; refill is one
#: walk.  CONTRACT: callers never mutate a returned payload (every
#: writer copies — ``{**c}``/``dict(f)``), pinned by
#: ``tests/test_table_format.py::test_commit_cache_*``.
_COMMIT_CACHE: dict[tuple, tuple[tuple, dict]] = {}
_COMMIT_CACHE_MAX = 4096


def _read_commit(path: str, version: int) -> dict:
    fp = os.path.join(_log_dir(path), f"{version}.json")
    st = os.stat(fp)  # missing commit raises like open() did
    stamp = (st.st_mtime_ns, st.st_size)
    key = (os.path.abspath(path), version)
    hit = _COMMIT_CACHE.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    with open(fp) as fh:
        payload = json.load(fh)
    if len(_COMMIT_CACHE) >= _COMMIT_CACHE_MAX:
        _COMMIT_CACHE.clear()
    _COMMIT_CACHE[key] = (stamp, payload)
    return payload


def _file_stats(file_path: str, stat_cols: list[str]) -> dict:
    """Per-column min/max read back from the parquet FOOTER the writer
    just produced — the same statistics a pruning scan consults, so the
    manifest can never claim tighter bounds than the file proves."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(file_path).metadata
    out: dict[str, list] = {}
    nulls: dict[str, int] = {}
    null_unknown: set[str] = set()
    n_rows = md.num_rows
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        for j in range(rg.num_columns):
            c = rg.column(j)
            name = c.path_in_schema
            if name not in stat_cols:
                continue
            s = c.statistics
            # per-column NULL counts (the Iceberg null_value_counts
            # manifest field): summed across row groups; any group
            # without the statistic marks the column unknown — the
            # reader then keeps the file (never-lossy direction)
            if s is not None and s.null_count is not None:
                nulls[name] = nulls.get(name, 0) + s.null_count
            else:
                null_unknown.add(name)
            if s is None or not s.has_min_max:
                # a column without footer stats cannot prune — record
                # nothing, the reader keeps the file (safe direction)
                continue
            lo, hi = s.min, s.max
            if name in out:
                out[name] = [min(out[name][0], lo), max(out[name][1], hi)]
            else:
                out[name] = [lo, hi]
    for name in null_unknown:
        nulls.pop(name, None)
    return {"rows": n_rows, "cols": out, "nulls": nulls}


def _schema_json(df: DataFrame) -> str:
    """The written DataFrame's schema as compact JSON with every field
    (recursively) marked nullable — exactly the schema Spark's parquet
    footer inference would produce for the staged files ("all columns
    are automatically converted to be nullable" per the Parquet data
    source contract), so an explicit-schema read of them is
    byte-identical to the inferred one."""
    def fix(node):
        if isinstance(node, dict):
            t = node.get("type")
            if t == "struct":
                for f in node.get("fields", []):
                    f["nullable"] = True
                    f["type"] = fix(f["type"])
            elif t == "array":
                node["containsNull"] = True
                node["elementType"] = fix(node["elementType"])
            elif t == "map":
                node["valueContainsNull"] = True
                node["keyType"] = fix(node["keyType"])
                node["valueType"] = fix(node["valueType"])
        return node

    return json.dumps(fix(df.schema.jsonValue()), separators=(",", ":"))


_STAGING_RE = re.compile(r"^[a-z]+-(\d+)-[0-9a-f]{8}$")

# fixed positional-delete file schemas (see _write_dv_file /
# commit_delete_positions — the writers cast to exactly these)
_DV_SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "file_path", "type": "string", "nullable": True,
             "metadata": {}},
            {"name": "dv", "type": "binary", "nullable": True,
             "metadata": {}},
            {"name": "n", "type": "long", "nullable": True,
             "metadata": {}},
        ],
    },
    separators=(",", ":"),
)
_POS_SCHEMA_JSON = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "file_path", "type": "string", "nullable": True,
             "metadata": {}},
            {"name": "pos", "type": "long", "nullable": True,
             "metadata": {}},
        ],
    },
    separators=(",", ":"),
)


def _recorded_schema(path: str, fps) -> "object | None":
    """The exact Spark schema for a set of data/delete files, recovered
    from the commit log: every staging directory name encodes the
    writing commit (``{op}-{version}-{uuid}``) and that commit records
    ``file_schemas[staging_basename]`` at write time.  Manifest-only
    planning — reads skip Spark's footer-inference job entirely (at
    100 TB that job reads thousands of footers; the log read is O(1)).
    Returns ``None`` (caller falls back to footer inference) unless
    EVERY file's writing commit recorded a schema and all recorded
    schemas are identical — additive schema evolution across commits
    keeps the lossless ``mergeSchema`` union path."""
    seen: str | None = None
    for fp in fps:
        stag = os.path.basename(os.path.dirname(os.path.abspath(fp)))
        m = _STAGING_RE.match(stag)
        if m is None:
            return None
        try:
            c = _read_commit(path, int(m.group(1)))
        except OSError:
            return None
        sj = (c.get("file_schemas") or {}).get(stag)
        if sj is None or (seen is not None and sj != seen):
            return None
        seen = sj
    if seen is None:
        return None
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(seen))


def _read_data(
    spark: SparkSession, path: str, fps, *, merge: bool = True
) -> DataFrame:
    """Read table files by explicit log-recorded schema when available
    (zero schema-inference jobs), else exactly the old footer path."""
    fps = list(fps)
    sch = _recorded_schema(path, fps)
    if sch is not None:
        return spark.read.schema(sch).parquet(*fps)
    if merge:
        return spark.read.option("mergeSchema", "true").parquet(*fps)
    return spark.read.parquet(*fps)


#: target size for staged data files (Iceberg's
#: ``write.target-file-size-bytes`` idea; guide §6 wants output files in
#: the 128 MB–1 GB band).  The default uses the plan's in-memory size
#: estimate, which overshoots parquet bytes ~2-4×, so 128 MB estimated
#: lands near the band's low end on disk.
_TARGET_FILE_BYTES = 128 << 20


def _sized_for_write(df: DataFrame) -> DataFrame:
    """Bound a rewrite's staging-file fan-out by the plan's estimated
    bytes.  Without this every internal rewrite (MERGE / UPDATE /
    REPLACE survivors, CDF sidecars) fans out one file per post-shuffle
    task — at test scale that is 32 KB-sized files per commit, each
    paying a manifest footer-stat and a per-file open on every read; at
    cluster scale the same unsized write is the classic small-files
    problem (guide §6).  ``coalesce`` is narrow (no added shuffle) and
    never raises the partition count, so a large rewrite keeps its
    parallelism — only estimated-small outputs collapse.  Estimation is
    best-effort: on any failure the frame is returned unchanged."""
    try:
        est = int(
            str(
                df._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
    except Exception:
        return df
    n_out = max(1, min(est // _TARGET_FILE_BYTES + 1, 1 << 20))
    return df.coalesce(n_out)


def _manifest_entries(
    path: str, staging: str, stat_cols: list[str], *, seq: int | None = None
) -> list[dict]:
    """Manifest entries (path/rows/stats) for every parquet file a write
    just staged — shared by append/compact/merge/stage commits.

    ``seq`` stamps each entry with its DATA SEQUENCE NUMBER (the
    committing version — the Iceberg v2 idea): a merge-on-read equality
    delete applies to a data file only when ``file.seq < delete.seq``,
    so a row re-inserted AFTER a delete survives the subtraction.
    Entries written before this field existed read back as ``seq 0``
    (every delete applies — the pre-sequence behavior)."""
    files = []
    for name in sorted(os.listdir(staging)):
        if not name.endswith(".parquet"):
            continue
        fp = os.path.join(staging, name)
        st = _file_stats(fp, stat_cols)
        entry = {
            "path": os.path.relpath(fp, path),
            "rows": st["rows"],
            "stats": st["cols"],
        }
        if st["nulls"]:
            entry["nulls"] = st["nulls"]
        if seq is not None:
            entry["seq"] = seq
        files.append(entry)
    return files


_BLOOM_M = 1 << 13  # 8192 bits = 128 words ≈ 1 KB JSON per file/col
_BLOOM_K = 3


def _bloom_hash_exprs(col, m_bits: int, k: int):
    """The k Spark-side bloom positions of ``col`` — integral columns
    cast to LONG first so the Python probe (8-byte little-endian
    XXH64, `xxh64.py`) computes identical positions; the
    chained seed literal is LONG for the same reason."""
    from pyspark.sql import functions as F

    return [
        F.pmod(
            F.xxhash64(col, F.lit(j).cast("long")), F.lit(m_bits)
        )
        for j in range(k)
    ]


def _bloom_col_expr(df: DataFrame, name: str):
    """The column as hashed for blooms: integrals widen to LONG."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ByteType, IntegerType, ShortType

    dt = df.schema[name].dataType
    c = F.col(name)
    if isinstance(dt, (ByteType, ShortType, IntegerType)):
        return c.cast("long")
    return c


def _attach_blooms(
    spark: SparkSession,
    path: str,
    staging: str,
    entries: list[dict],
    bloom_cols: list[str],
    *,
    m_bits: int = _BLOOM_M,
    k: int = _BLOOM_K,
    schema=None,
) -> None:
    """Per-file Bloom fingerprints for the manifest (the Iceberg v3
    per-file bloom idea, same bit layout as
    ``operators/joins.py::bloom_prefilter_join``): ONE Spark job over
    the staged files computes every file's bit words map
    (explode positions → distinct → bit_or per 64-bit word), collected
    driver-side at manifest size (files × ≤m/64 words).  A point
    lookup (`snapshot_files(point=)`) or a stats-targeted MERGE then
    prunes files whose fingerprint provably excludes the key even
    when min/max ranges overlap — the non-clustered-key case where
    range stats stop helping."""
    from pyspark.sql import functions as F

    if not bloom_cols:
        return
    reader = spark.read if schema is None else spark.read.schema(schema)
    base = reader.parquet(staging).select(
        F.col("_metadata.file_path").alias("__f"), *bloom_cols
    )
    # one (file, word) hash aggregate per column — staged-data-sized
    maps: dict[str, dict] = {}
    for c in bloom_cols:
        hs = _bloom_hash_exprs(_bloom_col_expr(base, c), m_bits, k)
        words = (
            base.filter(F.col(c).isNotNull())
            .select("__f", F.explode(F.array(*hs)).alias("__p"))
            .groupBy("__f", F.shiftright(F.col("__p"), 6).alias("__w"))
            .agg(
                F.expr(
                    "bit_or(shiftleft(1L, cast(__p % 64 as int)))"
                ).alias("__bits")
            )
            .collect()
        )
        for r in words:
            maps.setdefault(_norm_path(r["__f"]), {}).setdefault(
                c, {}
            )[str(r["__w"])] = r["__bits"]
    for e in entries:
        ap = os.path.abspath(os.path.join(path, e["path"]))
        cols = maps.get(ap)
        if cols:
            e["bloom"] = {
                c: {"m": m_bits, "k": k, "words": w}
                for c, w in cols.items()
            }


def _norm_path(file_uri: str) -> str:
    """``_metadata.file_path`` is a file: URI; manifests store plain
    absolute paths."""
    from urllib.parse import unquote, urlparse

    if file_uri.startswith("file:"):
        return unquote(urlparse(file_uri).path)
    return os.path.abspath(file_uri)


def _bloom_may_contain(bloom: dict, value) -> bool:
    """Driver-side probe: False = the file PROVABLY lacks ``value``.
    Python twin of the Spark build (`xxh64.py` cross-checked
    against the live xxhash64 expression)."""
    from table_streaming_source_spark.xxh64 import (
        spark_xxhash64,
    )

    m, k, words = bloom["m"], bloom["k"], bloom["words"]
    for j in range(k):
        p = spark_xxhash64(value, j) % m  # Python % is non-negative
        bits = words.get(str(p >> 6))
        if bits is None or not (bits >> (p & 63)) & 1:
            return False
    return True


def _resolve_write_target(
    path: str, branch: str | None, expected_version: int | None
) -> tuple[int, int]:
    """``(base snapshot, new commit version)`` for a write.

    Linear (``branch=None``): base is the log head (or
    ``expected_version`` — the optimistic-concurrency token), the new
    version is ``base + 1``; a racing writer loses the commit rename.

    Branch: base is the BRANCH head, but the new version still comes
    from the shared monotonically-increasing namespace
    (``latest_version + 1``) so racing writers on ANY lineage collide
    on the same rename — one namespace, one conflict rule.  Here
    ``expected_version`` is the expected branch head: a stale token
    raises :class:`CommitConflict` before any data is written."""
    if branch is None:
        base = expected_version if expected_version is not None else (
            latest_version(path)
        )
        return base, base + 1
    refs = list_refs(path)
    _ensure_main_pinned(path, refs)
    if branch not in refs:
        raise ValueError(f"unknown branch {branch!r}")
    if refs[branch]["type"] != "branch":
        raise ValueError(f"ref {branch!r} is a tag — tags are immutable")
    base = refs[branch]["version"]
    if expected_version is not None and expected_version != base:
        raise CommitConflict(
            f"branch {branch!r} moved: head {base}, "
            f"expected {expected_version}"
        )
    if "main" not in list_refs(path):
        _write_refs(path, refs)  # persist the main pin
    return base, latest_version(path) + 1


def _advance_branch(
    path: str, branch: str | None, new_v: int, *, base: int | None = None
) -> None:
    """Move the branch pointer to the commit that just landed (no-op
    for linear writes).  Re-reads the refs file under the refs mutex:
    pointer advancement must not clobber refs created — or other
    branches advanced — while the data files were written.

    ``base`` makes the advancement a CAS (serializable branch writes):
    on a branch, two writers that pinned the SAME head both survive
    the commit rename (their versions come from the shared namespace,
    so the renames don't collide like linear writes do) — without the
    CAS the second pointer move would silently orphan the first
    writer's commit AFTER its caller saw success.  With it, the loser
    raises :class:`CommitConflict` (its commit file is an expired-CAS
    orphan, exactly like a lost rename) and retries on the new head."""
    if branch is None:
        return
    with _refs_mutex(path):
        refs = list_refs(path)
        _ensure_main_pinned(path, refs)
        if base is not None and refs[branch]["version"] != base:
            raise CommitConflict(
                f"branch {branch!r} moved during write: head "
                f"{refs[branch]['version']}, pinned {base}"
            )
        refs[branch]["version"] = new_v
        _write_refs(path, refs)


def commit_append(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    *,
    stat_cols: list[str],
    expected_version: int | None = None,
    row_ids_from: str | None = None,
    row_id_col: str = "_row_id",
    branch: str | None = None,
    bloom_cols: list[str] | None = None,
) -> int:
    """Write ``df`` as new data files, then publish them as the next
    commit.  ``expected_version`` implements optimistic concurrency:
    pass the version you read; if someone committed meanwhile the
    publish loses and :class:`CommitConflict` propagates — your data
    files are orphans (vacuum's job), the table is untouched.

    ``row_ids_from=<key column>`` stamps every appended row with a
    stable lineage id (:func:`row_id_expr` over that key and THIS
    commit's version) in ``row_id_col`` — the minting half of the
    row-lineage contract; :func:`commit_merge` preserves the ids
    through rewrites.

    ``branch=<name>`` targets a named branch instead of the linear
    head: the new commit's PARENT is the branch head, its version
    comes from the shared monotonically-increasing namespace, and the
    branch pointer advances after the commit lands (the Iceberg
    branch-write model — see :func:`_branch_base`).  With a branch,
    ``expected_version`` means the expected BRANCH head."""
    from pyspark.sql import functions as F

    base, new_v = _resolve_write_target(path, branch, expected_version)
    if row_ids_from is not None:
        df = df.withColumn(
            row_id_col, row_id_expr(F.col(row_ids_from), new_v)
        )
    staging = os.path.join(
        _data_dir(path), f"commit-{new_v}-{uuid.uuid4().hex[:8]}"
    )
    df.write.mode("overwrite").parquet(staging)
    files = _manifest_entries(path, staging, stat_cols, seq=new_v)
    if bloom_cols:
        # the writer's own schema skips the footer-inference job
        _attach_blooms(
            spark, path, staging, files, bloom_cols, schema=df.schema
        )
    _write_commit(
        path,
        new_v,
        {
            "version": new_v, "files": files, "parent": base,
            "file_schemas": {
                os.path.basename(staging): _schema_json(df)
            },
        },
    )
    _advance_branch(path, branch, new_v, base=base)
    return new_v


def commit_rename_column(
    path: str,
    renames: dict[str, str],
    *,
    expected_version: int | None = None,
    branch: str | None = None,
) -> int:
    """Metadata-only COLUMN RENAME (the Delta/Iceberg column-mapping
    idea): publish a commit that carries ``renames`` and NO files —
    zero data I/O regardless of table size.  Readers translate on the
    fly: files written before the rename keep their physical column
    name and are renamed at scan time; files written after carry the
    new name physically; manifest stat/null/bloom keys of older files
    translate during the snapshot walk, so pruning on the CURRENT
    name keeps skipping pre-rename files.  Time travel to a version
    before the rename shows the old name — the rename is part of the
    log, not of the files.

    Restriction (the Iceberg-style rule): renaming while ANY
    merge-on-read delete state (equality on any column, or positional)
    is outstanding raises — run ``commit_compact`` first.  The delete
    reconcilers and ``read_table_mor`` are not era-aware, and a rename
    committed over live delete state would leave the MOR view (and
    compaction itself, which reads through it) permanently unreadable —
    refusing up front keeps the materialize-with-compact remedy always
    available."""
    if not renames:
        raise ValueError("rename: empty mapping")
    for old, new in renames.items():
        if old == new:
            raise ValueError(f"rename: {old!r} -> itself")
    if set(renames.values()) & set(renames.keys()):
        raise ValueError(
            "rename: chained old->new names within one commit — "
            "split into two commits"
        )
    if len(set(renames.values())) != len(renames):
        raise ValueError("rename: duplicate target names")
    base, new_v = _resolve_write_target(path, branch, expected_version)
    _guard_no_mor_deletes(path, base, "rename")
    _write_commit(
        path,
        new_v,
        {
            "version": new_v,
            "files": [],
            "parent": base,
            "renames": sorted(renames.items()),
        },
    )
    _advance_branch(path, branch, new_v, base=base)
    return new_v


def commit_widen_column(
    path: str,
    widens: dict[str, str],
    *,
    expected_version: int | None = None,
    branch: str | None = None,
) -> int:
    """Metadata-only SAFE TYPE WIDENING (the Iceberg type-promotion
    rule: int→bigint, float→double, …): publish a commit carrying
    ``widens`` (column → new Spark type string) and NO files.  The
    era-aware read casts pre-widen files to the new type at scan
    time; post-widen appends carry it physically; time travel shows
    the old type.  Same restriction as :func:`commit_rename_column`:
    refused while MOR delete state is outstanding.  The row-level
    rewriters (MERGE/UPDATE/REPLACE/binpack) are era-aware (round 15)
    and keep working across the widen; only the MOR delete ops and
    the hidden-partition point read still require
    :func:`commit_compact` first.

    The target is VALIDATED against the promotion allowlist
    (:func:`_is_safe_promotion` — integer widening, float→double,
    int→double, decimal growth): a narrowing target like bigint→int
    is refused at commit time, because pre-widen data would silently
    truncate at read time through the era cast."""
    if not widens:
        raise ValueError("widen: empty mapping")
    for col, t in widens.items():
        if not t or not isinstance(t, str):
            raise ValueError(f"widen: bad target type for {col!r}")
    # canonicalize the target spelling before it reaches the log: a
    # target written as "long" would otherwise never equal the
    # published simpleString "bigint" in the streams' pinned-type
    # check, making the schema-change stop unrecoverable by restart
    widens = {col: _canon_spark_type(t) for col, t in widens.items()}
    base, new_v = _resolve_write_target(path, branch, expected_version)
    _guard_no_mor_deletes(path, base, "widen")
    for col, t in widens.items():
        cur = _current_logical_type(path, base, col)
        if cur is not None and not _is_safe_promotion(cur, t):
            raise ValueError(
                f"widen: {col!r} {cur} -> {t} is not a safe promotion "
                "(allowed: integer widening, float->double, "
                "int-or-narrower->double, decimal precision/scale "
                "growth) — a narrowing cast would silently truncate "
                "pre-widen data at read time"
            )
    _write_commit(
        path,
        new_v,
        {
            "version": new_v,
            "files": [],
            "parent": base,
            "widens": sorted(widens.items()),
        },
    )
    _advance_branch(path, branch, new_v, base=base)
    return new_v


_INT_RANK = {"tinyint": 0, "smallint": 1, "int": 2, "integer": 2,
             "bigint": 3, "long": 3}
_DECIMAL_RE = re.compile(r"^decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$")
_TYPE_ALIASES = {"long": "bigint", "integer": "int", "short": "smallint",
                 "byte": "tinyint"}


def _canon_spark_type(t: str) -> str:
    """Canonical Spark SQL type string: lower-cased, whitespace-free,
    aliases folded (``long``→``bigint``, ``integer``→``int``, …) — the
    spelling ``DataType.simpleString()`` publishes.  Widen targets are
    canonicalized ONCE at commit time so every consumer (era casts,
    the streams' pinned-type schema-change check) compares one
    spelling; the check side still canonicalizes for logs written
    before this rule."""
    t = t.strip().lower().replace(" ", "")
    return _TYPE_ALIASES.get(t, t)


def _is_safe_promotion(cur: str, tgt: str) -> bool:
    """The Iceberg/Delta type-promotion allowlist: integer widening
    (tinyint→smallint→int→bigint), float→double, int-or-narrower→
    double (exact below 2^53), and decimal growth that keeps both the
    integer digits and the scale (p−s and s each non-decreasing).
    Everything else — including any NARROWING like bigint→int — is
    unsafe: pre-widen data would silently truncate at read time."""
    cur, tgt = cur.strip().lower(), tgt.strip().lower()
    if cur == tgt:
        return True
    if cur in _INT_RANK and tgt in _INT_RANK:
        return _INT_RANK[tgt] > _INT_RANK[cur]
    if cur in _INT_RANK and tgt == "double":
        return _INT_RANK[cur] <= 2
    if cur == "float" and tgt == "double":
        return True
    mc, mt = _DECIMAL_RE.match(cur), _DECIMAL_RE.match(tgt)
    if mc and mt:
        pc, sc = int(mc.group(1)), int(mc.group(2))
        pt, st = int(mt.group(1)), int(mt.group(2))
        return st >= sc and (pt - st) >= (pc - sc)
    return False


def _arrow_type_str(t) -> str:
    """A pyarrow type as the matching Spark SQL type string (the
    subset the promotion allowlist reasons about)."""
    import pyarrow as pa

    if pa.types.is_int8(t):
        return "tinyint"
    if pa.types.is_int16(t):
        return "smallint"
    if pa.types.is_int32(t):
        return "int"
    if pa.types.is_int64(t):
        return "bigint"
    if pa.types.is_float32(t):
        return "float"
    if pa.types.is_float64(t):
        return "double"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    return str(t)


def _current_logical_type(path: str, version: int, col: str) -> str | None:
    """The CURRENT logical type of ``col`` at ``version``: the newest
    widen target on the column if one exists in the visible chain,
    else the physical parquet footer type of the newest file carrying
    it (tracking the physical name back through renames).  ``None``
    when no committed file holds the column (nothing to truncate)."""
    import pyarrow.parquet as pq

    phys = col
    v: int | None = version
    while v is not None:
        c = _read_commit(path, v)
        for cc, tt in c.get("widens", []):
            if cc == phys:
                return tt  # newest-first walk: first hit is current
        for a, b in c.get("renames", []):
            if phys == b:
                phys = a  # keep tracking the pre-rename physical name
        # schema-op records hoisted by history expiry (application-
        # ordered) — walk them newest-first like the live records
        for kind, a, b in reversed(c.get("folded_ops", [])):
            if kind == "w" and a == phys:
                return b
            if kind == "r" and phys == b:
                phys = a
        for f in c["files"]:
            fp = os.path.join(path, f["path"])
            if not os.path.exists(fp):
                continue
            # an era-carrying entry resolves through its baked chain:
            # the newest baked widen on the column IS its current type;
            # baked renames track the entry-physical spelling
            name, hit = phys, None
            for kind, a, b in reversed(_entry_eras(f)):
                if kind == "w" and a == name:
                    hit = b
                    break
                if kind == "r" and name == b:
                    name = a
            if hit is not None:
                return hit
            sch = pq.read_schema(fp)
            if name in sch.names:
                return _arrow_type_str(sch.field(name).type)
        v = c["parent"] if c["parent"] is not None else c.get("prev")
    return None


def _has_renames(path: str, version: int) -> bool:
    """True when schema-op history is visible in the snapshot — a
    rename/widen COMMIT in the parent chain, or a manifest entry
    carrying a baked-in ``eras`` chain (an era-aware rewriter carried
    it through a full-snapshot commit).  The MOR delete reconcilers
    and the hidden-partition point read are not era-aware, so they
    refuse loudly and name commit_compact as the materializer
    (compaction reads era-aware and rewrites with current names,
    clearing both forms of the chain)."""
    v: int | None = version
    while v is not None:
        commit = _read_commit(path, v)
        if commit.get("renames") or commit.get("widens"):
            return True
        if any(f.get("eras") for f in commit["files"]):
            return True
        v = commit["parent"]
    return False


def _guard_no_mor_deletes(path: str, version: int, op: str) -> None:
    """Refuse a schema-op commit (rename/widen) while ANY merge-on-read
    delete state is outstanding.  ``read_table_mor`` and the delete
    reconcilers are not era-aware (``_guard_no_renames``), so a schema
    op landing OVER live delete state would make the MOR view — and
    ``commit_compact``, which reads through it — unreadable with no
    remedy.  Compact-first keeps every ordering legal: deletes refuse
    after a schema op, schema ops refuse over live deletes, and
    compaction (the materializer) is always runnable from a legal
    state."""
    _, eq = _snapshot_deletes(path, version)
    if eq or _snapshot_pos_deletes(path, version):
        raise ValueError(
            f"{op}: outstanding merge-on-read delete state (equality "
            "or positional) — run commit_compact first to materialize "
            "deletes, then retry"
        )


def _guard_no_renames(path: str, version: int, op: str) -> None:
    if _has_renames(path, version):
        raise NotImplementedError(
            f"{op} on a table with a column rename/widen in its "
            "visible history: the incremental rewrite is not era-aware"
            " — run commit_compact first to materialize the current "
            "schema"
        )


def _rename_key(name: str, applied: tuple) -> str:
    """Translate one column name through an application-ordered
    (oldest-first) schema-op chain (renames move the name; widens
    leave it)."""
    for kind, a, b in applied:
        if kind == "r" and name == a:
            name = b
    return name


def _entry_eras(f: dict) -> tuple:
    """The schema-op chain BAKED INTO a manifest entry (application-
    ordered, oldest-first) by an era-aware rewriter that carried the
    entry through a full-snapshot commit — the per-file half of the
    Iceberg field-id-mapping idea.  Empty for entries that never
    crossed a schema op."""
    return tuple(tuple(op) for op in f.get("eras") or ())


def _with_eras(f: dict, chain: tuple) -> dict:
    """Entry carried by reference with its FULL translation chain
    baked in (``chain`` already includes any previously-baked eras —
    callers pass the combined chain from :func:`_walk_files_renamed`),
    so the entry stays readable after the carrying commit cuts the
    parent chain the rename/widen commits lived on."""
    if not chain:
        return f
    g = dict(f)
    g["eras"] = [list(op) for op in chain]
    return g


def _walk_files_renamed(
    path: str, version: int
) -> tuple[list[tuple[dict, tuple]], bool]:
    """Walk the parent chain newest→oldest, collecting every manifest
    entry together with the APPLICATION-ORDERED rename chain the
    entry's physical columns must pass through: the entry's own baked
    ``eras`` (oldest — ops already folded into it by a rewriter or
    history expiry), then the renames/widens from commits NEWER than
    the entry's commit.  Returns ``(entries, any_renames)``; with no
    schema ops anywhere the entries are exactly
    ``_snapshot_file_dicts`` order with empty chains."""
    v: int | None = version
    collected: list[tuple[str, str, str]] = []  # newest-first encounter
    out: list[tuple[dict, tuple]] = []
    any_ops = False
    while v is not None:
        commit = _read_commit(path, v)
        applied = tuple(reversed(collected))
        for f in commit["files"]:
            own = _entry_eras(f)
            if own:
                any_ops = True
            out.append((f, own + applied))
        ops = [("r", a, b) for a, b in commit.get("renames", [])]
        ops += [("w", c, t) for c, t in commit.get("widens", [])]
        if ops:
            any_ops = True
            # encounter order is newest-first; within one commit keep
            # its pairs as one unit (applied oldest-first later)
            collected.extend(reversed(ops))
        v = commit["parent"]
    return out, any_ops


def _read_era_groups(
    spark: SparkSession, path: str, pairs: list[tuple[str, tuple]]
) -> DataFrame:
    """Union-read data files grouped by the schema-op chain their era
    must pass through: each group scans with its physical names
    (``mergeSchema`` for additive evolution), renames/casts to the
    current logical schema, and the eras union BY NAME.  With no
    chains there is exactly one group and this is the identical single
    parquet read — the zero-op fast path costs nothing."""
    from pyspark.sql import functions as F

    groups: dict[tuple, list[str]] = {}
    for fp, applied in pairs:
        groups.setdefault(applied, []).append(fp)
    dfs = []
    for applied, fps in sorted(groups.items()):
        d = _read_data(spark, path, fps)
        for kind, a, b in applied:
            if kind == "r":
                d = d.withColumnRenamed(a, b)
            elif a in d.columns:  # widen: cast the era to the new type
                d = d.withColumn(a, F.col(a).cast(b))
        dfs.append(d)
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def _translate_entry_stats(f: dict, applied: tuple) -> dict:
    """A manifest entry with stat/null/bloom keys translated to the
    CURRENT logical names (no-op for an empty chain)."""
    if not applied:
        return f
    g = dict(f)
    for field in ("stats", "nulls", "bloom"):
        d = f.get(field)
        if d:
            g[field] = {
                _rename_key(k, applied): val for k, val in d.items()
            }
    return g


def snapshot_files(
    path: str,
    *,
    version: int | None = None,
    prune: tuple[str, object, object] | None = None,
    null_prune: tuple[str, str] | None = None,
    point: tuple[str, object] | None = None,
    with_renames: bool = False,
) -> tuple[list, int, int]:
    """Resolve a snapshot from the log: walk parents from ``version``
    (default: head), union the committed file lists, and — when
    ``prune = (col, lo, hi)`` is given — drop every file whose manifest
    [min, max] for ``col`` is disjoint from [lo, hi].  Files without
    recorded stats for the column are always kept (pruning must never
    be lossy).  Returns (kept paths, kept count, total count).

    ``point = (col, value)`` additionally consults the per-file BLOOM
    fingerprints (``commit_append(bloom_cols=)``): on a NON-CLUSTERED
    key, every file's [min, max] overlaps a point predicate and range
    stats prune nothing — the fingerprint still proves absence for
    files that never saw the key.  Files without a bloom for the
    column are kept (never lossy); false positives only cost I/O.

    ``null_prune = (col, "isnull"|"notnull")`` prunes on the per-column
    NULL COUNTS the manifest records from the parquet footers (the
    Iceberg null_value_counts idea): an ``IS NULL`` scan skips files
    with zero recorded nulls in ``col``; an ``IS NOT NULL`` scan skips
    files that are entirely null there (the sparse-column shape — at
    100 TB a rarely-populated column reads only the files that ever
    populated it).  Files without a recorded null count are kept —
    never lossy.  Composes with ``prune``."""
    v = latest_version(path) if version is None else version
    entries, any_renames = _walk_files_renamed(path, v)
    # rename-aware: stat/null/bloom keys translate to CURRENT names so
    # pruning on a renamed column keeps skipping pre-rename files; the
    # no-rename path yields the identical dicts untouched
    all_files = [
        _translate_entry_stats(f, applied) if any_renames else f
        for f, applied in entries
    ]
    kept = []
    kept_renames: list[tuple] = []
    for f, (_, applied) in zip(all_files, entries):
        if prune is not None:
            col, lo, hi = prune
            rng = f["stats"].get(col)
            if rng is not None and (rng[1] < lo or rng[0] > hi):
                continue
        if null_prune is not None:
            col, kind = null_prune
            if kind not in ("isnull", "notnull"):
                raise ValueError(f"unknown null_prune kind {kind!r}")
            nc = f.get("nulls", {}).get(col)
            if nc is not None:
                if kind == "isnull" and nc == 0:
                    continue
                if kind == "notnull" and nc == f["rows"]:
                    continue
        if point is not None:
            col, value = point
            bloom = f.get("bloom", {}).get(col)
            if bloom is not None and not _bloom_may_contain(bloom, value):
                continue
        kept.append(os.path.join(path, f["path"]))
        kept_renames.append(applied)
    if with_renames:
        return list(zip(kept, kept_renames)), len(kept), len(all_files)
    return kept, len(kept), len(all_files)


def read_table(
    spark: SparkSession,
    path: str,
    *,
    version: int | None = None,
    prune: tuple[str, object, object] | None = None,
    null_prune: tuple[str, str] | None = None,
    point: tuple[str, object] | None = None,
) -> DataFrame:
    """Snapshot read via the commit log (NEVER a directory listing —
    uncommitted files are invisible), optionally time-traveled and
    manifest-pruned (range stats via ``prune``, null counts via
    ``null_prune``, per-file Bloom fingerprints via ``point`` —
    see :func:`snapshot_files`).  CONTRACT: this is
    the data-file view — between a :func:`commit_delete_keys` and the
    next :func:`commit_compact`, merge-on-read equality deletes are
    visible only through :func:`read_table_mor` (compaction reconciles
    the two views).  An empty snapshot raises: the caller should read
    the schema from the log in a fuller implementation."""
    pairs, _, _ = snapshot_files(
        path, version=version, prune=prune, null_prune=null_prune,
        point=point, with_renames=True,
    )
    if not pairs:
        raise ValueError("empty snapshot (no files after pruning)")
    # mergeSchema: commits may evolve the schema (add columns); the
    # snapshot read unions all committed schemas with NULL backfill for
    # pre-evolution files — the additive-evolution contract.  A fuller
    # implementation stores the schema in the log and skips the footer
    # merge; the read semantics are identical.
    #
    # Column renames (commit_rename_column) group the files by the
    # rename chain their ERA must pass through (commit-level ops plus
    # any chain a rewriter baked into the entry) — zero data
    # rewritten, time travel keeps the old names.  With no schema ops
    # there is exactly one group and one parquet read.
    return _read_era_groups(spark, path, pairs)


def vacuum(path: str, *, retain_versions: int = 2) -> tuple[int, int]:
    """Remove data files not referenced by any of the ``retain_versions``
    newest snapshots — the orphan sweep that cleans up lost-race
    commits and compacted-away files.  Files referenced by a RETAINED
    snapshot (including older files still visible through time travel
    within the retention window) are kept; everything else under
    ``data/`` goes.  Returns (removed, kept)."""
    head = latest_version(path)
    keep_versions = set(
        range(max(0, head - retain_versions + 1), head + 1)
    )
    # every named ref (branch head or tag) pins its snapshot — a
    # branch/tag outside the head-retention window must survive the
    # sweep or read_ref would resolve to deleted files
    keep_versions.update(
        r["version"] for r in list_refs(path).values()
    )
    referenced: set[str] = set()
    for v in keep_versions:
        try:
            files, _, _ = snapshot_files(path, version=v)
        except FileNotFoundError:
            # version expired from the log (expire_snapshots) — nothing
            # left to pin through it
            continue
        referenced.update(os.path.abspath(f) for f in files)
        # outstanding delete files (both kinds) are part of the
        # snapshot — sweeping them would resurrect deleted rows at MOR
        # read time
        _, dels = _snapshot_deletes(path, v)
        referenced.update(
            os.path.abspath(os.path.join(path, d["path"])) for d in dels
        )
        referenced.update(
            os.path.abspath(os.path.join(path, d["path"]))
            for d in _snapshot_pos_deletes(path, v)
        )
        # change-data sidecar files belong to the VERSION: while the
        # version is retained, its change feed must stay readable
        try:
            commit = _read_commit(path, v)
        except FileNotFoundError:
            commit = {}
        referenced.update(
            os.path.abspath(os.path.join(path, pp))
            for pp in commit.get("cdf_files", [])
        )
    # Staged-but-unpublished WAP commits are NOT orphans: their manifest
    # exists (``{v}.json.staged-{audit_id}``) and commit_publish may still
    # promote it.  Sweeping those files would let a later publish point a
    # committed snapshot at deleted data — the Iceberg rule is that an
    # open audit pins its files (only commit_abandon turns them into
    # sweepable orphans).
    for name in os.listdir(_log_dir(path)):
        if ".json.staged-" not in name:
            continue
        with open(os.path.join(_log_dir(path), name)) as fh:
            staged = json.load(fh)
        referenced.update(
            os.path.abspath(os.path.join(path, f["path"]))
            for f in staged["files"]
        )
    removed = kept = 0
    for root, _dirs, names in os.walk(_data_dir(path)):
        for name in names:
            if not name.endswith(".parquet"):
                continue
            fp = os.path.abspath(os.path.join(root, name))
            if fp in referenced:
                kept += 1
            else:
                os.remove(fp)
                removed += 1
    return removed, kept


def commit_compact(
    spark: SparkSession,
    path: str,
    *,
    stat_cols: list[str],
    expected_version: int | None = None,
    branch: str | None = None,
) -> int:
    """OPTIMIZE: rewrite the current snapshot's files into fewer, larger
    ones and publish the rewrite as the next commit with ``parent:
    None`` (a full snapshot — it REPLACES the file list rather than
    appending).  Outstanding merge-on-read equality deletes are
    MATERIALIZED (the rewrite reads the MOR view) and CLEARED — after
    compaction ``read_table`` and ``read_table_mor`` agree.  Logical
    content is otherwise unchanged by construction; old files stay on
    disk for time travel until :func:`vacuum` retires them.  Same
    optimistic-concurrency rule as :func:`commit_append`; ``branch=``
    compacts a named branch's snapshot and advances its pointer."""
    base, new_v = _resolve_write_target(path, branch, expected_version)
    _, outstanding = _snapshot_deletes(path, base)
    if outstanding or _snapshot_pos_deletes(path, base):
        current = read_table_mor(spark, path, version=base)
    else:
        current = read_table(spark, path, version=base)
    staging = os.path.join(
        _data_dir(path), f"compact-{new_v}-{uuid.uuid4().hex[:8]}"
    )
    current.coalesce(1).write.mode("overwrite").parquet(staging)
    files = _manifest_entries(path, staging, stat_cols, seq=new_v)
    _write_commit(
        path,
        new_v,
        {
            "version": new_v,
            "files": files,
            "file_schemas": {
                os.path.basename(staging): _schema_json(current)
            },
            "parent": None,
            # the logical predecessor: full-snapshot commits cut the
            # physical ``parent`` chain, ``prev`` keeps the ancestry
            # walkable (fast_forward)
            "prev": base,
            # logical content unchanged: append-tailing readers skip
            # this commit instead of re-emitting the rewritten rows
            "maintenance": True,
        },
    )
    _advance_branch(path, branch, new_v, base=base)
    return new_v


def commit_update_where(
    spark: SparkSession,
    path: str,
    *,
    set_exprs: dict[str, str],
    where: str,
    stat_cols: list[str],
    prune: tuple[str, object, object] | None = None,
    expected_version: int | None = None,
    branch: str | None = None,
) -> tuple[int, int, int]:
    """SQL ``UPDATE ... SET ... WHERE ...`` on the table format (the
    Delta/Iceberg row-level UPDATE): rewrite ONLY the files the
    predicate can touch — ``prune = (col, lo, hi)`` consults the
    manifest's per-file ranges exactly like :func:`snapshot_files`;
    without it every file is a candidate — applying ``set_exprs``
    (column → SQL expression, evaluated per matching row) and
    carrying every other file BY REFERENCE.

    The rewrite reads candidates through MOR (outstanding deletes are
    not resurrected), updates matching rows with one CASE per target
    column, and publishes an incremental full-snapshot commit with a
    recorded ``update_where`` marker.  Cost is O(candidate files), the
    change-proportional UPDATE shape at 100 TB.  Returns
    ``(new_version, files_rewritten, files_total)``.

    ERA-AWARE (round 15): rename/widen history no longer refuses —
    pruning consults stats TRANSLATED to current names, candidates
    read through :func:`_read_era_groups`, and untouched files carry
    their translation chain baked into the manifest entry
    (:func:`_with_eras`), so the full-snapshot cut loses nothing."""
    from pyspark.sql import functions as F

    base, new_v = _resolve_write_target(path, branch, expected_version)
    pairs, any_ops = _walk_files_renamed(path, base)
    file_dicts = [f for f, _ in pairs]
    cand, untouched = [], []
    for f, chain in pairs:
        if prune is not None:
            col, lo, hi = prune
            stats = (
                _translate_entry_stats(f, chain) if chain else f
            )["stats"]
            rng = stats.get(col)
            if rng is not None and (rng[1] < lo or rng[0] > hi):
                untouched.append((f, chain))
                continue
        cand.append((f, chain))
    if not cand:
        return base, 0, len(file_dicts)
    del_key, outstanding = _snapshot_deletes(path, base)
    pos_outstanding = _snapshot_pos_deletes(path, base)
    if outstanding or pos_outstanding:
        if any_ops:  # the commit guards make this state unreachable
            raise NotImplementedError(
                "internal invariant violated: MOR delete state cannot "
                "coexist with schema-op history"
            )
        cur = _mor_resolve(
            spark, path, [f for f, _ in cand], del_key, outstanding,
            pos_outstanding,
        )
    else:
        cur = _read_era_groups(
            spark, path,
            [(os.path.join(path, f["path"]), ch) for f, ch in cand],
        )
    untouched = [_with_eras(f, ch) for f, ch in untouched]
    match = F.expr(where)
    # the candidate read feeds THREE derivations (rewrite output, CDF
    # pre-image, CDF post-image) executed across TWO write actions —
    # without a pin the candidate files (and any MOR subtraction) are
    # scanned once per action (round 16, guide §2.4).  Scoped persist,
    # released after the sidecar write.  ``persist`` (not
    # localCheckpoint) keeps the logical plan so ``_sized_for_write``
    # sees measured bytes (the commit_merge discipline).
    cur = cur.persist()
    updated = cur.select(
        *[
            (
                F.when(match, F.expr(set_exprs[c]))
                .otherwise(F.col(c))
                .alias(c)
                if c in set_exprs
                else F.col(c)
            )
            for c in cur.columns
        ]
    )
    staging = os.path.join(
        _data_dir(path), f"update-{new_v}-{uuid.uuid4().hex[:8]}"
    )
    # CHANGE-DATA sidecar (the Delta CDC-file technique): the matched
    # rows' pre/post images are staged WITH the commit, so the change
    # feed — batch or streaming — reads them verbatim instead of
    # re-deriving SET semantics at read time.  Cost is O(matched
    # rows); executors write it in the same pass discipline.
    pre_img = cur.filter(match)
    post_img = pre_img.select(
        *[
            (
                F.expr(set_exprs[c]).alias(c)
                if c in set_exprs
                else F.col(c)
            )
            for c in cur.columns
        ]
    )
    cdf_staging = os.path.join(
        _data_dir(path), f"cdf-{new_v}-{uuid.uuid4().hex[:8]}"
    )
    cdf_df = pre_img.withColumn(
        "_change_type", F.lit("update_preimage")
    ).unionByName(
        post_img.withColumn("_change_type", F.lit("update_postimage"))
    )
    try:
        updated = _sized_for_write(updated)
        updated.write.mode("overwrite").parquet(staging)
        cdf_df = _sized_for_write(cdf_df)
        cdf_df.write.mode("overwrite").parquet(cdf_staging)
    finally:
        cur.unpersist()
    cdf_files = [
        os.path.relpath(os.path.join(cdf_staging, n), path)
        for n in sorted(os.listdir(cdf_staging))
        if n.endswith(".parquet")
    ]
    files = list(untouched) + _manifest_entries(
        path, staging, stat_cols, seq=new_v
    )
    payload: dict = {
        "version": new_v,
        "files": files,
        "file_schemas": {
            os.path.basename(staging): _schema_json(updated),
            os.path.basename(cdf_staging): _schema_json(cdf_df),
        },
        "parent": None,
        "prev": base,
        "update_where": {"where": where, "set": dict(set_exprs)},
        "cdf_files": cdf_files,
    }
    if outstanding and untouched:
        payload["deletes"] = outstanding
        payload["delete_key"] = del_key
    if pos_outstanding:
        surviving = {
            os.path.abspath(os.path.join(path, f["path"]))
            for f in untouched
        }
        kept_pos = [
            d
            for d in pos_outstanding
            if any(p in surviving for p in d.get("paths", []))
        ]
        if kept_pos:
            payload["pos_deletes"] = kept_pos
    _write_commit(path, new_v, payload)
    _advance_branch(path, branch, new_v, base=base)
    return new_v, len(cand), len(file_dicts)


def read_history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY (Delta's history() / Iceberg's snapshots
    metadata table): one row per retained commit — version, operation
    kind (inferred from the payload shape), file/row counts, parent
    linkage, and the txn watermark when present.  Manifest-only:
    answered without opening one data file."""
    rows = []
    for v in range(latest_version(path) + 1):
        try:
            c = _read_commit(path, v)
        except FileNotFoundError:
            continue  # expired from the log
        if c.get("maintenance"):
            op = "OPTIMIZE"
        elif "replace_where" in c:
            op = "REPLACE WHERE"
        elif "update_where" in c:
            op = "UPDATE"
        elif "merge_key" in c:
            op = "MERGE"
        elif any(
            d.get("seq") == v
            for d in c.get("deletes", []) + c.get("pos_deletes", [])
        ):
            op = "DELETE"
        elif c["parent"] is None and c.get("prev") is not None:
            op = "OVERWRITE"
        elif "cloned_from" in c:
            op = "CLONE"
        elif v == 0:
            op = "CREATE TABLE"
        else:
            op = "WRITE"
        own = [f for f in c["files"] if f.get("seq", 0) == v]
        txn = c.get("txn") or {}
        rows.append(
            (
                v,
                op,
                c["parent"],
                c.get("prev"),
                len(c["files"]),
                len(own),
                sum(f["rows"] for f in own),
                len(c.get("deletes", [])),
                len(c.get("pos_deletes", [])),
                txn.get("app"),
                txn.get("batch"),
            )
        )
    return spark.createDataFrame(
        rows,
        "version int, operation string, parent int, prev int, "
        "n_files int, n_new_files int, new_rows bigint, "
        "n_eq_delete_files int, n_pos_delete_files int, "
        "txn_app string, txn_batch bigint",
    )


def commit_replace_where(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    *,
    col: str,
    lo,
    hi,
    stat_cols: list[str],
    expected_version: int | None = None,
    branch: str | None = None,
) -> tuple[int, int, int, int]:
    """Partition-overwrite commit (Delta ``replaceWhere`` / Iceberg
    overwrite-by-filter): atomically replace exactly the rows with
    ``col`` in ``[lo, hi]`` by ``df``, touching only the files the
    predicate reaches.

    Manifest-driven three-way split on the per-file [min, max]:

    - files fully INSIDE the range are dropped (no I/O at all);
    - files STRADDLING the boundary are rewritten to their surviving
      out-of-range rows (read through MOR so outstanding deletes are
      not resurrected);
    - files fully OUTSIDE the range are carried BY REFERENCE —
      untouched paths, untouched stats.

    ``df`` must satisfy the predicate: any row outside ``[lo, hi]``
    raises before anything is committed, and the refused commit's
    staged files are removed (Delta's replaceWhere constraint).  Outstanding equality deletes are carried for the
    untouched files (the replaced region's are materialized by the
    rewrite); positional deletes naming a dropped/rewritten file
    expire with it.  Optimistic concurrency as everywhere: a
    concurrent append wins or loses the commit rename, never
    interleaves.  The commit is NOT maintenance (content changes);
    CDF over it follows the full-snapshot-rewrite rule.

    Returns ``(new_version, files_dropped, files_rewritten,
    files_untouched)``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    # replaceWhere constraint checked DURING the staging write via an
    # observation (round 16, guide §1.2/§2.3): round 15 paid a separate
    # full pass over the incoming batch (limit(1).count() scans
    # everything when the data is valid — the common case) before a
    # second full pass wrote it.  The violation still raises before
    # anything is COMMITTED (below, before ``_write_commit``), and the
    # refused commit's staging dirs are removed.
    _obs = Observation(f"replw-{uuid.uuid4().hex[:8]}")
    df = df.observe(
        _obs,
        F.sum(
            F.when(
                (F.col(col) < F.lit(lo))
                | (F.col(col) > F.lit(hi))
                | F.col(col).isNull(),
                1,
            ).otherwise(0)
        ).alias("bad"),
    )
    base, new_v = _resolve_write_target(path, branch, expected_version)
    pairs, any_ops = _walk_files_renamed(path, base)
    file_dicts = [f for f, _ in pairs]
    dropped, straddle, untouched = [], [], []
    for f, chain in pairs:
        stats = (
            _translate_entry_stats(f, chain) if chain else f
        )["stats"]
        rng = stats.get(col)
        if rng is None:
            straddle.append((f, chain))  # no stats → cannot prove
        elif rng[0] >= lo and rng[1] <= hi:
            dropped.append(f)
        elif rng[1] < lo or rng[0] > hi:
            untouched.append((f, chain))
        else:
            straddle.append((f, chain))
    del_key, outstanding = _snapshot_deletes(path, base)
    pos_outstanding = _snapshot_pos_deletes(path, base)
    entries: list[dict] = []
    schemas: dict[str, str] = {}
    staged_dirs: list[str] = []
    if straddle:
        if outstanding or pos_outstanding:
            if any_ops:  # unreachable by the commit guards
                raise NotImplementedError(
                    "internal invariant violated: MOR delete state "
                    "cannot coexist with schema-op history"
                )
            cur = _mor_resolve(
                spark, path, [f for f, _ in straddle], del_key,
                outstanding, pos_outstanding,
            )
        else:
            cur = _read_era_groups(
                spark, path,
                [
                    (os.path.join(path, f["path"]), ch)
                    for f, ch in straddle
                ],
            )
        survivors = cur.filter(
            (F.col(col) < F.lit(lo)) | (F.col(col) > F.lit(hi))
        )
        stag = os.path.join(
            _data_dir(path), f"replw-{new_v}-{uuid.uuid4().hex[:8]}"
        )
        survivors = _sized_for_write(survivors)
        staged_dirs.append(stag)
        survivors.write.mode("overwrite").parquet(stag)
        entries += _manifest_entries(path, stag, stat_cols, seq=new_v)
        schemas[os.path.basename(stag)] = _schema_json(survivors)
    staging = os.path.join(
        _data_dir(path), f"replw-{new_v}-{uuid.uuid4().hex[:8]}"
    )
    df = _sized_for_write(df)
    staged_dirs.append(staging)
    df.write.mode("overwrite").parquet(staging)
    bad = _obs.get["bad"]
    if bad is not None and bad > 0:
        for d in staged_dirs:
            shutil.rmtree(d, ignore_errors=True)
        raise ValueError(
            f"replaceWhere violation: incoming rows fall outside "
            f"{col} in [{lo}, {hi}]"
        )
    entries += _manifest_entries(path, staging, stat_cols, seq=new_v)
    schemas[os.path.basename(staging)] = _schema_json(df)
    untouched = [_with_eras(f, ch) for f, ch in untouched]
    files = list(untouched) + entries
    payload: dict = {
        "version": new_v,
        "files": files,
        "file_schemas": schemas,
        "parent": None,
        "prev": base,
        "replace_where": {"col": col, "lo": lo, "hi": hi},
    }
    if outstanding and untouched:
        payload["deletes"] = outstanding
        payload["delete_key"] = del_key
    if pos_outstanding:
        surviving = {
            os.path.abspath(os.path.join(path, f["path"]))
            for f in untouched
        }
        kept_pos = [
            d
            for d in pos_outstanding
            if any(p in surviving for p in d.get("paths", []))
        ]
        if kept_pos:
            payload["pos_deletes"] = kept_pos
    _write_commit(path, new_v, payload)
    _advance_branch(path, branch, new_v, base=base)
    return new_v, len(dropped), len(straddle), len(untouched)


def compact_binpack(
    spark: SparkSession,
    path: str,
    *,
    stat_cols: list[str],
    target_rows: int = 1_000_000,
    expected_version: int | None = None,
    branch: str | None = None,
) -> int:
    """Bin-packed PARTIAL OPTIMIZE (Iceberg ``rewrite_data_files`` /
    Delta OPTIMIZE): rewrite ONLY the data files below ``target_rows``
    into ~target-sized ones, leave every large file untouched BY
    REFERENCE, and publish the result as an incremental maintenance
    commit — the change-proportional form of :func:`commit_compact`
    (which rewrites the full snapshot in one task and stays the
    escalation for total re-clustering).

    At 100 TB this is the ONLY affordable OPTIMIZE shape: a streaming
    ingest leaves a long tail of small files; packing just that tail
    costs O(small bytes) in parallel tasks while the petabytes of
    already-right-sized files never move.

    Semantics:

    - Outstanding MOR deletes applicable to the REWRITTEN files are
      materialized (the rewrite reads through :func:`_mor_resolve`);
      deletes are carried forward for the untouched files, and the new
      files' ``seq = new_v`` keeps carried equality deletes from
      applying to them.  Positional deletes naming a rewritten file
      expire with it (rewrites produce new paths).
    - The commit is flagged ``maintenance`` — logical content is
      unchanged by construction, so CDF/tail consumers skip it.
    - Fewer than 2 small files → nothing to pack; returns ``base``
      with no commit.

    Returns the new version (or ``base`` when no-op)."""
    base, new_v = _resolve_write_target(path, branch, expected_version)
    pairs, any_ops = _walk_files_renamed(path, base)
    small = [(f, ch) for f, ch in pairs if f["rows"] < target_rows]
    large = [
        _with_eras(f, ch) for f, ch in pairs if f["rows"] >= target_rows
    ]
    if len(small) < 2:
        return base
    del_key, outstanding = _snapshot_deletes(path, base)
    pos_outstanding = _snapshot_pos_deletes(path, base)
    if outstanding or pos_outstanding:
        if any_ops:  # unreachable by the commit guards
            raise NotImplementedError(
                "internal invariant violated: MOR delete state cannot "
                "coexist with schema-op history"
            )
        current = _mor_resolve(
            spark, path, [f for f, _ in small], del_key, outstanding,
            pos_outstanding,
        )
    else:
        current = _read_era_groups(
            spark, path,
            [(os.path.join(path, f["path"]), ch) for f, ch in small],
        )
    total = sum(f["rows"] for f, _ in small)
    n_out = max(1, -(-total // max(1, target_rows)))  # ceil
    staging = os.path.join(
        _data_dir(path), f"binpack-{new_v}-{uuid.uuid4().hex[:8]}"
    )
    # parallel write: n_out tasks, each ~target_rows — never one task
    current.repartition(n_out).write.mode("overwrite").parquet(staging)
    files = list(large) + _manifest_entries(
        path, staging, stat_cols, seq=new_v
    )
    payload: dict = {
        "version": new_v,
        "files": files,
        "file_schemas": {
            os.path.basename(staging): _schema_json(current)
        },
        "parent": None,
        "prev": base,
        "maintenance": True,
    }
    if outstanding and large:
        # equality deletes still apply to the carried large files
        # (sequence rule untouched); the packed files sit at seq=new_v
        # above every outstanding delete, so nothing re-applies
        payload["deletes"] = outstanding
        payload["delete_key"] = del_key
    if pos_outstanding:
        surviving = {
            os.path.abspath(os.path.join(path, f["path"])) for f in large
        }
        kept_pos = [
            d
            for d in pos_outstanding
            if any(p in surviving for p in d.get("paths", []))
        ]
        if kept_pos:
            payload["pos_deletes"] = kept_pos
    _write_commit(path, new_v, payload)
    _advance_branch(path, branch, new_v, base=base)
    return new_v


def _snapshot_file_dicts(path: str, version: int) -> list[dict]:
    """The snapshot's manifest entries (path/rows/stats dicts)."""
    v: int | None = version
    out: list[dict] = []
    while v is not None:
        commit = _read_commit(path, v)
        out.extend(commit["files"])
        v = commit["parent"]
    return out


def _snapshot_pos_deletes(path: str, version: int) -> list[dict]:
    """The POSITIONAL delete files outstanding at ``version`` — the
    chain walk of :func:`_snapshot_deletes` over the ``pos_deletes``
    payload lists (same full-snapshot carry invariant:
    :func:`commit_delete_positions` re-lists its ancestors' entries,
    :func:`commit_merge` carries the entries that still name a
    surviving file, and :func:`commit_compact` materializes and
    clears).  Each entry records the DATA files it references in
    ``paths`` (absolute, the Iceberg v2 position-delete convention of
    storing full file paths), so the read side knows which files are
    dirty without opening the delete file."""
    v: int | None = version
    out: list[dict] = []
    seen: set[str] = set()
    while v is not None:
        commit = _read_commit(path, v)
        for d in commit.get("pos_deletes", []):
            if d["path"] in seen:
                continue
            seen.add(d["path"])
            out.append(d)
        v = commit["parent"]
    return out


def _snapshot_deletes(
    path: str, version: int
) -> tuple[str | None, list[dict]]:
    """The equality-delete files OUTSTANDING at ``version``: walk the
    physical parent chain accumulating every commit's ``deletes`` list
    (deduped by path).  The invariant that makes this complete: every
    full-snapshot commit (``parent: None``) carries the accumulated
    delete state itself — :func:`commit_delete_keys` re-lists its
    ancestors' deletes, :func:`commit_merge` carries them forward, and
    :func:`commit_compact` materializes and clears them — while append
    commits preserve the chain down to whichever full-snapshot commit
    holds the state.  Returns ``(delete_key, entries)``."""
    v: int | None = version
    key: str | None = None
    out: list[dict] = []
    seen: set[str] = set()
    while v is not None:
        commit = _read_commit(path, v)
        for d in commit.get("deletes", []):
            if d["path"] in seen:
                continue
            seen.add(d["path"])
            out.append(d)
        if key is None:
            key = commit.get("delete_key")
        v = commit["parent"]
    return key, out


def commit_merge(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    *,
    key: str,
    stat_cols: list[str],
    op_col: str = "op",
    expected_version: int | None = None,
    row_id_col: str | None = None,
    branch: str | None = None,
    txn: dict | None = None,
    bloom_cols: list[str] | None = None,
    upsert: bool = False,
) -> tuple[int, int, int]:
    """Stats-targeted copy-on-write MERGE — the table-format crown
    jewel: resolve from the manifest which data files can possibly
    contain a changed key (per-file [min, max] on ``key`` vs the CDC
    batch's keys), rewrite ONLY those files through
    ``snapshot.py::merge_into``, and publish (untouched files + new
    files) as a full-snapshot commit.  Old files stay for time travel;
    vacuum retires them.

    The overlap test runs IN SPARK: the manifest's per-file [min, max]
    ranges become a small broadcast DataFrame, the CDC batch's distinct
    keys range-join against it, and only the AFFECTED FILE IDS are
    collected — driver traffic is O(files hit), never O(change keys),
    so a 10⁶-key CDC batch against a 10⁵-file table costs one
    distributed broadcast join instead of a driver-side keys×files
    scan.  Inserts whose key lands outside every file's range join the
    rewrite's output files.  Returns
    ``(new_version, files_rewritten, files_total)``.

    ``row_id_col`` (when the table carries row-lineage ids): surviving
    rows keep their EXISTING id verbatim — the update takes the
    source's values but never a fresh id — and inserts mint
    :func:`row_id_expr` ids under THIS commit's version.  The
    re-attachment join touches only the rewritten subset, never the
    untouched files.

    ``upsert=True`` passes through to ``merge_into``'s
    insert-or-update mode (matched → source wins, unmatched → insert)
    — the semantics of SQL ``MERGE ... WHEN MATCHED THEN UPDATE SET *
    WHEN NOT MATCHED THEN INSERT *`` and of full-row-image CDC feeds."""
    from pyspark.sql import functions as F

    from table_streaming_source_spark.snapshot import merge_into

    base, new_v = _resolve_write_target(path, branch, expected_version)
    if txn is not None:
        # re-validate the idempotence watermark AFTER the base is
        # pinned (the Delta txn-conflict-checker rule): a zombie driver
        # replaying (app, batch) can pass the caller's pre-check before
        # the primary's commit lands, then resolve the NEW head here —
        # without this check it would re-apply the batch on top of
        # itself.  With it, the only surviving race is two writers
        # pinning the SAME base, where the commit rename lets exactly
        # one win (linear lineage: both target base+1).
        prior = last_committed_txn(
            path, txn["app"], ref=branch if branch is not None else base
        )
        if prior is not None and txn["batch"] <= prior:
            raise CommitConflict(
                f"txn {txn['app']}/{txn['batch']} already committed "
                f"(watermark {prior}) — replayed batch"
            )
    # the CDC batch is consumed by up to three jobs (stats-overlap
    # probe, bloom probe, rewrite join) — without a pin the caller's
    # derivation (often an aggregate over a fact table, e.g. the
    # dedup-state fingerprint agg) re-executes once per job.  A scoped
    # persist (MEMORY_AND_DISK, released in ``finally``) materializes
    # it once; unlike a localCheckpoint it keeps the logical plan, so
    # ``_sized_for_write``'s estimate sees the cache's MEASURED bytes
    # instead of a lineage-truncated unknown (round 15, guide §2.4/§5).
    # CDC batches are typically unions of several derivation legs whose
    # partition fan-out (sum of the legs') every downstream stage would
    # inherit through the cache — bound the cached batch at the
    # session's parallelism.  The coalesce is applied ONLY when the
    # batch's plan actually exceeds the bound (ADVICE r15): coalesce
    # propagates up through narrow stages, so an unconditional one would
    # collapse a many-file narrow scan's parallelism even when no fan-out
    # problem exists.  ``persist()`` defaults to MEMORY_AND_DISK_DESER —
    # spills rather than OOMs on an oversized batch.
    bound = int(spark.sparkContext.defaultParallelism)
    if changes.rdd.getNumPartitions() > bound:
        changes = changes.coalesce(bound)
    changes = changes.persist()
    try:
        return _commit_merge_pinned(
            spark, path, changes, key=key, stat_cols=stat_cols,
            op_col=op_col, row_id_col=row_id_col, branch=branch,
            txn=txn, bloom_cols=bloom_cols, upsert=upsert, base=base,
            new_v=new_v,
        )
    finally:
        changes.unpersist()


def _commit_merge_pinned(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    *,
    key: str,
    stat_cols: list[str],
    op_col: str,
    row_id_col: str | None,
    branch: str | None,
    txn: dict | None,
    bloom_cols: list[str] | None,
    upsert: bool,
    base: int,
    new_v: int,
) -> tuple[int, int, int]:
    from pyspark.sql import functions as F

    from table_streaming_source_spark.snapshot import merge_into

    pairs, any_ops = _walk_files_renamed(path, base)
    # era-aware targeting (round 15): decisions run on stats/bloom
    # keys TRANSLATED to current names, so a merge on a renamed key
    # keeps its stats-targeted file pruning across the rename
    file_dicts = [
        _translate_entry_stats(f, ch) if ch else f for f, ch in pairs
    ]
    chains = [ch for _, ch in pairs]
    # no stats for the key → cannot prove absence → must rewrite
    hit_idx = {
        i for i, f in enumerate(file_dicts)
        if f["stats"].get(key) is None
    }
    ranges = [
        (i, f["stats"][key][0], f["stats"][key][1])
        for i, f in enumerate(file_dicts)
        if i not in hit_idx
    ]
    if ranges:
        manifest = spark.createDataFrame(
            ranges, schema=["__file_idx", "__lo", "__hi"]
        )
        key_c = changes.schema[key].dataType
        hits = (
            # no key-side distinct: the broadcast range probe is
            # per-row and the hit set only needs distinct FILE ids —
            # deduping the probe first costs a change-scale shuffle
            # (guide §2.3) to save nothing.  The hit set itself comes
            # back as ONE collect_set aggregate (round 16): partial
            # sets are file-count-bounded per task, the exchange is a
            # SinglePartition of those tiny sets, and the whole probe
            # is one stage fewer than distinct()+collect (which paid a
            # hash-partitioned distinct before a second coalesce read)
            changes.select(F.col(key).alias("__k"))
            .join(
                F.broadcast(manifest),
                (F.col("__k") >= F.col("__lo").cast(key_c))
                & (F.col("__k") <= F.col("__hi").cast(key_c)),
            )
            .agg(F.collect_set("__file_idx").alias("__hits"))
            .collect()[0]["__hits"]
        )
        hit_idx.update(hits)
    # bloom tightening: a range-hit file carrying a Bloom fingerprint
    # for the merge key is CLEARED when no change key probes into it —
    # the non-clustered-key case where every range overlaps and the
    # range join alone would rewrite the whole table.  One broadcast
    # join of change-key positions against the manifest's word rows;
    # files without a bloom keep their range verdict (never lossy).
    by_mk: dict[tuple[int, int], list[int]] = {}
    for i in sorted(hit_idx):
        b = file_dicts[i].get("bloom", {}).get(key)
        if b is not None:
            by_mk.setdefault((b["m"], b["k"]), []).append(i)
    for (m_bits, kh), idxs in sorted(by_mk.items()):
        word_rows = [
            (i, int(w), bits)
            for i in idxs
            for w, bits in file_dicts[i]["bloom"][key]["words"].items()
        ]
        bdf = spark.createDataFrame(
            word_rows, schema=["__file_idx", "__w", "__bits"]
        )
        probe = (
            changes.select(
                _bloom_col_expr(changes, key).alias("__k")
            )
            .distinct()
            .select(
                "__k",
                F.posexplode(
                    F.array(
                        *_bloom_hash_exprs(F.col("__k"), m_bits, kh)
                    )
                ).alias("__j", "__p"),
            )
        )
        passed = set(
            probe.join(
                F.broadcast(bdf),
                (F.col("__w") == F.shiftright(F.col("__p"), 6))
                & (
                    F.expr(
                        "(shiftright(__bits, cast(__p % 64 as int))"
                        " & 1) = 1"
                    )
                ),
            )
            .groupBy("__k", "__file_idx")
            .agg(F.count_distinct("__j").alias("__n"))
            .filter(F.col("__n") == kh)
            # one collect_set aggregate instead of distinct()+collect —
            # same single-stage saving as the range probe above
            .agg(F.collect_set("__file_idx").alias("__hits"))
            .collect()[0]["__hits"]
        )
        hit_idx.difference_update(set(idxs) - passed)
    # carried entries keep their ORIGINAL (physical-name) stats plus
    # the baked chain — a translated copy would double-translate at
    # read time
    affected = [f for i, (f, _) in enumerate(pairs) if i in hit_idx]
    untouched = [
        _with_eras(f, ch)
        for i, (f, ch) in enumerate(pairs)
        if i not in hit_idx
    ]
    # outstanding MOR equality deletes: the rewrite reads affected
    # files THROUGH the deletes (else a rewritten file would resurrect
    # its deleted rows), and the commit carries the delete files
    # forward so untouched files stay subtracted at read time.  New
    # files get ``seq = new_v`` > every outstanding delete's seq,
    # so carried deletes never apply to the rewrite's own output.
    del_key, outstanding = _snapshot_deletes(path, base)
    pos_outstanding = _snapshot_pos_deletes(path, base)
    if affected:
        if outstanding or pos_outstanding:
            if any_ops:  # unreachable by the commit guards
                raise NotImplementedError(
                    "internal invariant violated: MOR delete state "
                    "cannot coexist with schema-op history"
                )
            current = _mor_resolve(
                spark, path, affected, del_key, outstanding,
                pos_outstanding,
            )
        else:
            current = _read_era_groups(
                spark, path,
                [
                    (os.path.join(path, f["path"]), chains[i])
                    for i, (f, _) in enumerate(pairs)
                    if i in hit_idx
                ],
            )
    else:
        current = changes.drop(op_col).limit(0)
        if row_id_col is not None:
            current = current.withColumn(
                row_id_col, F.lit(None).cast("string")
            )
    if row_id_col is not None:
        prior_ids = current.select(key, row_id_col)
        merged = merge_into(
            current.drop(row_id_col), changes, key=key, op_col=op_col,
            upsert=upsert,
        )
        merged = merged.join(prior_ids, key, "left").withColumn(
            row_id_col,
            F.coalesce(
                F.col(row_id_col), row_id_expr(F.col(key), new_v)
            ),
        )
    else:
        merged = merge_into(
            current, changes, key=key, op_col=op_col, upsert=upsert
        )
    staging = os.path.join(
        _data_dir(path), f"merge-{new_v}-{uuid.uuid4().hex[:8]}"
    )
    merged = _sized_for_write(merged)
    merged.write.mode("overwrite").parquet(staging)
    new_entries = _manifest_entries(path, staging, stat_cols, seq=new_v)
    if bloom_cols:
        # rewritten files get fresh fingerprints so the NEXT merge's
        # targeting stays tight; untouched files keep theirs verbatim
        _attach_blooms(
            spark, path, staging, new_entries, bloom_cols,
            schema=merged.schema,
        )
    files = list(untouched) + new_entries
    payload: dict = {
        "version": new_v, "files": files, "parent": None,
        "file_schemas": {
            os.path.basename(staging): _schema_json(merged)
        },
        "prev": base,
        # the CDF read (read_cdf) classifies this commit and diffs
        # pre/post images on this key
        "merge_key": key,
    }
    if txn is not None:
        # transaction watermark (the Delta txn/appId idea): an
        # idempotent writer records {"app": ..., "batch": n} so a
        # replayed micro-batch can be recognized and skipped
        payload["txn"] = txn
    if outstanding:
        payload["deletes"] = outstanding
        payload["delete_key"] = del_key
    if pos_outstanding:
        # positional deletes on REWRITTEN files were materialized by
        # the MOR read above; carry only entries still naming a
        # surviving (untouched) file — stale paths in a kept entry are
        # harmless no-ops at resolve time
        surviving = {
            os.path.abspath(os.path.join(path, f["path"]))
            for f in untouched
        }
        kept_pos = [
            d
            for d in pos_outstanding
            if any(p in surviving for p in d.get("paths", []))
        ]
        if kept_pos:
            payload["pos_deletes"] = kept_pos
    _write_commit(path, new_v, payload)
    _advance_branch(path, branch, new_v, base=base)
    return new_v, len(affected), len(file_dicts)


def last_committed_txn(
    path: str, app_id: str, *, ref=None
) -> int | None:
    """The highest ``batch`` this ``app_id`` has committed on the
    ref's lineage (walking parent/prev), or ``None`` — the read half
    of the Delta txn/appId idempotence contract.  O(retained history)
    driver-side, one tiny JSON per commit; expiry keeps the log (and
    therefore this walk) bounded."""
    v: int | None = resolve_ref(path, ref)
    best: int | None = None
    while v is not None:
        try:
            c = _read_commit(path, v)
        except FileNotFoundError:
            break  # expired history
        t = c.get("txn")
        if t and t.get("app") == app_id:
            if best is None or t["batch"] > best:
                best = t["batch"]
        # per-app watermarks hoisted into a cut commit by
        # expire_snapshots — exactly-once survives history expiry
        hoisted = c.get("txns", {}).get(app_id)
        if hoisted is not None and (best is None or hoisted > best):
            best = hoisted
        v = c["parent"] if c["parent"] is not None else c.get("prev")
    return best


def commit_merge_idempotent(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    *,
    key: str,
    stat_cols: list[str],
    app_id: str,
    batch_id: int,
    op_col: str = "op",
    branch: str | None = None,
) -> tuple[int, int, int] | None:
    """Exactly-once MERGE for streaming writers (the
    ``foreachBatch`` + Delta-``txn`` pattern): the commit records
    ``{"app": app_id, "batch": batch_id}``, and a REPLAYED micro-batch
    (checkpoint recovery re-delivers the last batch with the same id)
    is recognized from the lineage's transaction watermark and
    SKIPPED — returns ``None`` instead of double-applying.  Batch ids
    must be monotonically increasing per app (Structured Streaming's
    ``batchId`` is).  Retries on :class:`CommitConflict` re-read the
    head, re-check the watermark, and re-apply — lose-the-rename
    safety is unchanged."""
    last = last_committed_txn(path, app_id, ref=branch)
    if last is not None and batch_id <= last:
        return None
    try:
        return commit_merge(
            spark, path, changes,
            key=key, stat_cols=stat_cols, op_col=op_col, branch=branch,
            txn={"app": app_id, "batch": batch_id},
        )
    except CommitConflict:
        # a zombie replay losing to the primary (commit_merge's pinned
        # watermark re-check, or the rename itself) is SUCCESS-by-
        # someone-else: if the batch is now on the lineage, skip; a
        # conflict from an unrelated racing writer re-raises for the
        # caller's retry loop.
        now = last_committed_txn(path, app_id, ref=branch)
        if now is not None and batch_id <= now:
            return None
        raise


def format_upsert_sink(
    path: str,
    *,
    key: str,
    stat_cols: list[str],
    app_id: str,
    op_col: str = "op",
    branch: str | None = None,
):
    """A ``foreachBatch`` function applying each CDC micro-batch to
    the table format as an idempotent MERGE — the end-to-end streaming
    upsert story: ``df.writeStream.foreachBatch(format_upsert_sink(
    path, key=..., stat_cols=[...], app_id=...))``.  Exactly-once
    under checkpoint replay by the txn watermark; per batch the merge
    rewrites only stats-overlapping files (commit_merge's contract),
    so steady-state write amplification is change-proportional."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        commit_merge_idempotent(
            batch_df.sparkSession, path, batch_df,
            key=key, stat_cols=stat_cols, app_id=app_id,
            batch_id=batch_id, op_col=op_col, branch=branch,
        )

    return _apply


def incremental_files(
    path: str, *, from_version: int, to_version: int
) -> list[tuple[int, str]]:
    """Manifest-only incremental resolution: the data files present in
    the ``to_version`` snapshot but NOT in the ``from_version`` snapshot,
    each attributed to the first commit (walking down from
    ``to_version``) that lists it.  For append commits this is exactly
    "the files each commit added"; a full-snapshot commit in range
    (compact/merge) re-emits the files it rewrote — the standard
    changelog-scan carryover caveat, stated rather than hidden.
    Returns ``[(commit_version, relative_path), ...]``."""
    base = {f["path"] for f in _snapshot_file_dicts(path, from_version)}
    out: list[tuple[int, str]] = []
    seen: set[str] = set()
    v: int | None = to_version
    while v is not None:
        commit = _read_commit(path, v)
        for f in commit["files"]:
            if f["path"] in seen:
                continue
            seen.add(f["path"])
            if f["path"] not in base:
                out.append((v, f["path"]))
        v = commit["parent"]
    return out


def read_incremental(
    spark: SparkSession,
    path: str,
    *,
    from_version: int,
    to_version: int | None = None,
    version_col: str = "commit_version",
) -> DataFrame:
    """Incremental (CDC-append) read between two snapshots: only the
    files the range introduced are opened — file I/O is proportional to
    the CHANGE, not the table, which is the whole point of consuming a
    100 TB table incrementally.  Each row carries the commit version
    that introduced its file in ``version_col``.  Merge-on-read
    equality deletes are NOT replayed as retractions (a
    :func:`commit_delete_keys` in range introduces no data files) —
    the standard append-changelog caveat; consumers needing delete
    events read the delete files directly from the commit payloads.

    ``to_version=None`` resolves to MAIN's head when refs exist (the
    linear head otherwise): on a branched table "the latest version"
    belongs to whichever lineage committed last, and an incremental
    consumer of main must not be handed another branch's files.

    Column renames/widens in the parent chain are ERA-AWARE, exactly
    like :func:`read_table`: each version group's physical columns are
    translated through the schema-op commits NEWER than it, so every
    emitted row carries the ``to_version`` logical names/types — a
    range spanning a rename never silently unions two schemas."""
    from pyspark.sql import functions as F

    to_v = resolve_ref(path, None) if to_version is None else to_version
    # per-commit schema-op chain (application-ordered, oldest-first):
    # the renames/widens from commits NEWER than that commit
    chains: dict[int, tuple] = {}
    v: int | None = to_v
    collected: list[tuple[str, str, str]] = []  # newest-first
    while v is not None:
        commit = _read_commit(path, v)
        chains[v] = tuple(reversed(collected))
        ops = [("r", a, b) for a, b in commit.get("renames", [])]
        ops += [("w", c, t) for c, t in commit.get("widens", [])]
        if ops:
            collected.extend(reversed(ops))
        v = commit["parent"]
    # attribute each new file to its introducing commit, KEEPING the
    # entry's baked era chain (a full-snapshot rewrite re-emits files
    # it carried; those entries translate through their own chain
    # BEFORE the commit-level chain of the introducing commit)
    base_paths = {
        f["path"] for f in _snapshot_file_dicts(path, from_version)
    }
    groups: dict[tuple[int, tuple], list[str]] = {}
    seen_paths: set[str] = set()
    gv: int | None = to_v
    while gv is not None:
        commit = _read_commit(path, gv)
        for f in commit["files"]:
            if f["path"] in seen_paths:
                continue
            seen_paths.add(f["path"])
            if f["path"] not in base_paths:
                groups.setdefault((gv, _entry_eras(f)), []).append(
                    os.path.join(path, f["path"])
                )
        gv = commit["parent"]
    if not groups:
        raise ValueError(
            f"empty incremental range ({from_version}, {to_v}]"
        )

    def _era(d, applied):
        for kind, a, b in applied:
            if kind == "r":
                d = d.withColumnRenamed(a, b)
            elif a in d.columns:  # widen: cast the era to the new type
                d = d.withColumn(a, F.col(a).cast(b))
        return d

    parts = [
        _era(
            _read_data(spark, path, files),
            ech + chains.get(gv, ()),
        ).withColumn(version_col, F.lit(gv).cast("int"))
        for (gv, ech), files in sorted(groups.items())
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


class ConstraintViolation(RuntimeError):
    """A staged commit violates a declared CHECK constraint — the commit
    is rejected BEFORE publication; the table is untouched (the staged
    files become vacuum-able orphans, never corruption)."""


def commit_append_checked(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    *,
    stat_cols: list[str],
    constraints: list[tuple[str, str]],
    expected_version: int | None = None,
) -> int:
    """:func:`commit_append` with commit-time CHECK constraints (the
    Delta/lakehouse ``ALTER TABLE ADD CONSTRAINT CHECK`` contract): each
    ``(name, sql_predicate)`` must hold on EVERY staged row or the
    commit raises :class:`ConstraintViolation` and nothing is published.
    The check is one aggregate over the batch being written — cost
    proportional to the CHANGE, not the table — and runs BEFORE the
    data files are staged, so a rejected commit does zero write I/O.

    The batch is pinned (``localCheckpoint``) before the constraint
    aggregate so the check and the subsequent write see the SAME rows —
    a non-deterministic input plan (sampling, rand(), a re-read of a
    mutating source) must not be able to pass the CHECK and then stage
    different, violating rows."""
    from pyspark.sql import functions as F

    df = df.localCheckpoint(eager=True)
    agg = [
        F.sum(F.when(F.expr(pred), 0).otherwise(1)).alias(name)
        for name, pred in constraints
    ]
    row = df.agg(*agg).collect()[0]
    bad = {name: row[name] for name, _ in constraints if row[name]}
    if bad:
        raise ConstraintViolation(
            f"commit rejected, constraint violations: {bad}"
        )
    return commit_append(
        spark, path, df,
        stat_cols=stat_cols, expected_version=expected_version,
    )


def commit_stage(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    *,
    stat_cols: list[str],
    audit_id: str,
) -> int:
    """Write-Audit-Publish, step 1 (the Iceberg WAP pattern): write the
    data files and a STAGED commit (``{v}.json.staged-{audit_id}``) that
    readers of the main table NEVER see — auditors read it explicitly
    via :func:`read_staged`, run whatever checks they like (row counts,
    DQ suites, reconciliation), then :func:`commit_publish` promotes it
    atomically or :func:`commit_abandon` drops it (files become
    vacuum-able orphans).  Unlike commit-time CHECK constraints
    (synchronous, per-batch predicates), WAP supports ARBITRARY
    audit queries between write and visibility.  Returns the staged
    version number."""
    base = latest_version(path)
    staging = os.path.join(
        _data_dir(path), f"wap-{base + 1}-{uuid.uuid4().hex[:8]}"
    )
    df.write.mode("overwrite").parquet(staging)
    files = _manifest_entries(path, staging, stat_cols, seq=base + 1)
    staged = os.path.join(
        _log_dir(path), f"{base + 1}.json.staged-{audit_id}"
    )
    with open(staged, "w") as fh:
        json.dump(
            {
                "version": base + 1, "files": files, "parent": base,
                # publish renames this json into the log verbatim, so
                # the recorded schema serves post-publish reads too
                # (when no interleaving commit shifted the version)
                "file_schemas": {
                    os.path.basename(staging): _schema_json(df)
                },
            },
            fh,
        )
    return base + 1


def _staged_path(path: str, audit_id: str) -> str:
    cands = [
        n
        for n in os.listdir(_log_dir(path))
        if n.endswith(f".staged-{audit_id}")
    ]
    if len(cands) != 1:
        raise FileNotFoundError(
            f"expected exactly one staged commit for {audit_id!r}, "
            f"found {cands}"
        )
    return os.path.join(_log_dir(path), cands[0])


def read_staged(
    spark: SparkSession, path: str, *, audit_id: str
) -> DataFrame:
    """Audit view: the staged snapshot (committed table + staged files)
    — what the table WOULD become if published.  Outstanding equality
    deletes apply to the committed portion (the audit must see the
    real table, not resurrected rows); the staged files themselves are
    post-delete by the sequence rule."""
    with open(_staged_path(path, audit_id)) as fh:
        staged = json.load(fh)
    key, deletes = _snapshot_deletes(path, staged["parent"])
    pos_deletes = _snapshot_pos_deletes(path, staged["parent"])
    parent_dicts = _snapshot_file_dicts(path, staged["parent"])
    new_fps = [os.path.join(path, f["path"]) for f in staged["files"]]
    new_sj = list((staged.get("file_schemas") or {}).values())
    if len(new_sj) == 1:
        from pyspark.sql.types import StructType

        new_part = spark.read.schema(
            StructType.fromJson(json.loads(new_sj[0]))
        ).parquet(*new_fps)
    else:
        new_part = spark.read.option("mergeSchema", "true").parquet(
            *new_fps
        )
    if deletes or pos_deletes:
        # delete state cannot coexist with a rename/widen (the commit
        # guards), so the non-era-aware MOR resolve is exact here
        committed = _mor_resolve(
            spark, path, parent_dicts, key, deletes, pos_deletes
        )
    elif not parent_dicts:
        return new_part
    else:
        # era-aware committed side: a stage landing after an
        # uncompacted rename must audit ONE schema (the raw
        # mergeSchema union would carry both eras' names with NULLs)
        committed = read_table(spark, path, version=staged["parent"])
    return committed.unionByName(new_part, allowMissingColumns=True)


def commit_publish(path: str, *, audit_id: str) -> int:
    """WAP step 3: atomically promote the audited staged commit.  Loses
    the publish (another writer landed the version first) →
    :class:`CommitConflict`; the stage survives for retry-on-new-head
    logic to re-parent."""
    staged = _staged_path(path, audit_id)
    with open(staged) as fh:
        version = json.load(fh)["version"]
    final = os.path.join(_log_dir(path), f"{version}.json")
    try:
        os.link(staged, final)  # put-if-absent, as in _write_commit
    except FileExistsError:
        raise CommitConflict(f"version {version} already committed") from None
    os.remove(staged)
    return version


def commit_abandon(path: str, *, audit_id: str) -> None:
    """WAP abort: drop the staged commit; its data files are orphans
    for :func:`vacuum`."""
    os.remove(_staged_path(path, audit_id))


# ---------------------------------------------------------------------------
# round 7: merge-on-read equality deletes, shallow clone, row lineage,
# snapshot expiry
# ---------------------------------------------------------------------------


def _key_cols(key) -> list[str]:
    """Normalize an equality-delete key (a column name or a list of
    them — Iceberg equality deletes are multi-column) to a list."""
    return [key] if isinstance(key, str) else list(key)


def _stats_overlap(keys: list[str], f: dict, d: dict) -> bool:
    """Can delete-file ``d``'s key tuples possibly match data file
    ``f``?  True unless SOME key column's [min, max] ranges are
    provably disjoint; a missing range on either side can't prove
    absence (the never-lossy direction).  Shared by the MOR read and
    the CDF pre-image pruning so the two can never diverge."""
    for kc in keys:
        rf, rd = f["stats"].get(kc), d["stats"].get(kc)
        if rf is None or rd is None:
            continue
        if rf[1] < rd[0] or rd[1] < rf[0]:
            return False
    return True


def commit_delete_keys(
    spark: SparkSession,
    path: str,
    keys_df: DataFrame,
    *,
    key,
    expected_version: int | None = None,
    branch: str | None = None,
) -> int:
    """Merge-on-read EQUALITY DELETE (the Iceberg equality-delete-file /
    Delta deletion-vector idea): instead of rewriting every data file a
    delete touches (copy-on-write :func:`commit_merge`), the commit
    stores only the deleted KEY VALUES as a delete file; readers
    subtract them at scan time.  A 10⁶-row delete against a 100 TB
    table costs one tiny file write instead of a multi-TB rewrite —
    the write-amplification answer every production format grew.

    ``key`` is a column name or a LIST of them (the Iceberg
    equality-field-ids surface is multi-column — e.g. delete by
    ``["event_date", "user_id"]``); a row is deleted when ALL key
    columns match a delete tuple.

    The delete file records per-column min/max stats on every key
    column exactly like a data file, so the READ side can prove most
    data files disjoint from some delete range and skip the anti-join
    for them (see :func:`read_table_mor`).  A later
    :func:`commit_compact` materializes outstanding deletes and clears
    them.  ``branch=`` deletes against a named branch's snapshot and
    advances its pointer — rows visible only on other lineages are
    untouched."""
    keys = _key_cols(key)
    base, new_v = _resolve_write_target(path, branch, expected_version)
    _guard_no_renames(path, base, "commit_delete_keys")
    staging = os.path.join(
        _data_dir(path), f"delete-{new_v}-{uuid.uuid4().hex[:8]}"
    )
    kdf = keys_df.select(*keys).distinct()
    kdf.coalesce(1).write.mode("overwrite").parquet(staging)
    dels = _manifest_entries(path, staging, keys, seq=new_v)
    # outstanding deletes resolved by CHAIN WALK, not just the
    # immediate parent — an append between two delete commits must not
    # drop the older delete
    prior_key, outstanding = _snapshot_deletes(path, base)
    if prior_key is not None and _key_cols(prior_key) != keys:
        raise ValueError(
            f"outstanding deletes use key {prior_key!r}; compact the "
            f"table before deleting on {key!r}"
        )
    payload: dict = {
        "version": new_v,
        # full snapshot: the RESOLVED file list (chain-walked), so
        # ancestor commits' files survive the parent:None cut
        "files": _snapshot_file_dicts(path, base),
        "deletes": outstanding + dels,
        "file_schemas": {
            os.path.basename(staging): _schema_json(kdf)
        },
        "parent": None,
        "prev": base,
        "delete_key": key,
    }
    # the chain cut must not drop the OTHER delete kind's state
    pos_outstanding = _snapshot_pos_deletes(path, base)
    if pos_outstanding:
        payload["pos_deletes"] = pos_outstanding
    _write_commit(path, new_v, payload)
    _advance_branch(path, branch, new_v, base=base)
    return new_v


def _dv_encode(positions) -> bytes:
    """DELETION VECTOR encoding of a set of row ordinals: sorted,
    run-length-compressed, varint-coded ``(gap, run_len)`` pairs —
    ``gap`` is the distance from the previous run's end (first run:
    from -1), ``run_len`` the count of consecutive ordinals.  The
    Iceberg-v3 / Delta deletion-vector idea (they use roaring bitmaps;
    varint runs give the same asymptotics for the common shapes — a
    contiguous range of N dead rows costs ~2 bytes, N scattered rows
    ~2N bytes vs 8N+path for tuple rows) with a from-scratch codec so
    the format stays engine-portable."""
    out = bytearray()

    def put(n: int) -> None:
        while True:
            b = n & 0x7F
            n >>= 7
            if n:
                out.append(b | 0x80)
            else:
                out.append(b)
                return

    prev_end = -1
    run_start = run_len = None
    for p in sorted(set(int(x) for x in positions)):
        if run_start is None:
            run_start, run_len = p, 1
        elif p == run_start + run_len:
            run_len += 1
        else:
            put(run_start - prev_end)
            put(run_len)
            prev_end = run_start + run_len - 1
            run_start, run_len = p, 1
    if run_start is not None:
        put(run_start - prev_end)
        put(run_len)
    return bytes(out)


def _dv_decode(blob: bytes) -> list[int]:
    """Inverse of :func:`_dv_encode` — the sorted dead ordinals."""
    out: list[int] = []
    i = 0
    prev_end = -1

    def take() -> int:
        nonlocal i
        n = shift = 0
        while True:
            b = blob[i]
            i += 1
            n |= (b & 0x7F) << shift
            if not (b & 0x80):
                return n
            shift += 7

    while i < len(blob):
        gap = take()
        run = take()
        start = prev_end + gap
        out.extend(range(start, start + run))
        prev_end = start + run - 1
    return out


def _pos_delete_pairs_df(
    spark: SparkSession, path: str, entries: list[dict]
) -> DataFrame:
    """The ``(file_path, pos)`` pairs named by positional-delete
    manifest entries, whatever their ENCODING: legacy tuple files
    (columns ``file_path``/``pos``) pass through; deletion-vector
    files (``encoding: "dv"`` — one ``(file_path, dv: binary)`` row
    per data file) are expanded EXECUTOR-SIDE via ``mapInPandas``
    (decode fans out per data file; the driver never materializes the
    ordinals).  Mixed old/new delete files compose by union.  All MOR
    / CDF readers go through this one helper so the two encodings can
    never diverge."""
    from pyspark.sql import functions as F

    tuple_files = [
        os.path.join(path, d["path"])
        for d in entries
        if d.get("encoding") != "dv"
    ]
    dv_files = [
        os.path.join(path, d["path"])
        for d in entries
        if d.get("encoding") == "dv"
    ]
    parts = []
    if tuple_files:
        parts.append(
            _read_data(spark, path, tuple_files, merge=False).select(
                F.col("file_path").cast("string"),
                F.col("pos").cast("long"),
            )
        )
    if dv_files:
        def expand(batches):
            import pandas as pd

            for pdf in batches:
                for fp, blob in zip(pdf["file_path"], pdf["dv"]):
                    dead = _dv_decode(bytes(blob))
                    yield pd.DataFrame(
                        {"file_path": fp, "pos": dead}
                    )

        parts.append(
            _read_data(spark, path, dv_files, merge=False).mapInPandas(
                expand, "file_path string, pos long"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # no trailing distinct (round 16): every consumer anti/semi-joins
    # these pairs (duplicate-insensitive) or re-dedups itself
    # (compact_deletes' dead.distinct()), and the tuple/dv writers
    # already stage deduped files — the distinct() cost an exchange on
    # every positional-delete read
    return out


def _pos_delete_pairs_local(path: str, entries: list[dict]):
    """Driver-side twin of :func:`_pos_delete_pairs_df` for the
    pandas-based streaming CDF source: yields ``(abs file_path, pos)``
    tuples from tuple-encoded AND dv-encoded delete files."""
    import pyarrow.parquet as pq

    for d in entries:
        pdf = pq.read_table(os.path.join(path, d["path"])).to_pandas()
        if d.get("encoding") == "dv":
            for fp, blob in zip(pdf["file_path"], pdf["dv"]):
                for p in _dv_decode(bytes(blob)):
                    yield fp, p
        else:
            for fp, p in zip(pdf["file_path"], pdf["pos"]):
                yield fp, int(p)


def _write_dv_file(pos: "DataFrame", staging: str) -> None:
    """Write ``(file_path, pos)`` pairs as a deletion-vector parquet:
    one ``(file_path, dv: binary, n: long)`` row per data file,
    ordinals varint-run-compressed executor-side (``applyInPandas``
    groups by file, so a million-ordinal vector never rides through
    the driver)."""
    def to_dv(pdf):
        import pandas as pd

        return pd.DataFrame(
            {
                "file_path": [pdf["file_path"].iloc[0]],
                "dv": [_dv_encode(pdf["pos"])],
                "n": [int(pdf["pos"].nunique())],
            }
        )

    (
        pos.groupBy("file_path")
        .applyInPandas(to_dv, "file_path string, dv binary, n long")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(staging)
    )


def _norm_file_path_col():
    """``_metadata.file_path`` normalized to a plain absolute posix
    path (``file:///x`` → ``/x``) — the join key positional deletes
    match on."""
    from pyspark.sql import functions as F

    return F.regexp_replace(
        F.col("_metadata.file_path"), "^file:/*", "/"
    )


def positions_where(
    spark: SparkSession,
    path: str,
    predicate,
    *,
    version: int | None = None,
    prune: tuple[str, object, object] | None = None,
) -> DataFrame:
    """Resolve a predicate to ``(file_path, pos)`` tuples — the
    find-the-rows half of a positional delete: scan the snapshot's data
    files with the parquet metadata columns and return the ABSOLUTE
    file path + within-file row ordinal (``_metadata.row_index``) of
    every matching row.  Runs on the data-file view at ``version``
    (rows already subtracted by outstanding deletes simply re-delete as
    no-ops — positions are per-file facts, not logical rows).
    ``predicate`` is a Column or a SQL string.  Cost: one predicate
    scan, no shuffle; ``prune=(col, lo, hi)`` additionally skips whole
    files from the MANIFEST stats before any I/O — at 100 TB a delete
    targeting one key range opens only the files that range can touch
    (rows a pruned file would have matched are by construction outside
    the range, so pruning is lossless for range-shaped predicates)."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    _guard_no_renames(
        path,
        latest_version(path) if version is None else version,
        "positions_where",
    )
    files, _, _ = snapshot_files(path, version=version, prune=prune)
    if not files:
        raise ValueError("empty snapshot")
    df = _read_data(spark, path, files)
    cond = predicate if isinstance(predicate, Column) else F.expr(predicate)
    return df.filter(cond).select(
        _norm_file_path_col().alias("file_path"),
        F.col("_metadata.row_index").alias("pos"),
    )


def commit_delete_positions(
    spark: SparkSession,
    path: str,
    positions: DataFrame,
    *,
    expected_version: int | None = None,
    branch: str | None = None,
    encoding: str = "dv",
) -> int:
    """Merge-on-read POSITIONAL DELETE (the Iceberg v2 position-delete
    file / Delta deletion-vector-by-ordinal idea, beside the existing
    equality deletes): the commit stores ``(file_path, pos)`` tuples —
    absolute data-file path + within-file row ordinal — as a tiny
    delete file; readers subtract them by ``_metadata.row_index`` at
    scan time (see :func:`_mor_resolve`).  Unlike an equality delete,
    a positional delete names PHYSICAL rows, so it needs no key column,
    never collides with a later re-insert (new rows land in new files),
    and composes freely with outstanding equality deletes — mixed reads
    apply both subtractions.

    Applicability is BY PATH: a rewrite (merge/compact) gives surviving
    rows new files, so stale positions expire naturally — exactly the
    Iceberg rule that a rewritten data file drops its position deletes.
    Storing absolute paths (Iceberg stores full URIs) makes the table
    non-relocatable while positional deletes are outstanding; compact
    to clear them before moving a table.

    ``positions`` must have columns ``file_path`` (absolute path as
    produced by :func:`positions_where`) and ``pos`` (long).  Positions
    naming files outside the target snapshot raise — a typo'd path must
    not silently no-op.  Returns the new version.

    ``encoding`` — how the delete file stores the ordinals:

    * ``"dv"`` (default): one DELETION-VECTOR row per named data file,
      ``(file_path, dv: binary, n: long)`` with the ordinals
      varint-run-compressed (:func:`_dv_encode`) — the Iceberg-v3 /
      Delta DV model; a contiguous dead range costs bytes, not rows.
    * ``"tuples"``: the Iceberg-v2 position-delete-file layout, one
      ``(file_path, pos)`` row per dead ordinal.

    Readers (:func:`_mor_resolve`, :func:`read_cdf`, the streaming CDF
    source) resolve BOTH encodings through one helper
    (:func:`_pos_delete_pairs_df`), so mixed old/new delete files on
    one table compose freely."""
    from pyspark.sql import functions as F

    base, new_v = _resolve_write_target(path, branch, expected_version)
    _guard_no_renames(path, base, "commit_delete_positions")
    pos = positions.select(
        F.col("file_path").cast("string"), F.col("pos").cast("long")
    )
    if encoding != "dv":
        # tuple files stage one row per ordinal — dedup what lands on
        # disk.  The DV path skips this exchange: ``_dv_encode`` already
        # set-dedupes per file inside the groupBy, so a distinct before
        # it would be a second shuffle for nothing (guide §2.4)
        pos = pos.distinct()
    staging = os.path.join(
        _data_dir(path), f"posdelete-{new_v}-{uuid.uuid4().hex[:8]}"
    )
    # ONE pass: the staging write is the only Spark action.  The
    # named-file set is read back off the staged delete file's own
    # ``file_path`` column on the driver, one record batch at a time
    # (one row per touched file for DV, one per ordinal for tuples), so
    # the driver holds one batch plus the distinct paths.  Validation
    # still happens before anything is COMMITTED, and a refused commit
    # removes its staging dir.
    if encoding == "dv":
        _write_dv_file(pos, staging)
        entries = _manifest_entries(path, staging, [], seq=new_v)
        for e in entries:
            e["encoding"] = "dv"
        del_schema = _DV_SCHEMA_JSON
    elif encoding == "tuples":
        pos.coalesce(1).write.mode("overwrite").parquet(staging)
        entries = _manifest_entries(path, staging, ["pos"], seq=new_v)
        del_schema = _POS_SCHEMA_JSON
    else:
        raise ValueError(f"unknown positional-delete encoding {encoding!r}")
    import pyarrow.parquet as pq

    named_set: set[str] = set()
    for name in os.listdir(staging):
        if name.endswith(".parquet"):
            with pq.ParquetFile(os.path.join(staging, name)) as f:
                for batch in f.iter_batches(columns=["file_path"]):
                    named_set.update(
                        map(str, batch.column(0).unique().to_pylist())
                    )
    named = sorted(named_set)
    snapshot = _snapshot_file_dicts(path, base)
    known = {os.path.abspath(os.path.join(path, f["path"])) for f in snapshot}
    unknown = [p for p in named if p not in known]
    if unknown:
        shutil.rmtree(staging, ignore_errors=True)
        raise ValueError(
            f"positions name files outside snapshot {base}: {unknown[:3]}"
        )
    for e in entries:
        e["paths"] = named
    eq_key, eq_outstanding = _snapshot_deletes(path, base)
    payload: dict = {
        "version": new_v,
        # full snapshot (chain cut): resolved file list + BOTH delete
        # states carried, same invariant as commit_delete_keys
        "files": snapshot,
        "pos_deletes": _snapshot_pos_deletes(path, base) + entries,
        "file_schemas": {os.path.basename(staging): del_schema},
        "parent": None,
        "prev": base,
    }
    if eq_outstanding:
        payload["deletes"] = eq_outstanding
        payload["delete_key"] = eq_key
    _write_commit(path, new_v, payload)
    _advance_branch(path, branch, new_v, base=base)
    return new_v


def compact_deletes(
    spark: SparkSession,
    path: str,
    *,
    expected_version: int | None = None,
    branch: str | None = None,
) -> int:
    """Delete-file MINOR COMPACTION (Iceberg's rewrite_position_delete_
    files + the v3 equality→DV conversion): coalesce ALL outstanding
    delete state — N positional-delete files plus every applicable
    equality delete — into ONE deletion-vector file, published as a
    MAINTENANCE commit (data files untouched, logical content unchanged
    by construction, CDF/tail consumers skip it).

    Equality deletes are converted to POSITIONS: each dirty data file
    (sequence rule + stats overlap, exactly :func:`_mor_resolve`'s
    applicability) is semi-joined against its broadcast delete keys and
    the matching rows' ``(file_path, _metadata.row_index)`` recorded.
    The conversion is safe because an equality delete can never apply
    to a FUTURE file (``file.seq < delete.seq`` fails for every later
    write), so applying it to the present snapshot once and pinning the
    result by ordinal is equivalent — and positions expire naturally
    when a rewrite replaces the file.  Existing positional deletes
    coalesce as a set union, dropping entries whose named files have
    already been rewritten away.

    This is what bounds :func:`_mor_resolve`'s plan under a
    long-running :func:`format_upsert_sink` stream: group count is
    O(outstanding delete commits) between compactions and returns to
    ≤1 after each one.  Cost: one pruned scan of the dirty files +
    a delete-sized shuffle — never a data rewrite (that escalation is
    :func:`commit_compact`).  Clears ``delete_key``, so a later
    :func:`commit_delete_keys` may use a different key.  Returns the
    new version (or ``base`` unchanged when there is nothing to
    coalesce)."""
    from pyspark.sql import functions as F

    base, new_v = _resolve_write_target(path, branch, expected_version)
    key, eq = _snapshot_deletes(path, base)
    pos = _snapshot_pos_deletes(path, base)
    if not eq and len(pos) <= 1:
        return base
    file_dicts = _snapshot_file_dicts(path, base)
    keys = _key_cols(key) if key is not None else []
    parts: list[DataFrame] = []
    if eq:
        groups: dict[frozenset, list[str]] = {}
        for f in file_dicts:
            fseq = f.get("seq", 0)
            eq_set = frozenset(
                d["path"]
                for d in eq
                if fseq < d.get("seq", float("inf"))
                and _stats_overlap(keys, f, d)
            )
            if eq_set:
                groups.setdefault(eq_set, []).append(
                    os.path.abspath(os.path.join(path, f["path"]))
                )
        for eq_set, data_files in sorted(
            groups.items(), key=lambda kv: sorted(kv[0])
        ):
            scan = (
                _read_data(spark, path, data_files)
                .withColumn("__del_file", _norm_file_path_col())
                .withColumn("__del_pos", F.col("_metadata.row_index"))
            )
            del_df = _read_data(
                spark, path,
                [os.path.join(path, p) for p in sorted(eq_set)],
                merge=False,
            ).select(*keys)  # files are writer-deduped; semi-join is
            # duplicate-insensitive (see _mor_resolve)
            parts.append(
                scan.join(F.broadcast(del_df), keys, "left_semi").select(
                    F.col("__del_file").alias("file_path"),
                    F.col("__del_pos").alias("pos"),
                )
            )
    if pos:
        known = spark.createDataFrame(
            [
                (os.path.abspath(os.path.join(path, f["path"])),)
                for f in file_dicts
            ],
            schema=["file_path"],
        )
        parts.append(
            _pos_delete_pairs_df(spark, path, pos).join(
                F.broadcast(known), "file_path", "left_semi"
            )
        )
    payload: dict = {
        "version": new_v,
        "files": file_dicts,
        "parent": None,
        "prev": base,
        "maintenance": True,
    }
    if parts:
        dead = parts[0]
        for p in parts[1:]:
            dead = dead.unionByName(p)
        dead = dead.distinct().localCheckpoint(eager=True)
    if parts and dead.limit(1).count():
        named = sorted(
            r[0] for r in dead.select("file_path").distinct().collect()
        )
        staging = os.path.join(
            _data_dir(path), f"posdelete-{new_v}-{uuid.uuid4().hex[:8]}"
        )

        _write_dv_file(dead, staging)
        entries = _manifest_entries(path, staging, [], seq=new_v)
        for e in entries:
            e["encoding"] = "dv"
            e["paths"] = named
        payload["pos_deletes"] = entries
        payload["file_schemas"] = {
            os.path.basename(staging): _DV_SCHEMA_JSON
        }
    _write_commit(path, new_v, payload)
    _advance_branch(path, branch, new_v, base=base)
    return new_v


def read_table_mor(
    spark: SparkSession,
    path: str,
    *,
    version: int | None = None,
) -> DataFrame:
    """Merge-on-read snapshot: committed data files MINUS the keys in
    the snapshot's outstanding equality-delete files.

    Scale shape: the manifest's per-file [min, max] on the delete key
    splits data files into CLEAN (range disjoint from every delete
    file's range — returned verbatim, no join) and DIRTY (anti-joined
    against the delete keys).  The anti-join therefore touches only the
    files a delete can possibly affect, and the delete side is
    broadcast (a delete batch is CDC-sized by design) — the 100 TB read
    pays the subtraction only where it must."""
    v = latest_version(path) if version is None else version
    key, deletes = _snapshot_deletes(path, v)
    pos_deletes = _snapshot_pos_deletes(path, v)
    if not deletes and not pos_deletes:
        return read_table(spark, path, version=v)
    # delete reconciliation reads file subsets by physical name — not
    # era-aware; compaction materializes and clears both
    _guard_no_renames(path, v, "read_table_mor (with MOR deletes)")
    return _mor_resolve(
        spark, path, _snapshot_file_dicts(path, v), key, deletes,
        pos_deletes,
    )


def _mor_resolve(
    spark: SparkSession,
    path: str,
    file_dicts: list[dict],
    key: str | None,
    deletes: list[dict],
    pos_deletes: list[dict] | None = None,
    with_positions: bool = False,
) -> DataFrame:
    """Data files MINUS applicable deletes, both kinds.

    An EQUALITY delete applies to a file when (a) the sequence rule
    holds — ``file.seq < delete.seq`` (a row written AFTER the delete
    supersedes it; missing seqs default file→0 / delete→∞, the
    pre-sequence behavior) — and (b) the manifest [min, max] ranges on
    ``key`` overlap (or either side lacks stats).  A POSITIONAL delete
    applies to exactly the data files its manifest entry NAMES (rewrites
    produce new paths, so stale positions expire with the file).

    Files with no applicable delete take the no-join path; the rest are
    grouped by their applicable delete SETS and each group anti-joins
    its broadcast delete frames — equality by ``key``, positional by
    ``(normalized _metadata.file_path, _metadata.row_index)`` — so the
    100 TB read pays each subtraction only where it must.

    ``with_positions=True`` keeps ``__del_file``/``__del_pos`` (the
    normalized file path + row ordinal, derived AT SCAN TIME — Spark's
    ``_metadata`` column does not survive joins/unions) on the output —
    the CDF read uses this to semi-join new positional deletes against
    an already-resolved parent snapshot."""
    from pyspark.sql import functions as F

    pos_deletes = pos_deletes or []
    keys = _key_cols(key) if key is not None else []
    # data abs path -> positional delete files naming it
    pos_by_file: dict[str, set[str]] = {}
    for d in pos_deletes:
        for ap in d.get("paths", []):
            pos_by_file.setdefault(ap, set()).add(d["path"])
    groups: dict[tuple[frozenset, frozenset], list[str]] = {}
    clean: list[str] = []
    for f in file_dicts:
        fseq = f.get("seq", 0)
        if deletes:
            eq_set = frozenset(
                d["path"]
                for d in deletes
                if fseq < d.get("seq", float("inf"))
                and _stats_overlap(keys, f, d)
            )
        else:
            eq_set = frozenset()
        ap = os.path.abspath(os.path.join(path, f["path"]))
        pos_set = frozenset(pos_by_file.get(ap, ()))
        if eq_set or pos_set:
            groups.setdefault((eq_set, pos_set), []).append(ap)
        else:
            clean.append(ap)
    parts = []
    for (eq_set, pos_set), data_files in sorted(
        groups.items(), key=lambda kv: (sorted(kv[0][0]), sorted(kv[0][1]))
    ):
        part = _read_data(spark, path, data_files)
        if pos_set or with_positions:
            part = part.withColumn(
                "__del_file", _norm_file_path_col()
            ).withColumn("__del_pos", F.col("_metadata.row_index"))
        if pos_set:
            by_path = {d["path"]: d for d in pos_deletes}
            pos_df = _pos_delete_pairs_df(
                spark, path, [by_path[p] for p in sorted(pos_set)]
            ).select(
                F.col("file_path").alias("__del_file"),
                F.col("pos").alias("__del_pos"),
            )
            part = part.join(
                F.broadcast(pos_df),
                ["__del_file", "__del_pos"],
                "left_anti",
            )
            if not with_positions:
                part = part.drop("__del_file", "__del_pos")
        if eq_set:
            # no re-distinct (round 16): commit_delete_keys writes each
            # delete file pre-deduped, the anti-join is duplicate-
            # insensitive, and the broadcast stays delete-state-sized —
            # the distinct() here cost an exchange (+1 AQE stage job)
            # on every MOR group for nothing
            del_df = _read_data(
                spark, path,
                [os.path.join(path, p) for p in sorted(eq_set)],
                merge=False,
            ).select(*keys)
            part = part.join(F.broadcast(del_df), keys, "left_anti")
        parts.append(part)
    if clean:
        part = _read_data(spark, path, clean)
        if with_positions:
            part = part.withColumn(
                "__del_file", _norm_file_path_col()
            ).withColumn("__del_pos", F.col("_metadata.row_index"))
        parts.append(part)
    if not parts:
        raise ValueError("empty snapshot")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def shallow_clone(src: str, dst: str, at=None) -> int:
    """Zero-copy branch (Delta SHALLOW CLONE / Iceberg branch-from-
    snapshot): the clone's v1 commit lists the SOURCE's current data
    files by reference — no bytes move — and from then on the two logs
    diverge independently (clone commits stage files under the clone's
    own data dir; the source never sees them).  The dev-branch
    workflow at 100 TB: experiment on a clone, throw it away, source
    untouched.  Clone vacuum only ever sweeps the clone's OWN data dir,
    so referenced source files are safe by construction.  Outstanding
    equality deletes clone BY REFERENCE too (path-rewritten like the
    data files, sequence numbers preserved) — the clone's MOR view
    equals the source's, never a resurrected superset.

    ``at`` names the snapshot to clone (a branch/tag/version through
    :func:`resolve_ref`); default is the source's main head.  On a
    branched source the linear head belongs to whichever lineage
    committed last — naming the ref is the only unambiguous ask."""
    src_head = resolve_ref(src, at)
    os.makedirs(_data_dir(dst), exist_ok=True)
    os.makedirs(_log_dir(dst), exist_ok=True)
    entries = []
    # resolve the full snapshot (chain-walk) but keep per-file stats;
    # the source's rename/widen history is baked into each cloned
    # entry (``eras``) — the clone's log starts fresh and would
    # otherwise lose the translation the source's commits carried
    seen: set[str] = set()
    for f, chain in _walk_files_renamed(src, src_head)[0]:
        ap = os.path.abspath(os.path.join(src, f["path"]))
        if ap in seen:
            continue
        seen.add(ap)
        entries.append(
            _with_eras({**f, "path": os.path.relpath(ap, dst)}, chain)
        )
    del_key, outstanding = _snapshot_deletes(src, src_head)
    payload: dict = {
        "version": 1,
        "files": entries,
        "parent": None,
        "cloned_from": {"path": src, "version": src_head},
    }
    if outstanding:
        payload["deletes"] = [
            {
                **d,
                "path": os.path.relpath(
                    os.path.abspath(os.path.join(src, d["path"])), dst
                ),
            }
            for d in outstanding
        ]
        payload["delete_key"] = del_key
    pos_outstanding = _snapshot_pos_deletes(src, src_head)
    if pos_outstanding:
        # the delete FILE is referenced relative to the clone like any
        # data file; the entries' ``paths`` are already absolute (the
        # position-delete convention) so they keep naming the source's
        # data files verbatim
        payload["pos_deletes"] = [
            {
                **d,
                "path": os.path.relpath(
                    os.path.abspath(os.path.join(src, d["path"])), dst
                ),
            }
            for d in pos_outstanding
        ]
    _write_commit(dst, 0, {"version": 0, "files": [], "parent": None})
    _write_commit(dst, 1, payload)
    return 1


def expire_snapshots(path: str, *, keep_last: int = 1) -> int:
    """History expiry (Iceberg ``expire_snapshots`` / Delta log
    cleanup): drop commit-log entries older than the ``keep_last``
    newest versions.  Every retained lineage whose parent chain
    CROSSES the horizon is first cut: the crossing commit is rewritten
    as a full snapshot (its resolved file list + outstanding deletes,
    ``parent: None``) so no surviving chain dangles.  Branched
    histories interleave version numbers across lineages, so there may
    be SEVERAL cut points, not just the horizon version itself — one
    per retained head (the keep-window versions plus every named ref)
    whose ancestry dips below the horizon.  Time travel to an expired
    version then raises, current reads are unchanged, and
    :func:`vacuum` can sweep data files only the expired history
    referenced.  Metadata stays O(retained history) instead of
    O(table lifetime) — the log itself must not become the scale
    problem.  Returns the number of commit files removed."""
    head = latest_version(path)
    horizon = max(0, head - keep_last + 1)
    # a named ref (branch head or tag) PINS its snapshot: expiring past
    # it would leave read_ref resolving to a deleted commit file.  The
    # horizon is clamped to the oldest pinned version — mirror of
    # vacuum's ref-pinning rule.
    refs = list_refs(path)
    if refs:
        horizon = min(
            horizon, min(r["version"] for r in refs.values())
        )
    if horizon <= 0:
        return 0
    heads = set(range(horizon, head + 1))
    heads.update(r["version"] for r in refs.values())
    # cut points: retained versions whose PARENT falls below the
    # horizon — each lineage is cut exactly where it would dangle.
    # A version in the keep window may ALREADY be expired (a prior
    # expiry with a smaller keep_last removed it) — skip those.
    cuts: set[int] = set()
    visited: set[int] = set()
    for h in heads:
        v: int | None = h
        while v is not None and v not in visited:
            visited.add(v)
            try:
                parent = _read_commit(path, v)["parent"]
            except FileNotFoundError:
                break
            if parent is not None and parent < horizon:
                cuts.add(v)
                break
            v = parent
    for cv in sorted(cuts):
        base = _read_commit(path, cv)
        files: list[dict] = []
        seen: set[str] = set()
        # transaction watermarks recorded by folded-in ancestors must
        # survive the fold (Delta preserves SetTransaction actions
        # through checkpoints for the same reason): without the hoist,
        # last_committed_txn would return None/stale for an app whose
        # newest commit fell below the horizon and an exactly-once
        # writer would re-apply a replayed batch.  Walk the FULL
        # ancestry (parent then prev — the lineage last_committed_txn
        # itself walks) and keep the max batch per app.
        txns: dict[str, int] = {}
        v = cv
        while v is not None:
            try:
                c = _read_commit(path, v)
            except FileNotFoundError:
                break  # already-expired history below a prior horizon
            t = c.get("txn")
            if t and (
                t["app"] not in txns or t["batch"] > txns[t["app"]]
            ):
                txns[t["app"]] = t["batch"]
            for app, b in c.get("txns", {}).items():
                if app not in txns or b > txns[app]:
                    txns[app] = b
            v = c["parent"] if c["parent"] is not None else c.get("prev")
        v = cv
        collected: list[tuple[str, str, str]] = []  # newest-first ops
        while v is not None:
            c = _read_commit(path, v)
            applied = tuple(reversed(collected))
            for f in c["files"]:
                if f["path"] in seen:
                    continue
                seen.add(f["path"])
                chain = _entry_eras(f) + applied
                if v == cv:
                    files.append(_with_eras(f, chain))
                else:
                    # folded-in files may have been written under a
                    # DIFFERENT partition spec than the cut commit's —
                    # drop the partition tag so point reads fall back
                    # to min/max stats (never-lossy direction).  The
                    # rename/widen chain the file must pass through is
                    # baked into the entry: the fold erases the
                    # schema-op commits it crossed.
                    files.append(
                        _with_eras(
                            {
                                k: x
                                for k, x in f.items()
                                if k != "partition"
                            },
                            chain,
                        )
                    )
            ops = [tuple(o) for o in c.get("folded_ops", [])]
            ops += [("r", a, b) for a, b in c.get("renames", [])]
            ops += [("w", cc, tt) for cc, tt in c.get("widens", [])]
            if ops:
                collected.extend(reversed(ops))
            v = c["parent"]
        del_key, outstanding = _snapshot_deletes(path, cv)
        rewritten = {
            **base,
            "files": files,
            "parent": None,
        }
        # history below the horizon is gone — drop the logical-
        # predecessor link rather than point at an expired commit
        rewritten.pop("prev", None)
        # entry-baked eras replace the commit-level records for FILE
        # translation; the records themselves are hoisted (application-
        # ordered) so the streams' schema-change bookkeeping
        # (renamed-away names, landed widen targets) survives expiry
        rewritten.pop("renames", None)
        rewritten.pop("widens", None)
        rewritten.pop("folded_ops", None)
        if collected:
            rewritten["folded_ops"] = [
                list(o) for o in reversed(collected)
            ]
        if txns:
            rewritten["txns"] = txns
        if outstanding:
            rewritten["deletes"] = outstanding
            rewritten["delete_key"] = del_key
        pos_outstanding = _snapshot_pos_deletes(path, cv)
        if pos_outstanding:
            rewritten["pos_deletes"] = pos_outstanding
        tmp = os.path.join(
            _log_dir(path), f"{cv}.json.expire.{uuid.uuid4().hex}"
        )
        with open(tmp, "w") as fh:
            json.dump(rewritten, fh)
        os.replace(tmp, os.path.join(_log_dir(path), f"{cv}.json"))
    removed = 0
    for name in sorted(os.listdir(_log_dir(path))):
        if not name.endswith(".json"):
            continue
        try:
            ver = int(name.split(".", 1)[0])
        except ValueError:
            continue
        if ver < horizon:
            os.remove(os.path.join(_log_dir(path), name))
            removed += 1
    return removed


def row_id_expr(key_col, version: int):
    """Stable row-lineage id minted at FIRST commit: the leading 16 hex
    chars of ``md5('<key>:<version>')``.  Deterministic (oracle-
    restatable), unique per (key, minting commit), and — the lineage
    contract — PRESERVED verbatim through every later rewrite of the
    row (see :func:`commit_merge` with ``row_id_col``), so a row's id
    still names it after updates, compactions and clustering moves.
    The Iceberg v3 row-lineage idea with a reproducible id function."""
    from pyspark.sql import functions as F

    return F.substring(
        F.md5(F.concat_ws(":", key_col.cast("string"), F.lit(str(version)))),
        1,
        16,
    )


def _require_files(path: str, file_dicts: list[dict], v: int) -> None:
    """Raise a CLEAR retention error when a CDF leg would open data
    files that :func:`vacuum` already swept (an old commit's files can
    be unreferenced by every retained snapshot once rewrites superseded
    them, while the commit log still lists them — the Delta
    "file not found / version out of retention" condition).  One
    existence check per change file — change-proportional, never a
    directory listing."""
    for f in file_dicts:
        if not os.path.exists(os.path.join(path, f["path"])):
            raise ValueError(
                f"commit {v}'s data file {f['path']!r} was vacuumed "
                "(version outside the retention window) — start the "
                "CDF range at a retained version"
            )


def _lineage_versions(
    path: str, *, from_version: int, to_version: int
) -> list[int]:
    """The commit versions on ``to_version``'s lineage with
    ``from_version < v <= to_version``, ascending.  Walks ``parent``,
    falling back to the logical-predecessor ``prev`` that full-snapshot
    commits record — the same ancestry rule as :func:`fast_forward`."""
    out: list[int] = []
    v: int | None = to_version
    seen: set[int] = set()
    while v is not None and v > from_version and v not in seen:
        seen.add(v)
        out.append(v)
        c = _read_commit(path, v)
        v = c["parent"] if c["parent"] is not None else c.get("prev")
    return sorted(out)


def read_cdf(
    spark: SparkSession,
    path: str,
    *,
    from_version: int,
    to_version=None,
    change_col: str = "_change_type",
    version_col: str = "_commit_version",
    columns: list[str] | None = None,
) -> DataFrame:
    """CHANGE DATA FEED read (Delta CDF / Iceberg changelog scan):
    row-level ``insert`` / ``update_preimage`` / ``update_postimage`` /
    ``delete`` images for every commit in ``(from_version,
    to_version]`` on the target lineage, derived from the commit
    payloads — no change journal is stored, the log IS the journal:

    * **append** (``commit_append``/WAP publish): its new files, each
      row an ``insert``.
    * **merge** (``commit_merge`` — classified by the recorded
      ``merge_key``): the rewritten files' pre-snapshot rows (resolved
      through the deletes outstanding at the parent, so resurrected
      rows can't fake images) are diffed against the merge's own output
      files on the key — key only in post → ``insert``, key only in
      pre → ``delete``, both sides with any non-key column changed →
      ``update_preimage``/``update_postimage``.
    * **equality delete** (``commit_delete_keys``): the parent
      snapshot's rows matching the NEW delete keys (files pruned to
      those overlapping the delete range, then a broadcast semi-join) →
      ``delete`` pre-images.
    * **positional delete** (``commit_delete_positions``): the named
      files' rows at the deleted ordinals (the same metadata-column
      semi-join the MOR read uses, applied after the deletes already
      outstanding at the parent) → ``delete`` pre-images.
    * **compaction / clustering** (``maintenance: true``): emits NO
      CDF rows — logical content is unchanged by construction.

    Cost is proportional to the CHANGE, not the table: appends read
    only their own files, merge diffs touch only rewritten files, and
    delete pre-images prune to the overlapping/named files with the
    delete side broadcast.  Merges committed before ``merge_key`` was
    recorded are not classifiable and raise.  ``to_version`` is a
    version number OR a ref name (branch/tag — the CDF of a branch
    lineage); ``None`` resolves main's head (the
    :func:`read_incremental` rule).

    ``columns=`` projects the feed — semantically the CDF **of the
    projected table**: only the named columns (plus the change
    metadata) are returned, the projection reaches the parquet scans
    (Catalyst prunes ``ReadSchema`` to merge-key + requested columns —
    asserted in ``tests/test_table_format.py``), and a merge diff
    classifies updates on the PROJECTED columns, so a row whose change
    lies entirely outside the projection emits no update pair (exactly
    what ``read_cdf(...).select(columns)`` over the projected table
    would say)."""
    from pyspark.sql import functions as F

    to_v = (
        to_version
        if isinstance(to_version, int)
        else resolve_ref(path, to_version)
    )
    legs: list[DataFrame] = []
    # Per-commit schema-op chain (application-ordered): the renames/
    # widens from lineage commits NEWER than that commit, so every
    # leg's row images are translated to the ``to_v``-era names/types
    # before union — a range spanning a rename/widen emits ONE schema.
    # (The schema-op commits themselves change no rows and are skipped
    # below, like maintenance commits.)
    chains: dict[int, tuple] = {}
    _v: int | None = to_v
    _collected: list[tuple[str, str, str]] = []  # newest-first
    _seen: set[int] = set()
    while _v is not None and _v not in _seen:
        _seen.add(_v)
        _c = _read_commit(path, _v)
        chains[_v] = tuple(reversed(_collected))
        _ops = [("r", a, b) for a, b in _c.get("renames", [])]
        _ops += [("w", cc, tt) for cc, tt in _c.get("widens", [])]
        if _ops:
            _collected.extend(reversed(_ops))
        _v = _c["parent"] if _c["parent"] is not None else _c.get("prev")

    def _tag(df: DataFrame, ctype: str, v: int) -> DataFrame:
        for kind, a, b in chains.get(v, ()):
            if kind == "r":
                df = df.withColumnRenamed(a, b)
            elif a in df.columns:  # widen: cast the era to the new type
                df = df.withColumn(a, F.col(a).cast(b))
        if columns is not None:
            for col in columns:
                if col not in df.columns:
                    # a leg predating additive evolution — null-backfill
                    # (the allowMissingColumns union would have)
                    df = df.withColumn(col, F.lit(None))
            df = df.select(*columns)
        return df.select(
            "*",
            F.lit(ctype).alias(change_col),
            F.lit(v).cast("int").alias(version_col),
        )

    for v in _lineage_versions(
        path, from_version=from_version, to_version=to_v
    ):
        c = _read_commit(path, v)
        if c.get("maintenance"):
            continue
        if (c.get("renames") or c.get("widens")) and not c["files"]:
            # metadata-only schema op: changes no rows (legs from other
            # commits translate through it via ``chains`` above)
            continue
        base = c["parent"] if c["parent"] is not None else c.get("prev")
        new_eq = [d for d in c.get("deletes", []) if d.get("seq") == v]
        new_pos = [
            d for d in c.get("pos_deletes", []) if d.get("seq") == v
        ]
        if new_eq or new_pos:
            key = c.get("delete_key")
            keys = _key_cols(key) if key is not None else []
            prev_dicts = _snapshot_file_dicts(path, base)
            prev_key, prev_eq = _snapshot_deletes(path, base)
            prev_pos = _snapshot_pos_deletes(path, base)
            if new_eq:
                # files provably disjoint from some new-delete key
                # range can't contribute pre-images — prune first
                cand = [
                    f
                    for f in prev_dicts
                    if any(_stats_overlap(keys, f, d) for d in new_eq)
                ]
                if cand:
                    _require_files(path, cand + new_eq, v)
                    keys_df = _read_data(
                        spark, path,
                        [os.path.join(path, d["path"]) for d in new_eq],
                        merge=False,
                    ).select(*keys)  # writer-deduped; semi-join is
                    # duplicate-insensitive (see _mor_resolve)
                    pre = _mor_resolve(
                        spark, path, cand, prev_key, prev_eq, prev_pos
                    ).join(F.broadcast(keys_df), keys, "left_semi")
                    legs.append(_tag(pre, "delete", v))
            if new_pos:
                named = {p for d in new_pos for p in d.get("paths", [])}
                cand = [
                    f
                    for f in prev_dicts
                    if os.path.abspath(os.path.join(path, f["path"]))
                    in named
                ]
                if cand:
                    _require_files(path, cand + new_pos, v)
                    pos_df = _pos_delete_pairs_df(
                        spark, path, new_pos
                    ).select(
                        F.col("file_path").alias("__del_file"),
                        F.col("pos").alias("__del_pos"),
                    )
                    # resolve through the PRIOR deletes first (a row
                    # already gone at the parent yields no pre-image),
                    # then semi-join the new ordinals
                    pre = (
                        _mor_resolve(
                            spark, path, cand, prev_key, prev_eq,
                            prev_pos, with_positions=True,
                        )
                        .join(
                            F.broadcast(pos_df),
                            ["__del_file", "__del_pos"],
                            "left_semi",
                        )
                        .drop("__del_file", "__del_pos")
                    )
                    legs.append(_tag(pre, "delete", v))
            continue
        if c["parent"] is not None:
            # plain append: every row in its files is an insert
            _require_files(path, c["files"], v)
            ins = _read_data(
                spark, path,
                [os.path.join(path, f["path"]) for f in c["files"]],
            )
            legs.append(_tag(ins, "insert", v))
            continue
        if "cdf_files" in c:
            # CHANGE-DATA sidecar (Delta CDC files): the commit staged
            # its own row images — read them verbatim, no re-derivation
            cdf_dicts = [{"path": pp} for pp in c["cdf_files"]]
            if cdf_dicts:
                _require_files(path, cdf_dicts, v)
                imgs = _read_data(
                    spark, path,
                    [os.path.join(path, pp) for pp in c["cdf_files"]],
                )
                for ct in (
                    "insert", "delete", "update_preimage",
                    "update_postimage",
                ):
                    sub = imgs.filter(
                        F.col("_change_type") == ct
                    ).drop("_change_type")
                    legs.append(_tag(sub, ct, v))
            continue
        if "replace_where" in c:
            # partition overwrite: delete images = the replaced
            # region's old rows, insert images = the incoming batch.
            # Both new-data and survivor-rewrite files carry
            # seq == v, but survivors hold ONLY out-of-range rows and
            # the batch ONLY in-range rows (constraint-checked at
            # commit), so the predicate splits them exactly; carried
            # out-of-range rows emit nothing.
            rw = c["replace_where"]
            rcol, lo, hi = rw["col"], rw["lo"], rw["hi"]
            in_range = (F.col(rcol) >= F.lit(lo)) & (
                F.col(rcol) <= F.lit(hi)
            )
            own = [f for f in c["files"] if f.get("seq") == v]
            prev_pairs, prev_ops = _walk_files_renamed(path, base)
            carried = {f["path"] for f in c["files"]}

            def _rw_disjoint(f: dict, chain: tuple = ()) -> bool:
                stats = (
                    _translate_entry_stats(f, chain) if chain else f
                )["stats"]
                rng = stats.get(rcol)
                return rng is not None and (rng[1] < lo or rng[0] > hi)

            replaced = [
                (f, ch)
                for f, ch in prev_pairs
                if f["path"] not in carried and not _rw_disjoint(f, ch)
            ]
            own = [f for f in own if not _rw_disjoint(f)]
            prev_key, prev_eq = _snapshot_deletes(path, base)
            prev_pos = _snapshot_pos_deletes(path, base)
            _require_files(path, [f for f, _ in replaced] + own, v)
            if replaced:
                if prev_ops:
                    # schema-op history never coexists with MOR state
                    # (the commit guards), so the era read is exact
                    pre = _read_era_groups(
                        spark, path,
                        [
                            (os.path.join(path, f["path"]), ch)
                            for f, ch in replaced
                        ],
                    ).filter(in_range)
                else:
                    pre = _mor_resolve(
                        spark, path, [f for f, _ in replaced],
                        prev_key, prev_eq, prev_pos,
                    ).filter(in_range)
                legs.append(_tag(pre, "delete", v))
            if own:
                post = _read_data(
                    spark, path,
                    [os.path.join(path, f["path"]) for f in own],
                ).filter(in_range)
                legs.append(_tag(post, "insert", v))
            continue
        if "merge_key" not in c:
            raise ValueError(
                f"commit {v} is a full-snapshot rewrite without a "
                "recorded merge_key — not CDF-classifiable (clone base "
                "or pre-merge_key merge); start the CDF range after it"
            )
        key = c["merge_key"]
        post_files = [f for f in c["files"] if f.get("seq") == v]
        carried = {f["path"] for f in c["files"]}
        prev_pairs, prev_ops = _walk_files_renamed(path, base)
        rewritten = [
            (f, ch) for f, ch in prev_pairs if f["path"] not in carried
        ]
        prev_key, prev_eq = _snapshot_deletes(path, base)
        prev_pos = _snapshot_pos_deletes(path, base)
        _require_files(path, [f for f, _ in rewritten] + post_files, v)
        if rewritten:
            if prev_ops:
                # a merge over uncompacted rename/widen history: the
                # pre side spans eras — translate per file (schema-op
                # history never coexists with MOR state, so the era
                # read is exact)
                pre = _read_era_groups(
                    spark, path,
                    [
                        (os.path.join(path, f["path"]), ch)
                        for f, ch in rewritten
                    ],
                )
            else:
                pre = _mor_resolve(
                    spark, path, [f for f, _ in rewritten],
                    prev_key, prev_eq, prev_pos,
                )
        else:
            pre = None
        post = (
            _read_data(
                spark, path,
                [os.path.join(path, f["path"]) for f in post_files],
            )
            if post_files
            else None
        )
        if pre is None and post is None:
            continue
        if pre is None:
            legs.append(_tag(post, "insert", v))
            continue
        if post is None:
            legs.append(_tag(pre, "delete", v))
            continue
        # additive schema evolution: a merge landing right after an
        # ALTER ADD COLUMN may rewrite only pre-evolution files, so the
        # pre side lacks the new column — null-backfill it (the same
        # allowMissingColumns contract the append/union legs get) so
        # the diff can compare it (NULL vs non-NULL = changed)
        for col in post.columns:
            if col not in pre.columns:
                pre = pre.withColumn(
                    col, F.lit(None).cast(post.schema[col].dataType)
                )
        if columns is not None and not chains.get(v):
            # projected feed: narrow BOTH sides to merge-key + requested
            # columns before the diff join, so the pinned diff below
            # materializes only what the feed returns (the rename-era
            # case keeps full width — ``columns`` are to_v-era names and
            # the sides still carry era-v names, so an early select by
            # the new names could not resolve)
            keep = set(columns)
            post = post.select(
                key, *[c for c in post.columns if c != key and c in keep]
            )
            pre = pre.select(
                key, *[c for c in pre.columns if c != key and c in keep]
            )
        others = [col for col in post.columns if col != key]
        if columns is not None:
            # update classification over the PROJECTED columns only —
            # this is what lets Catalyst prune the pre/post scans to
            # merge-key + requested columns
            others = [col for col in others if col in columns]
        # ONE full-outer diff join (round 16, guide §2.3/§2.4): round 15
        # planned THREE joins over pre/post (insert anti, delete anti,
        # update inner), each re-scanning the change-proportional
        # pre/post subtrees and each building its own broadcast key set
        # — pre was read 3×, post 3×, five jobs of it at local[32].  The
        # fused form joins once on the key with side-presence markers
        # (a USING full outer coalesces the key, and null keys never
        # match — exactly the anti/inner semantics: a null-key post row
        # is an insert, a null-key pre row a delete, never an update
        # pair) and lazily pins the diff for its four consumer legs.
        pre_cols = [c for c in pre.columns if c != key]
        pre_m = pre.select(
            key,
            *[F.col(c).alias(f"__pre_{c}") for c in pre_cols],
            F.lit(True).alias("__pre_present"),
        )
        diff = (
            post.withColumn("__post_present", F.lit(True))
            .join(pre_m, key, "full_outer")
            .localCheckpoint(eager=False)
        )
        legs.append(
            _tag(
                diff.filter(F.col("__pre_present").isNull()).select(
                    *post.columns
                ),
                "insert",
                v,
            )
        )
        legs.append(
            _tag(
                diff.filter(F.col("__post_present").isNull()).select(
                    *[
                        F.col(c) if c == key
                        else F.col(f"__pre_{c}").alias(c)
                        for c in pre.columns
                    ]
                ),
                "delete",
                v,
            )
        )
        if not others:
            continue  # projection holds only the key — no update pairs
        changed = diff.filter(
            F.col("__pre_present").isNotNull()
            & F.col("__post_present").isNotNull()
        ).filter(
            F.struct(*[F.col(col) for col in others])
            != F.struct(*[F.col(f"__pre_{col}") for col in others])
        )
        legs.append(
            _tag(
                changed.select(
                    key,
                    *[F.col(f"__pre_{col}").alias(col) for col in others],
                ),
                "update_preimage",
                v,
            )
        )
        legs.append(
            _tag(changed.select(key, *others), "update_postimage", v)
        )
    if not legs:
        raise ValueError(
            f"no change commits in ({from_version}, {to_v}]"
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg, allowMissingColumns=True)
    return out


# ---------------------------------------------------------------------------
# Named refs: branches and tags (the Iceberg ref model)
# ---------------------------------------------------------------------------

def _refs_path(path: str) -> str:
    return os.path.join(_log_dir(path), "_refs.json")


def list_refs(path: str) -> dict:
    """``{name: {"type": "branch"|"tag", "version": int}}``.  Absent
    file = no refs yet (pre-branching tables stay fully compatible:
    every existing API keeps meaning "the linear head")."""
    if not os.path.exists(_refs_path(path)):
        return {}
    with open(_refs_path(path)) as fh:
        return json.load(fh)


def _write_refs(path: str, refs: dict) -> None:
    # atomic replace — stands in for the catalog's compare-and-swap on
    # a real object store, exactly like the commit rename above
    tmp = _refs_path(path) + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(refs, fh)
    os.replace(tmp, _refs_path(path))


class _refs_mutex:
    """Serialize refs read-modify-write sections (pointer advancement,
    branch/tag create/drop).  The atomic replace in
    :func:`_write_refs` makes each WRITE safe, but two concurrent
    writers that both read-then-write would still lose one update —
    the catalog CAS a real format gets from its metastore, emulated
    locally with an ``O_CREAT|O_EXCL`` lock file (the same
    put-if-absent primitive the commit rename uses)."""

    def __init__(self, path: str) -> None:
        self._lock = os.path.join(_log_dir(path), "_refs.lock")

    #: a healthy refs update holds the lock for milliseconds; a lock
    #: this old was leaked by a crashed writer and may be stolen
    STALE_S = 60.0

    def __enter__(self) -> None:
        import time

        deadline = time.monotonic() + 30.0
        while True:
            try:
                fd = os.open(
                    self._lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
                os.close(fd)
                return
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(self._lock)
                except FileNotFoundError:
                    continue  # holder just released; retry immediately
                if age > self.STALE_S:
                    # break the leaked lock (best-effort: two stealers
                    # racing the remove both fall through to the
                    # O_EXCL create, where exactly one wins)
                    try:
                        os.remove(self._lock)
                    except FileNotFoundError:
                        pass
                    continue
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"refs lock {self._lock} held too long — "
                        "a crashed writer may have leaked it"
                    )
                time.sleep(0.005)

    def __exit__(self, *exc) -> None:
        try:
            os.remove(self._lock)
        except FileNotFoundError:
            pass


def resolve_ref(path: str, ref=None) -> int:
    """A ref is an int version (passed through), a branch/tag name, or
    None/'main' (the main branch if pinned, else the linear head)."""
    if isinstance(ref, int):
        return ref
    refs = list_refs(path)
    if ref is None or ref == "main":
        if "main" in refs:
            return refs["main"]["version"]
        return latest_version(path)
    if ref not in refs:
        raise ValueError(f"unknown ref {ref!r}")
    return refs[ref]["version"]


def _ensure_main_pinned(path: str, refs: dict) -> None:
    # the moment any ref exists, "main" must be explicit — otherwise a
    # branch commit would advance the linear head and main would
    # silently follow it
    if "main" not in refs:
        refs["main"] = {
            "type": "branch", "version": latest_version(path)
        }


def create_branch(path: str, name: str, at=None) -> int:
    """Create branch ``name`` at ``at`` (default: main's head).  A
    branch is a MOVABLE pointer: :func:`commit_append_branch` advances
    it.  Creating over an existing ref raises."""
    with _refs_mutex(path):
        refs = list_refs(path)
        if name in refs:
            raise ValueError(f"ref {name!r} already exists")
        v = resolve_ref(path, at)
        _ensure_main_pinned(path, refs)
        refs[name] = {"type": "branch", "version": v}
        _write_refs(path, refs)
    return v


def create_tag(path: str, name: str, at=None) -> int:
    """Create tag ``name`` — an IMMUTABLE snapshot pointer (audit /
    release marker).  No API moves a tag; drop and recreate instead."""
    with _refs_mutex(path):
        refs = list_refs(path)
        if name in refs:
            raise ValueError(f"ref {name!r} already exists")
        v = resolve_ref(path, at)
        _ensure_main_pinned(path, refs)
        refs[name] = {"type": "tag", "version": v}
        _write_refs(path, refs)
    return v


def drop_ref(path: str, name: str) -> None:
    with _refs_mutex(path):
        refs = list_refs(path)
        if name not in refs:
            raise ValueError(f"unknown ref {name!r}")
        if name == "main":
            raise ValueError("cannot drop main")
        del refs[name]
        _write_refs(path, refs)


def commit_append_branch(
    spark: SparkSession,
    path: str,
    branch: str,
    df: DataFrame,
    *,
    stat_cols: list[str],
) -> int:
    """Append ``df`` to ``branch``: the new commit's PARENT is the
    branch head (history may diverge from other branches), its version
    comes from the shared monotonically-increasing namespace (so two
    racing branch writers still collide on the rename — the same
    optimistic-concurrency rule as the linear path), and the branch
    pointer advances only after the commit lands.  Thin alias for
    :func:`commit_append` with ``branch=`` — kept as the discoverable
    branch-workflow entry point."""
    return commit_append(
        spark, path, df, stat_cols=stat_cols, branch=branch
    )


def read_ref(
    spark: SparkSession,
    path: str,
    ref=None,
    *,
    prune: tuple[str, object, object] | None = None,
) -> DataFrame:
    """Snapshot read at a branch/tag — the LOGICAL view: outstanding
    merge-on-read equality deletes at the ref's snapshot are applied
    (a user asking for "the branch" means its contents, not the
    data-file layout; the raw view stays reachable via
    :func:`read_table` with ``version=resolve_ref(...)``).  Manifest
    pruning composes: files are range-pruned first, survivors take
    the clean/dirty anti-join split of :func:`_mor_resolve`."""
    v = resolve_ref(path, ref)
    key, deletes = _snapshot_deletes(path, v)
    pos_deletes = _snapshot_pos_deletes(path, v)
    if not deletes and not pos_deletes:
        return read_table(spark, path, version=v, prune=prune)
    file_dicts = _snapshot_file_dicts(path, v)
    if prune is not None:
        col, lo, hi = prune
        file_dicts = [
            f
            for f in file_dicts
            if f["stats"].get(col) is None
            or not (f["stats"][col][1] < lo or f["stats"][col][0] > hi)
        ]
    return _mor_resolve(spark, path, file_dicts, key, deletes, pos_deletes)


def fast_forward(path: str, branch: str, to) -> int:
    """Move ``branch`` forward to ``to`` (a ref or version) — legal
    only when the current branch head is an ANCESTOR of the target
    (the audit-branch promotion step: stage on a branch, validate,
    fast-forward main).  A diverged target raises; use a merge commit
    instead."""
    refs = list_refs(path)
    _ensure_main_pinned(path, refs)
    if branch not in refs or refs[branch]["type"] != "branch":
        raise ValueError(f"unknown branch {branch!r}")
    target = resolve_ref(path, to)
    cur = refs[branch]["version"]
    v: int | None = target
    chain = set()
    # ancestry follows the physical ``parent`` chain, falling back to
    # the logical-predecessor ``prev`` that full-snapshot commits
    # (compact / merge / delete_keys) record — a compaction on linear
    # history must not make its ancestors unreachable
    while v is not None and v not in chain:
        chain.add(v)
        try:
            c = _read_commit(path, v)
        except FileNotFoundError:
            break  # expired history — nothing older to walk
        v = c["parent"] if c["parent"] is not None else c.get("prev")
    if cur not in chain:
        raise ValueError(
            f"cannot fast-forward {branch!r}: {cur} is not an ancestor "
            f"of {target}"
        )
    with _refs_mutex(path):
        refs = list_refs(path)
        if refs.get(branch, {}).get("version") != cur:
            raise CommitConflict(
                f"branch {branch!r} moved during fast-forward"
            )
        refs[branch]["version"] = target
        _write_refs(path, refs)
    return target


# ---------------------------------------------------------------------------
# partition-spec evolution (Iceberg model: the spec is COMMIT metadata;
# old files keep their old layout, planning merges specs per file)
# ---------------------------------------------------------------------------

#: supported hidden-partitioning transforms (Iceberg's core set minus
#: year/day variants, which are `month` with a different format string)
_TRANSFORMS = ("identity", "bucket", "truncate", "month")


def _bucket_of(value, n: int) -> int:
    """Deterministic bucket shared by the WRITE path (column expr) and
    the PLANNING path (point value) — md5-based, never the engine's
    internal hash (which a different engine could not reproduce)."""
    import hashlib

    return (
        int(hashlib.md5(str(value).encode()).hexdigest()[:13], 16) % n
    )


def _transform_expr(spec: dict):
    """The transform as a Spark Column over the source column."""
    from pyspark.sql import functions as F

    col = F.col(spec["col"])
    kind, param = spec["transform"], spec.get("param")
    if kind == "identity":
        return col.cast("string")
    if kind == "bucket":
        return F.pmod(
            F.conv(
                F.substring(F.md5(col.cast("string")), 1, 13), 16, 10
            ).cast("long"),
            F.lit(param),
        ).cast("string")
    if kind == "truncate":
        return ((col.cast("long") / param).cast("long") * param).cast(
            "string"
        )
    if kind == "month":
        return F.date_format(col, "yyyy-MM")
    raise ValueError(f"unknown transform {kind!r}")


def _transform_point(spec: dict, value) -> str:
    """The transform applied to a POINT predicate value, Python-side —
    used at plan time to keep only matching partition values."""
    kind, param = spec["transform"], spec.get("param")
    if kind == "identity":
        return str(value)
    if kind == "bucket":
        return str(_bucket_of(value, param))
    if kind == "truncate":
        return str(int(value) // param * param)
    if kind == "month":
        return str(value)[:7]
    raise ValueError(f"unknown transform {kind!r}")


def commit_append_spec(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    *,
    spec: dict,
    stat_cols: list[str],
    expected_version: int | None = None,
) -> int:
    """Append under a partition SPEC (``{"col", "transform",
    "param"?}``): data files land in one directory per transform value
    and every manifest entry records its partition value + the commit
    records the spec.  Different commits may use DIFFERENT specs —
    that IS partition evolution; readers resolve each file against the
    spec it was written under (:func:`snapshot_files_point`)."""
    if spec["transform"] not in _TRANSFORMS:
        raise ValueError(f"unknown transform {spec['transform']!r}")
    base = expected_version if expected_version is not None else (
        latest_version(path)
    )
    staging = os.path.join(
        _data_dir(path), f"commit-{base + 1}-{uuid.uuid4().hex[:8]}"
    )
    (
        df.withColumn("_pval", _transform_expr(spec))
        .repartition("_pval")
        .write.mode("overwrite")
        .partitionBy("_pval")
        .parquet(staging)
    )
    files = []
    for root, _dirs, names in sorted(os.walk(staging)):
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            fp = os.path.join(root, name)
            st = _file_stats(fp, stat_cols)
            pval = None
            for part in root.split(os.sep):
                if part.startswith("_pval="):
                    pval = part[len("_pval="):]
            files.append(
                {
                    "path": os.path.relpath(fp, path),
                    "rows": st["rows"],
                    "stats": st["cols"],
                    "partition": pval,
                    "seq": base + 1,
                }
            )
    _write_commit(
        path,
        base + 1,
        {
            "version": base + 1,
            "files": files,
            "parent": base,
            "spec": {k: spec[k] for k in spec},
        },
    )
    return base + 1


def snapshot_files_point(
    path: str,
    col: str,
    value,
    *,
    version: int | None = None,
) -> tuple[list[str], int, int]:
    """Plan a point read ``col = value`` across EVERY spec in the
    snapshot: a file written under a spec on ``col`` is kept iff its
    recorded partition value equals the transform of the point; files
    under other specs (or none) fall back to manifest min/max stats;
    files with neither are kept — pruning is never lossy.  Returns
    (kept paths, kept count, total count)."""
    v = latest_version(path) if version is None else version
    # the spec walk matches column names recorded at each file's era
    # against the CALLER's current name — not era-aware (a rename
    # would silently stop pruning AND the read would mix schemas), so
    # refuse loudly with the compaction remedy like the rewriters do
    _guard_no_renames(path, v, "snapshot_files_point/read_table_point")
    kept: list[str] = []
    total = 0
    while v is not None:
        commit = _read_commit(path, v)
        spec = commit.get("spec")
        applicable = spec is not None and spec["col"] == col
        want = _transform_point(spec, value) if applicable else None
        for f in commit["files"]:
            total += 1
            if applicable and f.get("partition") is not None:
                if f["partition"] != want:
                    continue
            else:
                rng = f["stats"].get(col)
                if rng is not None and not (rng[0] <= value <= rng[1]):
                    continue
            kept.append(os.path.join(path, f["path"]))
        v = commit["parent"]
    return kept, len(kept), total


def read_table_point(
    spark: SparkSession,
    path: str,
    col: str,
    value,
    *,
    version: int | None = None,
) -> DataFrame:
    """Point read through :func:`snapshot_files_point` — the partition
    columns are HIDDEN (Iceberg semantics): the exact predicate is
    re-applied on the surviving superset, callers never see ``_pval``.
    Data-file view, like :func:`read_table`: outstanding equality
    deletes are visible only through :func:`read_table_mor`."""
    from pyspark.sql import functions as F

    files, _, _ = snapshot_files_point(path, col, value, version=version)
    if not files:
        return None
    # leaf-file paths skip partition discovery entirely, so ``_pval``
    # never surfaces — the partition layout stays hidden
    return _read_data(spark, path, files).filter(F.col(col) == value)
