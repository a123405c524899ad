"""From-scratch SQLite database-file reader.

SQLite is the world's most widely deployed single-file database and a
common interchange container for scraped/annotated corpora (every
browser profile, mobile app export, and many labeling tools ship one).
This module reads the file format directly from its public spec
(https://sqlite.org/fileformat2.html) — no ``sqlite3`` import on the
READ path — so a directory of ``.db`` / ``.sqlite`` shards becomes a
DataFrame with the repo's container discipline (`sources/archive.py`,
`sources/warc.py`): one database file = one Spark task via the
built-in ``binaryFile`` source, a pure-Python page walker that yields
the rows of one file, framed by :mod:`table_streaming_source_spark._rows`,
and only decoded fields ever leave the executor.

Implemented surface (the durable core of the format):

- 100-byte header: magic, page size (incl. the ``1 == 65536``
  encoding), reserved-bytes-per-page, UTF-8 text encoding check.
- Table b-trees: interior (type 5) and leaf (type 13) pages, cell
  pointer arrays, left-child/rightmost-pointer descent in key order.
- Varints (1–9 bytes, big-endian 7-bit groups, 9th byte carries 8).
- Record format: serial types 0 (NULL), 1–6 (1/2/3/4/6/8-byte
  big-endian signed ints), 7 (IEEE-754 big-endian double), 8/9
  (constants 0/1), ≥12 even (blob), ≥13 odd (UTF-8 text).
- Overflow-page chains with the spec's exact local-payload split
  (U/X/M/K formulas) — long documents in small-page files round-trip.
- ``INTEGER PRIMARY KEY`` rowid aliasing: such a column is stored as
  NULL in the record and takes the cell's rowid value.
- ``sqlite_master`` (root page 1) is itself parsed with the same
  walker to resolve a table name → root page.

Malformed input (bad magic, non-UTF-8 encoding flag, unknown page
type, truncated page) raises ``ValueError`` — the quarantine path.

Reference parity note: the reference plugin (a CDAP snapshot source)
delegates file decoding to its host platform; this module is part of
the §2B "sources" surface that the Spark rebuild must provide itself.
"""

from __future__ import annotations

from table_streaming_source_spark._rows import map_rows
from table_streaming_source_spark.malformed import quarantinable

import struct
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_MAGIC = b"SQLite format 3\x00"


def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Decode one varint at ``pos`` → (value, next_pos)."""
    value = 0
    for i in range(8):
        b = buf[pos + i]
        value = (value << 7) | (b & 0x7F)
        if not b & 0x80:
            return value, pos + i + 1
    # 9th byte contributes all 8 bits
    value = (value << 8) | buf[pos + 8]
    if value >= 1 << 63:  # two's-complement 64-bit
        value -= 1 << 64
    return value, pos + 9


class _Db:
    """Parsed database file: header fields + page accessor."""

    def __init__(self, payload: bytes):
        if payload[:16] != _MAGIC:
            raise ValueError("not a SQLite 3 database (bad magic)")
        page_size = struct.unpack(">H", payload[16:18])[0]
        self.page_size = 65536 if page_size == 1 else page_size
        self.reserved = payload[20]
        self.usable = self.page_size - self.reserved
        encoding = struct.unpack(">I", payload[56:60])[0]
        if encoding != 1:
            raise ValueError(f"unsupported text encoding {encoding}")
        self.payload = payload

    def page(self, number: int) -> bytes:
        start = (number - 1) * self.page_size
        page = self.payload[start : start + self.page_size]
        if len(page) != self.page_size:
            raise ValueError(f"truncated page {number}")
        return page

    # -- payload assembly (with overflow chain) -------------------------
    def _cell_payload(
        self, page: bytes, pos: int, total: int
    ) -> tuple[bytes, int]:
        """Assemble a table-leaf cell payload starting at ``pos``; follow
        the overflow chain when the payload spills.  Returns (payload,
        end_pos_within_page)."""
        u = self.usable
        x = u - 35  # max local payload on a table leaf
        if total <= x:
            return page[pos : pos + total], pos + total
        m = ((u - 12) * 32 // 255) - 23
        k = m + (total - m) % (u - 4)
        local = k if k <= x else m
        parts = [page[pos : pos + local]]
        next_page = struct.unpack(
            ">I", page[pos + local : pos + local + 4]
        )[0]
        remaining = total - local
        while remaining > 0:
            if next_page == 0:
                raise ValueError("broken overflow chain")
            op = self.page(next_page)
            next_page = struct.unpack(">I", op[:4])[0]
            chunk = op[4 : 4 + min(remaining, u - 4)]
            parts.append(chunk)
            remaining -= len(chunk)
        return b"".join(parts), pos + local + 4


def _decode_record(payload: bytes, rowid: int) -> list:
    """Decode one record; serial-type NULL in the FIRST slot is the
    INTEGER-PRIMARY-KEY rowid alias only when substituted by caller —
    here NULL decodes to None and the caller patches the pk column."""
    header_len, pos = _varint(payload, 0)
    serials = []
    while pos < header_len:
        s, pos = _varint(payload, pos)
        serials.append(s)
    body = header_len
    out: list = []
    for s in serials:
        if s == 0:
            out.append(None)
        elif 1 <= s <= 6:
            size = (1, 2, 3, 4, 6, 8)[s - 1]
            raw = payload[body : body + size]
            val = int.from_bytes(raw, "big", signed=True)
            out.append(val)
            body += size
        elif s == 7:
            out.append(struct.unpack(">d", payload[body : body + 8])[0])
            body += 8
        elif s == 8:
            out.append(0)
        elif s == 9:
            out.append(1)
        elif s >= 12 and s % 2 == 0:
            size = (s - 12) // 2
            out.append(payload[body : body + size])
            body += size
        elif s >= 13:
            size = (s - 13) // 2
            out.append(payload[body : body + size].decode("utf-8"))
            body += size
        else:
            raise ValueError(f"unsupported serial type {s}")
    return out


def _walk_table(db: _Db, root: int) -> Iterator[tuple[int, list]]:
    """Yield ``(rowid, values)`` for every row of the table b-tree
    rooted at ``root``, in rowid order (in-order descent)."""
    page = db.page(root)
    # page 1 carries the 100-byte file header before its b-tree header
    hdr = 100 if root == 1 else 0
    ptype = page[hdr]
    ncells = struct.unpack(">H", page[hdr + 3 : hdr + 5])[0]
    if ptype == 5:  # interior table page
        array = hdr + 12
        for i in range(ncells):
            off = struct.unpack(
                ">H", page[array + 2 * i : array + 2 * i + 2]
            )[0]
            child = struct.unpack(">I", page[off : off + 4])[0]
            yield from _walk_table(db, child)
        right = struct.unpack(">I", page[hdr + 8 : hdr + 12])[0]
        yield from _walk_table(db, right)
    elif ptype == 13:  # leaf table page
        array = hdr + 8
        for i in range(ncells):
            off = struct.unpack(
                ">H", page[array + 2 * i : array + 2 * i + 2]
            )[0]
            total, pos = _varint(page, off)
            rowid, pos = _varint(page, pos)
            payload, _ = db._cell_payload(page, pos, total)
            yield rowid, _decode_record(payload, rowid)
    else:
        raise ValueError(f"unexpected b-tree page type {ptype}")


@quarantinable("SQLite")
def sqlite_rows(
    payload: bytes, table: str, *, rowid_alias_col: int | None = None
) -> list[list]:
    """All rows of ``table`` from a SQLite file image, in rowid order.

    ``rowid_alias_col``: index of an INTEGER PRIMARY KEY column whose
    record slot is NULL and must be patched with the cell rowid."""
    db = _Db(payload)
    root = None
    for _rowid, rec in _walk_table(db, 1):
        # sqlite_master: (type, name, tbl_name, rootpage, sql)
        if rec[0] == "table" and rec[1] == table:
            root = rec[3]
            break
    if root is None:
        raise ValueError(f"table {table!r} not found in sqlite_master")
    rows = []
    for rowid, rec in _walk_table(db, root):
        if rowid_alias_col is not None and rec[rowid_alias_col] is None:
            rec = list(rec)
            rec[rowid_alias_col] = rowid
        rows.append(rec)
    return rows


DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("lang", StringType(), True),
        StructField("source", StringType(), True),
        StructField("text", StringType(), True),
        StructField("n_chars", LongType(), True),
        StructField("quality", DoubleType(), True),
    ]
)

def read_sqlite_documents(spark: SparkSession, path: str) -> DataFrame:
    """Read every ``documents(doc_id INTEGER PRIMARY KEY, lang, source,
    text, n_chars, quality REAL)`` table under ``path`` (one file = one
    task)."""
    raw = spark.read.format("binaryFile").load(path)

    return map_rows(
        raw.select("content"),
        lambda content: [
            # REAL affinity: sqlite stores integral reals as ints on
            # disk; convert back like the engine does
            (*rec[:5], None if rec[5] is None else float(rec[5]))
            for rec in sqlite_rows(content, "documents", rowid_alias_col=0)
        ],
        DOCUMENTS_SCHEMA,
        cols=("content",),
        many=True,
    )
