"""From-scratch dBASE III (DBF) reader/writer — the Xbase format that
still underlies shapefile attribute tables and legacy BI exports.

Public layout: a 32-byte file header (version byte 0x03, LE record
count, header size, record size), 32-byte field descriptors (11-byte
NUL-padded name, type C/N/L/D, length, decimal count) terminated by
0x0D, then fixed-width records each led by a deletion flag (0x20
active, 0x2A deleted) and closed by a 0x1A EOF byte.  Deleted records
are SKIPPED on read (that's the format's soft-delete contract);
C fields strip right padding, N fields parse right-justified digits,
L fields map T/t/Y/y → true.
"""

from __future__ import annotations

from table_streaming_source_spark._rows import map_rows
from table_streaming_source_spark.malformed import quarantinable

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def write_dbf(
    path: str,
    fields: list[tuple[str, str, int, int]],
    records: list[tuple],
    *,
    deleted_rows: set[int] = frozenset(),
) -> None:
    """``fields`` = (name, type C/N/L, length, decimals); rows in
    ``deleted_rows`` (by index) get the 0x2A soft-delete flag."""
    import os

    os.makedirs(os.path.dirname(path), exist_ok=True)
    rec_size = 1 + sum(f[2] for f in fields)
    header_size = 32 + 32 * len(fields) + 1
    out = bytearray()
    out += struct.pack(
        "<B3BIHH20x", 0x03, 24, 1, 1, len(records), header_size, rec_size
    )
    for name, ftype, flen, fdec in fields:
        out += struct.pack(
            "<11sc4xBB14x",
            name.encode("ascii")[:11],
            ftype.encode("ascii"),
            flen,
            fdec,
        )
    out += b"\x0d"
    for i, rec in enumerate(records):
        out += b"\x2a" if i in deleted_rows else b"\x20"
        for (name, ftype, flen, fdec), value in zip(fields, rec):
            if ftype == "C":
                out += str(value).encode("utf-8")[:flen].ljust(flen)
            elif ftype == "N":
                out += str(int(value)).rjust(flen).encode("ascii")
            elif ftype == "L":
                out += b"T" if value else b"F"
            else:
                raise ValueError(f"unsupported field type {ftype}")
    out += b"\x1a"
    with open(path, "wb") as fh:
        fh.write(bytes(out))


@quarantinable("DBF")
def dbf_records(payload: bytes) -> tuple[list[tuple[str, str]], list[dict]]:
    """Parse header + descriptors + ACTIVE records → (fields, rows)."""
    if payload[0] not in (0x02, 0x03):
        raise ValueError(f"unsupported DBF version 0x{payload[0]:02x}")
    n_rec, header_size, rec_size = struct.unpack_from("<IHH", payload, 4)
    fields: list[tuple[str, str, int]] = []
    pos = 32
    while payload[pos] != 0x0D:
        name = payload[pos : pos + 11].split(b"\x00")[0].decode("ascii")
        ftype = chr(payload[pos + 11])
        flen = payload[pos + 16]
        fields.append((name, ftype, flen))
        pos += 32
    if 1 + sum(f[2] for f in fields) != rec_size:
        raise ValueError("DBF record size disagrees with descriptors")
    rows = []
    pos = header_size
    for _ in range(n_rec):
        flag = payload[pos]
        p = pos + 1
        rec: dict = {}
        for name, ftype, flen in fields:
            raw = payload[p : p + flen]
            if ftype == "C":
                rec[name] = raw.decode("utf-8", "replace").rstrip()
            elif ftype == "N":
                txt = raw.decode("ascii").strip()
                rec[name] = int(txt) if txt else None
            elif ftype == "L":
                rec[name] = raw in (b"T", b"t", b"Y", b"y")
            else:
                raise ValueError(f"unsupported DBF field type {ftype}")
            p += flen
        if flag == 0x20:
            rows.append(rec)
        elif flag != 0x2A:
            raise ValueError(f"bad deletion flag 0x{flag:02x}")
        pos += rec_size
    return [(f[0], f[1]) for f in fields], rows


def read_dbf_docs(spark: SparkSession, path: str) -> DataFrame:
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("lang", StringType(), False),
            StructField("n_chars", LongType(), False),
            StructField("flag", BooleanType(), False),
        ]
    )

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.dbf")
        .load(path)
        .select("content")
    )
    return map_rows(
        raw,
        lambda blob: [
            (r["ID"], r["LANG"], r["NCHARS"], r["FLAG"])
            for r in dbf_records(blob)[1]
        ],
        schema,
        cols=("content",),
        many=True,
    )
