"""From-scratch BSON codec (the public bsonspec.org grammar) — the
MongoDB-dump ingestion front door.

A BSON document is ``int32 total_len, elements..., 0x00``; each element
is ``type_byte, cstring key, typed payload``.  Implemented here with no
bson library: the writer emits the subset a document corpus needs
(string 0x02, embedded document 0x03, array 0x04, bool 0x08, int32
0x10, int64 0x12, double 0x01), the reader walks EVERY spec type it
knows and skips nothing silently — an unknown type byte raises
(quarantine), and both the document length prefix and the trailing NUL
are verified.

File layout: bare concatenated documents, exactly what ``mongodump``
emits in a ``.bson`` file.
"""

from __future__ import annotations

from table_streaming_source_spark._rows import map_rows
from table_streaming_source_spark.malformed import quarantinable

import struct
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _enc_cstring(s: str) -> bytes:
    raw = s.encode("utf-8")
    if b"\x00" in raw:
        raise ValueError("NUL in cstring key")
    return raw + b"\x00"


def _enc_element(key: str, value) -> bytes:
    if isinstance(value, bool):  # before int — bool is an int subclass
        return b"\x08" + _enc_cstring(key) + (b"\x01" if value else b"\x00")
    if isinstance(value, float):
        return b"\x01" + _enc_cstring(key) + struct.pack("<d", value)
    if isinstance(value, int):
        if -(2**31) <= value < 2**31:
            return b"\x10" + _enc_cstring(key) + struct.pack("<i", value)
        return b"\x12" + _enc_cstring(key) + struct.pack("<q", value)
    if isinstance(value, str):
        raw = value.encode("utf-8") + b"\x00"
        return (
            b"\x02"
            + _enc_cstring(key)
            + struct.pack("<i", len(raw))
            + raw
        )
    if isinstance(value, list):
        inner = encode_document(
            {str(i): v for i, v in enumerate(value)}
        )
        return b"\x04" + _enc_cstring(key) + inner
    if isinstance(value, dict):
        return b"\x03" + _enc_cstring(key) + encode_document(value)
    raise TypeError(f"unsupported value type {type(value)!r}")


def encode_document(doc: dict) -> bytes:
    body = b"".join(_enc_element(k, v) for k, v in doc.items())
    return struct.pack("<i", 4 + len(body) + 1) + body + b"\x00"


def _read_cstring(buf: bytes, pos: int) -> tuple[str, int]:
    end = buf.index(b"\x00", pos)
    return buf[pos:end].decode("utf-8"), end + 1


@quarantinable("BSON")
def decode_document(buf: bytes, pos: int = 0) -> tuple[dict, int]:
    """One document at ``pos`` → (dict, end_pos); length prefix and
    trailing NUL both enforced."""
    (total,) = struct.unpack_from("<i", buf, pos)
    end = pos + total
    if end > len(buf) or total < 5:
        raise ValueError("BSON document overruns buffer")
    if buf[end - 1] != 0:
        raise ValueError("BSON document missing trailing NUL")
    p = pos + 4
    out: dict = {}
    while p < end - 1:
        t = buf[p]
        key, p = _read_cstring(buf, p + 1)
        if t == 0x01:
            (v,) = struct.unpack_from("<d", buf, p)
            p += 8
        elif t == 0x02:
            (slen,) = struct.unpack_from("<i", buf, p)
            v = buf[p + 4 : p + 4 + slen - 1].decode("utf-8")
            if buf[p + 4 + slen - 1] != 0:
                raise ValueError("BSON string missing NUL")
            p += 4 + slen
        elif t in (0x03, 0x04):
            v, p2 = decode_document(buf, p)
            if t == 0x04:
                v = [v[str(i)] for i in range(len(v))]
            p = p2
        elif t == 0x08:
            v = buf[p] == 1
            p += 1
        elif t == 0x10:
            (v,) = struct.unpack_from("<i", buf, p)
            p += 4
        elif t == 0x12:
            (v,) = struct.unpack_from("<q", buf, p)
            p += 8
        else:
            raise ValueError(f"unsupported BSON type 0x{t:02x}")
        out[key] = v
    return out, end


def write_bson(path: str, docs: list[dict]) -> None:
    import os

    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        for d in docs:
            fh.write(encode_document(d))


_DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("text_md5", StringType(), False),
        StructField("n_chars", LongType(), False),
        StructField("lang", StringType(), False),
        StructField("n_tags", LongType(), False),
    ]
)


def _doc_rows(buf: bytes) -> Iterator[tuple]:
    """The fixture corpus's document projection, one row per document
    of one ``.bson`` dump."""
    import hashlib

    pos = 0
    while pos < len(buf):
        doc, pos = decode_document(buf, pos)
        yield (
            doc["doc_id"],
            hashlib.md5(doc["body"]["text"].encode("utf-8")).hexdigest(),
            doc["body"]["n_chars"],
            doc["meta"]["lang"],
            len(doc["tags"]),
        )


def read_bson_docs(spark: SparkSession, path: str) -> DataFrame:
    """All documents of every ``*.bson`` under ``path`` as
    ``(doc_id, text_md5, n_chars, lang, n_tags)`` — the dump-restore
    projection for the fixture corpus (one file per task)."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bson")
        .load(path)
        .select("content")
    )
    return map_rows(raw, _doc_rows, _DOC_SCHEMA, cols=("content",), many=True)


_BINARYFILE_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("modificationTime", TimestampType(), False),
        StructField("length", LongType(), False),
        StructField("content", BinaryType(), True),
    ]
)


def stream_bson_docs(
    spark: SparkSession, path: str, **reader_options
) -> DataFrame:
    """STREAMING BSON ingest: ``.bson`` dump files land in a directory,
    each micro-batch decodes only newly arrived files with the SAME
    stateless codec as :func:`read_bson_docs` — the batch/stream twin
    is free because the parser holds no cross-file state."""
    reader = spark.readStream.format("binaryFile").option(
        "pathGlobFilter", "*.bson"
    )
    for k, v in reader_options.items():
        reader = reader.option(k, str(v))
    raw = reader.schema(_BINARYFILE_SCHEMA).load(path).select("content")
    return map_rows(raw, _doc_rows, _DOC_SCHEMA, cols=("content",), many=True)
