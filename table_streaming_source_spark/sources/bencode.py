"""Bencode ingestion — a from-scratch parser of the BitTorrent
metainfo encoding (BEP-3): ``i<int>e`` integers (no leading zeros,
no ``-0``), ``<len>:<bytes>`` byte strings, ``l…e`` lists, ``d…e``
dictionaries with STRICTLY sorted raw byte-string keys (the
canonical-form rule that makes infohashes well-defined).  Torrent
metainfo is how the large public web-scale corpora (academic crawls,
dataset mirrors) are actually distributed; an ingest pipeline parses
millions of these to inventory shards before fetching a byte.

One row per document (:mod:`table_streaming_source_spark._rows`);
malformed input (unsorted or non-string
dict keys, leading zeros, truncation, length prefix past the buffer,
trailing garbage, >64-deep nesting) raises ValueError for the
quarantine path (`tests/test_source_fuzz.py` contract)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from table_streaming_source_spark._rows import map_rows

_MAX_DEPTH = 64

BENCODE_ROWS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("n_keys", IntegerType(), False),
        StructField("n_ints", IntegerType(), False),
        StructField("sum_ints", LongType(), False),
        StructField("n_strs", IntegerType(), False),
        StructField("str_bytes", LongType(), False),
        StructField("max_depth", IntegerType(), False),
    ]
)


def synth_bencode(key: int) -> bytes:
    """Deterministic canonical metainfo-ish payload: a top dict
    (announce string, info dict with a files int-list / length /
    name, a small n) — keys emitted pre-sorted, so the strict parser
    round-trips it."""
    announce = f"udp://tracker{key % 5}.example".encode()
    name = f"doc{key}".encode()
    files = [(key + j) * 7 % 1000 for j in range(1 + key % 3)]
    fl = b"l" + b"".join(b"i%de" % v for v in files) + b"e"
    info = (
        b"d5:files" + fl
        + b"6:lengthi%de" % (key * 37 + 11)
        + b"4:name" + b"%d:%s" % (len(name), name)
        + b"e"
    )
    return (
        b"d8:announce" + b"%d:%s" % (len(announce), announce)
        + b"4:info" + info
        + b"1:ni%de" % (key % 7)
        + b"e"
    )


def _parse_value(data: bytes, pos: int, depth: int):
    """Recursive-descent parse from ``pos``; returns (value, end)."""
    if depth > _MAX_DEPTH:
        raise ValueError("bencode: nesting too deep")
    if pos >= len(data):
        raise ValueError("bencode: truncated value")
    c = data[pos]
    if c == 0x69:  # 'i'
        end = data.find(b"e", pos + 1)
        if end < 0:
            raise ValueError("bencode: unterminated integer")
        body = data[pos + 1 : end]
        neg = body.startswith(b"-")
        digits = body[1:] if neg else body
        if not digits or not digits.isdigit():
            raise ValueError(f"bencode: bad integer {body!r}")
        if digits[0:1] == b"0" and (len(digits) > 1 or neg):
            raise ValueError(f"bencode: non-canonical integer {body!r}")
        return int(body), end + 1
    if 0x30 <= c <= 0x39:  # digit: byte string
        colon = data.find(b":", pos)
        if colon < 0:
            raise ValueError("bencode: unterminated string length")
        ln_txt = data[pos:colon]
        if not ln_txt.isdigit() or (
            ln_txt[0:1] == b"0" and len(ln_txt) > 1
        ):
            raise ValueError(f"bencode: bad string length {ln_txt!r}")
        ln = int(ln_txt)
        end = colon + 1 + ln
        if end > len(data):
            raise ValueError("bencode: string past end of buffer")
        return bytes(data[colon + 1 : end]), end
    if c == 0x6C:  # 'l'
        out = []
        pos += 1
        while True:
            if pos >= len(data):
                raise ValueError("bencode: unterminated list")
            if data[pos] == 0x65:  # 'e'
                return out, pos + 1
            v, pos = _parse_value(data, pos, depth + 1)
            out.append(v)
    if c == 0x64:  # 'd'
        out: dict[bytes, object] = {}
        pos += 1
        prev = None
        while True:
            if pos >= len(data):
                raise ValueError("bencode: unterminated dict")
            if data[pos] == 0x65:
                return out, pos + 1
            k, pos = _parse_value(data, pos, depth + 1)
            if not isinstance(k, bytes):
                raise ValueError("bencode: non-string dict key")
            if prev is not None and k <= prev:
                raise ValueError(
                    f"bencode: dict keys not strictly sorted ({k!r})"
                )
            prev = k
            out[k], pos = _parse_value(data, pos, depth + 1)
    raise ValueError(f"bencode: unexpected byte {c:#x} at {pos}")


def parse_bencode(data: bytes) -> dict:
    """Parse ONE bencoded value (strict: canonical ints, sorted dict
    keys, no trailing bytes) and return structural metrics: top-level
    dict key count, int count/sum, VALUE-string count/bytes (dict
    keys excluded), max container depth."""
    if isinstance(data, (bytearray, memoryview)):
        data = bytes(data)
    value, end = _parse_value(data, 0, 1)
    if end != len(data):
        raise ValueError(f"bencode: {len(data) - end} trailing bytes")
    if not isinstance(value, dict):
        raise ValueError("bencode: top-level value must be a dict")
    m = {
        "n_keys": len(value),
        "n_ints": 0,
        "sum_ints": 0,
        "n_strs": 0,
        "str_bytes": 0,
        "max_depth": 0,
    }

    stack: list[tuple[object, int]] = [(value, 1)]
    while stack:
        v, d = stack.pop()
        if isinstance(v, dict):
            m["max_depth"] = max(m["max_depth"], d)
            stack.extend((x, d + 1) for x in v.values())
        elif isinstance(v, list):
            m["max_depth"] = max(m["max_depth"], d)
            stack.extend((x, d + 1) for x in v)
        elif isinstance(v, bytes):
            m["n_strs"] += 1
            m["str_bytes"] += len(v)
        else:
            m["n_ints"] += 1
            m["sum_ints"] += int(v)
    return m


def bencode_rows(
    df: DataFrame, *, data_col: str = "payload", key: str = "key"
) -> DataFrame:
    return map_rows(
        df, parse_bencode, BENCODE_ROWS_SCHEMA, cols=(data_col,), key=key
    )
