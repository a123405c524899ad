"""libpcap capture ingestion — a from-scratch parser of the classic
pcap container (the tcpdump/wireshark format, public spec): 24-byte
global header (magic 0xA1B2C3D4 — byte order is DETECTED from it —
version 2.4, snaplen, linktype) and per-packet 16-byte record headers
(ts_sec, ts_usec, incl_len, orig_len) framing the capture bytes.
Network captures are a staple large-scale ingest/forensics workload;
one row per capture (:mod:`table_streaming_source_spark._rows`),
malformed records (bad magic,
truncated record, incl_len > snaplen, ts_usec overflow) raise
ValueError for the quarantine path."""

from __future__ import annotations

import struct
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from table_streaming_source_spark._rows import map_rows

PCAP_ROWS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("n_packets", IntegerType(), False),
        StructField("total_bytes", LongType(), False),
        StructField("byte_sum", LongType(), False),
        StructField("first_ts_sec", LongType(), False),
        StructField("span_usec", LongType(), False),
    ]
)

_MAGIC_LE = 0xA1B2C3D4
_BASE_TS = 1_700_000_000


def synth_pcap(key: int) -> bytes:
    """Deterministic little-endian capture: ``2 + key % 4`` packets;
    packet i has ``20 + (key + i*3) % 30`` bytes ``(key + i*7 + j) %
    256`` at ts = (BASE + i, (key*1000 + i*17) % 1_000_000)."""
    out = bytearray(
        struct.pack("<IHHiIII", _MAGIC_LE, 2, 4, 0, 0, 65535, 1)
    )
    for i in range(2 + key % 4):
        n = 20 + (key + i * 3) % 30
        data = bytes((key + i * 7 + j) % 256 for j in range(n))
        out += struct.pack(
            "<IIII",
            _BASE_TS + i,
            (key * 1000 + i * 17) % 1_000_000,
            n,
            n,
        )
        out += data
    return bytes(out)


def parse_pcap(payload: bytes) -> dict:
    """Per-capture rollup; byte order detected from the magic,
    record framing verified packet by packet."""
    if len(payload) < 24:
        raise ValueError("pcap: truncated global header")
    (magic,) = struct.unpack_from("<I", payload, 0)
    if magic == _MAGIC_LE:
        end = "<"
    elif magic == 0xD4C3B2A1:
        end = ">"
    else:
        raise ValueError(f"pcap: bad magic {magic:#x}")
    vmaj, vmin, _tz, _sig, snaplen, _link = struct.unpack_from(
        end + "HHiIII", payload, 4
    )
    if (vmaj, vmin) != (2, 4):
        raise ValueError(f"pcap: unsupported version {vmaj}.{vmin}")
    pos = 24
    n = 0
    total = 0
    byte_sum = 0
    first_ts = None
    t0 = t1 = 0
    while pos < len(payload):
        if pos + 16 > len(payload):
            raise ValueError("pcap: truncated record header")
        ts_sec, ts_usec, incl, orig = struct.unpack_from(
            end + "IIII", payload, pos
        )
        if ts_usec >= 1_000_000:
            raise ValueError(f"pcap: ts_usec overflow {ts_usec}")
        if incl > snaplen or incl > orig:
            raise ValueError("pcap: incl_len exceeds snaplen/orig_len")
        data = payload[pos + 16 : pos + 16 + incl]
        if len(data) != incl:
            raise ValueError("pcap: truncated packet data")
        t = ts_sec * 1_000_000 + ts_usec
        if first_ts is None:
            first_ts = ts_sec
            t0 = t1 = t
        t0, t1 = min(t0, t), max(t1, t)
        n += 1
        total += incl
        byte_sum += sum(data)
        pos += 16 + incl
    if n == 0:
        raise ValueError("pcap: no packets")
    return {
        "n_packets": n,
        "total_bytes": total,
        "byte_sum": byte_sum,
        "first_ts_sec": first_ts,
        "span_usec": t1 - t0,
    }


def pcap_rows(
    df: DataFrame, *, payload_col: str = "pcap", key: str = "key"
) -> DataFrame:
    return map_rows(
        df, parse_pcap, PCAP_ROWS_SCHEMA, cols=(payload_col,), key=key
    )
