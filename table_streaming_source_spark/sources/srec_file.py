"""Motorola S-record ingestion — a from-scratch parser of the public
SREC format (the other classic firmware/EPROM container beside Intel
HEX, `sources/hex_records.py`): ``S<type><count><address><data><cksum>``
lines with S0 header, S1/S2/S3 data records (16/24/32-bit addresses),
an optional S5 record-count record, and S7/S8/S9 terminators.  The
checksum is the ONES' COMPLEMENT of the LSB of the sum over count +
address + data bytes — verified on every record; an S5 count that
disagrees with the number of data records raises.  One row per image
(:mod:`table_streaming_source_spark._rows`); malformed records raise
ValueError (quarantine)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from table_streaming_source_spark._rows import map_docs

SREC_ROWS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("n_data_records", IntegerType(), False),
        StructField("total_bytes", LongType(), False),
        StructField("byte_sum", LongType(), False),
        StructField("addr_min", LongType(), False),
        StructField("addr_max", LongType(), False),
        StructField("header_len", IntegerType(), False),
    ]
)

_ADDR_BYTES = {0: 2, 1: 2, 2: 3, 3: 4, 5: 2, 7: 4, 8: 3, 9: 2}


def _rec(typ: int, addr: int, data: bytes) -> str:
    na = _ADDR_BYTES[typ]
    addr_b = addr.to_bytes(na, "big")
    count = na + len(data) + 1
    body = bytes([count]) + addr_b + data
    cks = (~sum(body)) & 0xFF
    return f"S{typ}" + (body + bytes([cks])).hex().upper()


def synth_srec(key: int) -> str:
    """Deterministic image: an S0 header carrying ``HDR``, then
    ``1 + key % 4`` S2 data records of ``3 + key % 6`` bytes at
    24-bit addresses ``0x1000·(i+1) + key % 7``, bytes
    ``(key·5 + i·13 + j) % 256``, an S5 count record, and an S8
    terminator."""
    n = 1 + key % 4
    width = 3 + key % 6
    lines = [_rec(0, 0, b"HDR")]
    for i in range(n):
        data = bytes(
            (key * 5 + i * 13 + j) % 256 for j in range(width)
        )
        lines.append(_rec(2, 0x1000 * (i + 1) + key % 7, data))
    lines.append(_rec(5, n, b""))
    lines.append(_rec(8, 0, b""))
    return "\n".join(lines) + "\n"


def parse_srec(text: str | bytes) -> dict:
    """Aggregate stats of one image; checksum-verified per record,
    S5 count cross-checked against the data records seen."""
    if isinstance(text, (bytes, bytearray)):
        try:
            text = bytes(text).decode("ascii")
        except UnicodeDecodeError:
            raise ValueError("srec: non-ASCII byte") from None
    n_data = 0
    total = 0
    byte_sum = 0
    addrs: list[int] = []
    header_len = 0
    declared: int | None = None
    terminated = False
    for ln, raw in enumerate(text.splitlines(), 1):
        line = raw.strip()
        if not line:
            continue
        if terminated:
            raise ValueError(f"srec: record after terminator, line {ln}")
        if len(line) < 4 or line[0] != "S" or not line[1].isdigit():
            raise ValueError(f"srec: malformed record start, line {ln}")
        typ = int(line[1])
        if typ not in _ADDR_BYTES:
            raise ValueError(f"srec: unknown type S{typ}, line {ln}")
        try:
            blob = bytes.fromhex(line[2:])
        except ValueError:
            raise ValueError(f"srec: non-hex payload, line {ln}")
        if not blob or blob[0] != len(blob) - 1:
            raise ValueError(f"srec: count mismatch, line {ln}")
        if (~sum(blob[:-1])) & 0xFF != blob[-1]:
            raise ValueError(f"srec: checksum mismatch, line {ln}")
        na = _ADDR_BYTES[typ]
        addr = int.from_bytes(blob[1 : 1 + na], "big")
        data = blob[1 + na : -1]
        if typ == 0:
            header_len = len(data)
        elif typ in (1, 2, 3):
            n_data += 1
            total += len(data)
            byte_sum += sum(data)
            addrs.append(addr)
        elif typ == 5:
            declared = addr
        else:  # S7/S8/S9
            terminated = True
    if not terminated:
        raise ValueError("srec: missing terminator record")
    if declared is not None and declared != n_data:
        raise ValueError(
            f"srec: S5 declares {declared} records, saw {n_data}"
        )
    if not addrs:
        raise ValueError("srec: no data records")
    return {
        "n_data_records": n_data,
        "total_bytes": total,
        "byte_sum": byte_sum,
        "addr_min": min(addrs),
        "addr_max": max(addrs),
        "header_len": header_len,
    }


def srec_rows(
    df: DataFrame, *, text_col: str = "srec", key: str = "key"
) -> DataFrame:
    return map_docs(
        df, parse_srec, SREC_ROWS_SCHEMA, text_col=text_col, key=key
    )
