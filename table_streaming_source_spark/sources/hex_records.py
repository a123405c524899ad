"""Intel HEX ingestion — a from-scratch parser of the public Intel
Hexadecimal Object File format (the classic firmware/EPROM image
container): ``:LLAAAATT<data>CC`` records with byte count, 16-bit
address, record type (00 data, 01 EOF, 04 extended linear address)
and the two's-complement CHECKSUM verified on every record.
Firmware blobs are a real binary-analysis corpus; one row per image
(:mod:`table_streaming_source_spark._rows`), malformed records raise
ValueError (quarantine)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from table_streaming_source_spark._rows import map_docs

HEX_ROWS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("n_data_records", IntegerType(), False),
        StructField("total_bytes", LongType(), False),
        StructField("byte_sum", LongType(), False),
        StructField("addr_min", LongType(), False),
        StructField("addr_max", LongType(), False),
        StructField("upper_segments", IntegerType(), False),
    ]
)


def synth_intel_hex(key: int) -> str:
    """Deterministic image: an 04 extended-address record selecting
    upper segment ``key % 3``, then ``1 + key % 4`` data records of
    ``4 + key % 5`` bytes at addresses ``0x100·(i+1)``, bytes
    ``(key·7 + i·11 + j) % 256``, then EOF."""

    def rec(addr: int, typ: int, data: bytes) -> str:
        body = bytes([len(data), (addr >> 8) & 0xFF, addr & 0xFF, typ])
        body += data
        cks = (-sum(body)) & 0xFF
        return ":" + (body + bytes([cks])).hex().upper()

    n = 1 + key % 4
    width = 4 + key % 5
    upper = key % 3
    lines = [rec(0, 4, bytes([0, upper]))]
    for i in range(n):
        data = bytes(
            (key * 7 + i * 11 + j) % 256 for j in range(width)
        )
        lines.append(rec(0x100 * (i + 1), 0, data))
    lines.append(rec(0, 1, b""))
    return "\n".join(lines) + "\n"


def parse_intel_hex(text: str) -> dict:
    """Aggregate stats of one image; checksum-verified per record.
    Addresses are the full 32-bit linear form (upper<<16 | addr)."""
    n_data = 0
    total = 0
    byte_sum = 0
    addrs: list[int] = []
    upper = 0
    uppers: set[int] = set()
    saw_eof = False
    for ln, raw in enumerate(text.splitlines(), 1):
        line = raw.strip()
        if not line:
            continue
        if saw_eof:
            raise ValueError(f"hex: record after EOF at line {ln}")
        if not line.startswith(":"):
            raise ValueError(f"hex: missing ':' at line {ln}")
        try:
            blob = bytes.fromhex(line[1:])
        except ValueError:
            raise ValueError(f"hex: non-hex at line {ln}") from None
        if len(blob) < 5:
            raise ValueError(f"hex: short record at line {ln}")
        count, ah, al, typ = blob[0], blob[1], blob[2], blob[3]
        data, cks = blob[4:-1], blob[-1]
        if len(data) != count:
            raise ValueError(f"hex: length mismatch at line {ln}")
        if (sum(blob[:-1]) + cks) & 0xFF != 0:
            raise ValueError(f"hex: bad checksum at line {ln}")
        addr = (ah << 8) | al
        if typ == 0:
            n_data += 1
            total += count
            byte_sum += sum(data)
            lin = (upper << 16) | addr
            addrs.append(lin)
            addrs.append(lin + count - 1)
        elif typ == 1:
            if count != 0:
                raise ValueError(f"hex: EOF with data at line {ln}")
            saw_eof = True
        elif typ == 4:
            if count != 2:
                raise ValueError(f"hex: bad 04 record at line {ln}")
            upper = (data[0] << 8) | data[1]
            uppers.add(upper)
        else:
            raise ValueError(f"hex: unsupported type {typ:02X}")
    if not saw_eof:
        raise ValueError("hex: missing EOF record")
    if not addrs:
        raise ValueError("hex: no data records")
    return {
        "n_data_records": n_data,
        "total_bytes": total,
        "byte_sum": byte_sum,
        "addr_min": min(addrs),
        "addr_max": max(addrs),
        "upper_segments": len(uppers),
    }


def intel_hex_rows(
    df: DataFrame, *, text_col: str = "hex", key: str = "key"
) -> DataFrame:
    return map_docs(
        df, parse_intel_hex, HEX_ROWS_SCHEMA, text_col=text_col, key=key
    )
