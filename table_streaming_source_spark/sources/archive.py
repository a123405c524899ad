"""Archive-container ingestion: TAR shards in the WebDataset layout
and ZIP archives — the wire formats multimodal/document training
corpora actually ship in (WebDataset tar shards feed most large-scale
image/text loaders; document dumps arrive zipped).

Both readers follow the repo's container discipline
(`sources/warc.py`, `sources/avro_ocf.py`): one archive file = one
Spark task via the built-in ``binaryFile`` source, a pure-Python
spec-level walker (ustar headers / ZIP central directory) that yields
the rows of one archive, framed by :mod:`table_streaming_source_spark._rows`,
and only parsed fields ever leave the executor.

WebDataset contract implemented: the files of one SAMPLE share a
basename stem and are stored CONTIGUOUSLY in the tar, so samples are
assembled inside the per-file walk with ZERO shuffle — that
contiguity is the whole reason the format exists (sequential reads +
shard-level parallelism at 100 TB).

ZIP: entries resolved from the END-OF-CENTRAL-DIRECTORY record and
central directory (the authoritative index — local headers may lie),
stored (0) and deflate (8) methods, CRC-32 verified per entry; a bad
CRC or unsupported method raises ``ValueError`` (quarantine path).
"""

from __future__ import annotations

from table_streaming_source_spark._rows import map_rows
from table_streaming_source_spark.malformed import (
    MAX_INFLATE_BYTES,
    bounded_inflate,
    quarantinable,
)

import struct
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)


# ---------------------------------------------------------------------------
# TAR / WebDataset
# ---------------------------------------------------------------------------


@quarantinable("TAR")
def _tar_entries(payload: bytes) -> list[tuple[str, bytes]]:
    """Walk ustar 512-byte blocks → ``[(name, content), ...]`` for
    regular files.  Stops at the double zero-block terminator."""
    out = []
    pos = 0
    n = len(payload)
    while pos + 512 <= n:
        header = payload[pos : pos + 512]
        if header == b"\0" * 512:
            break
        name = header[0:100].rstrip(b"\0").decode("utf-8")
        size_field = header[124:136].rstrip(b"\0 ").decode() or "0"
        size = int(size_field, 8)
        typeflag = header[156:157]
        data = payload[pos + 512 : pos + 512 + size]
        if len(data) != size:
            raise ValueError(f"truncated tar entry {name!r}")
        if typeflag in (b"0", b"\0"):
            out.append((name, data))
        pos += 512 + ((size + 511) // 512) * 512
    return out


def write_tar(path: str, entries: list[tuple[str, bytes]]) -> None:
    """Write a minimal ustar archive (regular files only)."""
    with open(path, "wb") as fh:
        for name, data in entries:
            header = bytearray(512)
            nb = name.encode("utf-8")
            header[0 : len(nb)] = nb
            header[100:108] = b"0000644\0"
            header[108:116] = b"0000000\0"
            header[116:124] = b"0000000\0"
            header[124:136] = f"{len(data):011o}\0".encode()
            header[136:148] = b"00000000000\0"
            header[148:156] = b" " * 8  # checksum placeholder
            header[156:157] = b"0"
            header[257:263] = b"ustar\0"
            header[263:265] = b"00"
            chk = sum(header)
            header[148:156] = f"{chk:06o}\0 ".encode()
            fh.write(bytes(header))
            fh.write(data)
            pad = (-len(data)) % 512
            fh.write(b"\0" * pad)
        fh.write(b"\0" * 1024)


WEBDATASET_SCHEMA = StructType(
    [
        StructField("sample_key", StringType(), False),
        StructField("n_files", LongType(), False),
        StructField("text", StringType(), True),
        StructField("meta_json", StringType(), True),
        StructField("cls", StringType(), True),
    ]
)


def read_webdataset(spark: SparkSession, path: str) -> DataFrame:
    """WebDataset tar-shard reader: group each shard's entries by
    basename stem into samples (``<stem>.txt`` → text, ``<stem>.json``
    → meta_json, ``<stem>.cls`` → cls), assembled WITHIN the per-file
    walk — sample contiguity is the format's contract, so no shuffle
    exists before the caller's own aggregation."""
    raw = spark.read.format("binaryFile").load(path)

    return map_rows(
        raw.select("content"), _webdataset_samples, WEBDATASET_SCHEMA,
        cols=("content",), many=True,
    )


def _webdataset_samples(content: bytes) -> Iterator[tuple]:
    samples: dict[str, dict] = {}
    for name, data in _tar_entries(content):
        stem, _, ext = name.rpartition(".")
        samples.setdefault(stem, {})[ext] = data
    for stem, files in samples.items():
        yield (
            stem,
            len(files),
            *(
                files[ext].decode("utf-8") if ext in files else None
                for ext in ("txt", "json", "cls")
            ),
        )


# ---------------------------------------------------------------------------
# ZIP
# ---------------------------------------------------------------------------

_EOCD_SIG = b"PK\x05\x06"
_CDIR_SIG = b"PK\x01\x02"


def write_zip(path: str, entries: list[tuple[str, bytes]]) -> None:
    """Write a ZIP with deflate-compressed entries (method 8), local
    headers + central directory + EOCD — the minimal spec-complete
    layout."""
    locals_: list[bytes] = []
    centrals: list[bytes] = []
    offset = 0
    for name, data in entries:
        nb = name.encode("utf-8")
        comp = zlib.compress(data, 6)[2:-4]  # raw deflate stream
        crc = zlib.crc32(data) & 0xFFFFFFFF
        local = (
            b"PK\x03\x04"
            + struct.pack(
                "<HHHHHIIIHH",
                20, 0, 8, 0, 0, crc, len(comp), len(data), len(nb), 0,
            )
            + nb
            + comp
        )
        central = (
            _CDIR_SIG
            + struct.pack(
                "<HHHHHHIIIHHHHHII",
                20, 20, 0, 8, 0, 0, crc, len(comp), len(data),
                len(nb), 0, 0, 0, 0, 0, offset,
            )
            + nb
        )
        locals_.append(local)
        centrals.append(central)
        offset += len(local)
    cdir = b"".join(centrals)
    eocd = _EOCD_SIG + struct.pack(
        "<HHHHIIH",
        0, 0, len(entries), len(entries), len(cdir), offset, 0,
    )
    with open(path, "wb") as fh:
        fh.write(b"".join(locals_) + cdir + eocd)


@quarantinable("ZIP")
def zip_entries(payload: bytes) -> list[tuple[str, bytes]]:
    """Resolve entries via EOCD → central directory (the authoritative
    index), decompress (stored/deflate), VERIFY CRC-32.  Malformed
    structure, unsupported methods, or CRC mismatches raise
    ``ValueError`` — the quarantine path."""
    eocd_pos = payload.rfind(_EOCD_SIG)
    if eocd_pos < 0:
        raise ValueError("no ZIP end-of-central-directory record")
    (_dn, _d, n_here, _n_total, cdir_size, cdir_off, _clen) = (
        struct.unpack("<HHHHIIH", payload[eocd_pos + 4 : eocd_pos + 22])
    )
    out = []
    pos = cdir_off
    for _ in range(n_here):
        if payload[pos : pos + 4] != _CDIR_SIG:
            raise ValueError("bad central-directory signature")
        (
            _ver, _need, _flags, method, _t, _d2, crc, csize, usize,
            nlen, elen, clen, _disk, _iattr, _eattr, lho,
        ) = struct.unpack("<HHHHHHIIIHHHHHII", payload[pos + 4 : pos + 46])
        name = payload[pos + 46 : pos + 46 + nlen].decode("utf-8")
        pos += 46 + nlen + elen + clen
        # local header: re-read name/extra lengths (they may differ)
        lnlen, lelen = struct.unpack(
            "<HH", payload[lho + 26 : lho + 30]
        )
        dstart = lho + 30 + lnlen + lelen
        comp = payload[dstart : dstart + csize]
        if method == 0:
            data = comp
        elif method == 8:
            # inflate against the DECLARED size — a crafted member
            # must not balloon before the post-hoc length check
            data = bounded_inflate(
                comp, declared=usize, fmt=f"ZIP member {name!r}"
            )
        else:
            raise ValueError(f"unsupported ZIP method {method}")
        if len(data) != usize:
            raise ValueError(f"ZIP size mismatch for {name!r}")
        if (zlib.crc32(data) & 0xFFFFFFFF) != crc:
            raise ValueError(f"ZIP CRC mismatch for {name!r}")
        out.append((name, data))
    return out


ZIP_SCHEMA = StructType(
    [
        StructField("entry_name", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("text", StringType(), False),
    ]
)


def read_zip_text(spark: SparkSession, path: str) -> DataFrame:
    """ZIP text-corpus reader: every entry of every archive, CRC-32
    verified during extraction, decoded as UTF-8."""
    raw = spark.read.format("binaryFile").load(path)

    return map_rows(
        raw.select("content"),
        lambda content: [
            (name, len(data), data.decode("utf-8"))
            for name, data in zip_entries(content)
        ],
        ZIP_SCHEMA,
        cols=("content",),
        many=True,
    )


# ---------------------------------------------------------------------------
# GZIP members (RFC 1952) — multi-member files, full header-flag surface
# ---------------------------------------------------------------------------


def write_gzip_members(path: str, entries: list[tuple[str, bytes]]) -> None:
    """One RFC-1952 member per entry, concatenated (multi-member gzip is
    spec-valid §2.2 — ``zcat`` semantics).  Header flags rotate per
    member so readers must honor the full skip chain: FNAME always;
    FEXTRA every 3rd member; FCOMMENT every 4th; FHCRC every 5th."""
    import os

    os.makedirs(os.path.dirname(path), exist_ok=True)
    out = bytearray()
    for i, (name, content) in enumerate(entries):
        flg = 0x08  # FNAME
        extra = b""
        comment = b""
        if i % 3 == 0:
            flg |= 0x04  # FEXTRA
            extra = struct.pack("<2sH", b"XX", 4) + b"abcd"
        if i % 4 == 0:
            flg |= 0x10  # FCOMMENT
            comment = f"member {i}".encode() + b"\x00"
        if i % 5 == 0:
            flg |= 0x02  # FHCRC
        header = bytearray(
            struct.pack("<2sBBIBB", b"\x1f\x8b", 8, flg, i * 1000, 0, 255)
        )
        if flg & 0x04:
            header += struct.pack("<H", len(extra)) + extra
        header += name.encode("utf-8") + b"\x00"
        if flg & 0x10:
            header += comment
        if flg & 0x02:
            header += struct.pack("<H", zlib.crc32(bytes(header)) & 0xFFFF)
        co = zlib.compressobj(9, zlib.DEFLATED, -15)
        deflated = co.compress(content) + co.flush()
        out += (
            bytes(header)
            + deflated
            + struct.pack(
                "<II", zlib.crc32(content), len(content) & 0xFFFFFFFF
            )
        )
    with open(path, "wb") as fh:
        fh.write(bytes(out))


def gzip_members(payload: bytes) -> list[tuple[str, bytes]]:
    """Walk every member of a (possibly multi-member) gzip stream:
    parse the RFC-1952 header — magic, CM=8, the FTEXT/FHCRC/FEXTRA/
    FNAME/FCOMMENT flag chain in spec order — inflate the raw deflate
    stream, and verify BOTH trailers (CRC-32 and ISIZE mod 2³²).  Any
    mismatch raises ``ValueError`` (quarantine path)."""
    out = []
    pos = 0
    while pos < len(payload):
        if payload[pos : pos + 2] != b"\x1f\x8b":
            raise ValueError("bad gzip magic")
        cm, flg = payload[pos + 2], payload[pos + 3]
        if cm != 8:
            raise ValueError(f"unsupported compression method {cm}")
        if flg & 0xE0:
            raise ValueError("reserved gzip FLG bits set")
        p = pos + 10
        if flg & 0x04:  # FEXTRA
            (xlen,) = struct.unpack_from("<H", payload, p)
            p += 2 + xlen
        name = ""
        if flg & 0x08:  # FNAME
            end = payload.index(b"\x00", p)
            name = payload[p:end].decode("utf-8", "replace")
            p = end + 1
        if flg & 0x10:  # FCOMMENT
            p = payload.index(b"\x00", p) + 1
        if flg & 0x02:  # FHCRC
            (hcrc,) = struct.unpack_from("<H", payload, p)
            if hcrc != (zlib.crc32(payload[pos:p]) & 0xFFFF):
                raise ValueError("gzip header CRC mismatch")
            p += 2
        d = zlib.decompressobj(-15)
        # ISIZE is a trailer (unknown until after the inflate) — cap
        # at the shared bomb guard instead
        content = d.decompress(payload[p:], MAX_INFLATE_BYTES + 1)
        if len(content) > MAX_INFLATE_BYTES:
            raise ValueError(
                f"gzip member {name!r} exceeds the inflate bomb guard"
            )
        content += d.flush()
        if not d.eof:
            raise ValueError("truncated deflate stream")
        consumed = len(payload) - pos - (p - pos) - len(d.unused_data)
        p += consumed
        crc, isize = struct.unpack_from("<II", payload, p)
        if crc != zlib.crc32(content):
            raise ValueError(f"gzip CRC mismatch in member {name!r}")
        if isize != (len(content) & 0xFFFFFFFF):
            raise ValueError(f"gzip ISIZE mismatch in member {name!r}")
        out.append((name, content))
        pos = p + 8
    return out


def read_gzip_text(spark: SparkSession, path: str) -> DataFrame:
    """All members of every ``*.gz`` under ``path`` as
    ``(archive, entry_name, n_bytes, text)`` — one archive per task."""
    schema = StructType(
        [
            StructField("archive", StringType(), False),
            StructField("entry_name", StringType(), False),
            StructField("n_bytes", LongType(), False),
            StructField("text", StringType(), False),
        ]
    )

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.gz")
        .load(path)
        .select("path", "content")
    )
    return map_rows(
        raw,
        lambda apath, blob: [
            (
                apath.rsplit("/", 1)[-1],
                name,
                len(content),
                content.decode("utf-8", "replace"),
            )
            for name, content in gzip_members(blob)
        ],
        schema,
        cols=("path", "content"),
        many=True,
    )
