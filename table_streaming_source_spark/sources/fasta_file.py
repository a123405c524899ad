"""FASTA ingestion — a from-scratch parser of the classic sequence
container (``>id description`` header lines, sequence data wrapped
across following lines until the next header): per-record id, length,
GC count, and per-file rollups.  Bioinformatics corpora are a staple
large-scale ingest workload; one row per file
(:mod:`table_streaming_source_spark._rows`), and malformed input (data
before any header, empty record,
non-IUPAC characters) raises ValueError for the quarantine path."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from table_streaming_source_spark._rows import map_docs

FASTA_ROWS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("n_seqs", IntegerType(), False),
        StructField("total_len", LongType(), False),
        StructField("gc_count", LongType(), False),
        StructField("longest", IntegerType(), False),
    ]
)

_BASES = "ACGT"
_VALID = set("ACGTUNRYKMSWBDHV")  # IUPAC nucleotide codes


def synth_fasta(key: int, wrap: int = 10) -> str:
    """Deterministic multi-record file: ``2 + key % 3`` sequences,
    sequence ``i`` of length ``30 + (key·3 + i·7) % 40`` with base
    ``ACGT[(key + i·5 + j) % 4]`` at position j, wrapped at ``wrap``
    columns (so every record spans multiple lines)."""
    lines: list[str] = []
    for i in range(2 + key % 3):
        n = 30 + (key * 3 + i * 7) % 40
        seq = "".join(
            _BASES[(key + i * 5 + j) % 4] for j in range(n)
        )
        lines.append(f">seq{i} doc{key}")
        for off in range(0, n, wrap):
            lines.append(seq[off : off + wrap])
    return "\n".join(lines) + "\n"


def parse_fasta(text: str | bytes) -> dict:
    """Per-file rollup; raises on data before a header, an empty
    record, or a non-IUPAC residue."""
    if isinstance(text, (bytes, bytearray)):
        try:
            text = bytes(text).decode("ascii")
        except UnicodeDecodeError:
            raise ValueError("fasta: non-ASCII byte") from None
    seqs: list[int] = []
    gc = 0
    cur: int | None = None
    for ln, raw in enumerate(text.splitlines(), 1):
        line = raw.strip()
        if not line:
            continue
        if line.startswith(">"):
            if cur is not None:
                if cur == 0:
                    raise ValueError(f"fasta: empty record before line {ln}")
                seqs.append(cur)
            cur = 0
            continue
        if cur is None:
            raise ValueError(f"fasta: sequence data before header, line {ln}")
        up = line.upper()
        bad = set(up) - _VALID
        if bad:
            raise ValueError(
                f"fasta: invalid residue {sorted(bad)[0]!r}, line {ln}"
            )
        cur += len(up)
        gc += up.count("G") + up.count("C")
    if cur is None:
        raise ValueError("fasta: no records")
    if cur == 0:
        raise ValueError("fasta: empty trailing record")
    seqs.append(cur)
    return {
        "n_seqs": len(seqs),
        "total_len": sum(seqs),
        "gc_count": gc,
        "longest": max(seqs),
    }


def fasta_rows(
    df: DataFrame, *, text_col: str = "fasta", key: str = "key"
) -> DataFrame:
    return map_docs(
        df, parse_fasta, FASTA_ROWS_SCHEMA, text_col=text_col, key=key
    )
