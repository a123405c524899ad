"""GFF3 ingestion — a from-scratch parser of the Generic Feature
Format v3 (the genome-annotation standard beside VCF/FASTA:
``##gff-version 3`` pragma, 9 tab-separated columns with '.' nulls,
1-based inclusive coordinates, and the ``key=value;...`` attributes
column with ID/Parent hierarchy).  Completes the genomics source trio
(`vcf_file.py`, `fasta_file.py`).  One row per file
(:mod:`table_streaming_source_spark._rows`); malformed input (missing pragma, wrong arity, end < start, bad
strand) raises ValueError for the quarantine path."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from table_streaming_source_spark._rows import map_docs

GFF3_ROWS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("n_features", IntegerType(), False),
        StructField("n_genes", IntegerType(), False),
        StructField("n_children", IntegerType(), False),
        StructField("span_sum", LongType(), False),
        StructField("n_plus_strand", IntegerType(), False),
    ]
)

_STRANDS = {"+", "-", ".", "?"}


def synth_gff3(key: int) -> str:
    """Deterministic annotation: ``1 + key % 3`` genes on chr1; gene g
    spans [1000·(g+1), 1000·(g+1) + 200 + (key+g) % 300] on strand
    +/− by parity, each with ``1 + (key + g) % 2`` child exons
    (Parent=gene id) of width 50 + (key+g) % 40."""
    lines = ["##gff-version 3"]
    for g in range(1 + key % 3):
        start = 1000 * (g + 1)
        end = start + 200 + (key + g) % 300
        strand = "+" if (key + g) % 2 == 0 else "-"
        gid = f"gene{key}_{g}"
        lines.append(
            f"chr1\tsynth\tgene\t{start}\t{end}\t.\t{strand}\t.\t"
            f"ID={gid};Name={gid}"
        )
        for c in range(1 + (key + g) % 2):
            cs = start + 10 + c * 60
            ce = cs + 50 + (key + g) % 40 - 1
            lines.append(
                f"chr1\tsynth\texon\t{cs}\t{ce}\t.\t{strand}\t.\t"
                f"ID={gid}.e{c};Parent={gid}"
            )
    return "\n".join(lines) + "\n"


def parse_gff3(text: str | bytes) -> dict:
    if isinstance(text, (bytes, bytearray)):
        try:
            text = bytes(text).decode("utf-8")
        except UnicodeDecodeError:
            raise ValueError("gff3: undecodable byte") from None
    saw_pragma = False
    n = n_genes = n_children = n_plus = 0
    span_sum = 0
    for ln, raw in enumerate(text.splitlines(), 1):
        line = raw.rstrip("\r")
        if not line:
            continue
        if line.startswith("##"):
            if ln == 1:
                if not line.startswith("##gff-version"):
                    raise ValueError("gff3: first pragma must be version")
                saw_pragma = True
            continue
        if line.startswith("#"):
            continue
        if not saw_pragma:
            raise ValueError("gff3: missing ##gff-version pragma")
        cols = line.split("\t")
        if len(cols) != 9:
            raise ValueError(
                f"gff3: expected 9 columns, got {len(cols)}, line {ln}"
            )
        _seq, _src, ftype, start, end, _score, strand, _phase, attrs = cols
        if not (start.isdigit() and end.isdigit()):
            raise ValueError(f"gff3: non-numeric coordinates, line {ln}")
        s, e = int(start), int(end)
        if e < s or s < 1:
            raise ValueError(f"gff3: bad interval [{s}, {e}], line {ln}")
        if strand not in _STRANDS:
            raise ValueError(f"gff3: bad strand {strand!r}, line {ln}")
        kv = {}
        for item in attrs.split(";"):
            name, sep, value = item.partition("=")
            if sep:
                kv[name.strip()] = value.strip()
        n += 1
        span_sum += e - s + 1
        if strand == "+":
            n_plus += 1
        if ftype == "gene":
            n_genes += 1
        if "Parent" in kv:
            n_children += 1
    if n == 0:
        raise ValueError("gff3: no features")
    return {
        "n_features": n,
        "n_genes": n_genes,
        "n_children": n_children,
        "span_sum": span_sum,
        "n_plus_strand": n_plus,
    }


def gff3_rows(
    df: DataFrame, *, text_col: str = "gff3", key: str = "key"
) -> DataFrame:
    return map_docs(
        df, parse_gff3, GFF3_ROWS_SCHEMA, text_col=text_col, key=key
    )
