"""VCF (Variant Call Format) ingestion — a from-scratch parser of the
public VCF 4.x text layout: ``##`` meta lines, the ``#CHROM`` column
header, and tab-separated variant rows (CHROM POS ID REF ALT QUAL
FILTER INFO) with ``key=value;...`` INFO fields.  The genomics
companion of `sources/fasta_file.py`; the rollup includes the Ts/Tv
(transition/transversion) ratio components — the classic variant-call
QC statistic.  One row per file (:mod:`table_streaming_source_spark._rows`);
malformed input (missing
header, short rows, non-numeric POS/QUAL, REF==ALT) raises ValueError
for the quarantine path."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from table_streaming_source_spark._rows import map_docs

VCF_ROWS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("n_variants", IntegerType(), False),
        StructField("n_transitions", IntegerType(), False),
        StructField("n_transversions", IntegerType(), False),
        StructField("sum_dp", LongType(), False),
        StructField("qual_sum", LongType(), False),
    ]
)

_BASES = "ACGT"
_TRANSITIONS = {("A", "G"), ("G", "A"), ("C", "T"), ("T", "C")}


def synth_vcf(key: int) -> str:
    """Deterministic single-sample VCF: ``3 + key % 4`` variants on
    chr1; variant i sits at POS 1000·(i+1) + key%97, REF =
    ACGT[(key+i)%4], ALT = ACGT[(ref_idx + 1 + (key+i)%3) % 4]
    (never equal to REF), QUAL = 30 + (key+i)%40, INFO carries
    DP = 10 + (key + i*13) % 50."""
    lines = [
        "##fileformat=VCFv4.2",
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">',
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
    ]
    for i in range(3 + key % 4):
        r = (key + i) % 4
        a = (r + 1 + (key + i) % 3) % 4
        dp = 10 + (key + i * 13) % 50
        lines.append(
            f"chr1\t{1000 * (i + 1) + key % 97}\trs{key}_{i}\t"
            f"{_BASES[r]}\t{_BASES[a]}\t{30 + (key + i) % 40}\t"
            f"PASS\tDP={dp};AF=0.5"
        )
    return "\n".join(lines) + "\n"


def parse_vcf(text: str | bytes) -> dict:
    if isinstance(text, (bytes, bytearray)):
        try:
            text = bytes(text).decode("utf-8")
        except UnicodeDecodeError:
            raise ValueError("vcf: undecodable byte") from None
    saw_header = False
    n = ts = tv = 0
    sum_dp = 0
    qual_sum = 0
    for ln, raw in enumerate(text.splitlines(), 1):
        line = raw.rstrip("\r")
        if not line:
            continue
        if line.startswith("##"):
            if saw_header:
                raise ValueError(f"vcf: meta line after header, line {ln}")
            continue
        if line.startswith("#"):
            cols = line[1:].split("\t")
            if cols[:8] != [
                "CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER",
                "INFO",
            ]:
                raise ValueError(f"vcf: bad column header, line {ln}")
            saw_header = True
            continue
        if not saw_header:
            raise ValueError(f"vcf: data before #CHROM header, line {ln}")
        parts = line.split("\t")
        if len(parts) < 8:
            raise ValueError(f"vcf: short row ({len(parts)}), line {ln}")
        _chrom, pos, _vid, ref, alt, qual, _filt, info = parts[:8]
        if not pos.isdigit():
            raise ValueError(f"vcf: non-numeric POS {pos!r}, line {ln}")
        if ref == alt:
            raise ValueError(f"vcf: REF == ALT at line {ln}")
        try:
            q = int(qual)
        except ValueError:
            raise ValueError(
                f"vcf: non-integer QUAL {qual!r}, line {ln}"
            ) from None
        kv = {}
        for item in info.split(";"):
            name, sep, value = item.partition("=")
            if sep:
                kv[name] = value
        dp = kv.get("DP")
        if dp is not None:
            if not dp.isdigit():
                raise ValueError(f"vcf: non-integer DP {dp!r}, line {ln}")
            sum_dp += int(dp)
        n += 1
        qual_sum += q
        if len(ref) == 1 and len(alt) == 1:
            if (ref, alt) in _TRANSITIONS:
                ts += 1
            else:
                tv += 1
    if not saw_header:
        raise ValueError("vcf: missing #CHROM header")
    if n == 0:
        raise ValueError("vcf: no variants")
    return {
        "n_variants": n,
        "n_transitions": ts,
        "n_transversions": tv,
        "sum_dp": sum_dp,
        "qual_sum": qual_sum,
    }


def vcf_rows(
    df: DataFrame, *, text_col: str = "vcf", key: str = "key"
) -> DataFrame:
    return map_docs(
        df, parse_vcf, VCF_ROWS_SCHEMA, text_col=text_col, key=key
    )
