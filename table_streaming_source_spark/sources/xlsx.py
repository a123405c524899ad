"""XLSX (OOXML spreadsheet, ECMA-376) ingestion — the format business
data actually arrives in.  An .xlsx file IS a ZIP of XML parts, so the
reader composes two surfaces this repo already implements from spec:
the central-directory ZIP walker (`sources/archive.py::zip_entries`,
CRC-verified) and stdlib XML parsing (the `source_xml` discipline).

Parts handled: ``xl/workbook.xml`` (sheet names), ``xl/sharedStrings.
xml`` (the string table — OOXML interns every string cell),
``xl/worksheets/sheet*.xml`` (cells as ``<c r="A1" t="s|n|inlineStr">``
with sparse rows).  The first sheet row is the HEADER; every following
row becomes one record keyed by header name — the CSV-reader contract
over the spreadsheet container.  Unknown cell types and a sheet whose
header row is missing raise ``ValueError`` (quarantine path).

Writer twin (:func:`write_xlsx`) emits a minimal spec-complete package
([Content_Types].xml, _rels, workbook, sheet, sharedStrings) through
:func:`~table_streaming_source_spark.sources.archive.write_zip`, so
round-trips exercise the REAL deflate + central-directory path.

Scale shape: one .xlsx file = one Spark task via ``binaryFile``; the
unzip + XML walk is partition-local and yields one row per record
(:mod:`table_streaming_source_spark._rows`); only parsed records leave
the executor.  Shard a big
export across many .xlsx files for parallelism exactly like the ZIP
corpus path.
"""

from __future__ import annotations

from table_streaming_source_spark._rows import map_rows
from table_streaming_source_spark.malformed import quarantinable

import re
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from table_streaming_source_spark.sources.archive import (
    write_zip,
    zip_entries,
)

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _esc(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def _col_letters(i: int) -> str:
    out = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        out = chr(ord("A") + r) + out
    return out


def _col_index(ref: str) -> int:
    """``'BC17'`` → zero-based column 54 (row digits ignored)."""
    i = 0
    for ch in ref:
        if ch.isdigit():
            break
        i = i * 26 + (ord(ch) - ord("A") + 1)
    return i - 1


def write_xlsx(
    path: str,
    header: list[str],
    rows: list[list[object]],
    *,
    sheet_name: str = "Sheet1",
) -> None:
    """Write a minimal spec-complete .xlsx: numbers as ``t="n"`` value
    cells, strings interned through the shared-string table."""
    strings: dict[str, int] = {}

    def sref(s: str) -> int:
        if s not in strings:
            strings[s] = len(strings)
        return strings[s]

    def cell(ref: str, v: object) -> str:
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return f'<c r="{ref}" t="n"><v>{v}</v></c>'
        return f'<c r="{ref}" t="s"><v>{sref(str(v))}</v></c>'

    body = []
    for rn, row in enumerate([list(header)] + rows, start=1):
        cells = "".join(
            cell(f"{_col_letters(ci)}{rn}", v)
            for ci, v in enumerate(row)
            if v is not None
        )
        body.append(f'<row r="{rn}">{cells}</row>')
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{_NS[1:-1]}"><sheetData>'
        + "".join(body)
        + "</sheetData></worksheet>"
    )
    sst_items = "".join(
        f'<si><t xml:space="preserve">{_esc(s)}</t></si>'
        for s in strings
    )
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<sst xmlns="{_NS[1:-1]}" count="{len(strings)}" '
        f'uniqueCount="{len(strings)}">{sst_items}</sst>'
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{_NS[1:-1]}" xmlns:r="http://schemas.'
        'openxmlformats.org/officeDocument/2006/relationships">'
        f'<sheets><sheet name="{_esc(sheet_name)}" sheetId="1" '
        'r:id="rId1"/></sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/'
        'package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.'
        'org/officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/>'
        '<Relationship Id="rId2" Type="http://schemas.openxmlformats.'
        'org/officeDocument/2006/relationships/sharedStrings" '
        'Target="sharedStrings.xml"/></Relationships>'
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/'
        'package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.'
        'org/officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    ctypes = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types">'
        '<Default Extension="rels" ContentType="application/vnd.'
        'openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application'
        '/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main'
        '+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="'
        'application/vnd.openxmlformats-officedocument.spreadsheetml.'
        'worksheet+xml"/>'
        '<Override PartName="/xl/sharedStrings.xml" ContentType="'
        'application/vnd.openxmlformats-officedocument.spreadsheetml.'
        'sharedStrings+xml"/></Types>'
    )
    write_zip(
        path,
        [
            ("[Content_Types].xml", ctypes.encode("utf-8")),
            ("_rels/.rels", root_rels.encode("utf-8")),
            ("xl/workbook.xml", workbook.encode("utf-8")),
            ("xl/_rels/workbook.xml.rels", wb_rels.encode("utf-8")),
            ("xl/worksheets/sheet1.xml", sheet.encode("utf-8")),
            ("xl/sharedStrings.xml", sst.encode("utf-8")),
        ],
    )


@quarantinable("XLSX")
def xlsx_records(payload: bytes) -> list[tuple[str, int, dict]]:
    """Parse one .xlsx payload → ``[(sheet_name, row_num, {header:
    value_str})]`` with the first sheet row as header.  Sparse rows
    yield only the present cells; shared-string and numeric cells are
    both rendered as their string form (the caller casts)."""
    parts = dict(zip_entries(payload))
    if "xl/workbook.xml" not in parts:
        raise ValueError("not an XLSX package: xl/workbook.xml missing")
    wb = ET.fromstring(parts["xl/workbook.xml"])
    sheet_names = [
        s.get("name") or ""
        for s in wb.iter(f"{_NS}sheet")
    ]
    sst: list[str] = []
    if "xl/sharedStrings.xml" in parts:
        for si in ET.fromstring(parts["xl/sharedStrings.xml"]).iter(
            f"{_NS}si"
        ):
            sst.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
    out: list[tuple[str, int, dict]] = []
    sheet_parts = sorted(
        n for n in parts
        if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)
    )
    for si_idx, part_name in enumerate(sheet_parts):
        name = (
            sheet_names[si_idx] if si_idx < len(sheet_names)
            else part_name
        )
        header: dict[int, str] = {}
        for row in ET.fromstring(parts[part_name]).iter(f"{_NS}row"):
            rn = int(row.get("r") or 0)
            cells: dict[int, str] = {}
            for c in row.iter(f"{_NS}c"):
                ref = c.get("r") or ""
                ctype = c.get("t") or "n"
                if ctype == "s":
                    v = c.find(f"{_NS}v")
                    cells[_col_index(ref)] = sst[int(v.text or "0")]
                elif ctype in ("n", "str", "b"):
                    v = c.find(f"{_NS}v")
                    if v is not None:
                        cells[_col_index(ref)] = v.text or ""
                elif ctype == "inlineStr":
                    cells[_col_index(ref)] = "".join(
                        t.text or "" for t in c.iter(f"{_NS}t")
                    )
                else:
                    raise ValueError(f"unsupported cell type {ctype!r}")
            if not header:
                if rn != 1:
                    raise ValueError(
                        f"sheet {name!r}: header row missing"
                    )
                header = dict(cells.items())
                continue
            out.append(
                (
                    name,
                    rn,
                    {
                        header[ci]: val
                        for ci, val in cells.items()
                        if ci in header
                    },
                )
            )
    return out


XLSX_SCHEMA = StructType(
    [
        StructField("sheet", StringType(), False),
        StructField("row_num", LongType(), False),
        StructField(
            "record", MapType(StringType(), StringType()), False
        ),
    ]
)


def read_xlsx(spark: SparkSession, path: str) -> DataFrame:
    """XLSX reader: every data row of every sheet of every file as
    (sheet, row_num, header→value map) — one file per task."""
    raw = spark.read.format("binaryFile").load(path)

    return map_rows(
        raw.select("content"), xlsx_records, XLSX_SCHEMA, cols=("content",),
        many=True,
    )
