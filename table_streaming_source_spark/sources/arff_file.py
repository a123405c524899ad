"""Weka ARFF ingestion — a from-scratch parser of the public ARFF
specification (the Weka "Attribute-Relation File Format" document):
``@RELATION name``, ``@ATTRIBUTE name <numeric|string|{nominal,...}>``
declarations, ``%`` comments, then ``@DATA`` CSV rows (``?`` =
missing, quoted strings honored).  ARFF is the lingua franca of the
classic ML-dataset repositories (UCI via Weka), so an ingestion lake
meets it constantly.  Same shape as every text source here: one
document yields its cells (:mod:`table_streaming_source_spark._rows`
frames them); structural errors (unknown
attribute type, arity mismatch, nominal value outside its domain)
raise ValueError — the shared quarantine contract."""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from table_streaming_source_spark._rows import map_docs

ARFF_CELLS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("relation", StringType(), False),
        StructField("row_idx", IntegerType(), False),
        StructField("attr", StringType(), False),
        StructField("attr_type", StringType(), False),
        StructField("value", StringType(), True),
        StructField("value_num", DoubleType(), True),
    ]
)


def _split_csv(line: str) -> list[str]:
    """One @DATA row → cells; single-quoted values may hold commas."""
    out, cur, quoted = [], [], False
    i = 0
    while i < len(line):
        ch = line[i]
        if quoted:
            if ch == "'":
                quoted = False
            else:
                cur.append(ch)
        elif ch == "'":
            quoted = True
        elif ch == ",":
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    if quoted:
        raise ValueError("arff: unterminated quoted value")
    out.append("".join(cur).strip())
    return out


def parse_arff(text: str) -> tuple[str, list[tuple], list[list]]:
    """``(relation, [(attr, type, domain)], rows)`` of one document.
    ``type`` ∈ {numeric, string, nominal}; nominal domains enforced."""
    relation = None
    attrs: list[tuple] = []
    rows: list[list] = []
    in_data = False
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("%"):
            continue
        low = line.lower()
        if in_data:
            cells = _split_csv(line)
            if len(cells) != len(attrs):
                raise ValueError(
                    f"arff: row arity {len(cells)} != {len(attrs)}"
                )
            row = []
            for cell, (name, typ, dom) in zip(cells, attrs):
                if cell == "?":
                    row.append(None)
                    continue
                if typ == "numeric":
                    try:
                        row.append(float(cell))
                    except ValueError:
                        raise ValueError(
                            f"arff: non-numeric {cell!r} in {name}"
                        ) from None
                elif typ == "nominal":
                    if cell not in dom:
                        raise ValueError(
                            f"arff: {cell!r} outside domain of {name}"
                        )
                    row.append(cell)
                else:
                    row.append(cell)
            rows.append(row)
            continue
        if low.startswith("@relation"):
            relation = line.split(None, 1)[1].strip().strip("'")
        elif low.startswith("@attribute"):
            rest = line.split(None, 1)[1]
            name, spec = rest.split(None, 1)
            name = name.strip().strip("'")
            spec = spec.strip()
            if spec.startswith("{"):
                if not spec.endswith("}"):
                    raise ValueError("arff: unterminated nominal domain")
                dom = {
                    v.strip().strip("'")
                    for v in spec[1:-1].split(",")
                }
                attrs.append((name, "nominal", dom))
            elif spec.lower() in ("numeric", "real", "integer"):
                attrs.append((name, "numeric", None))
            elif spec.lower() == "string":
                attrs.append((name, "string", None))
            else:
                raise ValueError(f"arff: unknown type {spec!r}")
        elif low.startswith("@data"):
            if relation is None or not attrs:
                raise ValueError("arff: @data before header")
            in_data = True
        else:
            raise ValueError(f"arff: unknown directive {line!r}")
    if not in_data:
        raise ValueError("arff: no @data section")
    return relation, attrs, rows


def arff_cells(
    df: DataFrame, *, text_col: str = "arff", key: str = "key"
) -> DataFrame:
    """Explode ARFF documents into long-form typed cells."""
    return map_docs(
        df, _arff_cells, ARFF_CELLS_SCHEMA, text_col=text_col, key=key,
        many=True,
    )


def _arff_cells(text) -> Iterator[tuple]:
    relation, attrs, data = parse_arff(text)
    for ri, row in enumerate(data):
        for (name, typ, _dom), cell in zip(attrs, row):
            yield (
                relation,
                ri,
                name,
                typ,
                None if cell is None else str(cell),
                cell if isinstance(cell, float) else None,
            )
