"""WKT (Well-Known Text) geometry ingestion — a from-scratch parser of
the OGC Simple Features text subset (POINT / LINESTRING / POLYGON with
one ring): coordinate parsing, SHOELACE polygon area, and segment-sum
linestring length.  The geometry companion of the spatial joins
(`operators/joins.py::join_nearest_spatial` / point-in-polygon): those
consume coordinates, this produces them from the interchange text
every GIS export speaks.  One row per record
(:mod:`table_streaming_source_spark._rows`); malformed text
(unknown type, unclosed ring, odd coordinate arity, <3-point ring)
raises ValueError for the quarantine path."""

from __future__ import annotations

import re
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from table_streaming_source_spark._rows import map_docs

WKT_ROWS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("poly_area", DoubleType(), False),
        StructField("line_len", DoubleType(), False),
        StructField("n_line_points", IntegerType(), False),
        StructField("point_xy_sum", DoubleType(), False),
    ]
)


def synth_wkt(key: int) -> str:
    """Deterministic 3-geometry record (one per line): an axis-aligned
    rectangle POLYGON at (key%10, key%7) of size (1+key%5)×(1+key%3),
    a POINT at (key%13, key%11), and an axis-aligned LINESTRING of
    ``2 + key % 3`` unit-to-4 steps alternating x/y — so area and
    length are exact integers."""
    a, b = key % 10, key % 7
    w, h = 1 + key % 5, 1 + key % 3
    poly = (
        f"POLYGON (({a} {b}, {a + w} {b}, {a + w} {b + h}, "
        f"{a} {b + h}, {a} {b}))"
    )
    pts = [(key % 13, key % 11)]
    x, y = 0, 0
    coords = [(x, y)]
    for i in range(1 + key % 3):
        step = 1 + (key + i) % 4
        if i % 2 == 0:
            x += step
        else:
            y += step
        coords.append((x, y))
    line = "LINESTRING (" + ", ".join(
        f"{cx} {cy}" for cx, cy in coords
    ) + ")"
    point = f"POINT ({pts[0][0]} {pts[0][1]})"
    return "\n".join([poly, point, line]) + "\n"


_HEAD = re.compile(r"^\s*(POINT|LINESTRING|POLYGON)\s*\((.*)\)\s*$", re.S)


def _coords(body: str) -> list[tuple[float, float]]:
    out = []
    for part in body.split(","):
        nums = part.split()
        if len(nums) != 2:
            raise ValueError(f"wkt: bad coordinate {part!r}")
        try:
            out.append((float(nums[0]), float(nums[1])))
        except ValueError:
            raise ValueError(f"wkt: non-numeric coordinate {part!r}") \
                from None
    return out


def parse_wkt(text: str | bytes) -> dict:
    """Per-record rollup over one WKT document (one geometry per
    line): shoelace area of the polygon, exact segment-sum length of
    the linestring, the point's coordinate sum."""
    if isinstance(text, (bytes, bytearray)):
        try:
            text = bytes(text).decode("ascii")
        except UnicodeDecodeError:
            raise ValueError("wkt: non-ASCII byte") from None
    area = None
    line_len = None
    n_line = 0
    pt_sum = None
    for ln, raw in enumerate(text.splitlines(), 1):
        line = raw.strip()
        if not line:
            continue
        m = _HEAD.match(line)
        if not m:
            raise ValueError(f"wkt: unrecognized geometry, line {ln}")
        kind, body = m[1], m[2]
        if kind == "POINT":
            (x, y), = _coords(body)
            pt_sum = x + y
        elif kind == "LINESTRING":
            cs = _coords(body)
            if len(cs) < 2:
                raise ValueError(f"wkt: linestring needs 2+ points, line {ln}")
            n_line = len(cs)
            line_len = sum(
                ((x2 - x1) ** 2 + (y2 - y1) ** 2) ** 0.5
                for (x1, y1), (x2, y2) in zip(cs, cs[1:])
            )
        else:  # POLYGON, single ring
            inner = body.strip()
            if not (inner.startswith("(") and inner.endswith(")")):
                raise ValueError(f"wkt: polygon ring parens, line {ln}")
            cs = _coords(inner[1:-1])
            if len(cs) < 4 or cs[0] != cs[-1]:
                raise ValueError(f"wkt: unclosed/short ring, line {ln}")
            s = 0.0
            for (x1, y1), (x2, y2) in zip(cs, cs[1:]):
                s += x1 * y2 - x2 * y1
            area = abs(s) / 2.0
    if area is None or line_len is None or pt_sum is None:
        raise ValueError("wkt: record must carry polygon+point+linestring")
    return {
        "poly_area": area,
        "line_len": line_len,
        "n_line_points": n_line,
        "point_xy_sum": pt_sum,
    }


def wkt_rows(
    df: DataFrame, *, text_col: str = "wkt", key: str = "key"
) -> DataFrame:
    return map_docs(
        df, parse_wkt, WKT_ROWS_SCHEMA, text_col=text_col, key=key
    )
