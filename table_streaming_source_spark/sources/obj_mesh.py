"""Wavefront OBJ ingestion — a from-scratch parser of the classic
3D-asset text format (``v x y z`` vertices, ``f i j k ...`` faces with
1-based and NEGATIVE relative indices, ``vn``/``vt``/``o``/comments):
3D meshes are a first-class multimodal-corpus payload (asset
pipelines, text-to-3D training sets), and the container stats —
vertex/face counts, triangle-fan triangulation count, bounding box —
are the dedup/quality signals such pipelines key on.  One row per mesh
(:mod:`table_streaming_source_spark._rows`); malformed input (short vertex, index out of range,
face arity < 3) raises ValueError for the quarantine path."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from table_streaming_source_spark._rows import map_docs

OBJ_ROWS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("n_vertices", IntegerType(), False),
        StructField("n_faces", IntegerType(), False),
        StructField("n_triangles", IntegerType(), False),
        StructField("bbox_volume", DoubleType(), False),
    ]
)


def synth_obj(key: int) -> str:
    """Deterministic mesh: an axis-aligned box of size
    (1+key%5) × (1+key%3) × (1+key%7) at origin (8 vertices, 6 quad
    faces — one written with NEGATIVE relative indices to exercise
    that rule), plus ``key % 3`` extra triangle faces over the box
    corners."""
    w, h, d = 1 + key % 5, 1 + key % 3, 1 + key % 7
    vs = [
        (0, 0, 0), (w, 0, 0), (w, h, 0), (0, h, 0),
        (0, 0, d), (w, 0, d), (w, h, d), (0, h, d),
    ]
    lines = [f"# synth mesh {key}", f"o box{key}"]
    lines += [f"v {x} {y} {z}" for x, y, z in vs]
    quads = [
        (1, 2, 3, 4), (5, 6, 7, 8), (1, 2, 6, 5),
        (2, 3, 7, 6), (3, 4, 8, 7),
    ]
    lines += [f"f {a} {b} {c} {dd}" for a, b, c, dd in quads]
    lines.append("f -8 -5 -1 -4")  # (4,1,8,5) via relative indices
    for i in range(key % 3):
        a, b, c = 1 + i % 8, 1 + (i + 2) % 8, 1 + (i + 5) % 8
        lines.append(f"f {a} {b} {c}")
    return "\n".join(lines) + "\n"


def parse_obj(text: str | bytes) -> dict:
    if isinstance(text, (bytes, bytearray)):
        try:
            text = bytes(text).decode("utf-8")
        except UnicodeDecodeError:
            raise ValueError("obj: undecodable byte") from None
    verts: list[tuple[float, float, float]] = []
    n_faces = 0
    n_tris = 0
    for ln, raw in enumerate(text.splitlines(), 1):
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        parts = line.split()
        kind = parts[0]
        if kind == "v":
            if len(parts) < 4:
                raise ValueError(f"obj: short vertex, line {ln}")
            try:
                verts.append(
                    (float(parts[1]), float(parts[2]), float(parts[3]))
                )
            except ValueError:
                raise ValueError(
                    f"obj: non-numeric vertex, line {ln}"
                ) from None
        elif kind == "f":
            idxs = []
            for p in parts[1:]:
                head = p.split("/")[0]
                try:
                    i = int(head)
                except ValueError:
                    raise ValueError(
                        f"obj: non-integer face index, line {ln}"
                    ) from None
                if i == 0:
                    raise ValueError(f"obj: zero face index, line {ln}")
                if i < 0:
                    i = len(verts) + 1 + i  # relative to the last vertex
                if not 1 <= i <= len(verts):
                    raise ValueError(
                        f"obj: face index {i} out of range, line {ln}"
                    )
                idxs.append(i)
            if len(idxs) < 3:
                raise ValueError(f"obj: face arity < 3, line {ln}")
            n_faces += 1
            n_tris += len(idxs) - 2  # triangle-fan triangulation
        # vn / vt / o / g / usemtl ... are structural no-ops here
    if not verts or n_faces == 0:
        raise ValueError("obj: empty mesh")
    xs, ys, zs = zip(*verts)
    vol = (
        (max(xs) - min(xs)) * (max(ys) - min(ys)) * (max(zs) - min(zs))
    )
    return {
        "n_vertices": len(verts),
        "n_faces": n_faces,
        "n_triangles": n_tris,
        "bbox_volume": float(vol),
    }


def obj_rows(
    df: DataFrame, *, text_col: str = "obj", key: str = "key"
) -> DataFrame:
    return map_docs(
        df, parse_obj, OBJ_ROWS_SCHEMA, text_col=text_col, key=key
    )
