"""M3U / Extended M3U playlist ingestion — a from-scratch parser of
the de-facto public format (``#EXTM3U`` header, ``#EXTINF:<seconds>,
<title>`` metadata lines each binding to the NEXT non-comment line's
media path): playlists are the manifest format of audio/video corpora
and HLS-adjacent pipelines.  One row per playlist
(:mod:`table_streaming_source_spark._rows`); malformed input (missing header, EXTINF without a following path, non-numeric
duration) raises ValueError for the quarantine path."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from table_streaming_source_spark._rows import map_docs

M3U_ROWS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("n_tracks", IntegerType(), False),
        StructField("total_duration", LongType(), False),
        StructField("max_duration", IntegerType(), False),
        StructField("n_ext", IntegerType(), False),
    ]
)


def synth_m3u(key: int) -> str:
    """Deterministic playlist: ``2 + key % 4`` tracks; track i runs
    ``120 + (key*7 + i*13) % 240`` seconds; one plain (non-EXTINF)
    path and one comment are mixed in to exercise the framing."""
    lines = ["#EXTM3U", "# generated playlist"]
    for i in range(2 + key % 4):
        dur = 120 + (key * 7 + i * 13) % 240
        lines.append(f"#EXTINF:{dur},track {i} of {key}")
        lines.append(f"media/{key}_{i}.mp3")
    lines.append(f"media/{key}_plain.mp3")  # track without EXTINF
    return "\n".join(lines) + "\n"


def parse_m3u(text: str | bytes) -> dict:
    if isinstance(text, (bytes, bytearray)):
        try:
            text = bytes(text).decode("utf-8")
        except UnicodeDecodeError:
            raise ValueError("m3u: undecodable byte") from None
    lines = [ln.rstrip("\r") for ln in text.splitlines()]
    if not lines or lines[0].strip() != "#EXTM3U":
        raise ValueError("m3u: missing #EXTM3U header")
    n_tracks = 0
    n_ext = 0
    total = 0
    mx = 0
    pending: int | None = None
    for ln, line in enumerate(lines[1:], 2):
        s = line.strip()
        if not s:
            continue
        if s.startswith("#EXTINF:"):
            if pending is not None:
                raise ValueError(
                    f"m3u: EXTINF without media path, line {ln}"
                )
            head, _, _title = s[len("#EXTINF:"):].partition(",")
            head = head.split()[0] if head.split() else head
            try:
                pending = int(float(head))
            except ValueError:
                raise ValueError(
                    f"m3u: non-numeric duration {head!r}, line {ln}"
                ) from None
            continue
        if s.startswith("#"):
            continue  # comment / other directive
        n_tracks += 1
        if pending is not None:
            n_ext += 1
            total += pending
            mx = max(mx, pending)
            pending = None
    if pending is not None:
        raise ValueError("m3u: trailing EXTINF without media path")
    if n_tracks == 0:
        raise ValueError("m3u: no tracks")
    return {
        "n_tracks": n_tracks,
        "total_duration": total,
        "max_duration": mx,
        "n_ext": n_ext,
    }


def m3u_rows(
    df: DataFrame, *, text_col: str = "m3u", key: str = "key"
) -> DataFrame:
    return map_docs(
        df, parse_m3u, M3U_ROWS_SCHEMA, text_col=text_col, key=key
    )
