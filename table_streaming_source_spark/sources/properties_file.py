"""Java ``.properties`` ingestion — a from-scratch parser of the
public ``java.util.Properties.load`` spec (the JDK javadoc): natural
lines join into logical lines via backslash continuation (leading
whitespace of the continuation is dropped), ``#``/``!`` start
comments, the key ends at the first unescaped ``=``, ``:`` or
whitespace separator, and ``\\uXXXX`` / ``\\t`` / ``\\n`` / ``\\\\``
escapes decode in both keys and values.  The 100 TB shape matches the
INI source: one document yields its rows
(:mod:`table_streaming_source_spark._rows`), malformed input raises
ValueError (the shared quarantine contract)."""

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
from table_streaming_source_spark.sources.ini_config import _try_int32

PROPERTIES_ROWS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("prop", StringType(), False),
        StructField("value", StringType(), False),
        StructField("value_int", IntegerType(), True),
    ]
)


def _unescape(s: str) -> str:
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c != "\\":
            out.append(c)
            i += 1
            continue
        if i + 1 >= len(s):
            raise ValueError("properties: dangling backslash")
        e = s[i + 1]
        if e == "u":
            hexs = s[i + 2:i + 6]
            if len(hexs) != 4:
                raise ValueError("properties: truncated \\u escape")
            try:
                out.append(chr(int(hexs, 16)))
            except ValueError:
                raise ValueError(
                    f"properties: bad \\u escape {hexs!r}"
                ) from None
            i += 6
        else:
            out.append({"t": "\t", "n": "\n", "r": "\r", "f": "\f"}
                       .get(e, e))
            i += 2
    return "".join(out)


def parse_properties(text: str) -> list[tuple[str, str]]:
    """``(key, value)`` pairs of one .properties document, spec
    order preserved (later duplicates override earlier, as the JDK's
    Hashtable semantics do — the LAST wins)."""
    # 1. natural lines → logical lines (continuation join)
    logical: list[str] = []
    pending = ""
    for raw in text.splitlines():
        line = raw.lstrip() if pending else raw
        stripped = line.lstrip()
        if not pending and (
            not stripped or stripped[0] in "#!"
        ):
            continue
        # a line continues iff it ends in an ODD number of backslashes
        n_bs = len(line) - len(line.rstrip("\\"))
        if n_bs % 2 == 1:
            pending += line[:-1]
        else:
            logical.append(pending + line)
            pending = ""
    if pending:
        logical.append(pending)
    out: dict[str, str] = {}
    for line in logical:
        line = line.lstrip()
        # find the first unescaped separator
        key_end = None
        i = 0
        while i < len(line):
            c = line[i]
            if c == "\\":
                i += 2
                continue
            if c in "=: \t":
                key_end = i
                break
            i += 1
        if key_end is None:
            out[_unescape(line)] = ""
            continue
        key = line[:key_end]
        rest = line[key_end:].lstrip(" \t")
        if rest and rest[0] in "=:":
            rest = rest[1:].lstrip(" \t")
        out[_unescape(key)] = _unescape(rest)
    return list(out.items())


def properties_rows(
    df: DataFrame, *, text_col: str = "props", key: str = "key"
) -> DataFrame:
    """Explode a column of .properties documents into typed rows;
    plain in-range integers surface in ``value_int`` (TRY_CAST
    convention: NULL, never a task failure)."""
    return map_docs(
        df,
        lambda t: [
            (prop, value, _try_int32(value))
            for prop, value in parse_properties(t)
        ],
        PROPERTIES_ROWS_SCHEMA,
        text_col=text_col,
        key=key,
        many=True,
    )
