"""INI / config-file ingestion: parse ``.ini`` dialect text (sections,
``key = value`` pairs, ``;``/``#`` comments, case-insensitive keys)
into relational rows with Python's stdlib ``configparser`` — the
battle-tested reference parser for the format.  The 100 TB shape
matches every other text source here: one config blob yields its rows
(:mod:`table_streaming_source_spark._rows` frames them), nothing
shuffles until the caller aggregates, and malformed blobs raise
:class:`ValueError` (the shared quarantine contract,
``malformed.py``).
"""

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

INI_ROWS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("section", StringType(), False),
        StructField("prop", StringType(), False),
        StructField("value", StringType(), False),
        StructField("value_int", IntegerType(), True),
    ]
)


def parse_ini(text: str) -> list[tuple[str, str, str]]:
    """``(section, prop, value)`` triples of one INI document via
    ``configparser`` (strict mode: duplicate sections/options raise).
    Structural errors surface as :class:`ValueError`."""
    import configparser

    cp = configparser.ConfigParser(strict=True)
    try:
        cp.read_string(text)
    except configparser.Error as exc:
        raise ValueError(f"ini: {exc}") from None
    out = []
    for section in cp.sections():
        for prop, value in cp.items(section):
            out.append((section, prop, value))
    return out


def _try_int32(value: str) -> int | None:
    """TRY_CAST(value AS INTEGER): the int32 value, or None when the
    text is not a plain in-range integer.  ``int()`` is the arbiter —
    a digit-shape pre-filter accepts ``--5`` (lstrip strips BOTH signs)
    and anything past int32 range would later fail the Int32 Series
    build as a task error instead of a NULL cell."""
    if "_" in value:  # Python's int() accepts 5_0; SQL casts do not
        return None
    try:
        n = int(value)
    except ValueError:
        return None
    return n if -(2**31) <= n < 2**31 else None


def ini_rows(
    df: DataFrame, *, text_col: str = "ini", key: str = "key"
) -> DataFrame:
    """Explode a column of INI documents into typed rows; integer
    values additionally surface as ``value_int`` (NULL when the value
    is not a plain integer — the TRY_CAST convention)."""
    return map_docs(
        df,
        lambda t: [
            (section, prop, value, _try_int32(value))
            for section, prop, value in parse_ini(t)
        ],
        INI_ROWS_SCHEMA,
        text_col=text_col,
        key=key,
        many=True,
    )
