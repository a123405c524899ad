"""Arrow row framing shared by the file-format sources
(:mod:`table_streaming_source_spark.sources`) and the multimodal
operators (:mod:`table_streaming_source_spark.operators.multimodal`).

:func:`map_rows` turns every input row of a DataFrame into output rows
by Arrow-batched ``mapInPandas`` over the frame as given: no
projection, no shuffle, so partitioning is preserved.  The contract:

- **Rows per input.**  ``fn`` is called once per input row with the
  values of the named input columns.  It returns one output row, or,
  with ``many=True``, an iterable of zero or more rows.  A row is a
  tuple in schema order or a dict keyed by column name.  With ``key``
  set, the schema names ``key`` first and ``int(key)`` leads every row.
- **Dtypes.**  Each output column is built with the pandas dtype of its
  Spark type: NOT NULL bigint/int/double/boolean get numpy ``int64`` /
  ``int32`` / ``float64`` / ``bool``; nullable ones get the masked
  ``Int64`` / ``Int32`` / ``boolean`` (``float64`` for double), so a
  ``None`` arrives as NULL, never as 0.  Other types (string, binary,
  map, ...) stay object columns.  A value its dtype cannot hold, such as
  2**31 in an int column or ``None`` in a NOT NULL one, raises while the
  batch is built instead of wrapping around.
- **Documents.**  :func:`map_docs` frames a text source: ``parse``
  gets each document of one string column, and a NULL document yields
  no rows (it is filtered out in the JVM, before the Python worker).
- **Errors.**  ``fn`` raises ``ValueError`` on malformed input, which
  fails the task: the quarantine path
  (:mod:`table_streaming_source_spark.malformed`).
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructType,
)

#: pandas dtype for a Spark column type: (NOT NULL, nullable)
_PANDAS_DTYPES = {
    LongType(): ("int64", "Int64"),
    IntegerType(): ("int32", "Int32"),
    DoubleType(): ("float64", "float64"),
    BooleanType(): ("bool", "boolean"),
}


def map_rows(
    df: DataFrame,
    fn: Callable[..., "tuple | dict | Iterable[tuple | dict]"],
    schema: "StructType | str",
    *,
    cols: "tuple[str, ...]",
    key: "str | None" = None,
    many: bool = False,
) -> DataFrame:
    """``df.mapInPandas`` of ``fn`` over the input columns ``cols``,
    framed into ``schema`` (a StructType, or a DDL string parsed once
    here on the driver).  See the module docstring for the contract."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.names
    row_names = names[1:] if key is not None else names
    dtypes = [
        _PANDAS_DTYPES.get(f.dataType, (None, None))[f.nullable]
        for f in schema.fields
    ]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            keys = pdf[key] if key is not None else [None] * len(pdf)
            rows = []
            for k, *vals in zip(keys, *(pdf[c] for c in cols)):
                out = fn(*vals)
                for row in out if many else (out,):
                    if isinstance(row, dict):
                        row = [row[n] for n in row_names]
                    rows.append(row if key is None else (int(k), *row))
            columns = list(zip(*rows)) if rows else [()] * len(names)
            yield pd.DataFrame(
                {
                    n: pd.Series(c, dtype=d)
                    for n, c, d in zip(names, columns, dtypes)
                }
            )

    return df.mapInPandas(batches, schema=schema)


def map_docs(
    df: DataFrame,
    parse: Callable[[str], "tuple | dict | Iterable[tuple | dict]"],
    schema: "StructType | str",
    *,
    text_col: str,
    key: str,
    many: bool = False,
) -> DataFrame:
    """:func:`map_rows` of ``parse`` over the non-NULL documents of the
    string column ``text_col``."""
    return map_rows(
        df.where(F.col(text_col).isNotNull()), parse, schema,
        cols=(text_col,), key=key, many=many,
    )
