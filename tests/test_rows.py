"""The shared Arrow row framing (`table_streaming_source_spark/_rows.py`):
rows per input, the dtype rule, and failure on a value its column
cannot hold.  The last tests drive it through public sources: one per
cardinality, which hold at the commit before the helper existed, and a
NULL document in each of the thirteen text sources."""

import importlib

import pandas as pd
import pytest
from pyspark.sql.types import StructType

from table_streaming_source_spark._rows import map_rows
from table_streaming_source_spark.sources.ini_config import ini_rows
from table_streaming_source_spark.sources.robots_txt import (
    robots_rows,
    synth_robots,
)

_SCHEMA = (
    "key long NOT NULL, n int NOT NULL, big long NOT NULL, "
    "x double NOT NULL, ok boolean NOT NULL, s string, "
    "n_null int, big_null long, x_null double, ok_null boolean"
)


class _Capture:
    """Stands in for a DataFrame: keeps the batch function that
    ``map_rows`` hands to ``mapInPandas``.  Parsing the DDL schema still
    needs a live session, hence the ``spark`` fixture below."""

    def mapInPandas(self, fn, schema):
        self.fn, self.schema = fn, schema
        return self


def _frames(fn, batches, **kw):
    cap = map_rows(_Capture(), fn, _SCHEMA, cols=("v",), key="k", **kw)
    return list(cap.fn(iter(batches)))


def test_empty_partition_gives_declared_dtypes(spark):
    empty = pd.DataFrame({"k": pd.Series([], dtype="int64"), "v": []})
    for many in (False, True):
        (out,) = _frames(lambda v: [], [empty], many=many)
        assert len(out) == 0
        assert [str(t) for t in out.dtypes] == [
            "int64", "int32", "int64", "float64", "bool", "object",
            "Int32", "Int64", "float64", "boolean",
        ]


def test_dict_and_tuple_rows_frame_alike(spark):
    row = (1, 2, 0.5, True, "a", None, None, None, None)
    names = StructType.fromDDL(_SCHEMA).names[1:]
    pdf = pd.DataFrame({"k": [7, 8], "v": ["tuple", "dict"]})
    (out,) = _frames(
        lambda v: row if v == "tuple" else dict(zip(names, row)), [pdf]
    )
    assert out["key"].tolist() == [7, 8]
    pd.testing.assert_series_equal(
        out.iloc[0, 1:], out.iloc[1, 1:], check_names=False
    )


def test_ddl_schema_zero_and_many_rows_per_input(spark):
    df = spark.createDataFrame([(1, 0), (2, 3)], "k long, v int")
    out = map_rows(
        df,
        lambda v: [
            (i, i * 10, i / 2, i % 2 == 0, f"s{i}") + (None,) * 4
            for i in range(v)
        ],
        _SCHEMA,
        cols=("v",),
        key="k",
        many=True,
    )
    assert out.schema == StructType.fromDDL(_SCHEMA)
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        (2, i, i * 10, i / 2, i % 2 == 0, f"s{i}", None, None, None, None)
        for i in range(3)
    ]


def test_none_is_null_in_nullable_numeric_columns(spark):
    df = spark.createDataFrame([(1, 0), (2, 1)], "k long, v int")
    out = map_rows(
        df,
        lambda v: (1, 2, 0.5, True, None)
        + ((None,) * 4 if v == 0 else (3, 2**40, 1.5, False)),
        _SCHEMA,
        cols=("v",),
        key="k",
    )
    got = {r["key"]: tuple(r)[6:] for r in out.collect()}
    assert got == {1: (None,) * 4, 2: (3, 2**40, 1.5, False)}


@pytest.mark.parametrize("col", ["n", "n_null"])
def test_int32_overflow_fails_the_task(spark, col):
    df = spark.createDataFrame([(1, 2**31)], "k long, v long")
    names = StructType.fromDDL(_SCHEMA).names[1:]

    def one(v):
        row = dict(zip(names, (1, 2, 0.5, True, "a") + (None,) * 4))
        row[col] = v
        return row

    with pytest.raises(Exception, match="int32"):
        map_rows(df, one, _SCHEMA, cols=("v",), key="k").collect()


def test_robots_rows_one_row_per_document(spark):
    df = spark.createDataFrame(
        [(k, synth_robots(k)) for k in (4, 5)], "key long, robots string"
    )
    got = sorted(tuple(r) for r in robots_rows(df).collect())
    # synth_robots: 1 + key % 3 groups, 2 + (key + g) % 3 disallows and
    # one allow per group, crawl delay 5 + key % 10 on group 0
    assert got == [(4, 2, 7, 2, 9), (5, 3, 9, 3, 10)]
    assert [f.dataType.simpleString() for f in robots_rows(df).schema] == [
        "bigint", "int", "int", "int", "bigint",
    ]


def test_ini_rows_zero_and_many_rows_per_document(spark):
    df = spark.createDataFrame(
        [(1, "[empty]\n"), (2, "[a]\nx = 5\ny = z\n[b]\nw = -7\n")],
        "key long, ini string",
    )
    got = sorted(tuple(r) for r in ini_rows(df).collect())
    assert got == [
        (2, "a", "x", "5", 5),
        (2, "a", "y", "z", None),
        (2, "b", "w", "-7", -7),
    ]


# (module, reader, text column, one valid document)
_TEXT_SOURCES = [
    ("arff_file", "arff_cells", "arff",
     "@RELATION r\n@ATTRIBUTE a NUMERIC\n@DATA\n1\n2\n"),
    ("fasta_file", "fasta_rows", "fasta", "synth_fasta"),
    ("gff3_file", "gff3_rows", "gff3", "synth_gff3"),
    ("hex_records", "intel_hex_rows", "hex", "synth_intel_hex"),
    ("ini_config", "ini_rows", "ini", "[a]\nx = 5\n"),
    ("m3u_playlist", "m3u_rows", "m3u", "synth_m3u"),
    ("obj_mesh", "obj_rows", "obj", "synth_obj"),
    ("properties_file", "properties_rows", "props", "a=1\nb = two\n"),
    ("robots_txt", "robots_rows", "robots", "synth_robots"),
    ("rss_feed", "rss_items", "rss",
     "<rss version=\"2.0\"><channel><title>f</title><item>"
     "<title>i</title><link>http://x/1</link><guid>g</guid>"
     "</item></channel></rss>"),
    ("srec_file", "srec_rows", "srec", "synth_srec"),
    ("vcf_file", "vcf_rows", "vcf", "synth_vcf"),
    ("wkt_geom", "wkt_rows", "wkt", "synth_wkt"),
]


@pytest.mark.parametrize(
    "module,reader,col,doc", _TEXT_SOURCES, ids=[s[0] for s in _TEXT_SOURCES]
)
def test_null_document_yields_no_rows(spark, module, reader, col, doc):
    mod = importlib.import_module(
        f"table_streaming_source_spark.sources.{module}"
    )
    if doc.startswith("synth_"):
        doc = getattr(mod, doc)(2)
    read = getattr(mod, reader)
    schema = f"key long, {col} string"
    with_null = spark.createDataFrame([(1, None), (2, doc)], schema)
    alone = spark.createDataFrame([(2, doc)], schema)
    got = sorted(tuple(r) for r in read(with_null).collect())
    assert got, reader
    assert got == sorted(tuple(r) for r in read(alone).collect())
