"""robots.txt ingestion — a from-scratch parser of the Robots
Exclusion Protocol (RFC 9309): ``User-agent`` group headers with
consecutive-UA sharing, ``Allow``/``Disallow`` path rules,
``Crawl-delay``, comments and blank-line group separation.  THE
gatekeeper file of every web-corpus crawl — a pipeline that ingests
the web at 100 TB parses billions of these to attribute crawl
permissions.  One row per file
(:mod:`table_streaming_source_spark._rows`); malformed input
(rule before any group, unknown-but-required fields malformed,
non-numeric crawl-delay) raises ValueError for the quarantine path."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from table_streaming_source_spark._rows import map_docs

ROBOTS_ROWS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("n_groups", IntegerType(), False),
        StructField("n_disallow", IntegerType(), False),
        StructField("n_allow", IntegerType(), False),
        StructField("crawl_delay_sum", LongType(), False),
    ]
)


def synth_robots(key: int) -> str:
    """Deterministic robots.txt: ``1 + key % 3`` user-agent groups;
    group g carries ``2 + (key + g) % 3`` Disallow rules and one
    Allow; group 0 additionally a Crawl-delay of ``5 + key % 10``;
    comments and blank lines separate groups."""
    lines = [f"# robots for doc {key}"]
    for g in range(1 + key % 3):
        if g:
            lines.append("")
        lines.append(f"User-agent: bot{g}")
        if g == 0:
            lines.append(f"Crawl-delay: {5 + key % 10}")
        for j in range(2 + (key + g) % 3):
            lines.append(f"Disallow: /p{g}_{j}")
        lines.append("Allow: /ok")
    return "\n".join(lines) + "\n"


def parse_robots(text: str | bytes) -> dict:
    if isinstance(text, (bytes, bytearray)):
        try:
            text = bytes(text).decode("utf-8")
        except UnicodeDecodeError:
            raise ValueError("robots: undecodable byte") from None
    n_groups = 0
    n_disallow = 0
    n_allow = 0
    delay_sum = 0
    in_group = False
    ua_run = False  # consecutive User-agent lines share one group
    for ln, raw in enumerate(text.splitlines(), 1):
        line = raw.split("#", 1)[0].strip()
        if not line:
            ua_run = False
            continue
        field, sep, value = line.partition(":")
        if not sep:
            raise ValueError(f"robots: malformed line {ln}")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not ua_run:
                n_groups += 1
                in_group = True
            ua_run = True
            continue
        ua_run = False
        if not in_group:
            raise ValueError(
                f"robots: rule before any User-agent, line {ln}"
            )
        if field == "disallow":
            if value:
                n_disallow += 1
        elif field == "allow":
            if value:
                n_allow += 1
        elif field == "crawl-delay":
            if not value.isdigit():
                raise ValueError(
                    f"robots: non-numeric crawl-delay {value!r}, "
                    f"line {ln}"
                )
            delay_sum += int(value)
        # unknown fields (Sitemap, Host, ...) are ignored per RFC 9309
    if n_groups == 0:
        raise ValueError("robots: no User-agent groups")
    return {
        "n_groups": n_groups,
        "n_disallow": n_disallow,
        "n_allow": n_allow,
        "crawl_delay_sum": delay_sum,
    }


def robots_rows(
    df: DataFrame, *, text_col: str = "robots", key: str = "key"
) -> DataFrame:
    return map_docs(
        df, parse_robots, ROBOTS_ROWS_SCHEMA, text_col=text_col, key=key
    )
