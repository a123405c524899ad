"""RSS 2.0 feed ingestion via stdlib ``xml.etree`` (the RSS 2.0
specification, https://www.rssboard.org/rss-specification): channel
metadata + one row per ``<item>`` with title / link / guid / pubDate
(RFC-822 date-time, parsed with ``email.utils.parsedate_to_datetime``
— the reference parser for that grammar).  Feed archives are a
classic crawl corpus; the shape matches every text source here: one
feed yields its item rows (:mod:`table_streaming_source_spark._rows`),
malformed XML or dates raise
ValueError (shared quarantine contract), nothing shuffles until the
caller aggregates."""

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

RSS_ITEMS_SCHEMA = StructType(
    [
        StructField("key", LongType(), False),
        StructField("channel", StringType(), False),
        StructField("item_title", StringType(), True),
        StructField("link", StringType(), True),
        StructField("guid", StringType(), True),
        StructField("pub_epoch", LongType(), True),
        StructField("n_categories", IntegerType(), False),
    ]
)


def parse_rss(text: str) -> list[dict]:
    """One feed document → item dicts.  Structural errors raise."""
    import email.utils
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(text)
    except ET.ParseError as exc:
        raise ValueError(f"rss: {exc}") from None
    if root.tag != "rss":
        raise ValueError(f"rss: root element {root.tag!r}, want 'rss'")
    channel = root.find("channel")
    if channel is None:
        raise ValueError("rss: missing <channel>")
    ctitle = channel.findtext("title") or ""
    out = []
    for item in channel.findall("item"):
        pub = item.findtext("pubDate")
        epoch = None
        if pub is not None:
            try:
                epoch = int(
                    email.utils.parsedate_to_datetime(pub).timestamp()
                )
            except (TypeError, ValueError) as exc:
                raise ValueError(f"rss: bad pubDate {pub!r}: {exc}") \
                    from None
        out.append(
            {
                "channel": ctitle,
                "item_title": item.findtext("title"),
                "link": item.findtext("link"),
                "guid": item.findtext("guid"),
                "pub_epoch": epoch,
                "n_categories": len(item.findall("category")),
            }
        )
    return out


def rss_items(
    df: DataFrame, *, text_col: str = "rss", key: str = "key"
) -> DataFrame:
    return map_docs(
        df, parse_rss, RSS_ITEMS_SCHEMA, text_col=text_col, key=key, many=True
    )
