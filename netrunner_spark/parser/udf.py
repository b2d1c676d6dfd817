"""Spark-side parse stage: html_to_text as an Arrow-batched pandas UDF.

The parse is THE heavy per-row transform (X2); it runs batch-wise via
``pandas_udf`` returning a struct column — one Python worker call per
Arrow batch, never per-row Python in the plan. Link expansion uses
``parse_links`` instead: one ``mapInPandas`` pass that emits the next
frontier rows ``(link, depth + 1)`` directly (§2.9 UDTF-like).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from netrunner_spark.parser.html import html_to_text

PARSE_SCHEMA = T.StructType(
    [
        T.StructField("canonical_url", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("content_hash", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("links", T.ArrayType(T.StringType())),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
        T.StructField("title", T.StringType()),
    ]
)


# the row of a page that cannot be parsed (no text, no links); read-only
_EMPTY_PARSE = {
    "canonical_url": None,
    "content": "",
    "content_hash": None,
    "description": "",
    "links": [],
    "meta": {},
    "title": None,
}


def _parse_batch(urls: pd.Series, docs: pd.Series) -> pd.DataFrame:
    rows = []
    for url, doc in zip(urls, docs):
        if not isinstance(doc, str) or not isinstance(url, str):
            rows.append({**_EMPTY_PARSE, "canonical_url": url})
            continue
        try:
            rows.append(html_to_text(url, doc).as_row())
        except RecursionError:
            # a pathologically nested page (1000+ levels) blows the
            # recursive DOM walk (r5 review); one wild page must not
            # fail the task — degrade to an empty parse for THAT row
            # (hash of empty content, no links) and keep the batch
            rows.append({**_EMPTY_PARSE, "canonical_url": url})
    return pd.DataFrame(rows)


def make_parse_udf(fallback_counter=None):
    """Parse UDF (Arrow-batched, one struct column of PARSE_SCHEMA),
    optionally wired to a Spark accumulator counting docs that hit
    the stdlib-fallback path — the fast tokenizer's escape hatch is
    silent per-row, so the drain surfaces its rate (archive_stage
    'parse_fallbacks'); a drift toward fallback-heavy HTML shows up in
    stats instead of as an unexplained slowdown."""

    @pandas_udf(PARSE_SCHEMA)
    def udf(urls: pd.Series, docs: pd.Series) -> pd.DataFrame:
        from netrunner_spark.parser import html as H

        before = H.FALLBACK_COUNT
        out = _parse_batch(urls, docs)
        if fallback_counter is not None:
            delta = H.FALLBACK_COUNT - before
            if delta:
                fallback_counter.add(delta)
        return out

    return udf


def parse_pages(
    fetched: DataFrame,
    url_col: str = "url",
    content_col: str = "content",
    fallback_counter=None,
) -> DataFrame:
    """fetched(url, content, ...) → one parsed row per page.

    Only 2xx rows should be fed here (F6 filter applied by caller, as in
    create_archives, archive.rs:378).
    """
    udf = make_parse_udf(fallback_counter)
    return fetched.withColumn(
        "parsed", udf(F.col(url_col), F.col(content_col))
    ).select(
        F.col(url_col).alias("url"),
        F.col("parsed.canonical_url").alias("canonical_url"),
        F.col("parsed.title").alias("title"),
        F.col("parsed.description").alias("description"),
        F.col("parsed.content").alias("content"),
        F.col("parsed.content_hash").alias("content_hash"),
        F.col("parsed.meta").alias("meta"),
        F.col("parsed.links").alias("links"),
    )


LINK_SCHEMA = "url string, depth int"


def _links_of(batches):
    for pdf in batches:
        urls: list[str] = []
        depths: list[int] = []
        for url, doc, depth in zip(pdf["url"], pdf["content"], pdf["depth"]):
            if not isinstance(doc, str) or not isinstance(url, str):
                continue
            try:
                links = sorted(html_to_text(url, doc).links)
            except RecursionError:
                # same degradation as _parse_batch: a pathologically
                # nested page contributes no links, the batch survives
                continue
            urls.extend(links)
            depths.extend([int(depth) + 1] * len(links))
        yield pd.DataFrame(
            {
                "url": pd.Series(urls, dtype=object),
                "depth": pd.Series(depths, dtype="int32"),
            }
        )


def parse_links(pages: DataFrame) -> DataFrame:
    """pages(url, content, depth) → one ``(url, depth)`` row per out-link,
    ``url`` the resolved link and ``depth`` the page's depth + 1.

    ONE Python pass per page and no join back to the pages: the depth
    rides through the same ``mapInPandas`` batch as the content. The
    operator is opaque to the optimizer, so no filter on its output can
    be pushed below it into a second evaluation, as happens to a
    deterministic UDF column. Links are ``html_to_text``'s, sorted; only
    2xx pages should be fed here (caller's F6 filter)."""
    return pages.select("url", "content", "depth").mapInPandas(_links_of, LINK_SCHEMA)
