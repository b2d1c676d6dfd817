"""Frontier admission: regex allow/skip, normalize, sanitize, dedup.

Reference semantics:
  F1 regex-set compile      bootstrap.rs:56-64
  F2 admission filter       bootstrap.rs:206-215 (CDX), :345 (sitemap)
  F3 exact-seed handling    bootstrap.rs:80-87,108-113
  F4 fragment strip + SanitizeUrls   bootstrap.rs:131-164,393-397
  F5 invalid-URL drop       bootstrap.rs:150-163
  F8 frontier dedup         bootstrap.rs:53,148-166

Spark-first design: the allow/skip sets fold into single alternations
evaluated by ``rlike`` — one codegen'd regex pass per set, the RegexSet
analog, no Python in the plan. Normalization (the only genuinely
non-relational step) runs in ONE Arrow-batched pandas UDF pass. Dedup
is a hash aggregate on ``url_hash`` (partial + final, spillable), which at
10^10 rows shuffles 8-byte keys instead of full URLs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from netrunner_spark.lens import LensConfig
from netrunner_spark.urlnorm import normalize_host_udf, url_hash_col


def admission_filter(df: DataFrame, lens: LensConfig, url_col: str = "url") -> DataFrame:
    """keep URL iff allowed matches and skipped doesn't (F2)."""
    allow, skip = lens.alternations()
    c = F.col(url_col)
    return df.filter(c.rlike(allow) & ~c.rlike(skip))


def sanitize(df: DataFrame, lens: LensConfig, url_col: str = "url") -> DataFrame:
    """Apply SanitizeUrls rules (F4): drop the query string of URLs
    matching a sanitize rule. Pure column expressions (regexp + split)."""
    c = F.col(url_col)
    for rule in lens.rules:
        if rule.kind == "sanitize" and rule.sanitize and rule.sanitize.remove_query_parameter:
            c = F.when(c.rlike(rule.to_regex()), F.split(c, r"\?").getItem(0)).otherwise(c)
    return df.withColumn(url_col, c)


def normalize_frontier(df: DataFrame, url_col: str = "url") -> DataFrame:
    """RFC-3986 normalize + drop unparsable (F4/F5), attach host and
    url_hash — the canonical frontier projection. ONE Python node: the
    URL and its host come out of the same pandas UDF call."""
    return (
        df.withColumn("_norm", normalize_host_udf(F.col(url_col)))
        .filter(F.col("_norm.url").isNotNull())
        .withColumn(url_col, F.col("_norm.url"))
        .withColumn("host", F.col("_norm.host"))
        .drop("_norm")
        .withColumn("url_hash", url_hash_col(url_col))
    )


def dedup_frontier(df: DataFrame) -> DataFrame:
    """F8: distinct by url_hash (8-byte shuffle key, not the URL)."""
    return df.dropDuplicates(["url_hash"])


def seeds_to_frontier(df: DataFrame) -> DataFrame:
    """F3: seeds(seed, kind) → initial frontier rows.

    domain seeds enqueue ``http://<domain>/`` (bootstrap.rs:71-72);
    exact seeds enqueue as-is with discovery disabled; prefix seeds
    enqueue the prefix itself (bootstrap.rs:80-94).
    """
    return df.select(
        F.when(F.col("kind") == "domain", F.concat(F.lit("http://"), F.col("seed"), F.lit("/")))
        .otherwise(F.col("seed"))
        .alias("url"),
        F.col("kind"),
        (F.col("kind") == "exact").alias("skip_discovery"),
    )
