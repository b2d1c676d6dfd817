"""Benchmark workloads: their inputs, their crawl config, and one crawl.

Each workload is a fixed shape of the synthetic web plus a politeness
config. The seed reaches only the ``gen_*`` generators; the crawl receives
the generated tables.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from crawlbench import oracle

# lake tables a crawl writes; the mock store layout is excluded
CRAWL_TABLES = (
    "schedule", "schedule_ext", "bloom_shards", "cache", "metrics", "frontier",
    "parsed",
)


# the reference crawler's politeness rate, requests per second and host
RPS = 2.0


@dataclass(frozen=True)
class Workload:
    name: str
    hosts: int
    pages: int
    pairs: bool  # image+caption pair store, else HTML pages
    round_seconds: float
    follow_links: bool
    archive: bool
    max_depth: int = 3
    paragraphs: int = 16  # HTML page weight: 16 is about 12 KB
    seed_page: int = 0  # follow_links workloads: the seed page of every host


WORKLOADS = {
    w.name: w
    for w in (
        # The north-star drain: a fixed frontier over the image+caption pair
        # store in two rounds (budget 96 per host, 24 for crawl-delay hosts).
        # Fetch join, batch image decode/validate and cache writes; the
        # parser and the seen-set do no work.
        Workload(
            name="drain_pairs",
            hosts=120,
            pages=48,
            pairs=True,
            round_seconds=48.0,
            follow_links=False,
            archive=False,
        ),
        # One seed per host, links followed to the closure (depth 1, two
        # rounds), then archived. Every round parses its pages and runs
        # enqueue_frontier: robots check, bloom probe, exact anti-join,
        # schedule_ext append and bloom rewrite; fixed per-round latency
        # dominates. The archive covers the parser and canonical dedup.
        Workload(
            name="crawl_links",
            hosts=300,
            pages=3,
            pairs=False,
            round_seconds=10.0,
            follow_links=True,
            archive=True,
            max_depth=8,
        ),
    )
}


def seed_urls(w: Workload) -> list[str]:
    from netrunner_spark.synth import page_url

    return [page_url(h, w.seed_page) for h in range(w.hosts)]


@dataclass
class Inputs:
    web: object  # DataFrame
    images: object | None
    robots: object
    store: dict[str, dict]
    expected: oracle.Expected


def generate(spark, w: Workload, seed: int, root: str) -> Inputs:
    """Write the seeded synthetic web (and image table) as parquet and
    build the oracle's expectation from what was written."""
    from netrunner_spark.synth import gen_images, gen_pair_web, gen_robots, gen_web

    web_path = os.path.join(root, "web")
    images_path = None
    if w.pairs:
        gen_pair_web(spark, w.hosts, w.pages, seed=seed).write.parquet(web_path)
        images_path = os.path.join(root, "images")
        gen_images(spark, w.hosts, w.pages, seed=seed, dense=True).write.parquet(
            images_path
        )
    else:
        gen_web(
            spark, w.hosts, w.pages, seed=seed, n_paragraphs=w.paragraphs
        ).write.parquet(web_path)
    robots = gen_robots(spark, w.hosts).cache()
    pol = oracle.Politeness(RPS, w.round_seconds)
    rules = oracle.Robots(robots.toPandas().to_dict("records"), pol)
    store = oracle.load_store(web_path)
    if w.follow_links:
        expected = oracle.expect_closure(store, rules, seed_urls(w), w.max_depth)
    else:
        phash = oracle.load_phash(images_path) if w.pairs else None
        expected = oracle.expect_drain(store, rules, phash)
    return Inputs(
        spark.read.parquet(web_path),
        spark.read.parquet(images_path) if images_path else None,
        robots,
        store,
        expected,
    )


def prepare(spark, w: Workload, inputs: Inputs, store_dir: str, slots: int):
    """The mock store's bucketed layout, shared by every crawl of a run."""
    from netrunner_spark.sources.fetcher import prepare_colocated_fetcher
    from netrunner_spark.tables import LakeCatalog

    return prepare_colocated_fetcher(
        LakeCatalog(spark, store_dir), inputs.web, inputs.images, n_buckets=slots
    )


def crawl_config(w: Workload, slots: int):
    from netrunner_spark.plans.crawl import CrawlConfig

    return CrawlConfig(
        rps=RPS,
        round_seconds=w.round_seconds,
        max_rounds=100,
        follow_links=w.follow_links,
        max_depth=w.max_depth,
        n_bloom_shards=2 * slots,
        colocated_buckets=slots,
    )


@dataclass
class CrawlResult:
    urls: int
    seconds: float
    round_seconds: list[float]
    archive: dict | None
    lake: str


@dataclass
class TimedCrawl:
    """A timed crawl and what was measured on its lake afterwards."""

    result: CrawlResult
    traced: bool
    score: oracle.Score
    lake_bytes: int
    fresh_share: float  # schedule_ext rows / links offered; 0 without links


def crawl(spark, w: Workload, inputs: Inputs, fetcher, lake: str, slots: int,
          tracer) -> CrawlResult:
    """One full crawl into a fresh lake: init_frontier, run and (where the
    workload archives) archive_stage, timed together. ``tracer`` wraps the
    calls into each layer."""
    from pyspark.sql import functions as F

    from netrunner_spark.plans.crawl import CrawlJob
    from netrunner_spark.tables import LakeCatalog
    from netrunner_spark.urlnorm import url_hash_col

    frontier = inputs.web
    if w.follow_links:
        frontier = frontier.filter(F.col("url").isin(seed_urls(w)))
    frontier = frontier.select("url", "host", url_hash_col("url").alias("url_hash"))
    job = CrawlJob(
        spark, LakeCatalog(spark, lake), fetcher, inputs.robots, crawl_config(w, slots)
    )
    rounds = tracer.wrap(job, "run_round", "crawl.run_round", lake=lake)
    tracer.wrap(job, "enqueue_frontier", "crawl.enqueue_frontier")
    with tracer.span("crawl") as span:
        t0 = time.perf_counter()
        with tracer.span("crawl.init_frontier"):
            job.init_frontier(frontier)
        with tracer.span("crawl.run"):
            stats = job.run()
        archive = None
        if w.archive:
            with tracer.span("crawl.archive_stage"):
                archive = job.archive_stage()
        seconds = time.perf_counter() - t0
        span["urls"] = stats["fetched"]
    return CrawlResult(
        stats["fetched"], seconds, [r["end"] - r["start"] for r in rounds],
        archive, lake,
    )


def lake_bytes(lake: str) -> int:
    total = 0
    for table in CRAWL_TABLES:
        for dirpath, _, files in os.walk(os.path.join(lake, table)):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total
