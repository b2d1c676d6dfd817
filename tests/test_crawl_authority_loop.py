"""The closed crawl-intelligence loop, end-to-end: crawl a synthetic
web → parse the cached pages' links → build the host link graph → run
integer PageRank → feed the authority back into frontier priority
(with_priority). This is the composition the operators exist for: the
crawler's own output re-ranks its next frontier."""

import pytest
from pyspark.sql import functions as F

from netrunner_spark.operators.graph import pagerank_int
from netrunner_spark.operators.politeness import with_priority
from netrunner_spark.parser.udf import parse_pages
from netrunner_spark.plans.crawl import CrawlConfig, CrawlJob
from netrunner_spark.synth import gen_robots, gen_web
from netrunner_spark.tables import LakeCatalog
from netrunner_spark.urlnorm import url_hash_col


@pytest.fixture(scope="module")
def store(spark, colocated_fetcher):
    web = gen_web(spark, 4, 12).cache()
    return web, gen_robots(spark, 4), colocated_fetcher(web)


def test_crawl_to_pagerank_to_priority_loop(spark, store, tmp_path):
    web, robots, fetcher = store
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    job = CrawlJob(spark, cat, fetcher, robots, CrawlConfig())
    job.init_frontier(
        web.select("url", "host", url_hash_col("url").alias("url_hash"))
    )
    stats = job.run()
    assert stats["fetched"] > 0

    # 1. parse the crawl's OWN cache into a link graph
    cache = job.cache_df().filter("status = 200")
    parsed = parse_pages(cache.select("url", "content"))
    edges_url = parsed.select("url", F.explode("links").alias("dst_url"))
    host = lambda c: F.parse_url(F.col(c), F.lit("HOST"))  # noqa: E731
    edges = (
        edges_url.select(
            F.xxhash64(host("url")).alias("src"),
            F.xxhash64(host("dst_url")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates()
    )
    hosts = cache.select(
        F.parse_url("url", F.lit("HOST")).alias("host")
    ).dropDuplicates()

    # 2. authority over the discovered host graph
    ranks = pagerank_int(
        edges, iters=3, nodes=hosts.select(F.xxhash64("host").alias("id"))
    )
    auth = hosts.join(
        ranks, F.xxhash64(F.col("host")) == ranks.id
    ).select("host", "rank_e12")
    assert auth.count() == hosts.count()  # every crawled host ranked

    # 3. feed authority back into the NEXT frontier's priority
    frontier = web.select(
        "url", "host", F.lit(1).alias("depth"), url_hash_col("url").alias("url_hash")
    )
    base = {r["url"]: r["priority"] for r in with_priority(frontier).collect()}
    boosted = {
        r["url"]: r["priority"]
        for r in with_priority(frontier, auth).collect()
    }
    assert set(base) == set(boosted)
    # authority only ever moves a URL EARLIER (priority is a boost),
    # and at least one host actually moved
    assert all(boosted[u] <= base[u] + 1e-9 for u in base)
    assert any(boosted[u] < base[u] - 1e-12 for u in base)


def test_crawl_to_opic_to_budget_drain_loop(spark, store, tmp_path):
    """The OPIC sibling of the PageRank loop: crawl → link graph →
    OPIC history → Hamilton fetch budgets → the budgets actually gate
    the next round's per-host batch (rank_round)."""
    from netrunner_spark.operators.crawlintel import budget_alloc
    from netrunner_spark.operators.graph import opic_int
    from netrunner_spark.operators.politeness import rank_round, with_priority

    web, robots, fetcher = store
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    job = CrawlJob(spark, cat, fetcher, robots, CrawlConfig())
    job.init_frontier(
        web.select("url", "host", url_hash_col("url").alias("url_hash"))
    )
    assert job.run()["fetched"] > 0

    cache = job.cache_df().filter("status = 200")
    parsed = parse_pages(cache.select("url", "content"))
    host = lambda c: F.parse_url(F.col(c), F.lit("HOST"))  # noqa: E731
    edges = (
        parsed.select("url", F.explode("links").alias("dst_url"))
        .select(
            F.xxhash64(host("url")).alias("src"),
            F.xxhash64(host("dst_url")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates()
    )
    hosts = cache.select(host("url").alias("host")).dropDuplicates()

    imp = opic_int(
        edges, iters=3, nodes=hosts.select(F.xxhash64("host").alias("id"))
    )
    stats = hosts.join(imp, F.xxhash64(F.col("host")) == imp.id).select(
        "host", "hist_e12"
    )
    total = 9
    alloc = budget_alloc(stats, "hist_e12", total=total)
    assert alloc.agg(F.sum("alloc")).collect()[0][0] == total

    budgets = alloc.select(
        "host", F.col("alloc").cast("int").alias("budget")
    )
    frontier = with_priority(
        web.select(
            "url", "host", F.lit(1).alias("depth"),
            url_hash_col("url").alias("url_hash"),
        )
    )
    batch = rank_round(frontier, budgets)
    got = {
        r["host"]: r["n"]
        for r in batch.groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    al = {r["host"]: r["alloc"] for r in alloc.collect()}
    qd = {
        r["host"]: r["q"]
        for r in frontier.groupBy("host").agg(F.count("*").alias("q")).collect()
    }
    # every host's batch is exactly min(queue depth, its OPIC budget);
    # zero-alloc hosts are absent from the batch entirely
    for h, a in al.items():
        assert got.get(h, 0) == min(qd.get(h, 0), a), h
    assert sum(got.values()) <= total
