"""The recrawl→index maintenance loop, end-to-end: crawl a synthetic
web through the REAL CrawlJob and index the cache; change one host's
content and crawl again; diff the two caches by content hash to find
the changed docs; idx.update() ONLY those — and prove the incrementally
maintained index answers queries bit-identically to an index rebuilt
from scratch over the new corpus. This is S13/K2's slice model applied
to the search index: recrawl deltas stay O(delta)."""

from pyspark.sql import functions as F

from netrunner_spark.operators import retrieval
from netrunner_spark.plans.crawl import CrawlConfig, CrawlJob
from netrunner_spark.synth import gen_robots, gen_web, host_name
from netrunner_spark.tables import LakeCatalog
from netrunner_spark.urlnorm import url_hash_col


def _crawl_docs(spark, web, fetcher, lake):
    cat = LakeCatalog(spark, lake)
    job = CrawlJob(spark, cat, fetcher, gen_robots(spark, 3), CrawlConfig())
    job.init_frontier(web.select("url", "host", url_hash_col("url").alias("url_hash")))
    assert job.run()["fetched"] > 0
    return (
        job.cache_df()
        .filter("status = 200")
        .select(
            F.xxhash64("url").alias("doc_id"),
            F.col("content").cast("string").alias("text"),
        )
    )


def test_recrawl_delta_updates_index_exactly(spark, colocated_fetcher, tmp_path):
    web1 = gen_web(spark, 3, 18)
    docs1 = _crawl_docs(
        spark, web1, colocated_fetcher(web1), str(tmp_path / "lake1")
    )

    cat = LakeCatalog(spark, str(tmp_path / "idx"))
    idx = retrieval.SearchIndex(cat, "ri")
    idx.build(docs1, n_buckets=8)

    # host0's pages change between crawls (a marker term appears)
    web2 = web1.withColumn(
        "content",
        F.when(
            F.col("host") == host_name(0),
            F.concat(F.col("content"), F.lit(" zzupdatedterm zzupdatedterm")),
        ).otherwise(F.col("content")),
    )
    docs2 = _crawl_docs(
        spark, web2, colocated_fetcher(web2), str(tmp_path / "lake2")
    )

    # the recrawl delta: docs whose content hash changed (or are new)
    h1 = docs1.select("doc_id", F.md5("text").alias("h1"))
    changed_ids = (
        docs2.select("doc_id", F.md5("text").alias("h2"))
        .join(h1, "doc_id", "left")
        .filter(F.col("h1").isNull() | (F.col("h1") != F.col("h2")))
        .select("doc_id")
    )
    n_changed = changed_ids.count()
    assert 0 < n_changed < docs2.count()  # a strict subset changed

    idx.update(docs2.join(changed_ids, "doc_id"))

    # the incrementally maintained index == a from-scratch rebuild
    fresh = retrieval.SearchIndex(LakeCatalog(spark, str(tmp_path / "idx2")), "rf")
    fresh.build(docs2, n_buckets=8)
    q = spark.createDataFrame(
        [(1, "zzupdatedterm"), (2, "the table")], "query_id long, query string"
    )
    got = sorted(map(tuple, idx.topk(q, k=8).collect()))
    want = sorted(map(tuple, fresh.topk(q, k=8).collect()))
    assert got == want
    # and the marker term finds only updated (host0) docs
    marker_hits = {r["doc_id"] for r in idx.topk(q, k=8).collect() if r["query_id"] == 1}
    changed = {r["doc_id"] for r in changed_ids.collect()}
    assert marker_hits and marker_hits <= changed
