"""Regressions for the eleventh review batch (crawl-core second
opinion: rank_round stride, streaming-only enqueue, bloom occupancy)."""

from pyspark.sql import functions as F

from netrunner_spark.operators.politeness import rank_round


def test_rank_round_honors_stride(spark):
    """A Crawl-delay larger than the round window (budget=1, stride=3)
    must gate the host to every 3rd round — the old rank_round ignored
    stride entirely (6× the declared rate) and leaked the stride
    column into its output."""
    frontier = spark.createDataFrame(
        [("slow.test", f"https://slow.test/{i}", 0.5, i) for i in range(5)]
        + [("fast.test", f"https://fast.test/{i}", 0.5, 100 + i) for i in range(5)],
        "host string, url string, priority double, url_hash long",
    )
    budgets = spark.createDataFrame(
        [("slow.test", 1, 3), ("fast.test", 2, 1)],
        "host string, budget int, stride int",
    )
    by_round = {
        r: {row["host"] for row in rank_round(frontier, budgets, round_no=r).collect()}
        for r in range(4)
    }
    assert by_round[0] == {"slow.test", "fast.test"}
    assert by_round[1] == {"fast.test"}
    assert by_round[2] == {"fast.test"}
    assert by_round[3] == {"slow.test", "fast.test"}
    out = rank_round(frontier, budgets, round_no=0)
    assert "stride" not in out.columns and "budget" not in out.columns


def test_enqueue_before_init_streaming_only(spark, colocated_fetcher, tmp_path):
    """The streaming→batch handoff entry point must work on a FRESH
    catalog (no seed list, init_frontier never called) — it used to
    raise FileNotFoundError on the missing schedule table, and no
    bloom was ever created in that mode."""
    from netrunner_spark.plans.crawl import CrawlConfig, CrawlJob
    from netrunner_spark.synth import gen_robots, gen_web
    from netrunner_spark.tables import LakeCatalog

    web = gen_web(spark, 2, 10)
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    job = CrawlJob(
        spark,
        cat,
        colocated_fetcher(web),
        gen_robots(spark, 2),
        CrawlConfig(round_seconds=10.0, max_rounds=10, n_bloom_shards=4),
    )
    links = web.filter(~F.col("url").contains("/private/")).select(
        "url", "host", F.xxhash64("url").alias("url_hash"), F.lit(0).alias("depth")
    )
    job.enqueue_frontier(links)
    assert cat.exists("bloom_shards")  # streaming-only mode builds one
    stats = job.run()
    assert stats["fetched"] == links.count()
    # idempotent: a replayed enqueue adds nothing
    job.enqueue_frontier(links)
    cache = cat.read_slices("cache")
    assert cache.count() == cache.select("url_hash").distinct().count()


def test_bloom_bits_set_replay_stable(spark):
    """n_items is a raw fold counter and inflates on replays; bits_set
    (bitset popcount) is the replay-stable occupancy stat."""
    from netrunner_spark.operators.seen import upsert_shards

    keys = spark.range(0, 200).select(F.xxhash64(F.col("id")).alias("url_hash"))
    v1 = upsert_shards(None, keys, 4).localCheckpoint()
    v2 = upsert_shards(v1, keys, 4).localCheckpoint()  # replay: same keys
    s1 = {r["shard_id"]: (r["bits_set"], r["n_items"]) for r in v1.collect()}
    s2 = {r["shard_id"]: (r["bits_set"], r["n_items"]) for r in v2.collect()}
    for sid in s1:
        assert s2[sid][0] == s1[sid][0]  # bits_set unchanged by replay
        assert s2[sid][1] > s1[sid][1]  # the raw counter inflates (documented)
