"""Salted scheduling (hot-host skew, north_rule): the politeness bound
must hold per (host, round) with any salt count, every URL must be
scheduled exactly once, and equivalence with the unsalted spec on the
scheduled SET."""

from pyspark.sql import functions as F

from netrunner_spark.operators.politeness import schedule_rounds


def _frontier(spark):
    # one hot host (1000 URLs) + two small ones
    rows = [(f"https://hot.test/{i}", "hot.test", i * 7919 + 3, 0, 0.0) for i in range(1000)]
    rows += [(f"https://s{h}.test/{i}", f"s{h}.test", h * 100000 + i, 0, 0.0)
             for h in (1, 2) for i in range(15)]
    return spark.createDataFrame(
        rows, "url string, host string, url_hash long, depth int, priority double"
    )


def _budgets(spark):
    return spark.createDataFrame(
        [("hot.test", 40), ("s1.test", 10), ("s2.test", 10)], "host string, budget int"
    )


def test_salted_budget_respected(spark):
    fr = _frontier(spark)
    sched = schedule_rounds(fr, _budgets(spark), n_salts=8)
    per = sched.groupBy("host", "sched_round").count().collect()
    budget = {"hot.test": 40, "s1.test": 10, "s2.test": 10}
    assert all(r["count"] <= budget[r["host"]] for r in per)
    # exactly-once scheduling, same URL set as unsalted
    assert sched.count() == fr.count()
    a = {r["url"] for r in sched.collect()}
    b = {r["url"] for r in schedule_rounds(fr, _budgets(spark)).collect()}
    assert a == b
    # salting must not starve: the hot host still drains in
    # ~ceil(1000 / (8 * floor(40/8))) = 25 rounds
    hot_max = sched.filter(F.col("host") == "hot.test").agg(
        F.max("sched_round")
    ).first()[0]
    assert hot_max == 24


def test_salts_capped_by_budget(spark):
    # budget smaller than salt count: S_eff = budget, 1 slot per stripe
    fr = _frontier(spark).filter(F.col("host") == "s1.test")
    budgets = _frontier(spark).sparkSession.createDataFrame(
        [("s1.test", 3)], "host string, budget int"
    )
    sched = schedule_rounds(fr, budgets, n_salts=16)
    per = sched.groupBy("sched_round").count().collect()
    assert all(r["count"] <= 3 for r in per)
    assert sched.count() == 15


def test_crawl_with_salted_schedule(spark, colocated_fetcher, tmp_path):
    from netrunner_spark.plans.crawl import CrawlConfig, CrawlJob
    from netrunner_spark.synth import gen_robots, gen_web
    from netrunner_spark.tables import LakeCatalog
    from netrunner_spark.urlnorm import url_hash_col

    web = gen_web(spark, 3, 30)
    cat = LakeCatalog(spark, str(tmp_path))
    job = CrawlJob(
        spark,
        cat,
        colocated_fetcher(web),
        gen_robots(spark, 3),
        CrawlConfig(n_bloom_shards=8, schedule_salts=4),
    )
    job.init_frontier(web.select("url", "host", url_hash_col("url").alias("url_hash")))
    job.run()
    cache = cat.read_slices("cache")
    assert cache.count() == cache.select("url_hash").distinct().count()
    # politeness: default budget 20, crawl-delay host0 capped at 5
    per = cache.groupBy("host", "fetched_round").count()
    assert per.filter(F.col("count") > 20).count() == 0
    assert (
        per.filter((F.col("host") == "host0.test") & (F.col("count") > 5)).count() == 0
    )
    assert cat.read("frontier").filter(F.col("state") == "queued").count() == 0
