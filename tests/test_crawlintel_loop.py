"""The crawl-intelligence loop, end-to-end: crawl a synthetic web that
contains a planted MIRROR host, a session-id TRAP host, and redirect
noise → read back the crawler's OWN cache → run mirror detection,
DUST param mining, and harvest/trap scoring over it → apportion the
next round's fetch budget. This is the composition the operators exist
for: the cache curates the frontier that fills it."""

from pyspark.sql import functions as F

from netrunner_spark.operators import crawlintel
from netrunner_spark.plans.crawl import CrawlConfig, CrawlJob
from netrunner_spark.synth import gen_robots, gen_web, host_name
from netrunner_spark.tables import LakeCatalog
from netrunner_spark.urlnorm import url_hash_col


def _planted_web(spark):
    base = gen_web(spark, 3, 24)
    # mirror: host9.test serves host0.test's exact bytes under its own
    # URLs (the classic co-hosted mirror)
    mirror = (
        base.filter(F.col("host") == host_name(0))
        .withColumn("url", F.regexp_replace("url", host_name(0), "host9.test"))
        .withColumn("host", F.lit("host9.test"))
    )
    # trap: host1's page 0 answers under 12 extra ?cal= URLs with the
    # SAME content (calendar trap); URLs differ only in the param
    one_page = base.filter(
        (F.col("host") == host_name(1)) & F.col("url").endswith("/docs/0")
    )
    trap = (
        one_page.crossJoin(spark.range(12).select(F.col("id").alias("_cal")))
        .withColumn("url", F.concat(F.col("url"), F.lit("?cal="), F.col("_cal")))
        .drop("_cal")
    )
    return base.unionByName(mirror).unionByName(trap)


def test_cache_to_intelligence_to_budget_loop(spark, colocated_fetcher, tmp_path):
    web = _planted_web(spark)
    robots = gen_robots(spark, 3)
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    job = CrawlJob(spark, cat, colocated_fetcher(web), robots, CrawlConfig())
    job.init_frontier(web.select("url", "host", url_hash_col("url").alias("url_hash")))
    stats = job.run()
    assert stats["fetched"] > 0

    # 1. the crawler's own cache, reduced to the intelligence schema
    pages = (
        job.cache_df()
        .filter("status = 200")
        .select(
            F.parse_url("url", F.lit("HOST")).alias("host"),
            "url",
            F.md5(F.col("content")).alias("content_hash"),
        )
    )

    # 2. mirror detection finds exactly the planted pair
    mirrors = crawlintel.mirror_hosts(pages, min_shared=3, max_hash_df=3).collect()
    assert {(r["host_a"], r["host_b"]) for r in mirrors} == {("host0.test", "host9.test")}
    assert all(r["overlap_permille"] == 1000 for r in mirrors)

    # 3. DUST mining proves ?cal= never changes content on the trap host
    dust = {
        (r["host"], r["param"]): r for r in crawlintel.dust_params(pages).collect()
    }
    cal = dust[("host1.test", "cal")]
    assert cal["irrelevant"] is True and cal["n_evidence"] >= 1

    # 4. harvest scoring marks the trap host (≥13 URLs share one hash),
    #    and the budget apportionment starves it relative to its URL
    #    share while still summing exactly to the round budget
    harvest = crawlintel.host_harvest(pages, trap_max_permille=700, trap_min_urls=10)
    hrows = {r["host"]: r for r in harvest.collect()}
    assert hrows["host1.test"]["harvest_permille"] < hrows["host2.test"]["harvest_permille"]
    alloc = crawlintel.budget_alloc(harvest, "harvest_permille", total=1000)
    arows = {r["host"]: r["alloc"] for r in alloc.collect()}
    assert sum(arows.values()) == 1000
    # equal-URL hosts: the trap host earns a smaller slice than a clean one
    assert arows["host1.test"] < arows["host2.test"]


def test_alias_fold_halves_mirror_drain_rounds(spark):
    """Loop closure: mined www->bare alias rules feed the REAL
    politeness scheduler. Unfolded, the mirror pair (a.test,
    www.a.test) drains as two 'hosts' — double the site's politeness
    allowance and duplicated pages; folded, the site drains under one
    budget with the www duplicates collapsing into the same queue."""
    from pyspark.sql import functions as F

    from netrunner_spark.operators.crawlintel import (
        fold_host_aliases,
        host_alias_rules,
    )
    from netrunner_spark.operators.politeness import schedule_rounds

    # crawl cache: a.test == www.a.test (full mirror), b.test standalone
    pages = spark.createDataFrame(
        [(h, f"h{i}") for h in ("a.test", "www.a.test") for i in range(20)]
        + [("b.test", f"b{i}") for i in range(20)],
        "host string, content_hash string",
    )
    rules = host_alias_rules(pages, min_share_permille=800)
    # frontier: 20 URLs per host-name, priority by index
    frontier = spark.createDataFrame(
        [
            (h, f"https://{h}/p/{i}", i, i * 1000 + hash(h) % 997)
            for h in ("a.test", "www.a.test", "b.test")
            for i in range(20)
        ],
        "host string, url string, priority long, url_hash long",
    )
    budget = 5

    unfolded = schedule_rounds(frontier, default_budget=budget)
    folded = schedule_rounds(
        fold_host_aliases(frontier, rules), default_budget=budget
    )

    def per_host_rounds(df):
        return {
            r.host: r.n
            for r in df.groupBy("host")
            .agg((F.max("sched_round") + 1).alias("n"))
            .collect()
        }

    un, fo = per_host_rounds(unfolded), per_host_rounds(folded)
    # unfolded: the site's 40 URLs drain 10/round across TWO host queues
    # (politeness violated at site level); folded: one queue, 5/round
    assert un["a.test"] == 4 and un["www.a.test"] == 4
    assert "www.a.test" not in fo
    assert fo["a.test"] == 8  # 40 URLs / 5 per round — the honest rate
    assert fo["b.test"] == un["b.test"] == 4


def test_trap_quarantine_frees_schedule_budget_e2e(spark):
    """Loop closure for the trap family: per-URL structural signals ->
    host quarantine -> frontier filter -> the REAL politeness
    scheduler. The trap farm (relative-link loop minting unbounded
    /a/b/a/b URLs) vanishes from the schedule entirely; the clean
    hosts' rounds are untouched — the budget the farm was burning is
    simply not spent."""
    from pyspark.sql import functions as F

    from netrunner_spark.operators.crawlintel import (
        apply_quarantine,
        trap_hosts,
        trap_url_signals,
    )
    from netrunner_spark.operators.politeness import schedule_rounds

    urls = [f"https://farm.test{'/a/b' * (2 + i % 3)}/p{i}" for i in range(24)]
    urls += [f"https://ok.test/page/{i}" for i in range(24)]
    urls += [f"https://news.test/2024/{1 + i % 12}/s{i}" for i in range(24)]
    frontier = spark.createDataFrame(
        [(u.split("/")[2], u, i, i * 2654435761 % (1 << 31)) for i, u in enumerate(urls)],
        "host string, url string, priority long, url_hash long",
    )

    verdicts = trap_hosts(trap_url_signals(frontier), quarantine_permille=500)
    v = {r.host: r.quarantine for r in verdicts.collect()}
    assert v == {"farm.test": True, "ok.test": False, "news.test": False}

    kept = apply_quarantine(frontier, verdicts)
    sched = schedule_rounds(kept, default_budget=6)
    rounds = {
        r.host: r.n
        for r in sched.groupBy("host").agg((F.max("sched_round") + 1).alias("n")).collect()
    }
    assert "farm.test" not in rounds
    assert rounds == {"ok.test": 4, "news.test": 4}  # 24 URLs / 6 per round
