"""W1 live-mode timing: with enforce_wall_clock on, consecutive rounds
start at least round_seconds apart — the per-host rate is bounded by
budget/round_seconds in REAL time, not just logically (closes the
round-2 verdict's 'missing #5': the politeness timing envelope was
never clock-enforced in batch mode)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from netrunner_spark.plans.crawl import CrawlConfig, CrawlJob
from netrunner_spark.synth import gen_robots, gen_web
from netrunner_spark.tables import LakeCatalog
from netrunner_spark.urlnorm import url_hash_col


@pytest.fixture(scope="module")
def store(spark, colocated_fetcher):
    web = gen_web(spark, 2, 12).cache()
    return web, colocated_fetcher(web)


def _drain(
    spark, store, tmp_path, enforce: bool, round_seconds: float = 2.0
) -> tuple[float, int]:
    web, fetcher = store
    cat = LakeCatalog(spark, str(tmp_path / f"lake_{enforce}"))
    job = CrawlJob(
        spark,
        cat,
        fetcher,
        gen_robots(spark, 2),
        CrawlConfig(
            # keep the per-round budget (rps × round_seconds) fixed at 4
            # URLs/host so the drain always takes multiple rounds
            rps=4.0 / round_seconds,
            round_seconds=round_seconds,
            n_bloom_shards=4,
            enforce_wall_clock=enforce,
        ),
    )
    job.init_frontier(web.select("url", "host", url_hash_col("url").alias("url_hash")))
    t0 = time.time()
    stats = job.run()
    return time.time() - t0, stats["rounds"]


def test_wall_clock_paces_rounds(spark, store, tmp_path):
    dt, rounds = _drain(spark, store, tmp_path, enforce=True)
    assert rounds >= 2
    # every round but the last must occupy its full window
    assert dt >= 2.0 * (rounds - 1)


def test_logical_mode_does_not_sleep(spark, store, tmp_path):
    # a tiny drain's compute is well under the window; without
    # enforcement it must not sleep the windows out. round_seconds is
    # deliberately huge (30 s/round) so that on this VM's documented
    # co-tenant steal even a pathologically slow round cannot reach the
    # bound from compute alone — the assert can only fail if the code
    # actually slept the windows (review finding r4: the old 2 s bound
    # flaked under steal).
    dt, rounds = _drain(spark, store, tmp_path, enforce=False, round_seconds=30.0)
    assert rounds >= 2
    assert dt < 30.0 * (rounds - 1)


def test_crawl_delay_exceeding_round_gets_stride(spark):
    """r5 review: Crawl-delay > round window used to clamp to one fetch
    EVERY round (violating the delay). Now the host is scheduled one
    slot every ceil(delay/round)-th round, so the paced inter-request
    gap is >= the declared delay; delay <= round keeps stride 1 and the
    schedule is bit-identical to before."""
    from netrunner_spark.operators.politeness import (
        host_budgets,
        schedule_rounds,
        with_priority,
    )

    robots = spark.createDataFrame(
        [("slow.test", "", "allow", 60.0), ("fast.test", "", "allow", 1.0)],
        "host string, pattern string, verdict string, crawl_delay double",
    )
    budgets = host_budgets(robots, round_seconds=10.0, rps=2.0)
    b = {r["host"]: (r["budget"], r["stride"]) for r in budgets.collect()}
    assert b["slow.test"] == (1, 6)   # 1 slot every 6th 10s round = 60s gap
    assert b["fast.test"] == (10, 1)  # 10s / 1s delay, no stride

    frontier = spark.createDataFrame(
        [(f"https://slow.test/{i}", "slow.test", i, 0) for i in range(4)]
        + [(f"https://fast.test/{i}", "fast.test", 100 + i, 0) for i in range(25)],
        "url string, host string, url_hash long, depth int",
    )
    sched = schedule_rounds(with_priority(frontier), budgets)
    rounds = {
        h: sorted(
            r["sched_round"] for r in sched.filter(F.col("host") == h).collect()
        )
        for h in ("slow.test", "fast.test")
    }
    assert rounds["slow.test"] == [0, 6, 12, 18]       # strided
    assert rounds["fast.test"] == [0] * 10 + [1] * 10 + [2] * 5  # dense


def test_default_budget_follows_configured_rate(
    spark, colocated_fetcher, tmp_path
):
    """r5 review: hosts with no robots row used to fall through to a
    hardcoded 20 slots/round; they must follow round_seconds x rps."""
    from netrunner_spark.plans.crawl import CrawlConfig, CrawlJob
    from netrunner_spark.tables import LakeCatalog
    from netrunner_spark.urlnorm import url_hash_col

    web = spark.createDataFrame(
        [(f"https://norobots.test/p/{i}", "norobots.test") for i in range(20)],
        "url string, host string",
    ).withColumn("content", F.lit("<html><body>x</body></html>"))
    from netrunner_spark.synth import gen_robots

    robots = gen_robots(spark, 1)  # rules for host0.test only — the
    # crawled host has NO robots row and must use the derived default
    cfg = CrawlConfig(rps=0.5, round_seconds=10.0, n_bloom_shards=4)
    job = CrawlJob(
        spark, LakeCatalog(spark, str(tmp_path / "lake")),
        colocated_fetcher(web), robots, cfg,
    )
    assert job._default_budget() == 5  # floor(10 x 0.5)
    job.init_frontier(
        web.select("url", "host", url_hash_col("url").alias("url_hash"))
    )
    per_round = (
        job._scheduled()
        .groupBy("sched_round")
        .count()
        .collect()
    )
    assert per_round and all(r["count"] <= 5 for r in per_round)
