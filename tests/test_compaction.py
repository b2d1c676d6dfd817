"""Slice-tree compaction contract (VERDICT r3 #10): a long crawl grows
one cache slice dir per round; ``compact_slices`` folds the committed
slices into ONE base snapshot (a keyed merge, highest round wins)
without changing what any reader sees, and W4 resume keeps working from
the compacted state."""

import os

import pytest
from pyspark.sql import functions as F

from netrunner_spark.plans.crawl import CrawlConfig, CrawlJob
from netrunner_spark.synth import gen_robots, gen_web
from netrunner_spark.tables import LakeCatalog


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def webs(spark, colocated_fetcher):
    """``get(hosts, pages)`` → (web, robots, fetcher), one store lake per
    web size, shared by the tests that crawl it."""
    built = {}

    def get(hosts, pages):
        if (hosts, pages) not in built:
            web = gen_web(spark, hosts, pages).cache()
            built[hosts, pages] = (
                web, gen_robots(spark, hosts), colocated_fetcher(web)
            )
        return built[hosts, pages]

    return get


def _crawl(spark, tmp_path, web, robots, fetcher):
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    cfg = CrawlConfig(max_rounds=60, n_bloom_shards=8)
    job = CrawlJob(spark, cat, fetcher, robots, cfg)
    job.init_frontier(
        web.select("url", "host", F.xxhash64("url").alias("url_hash"))
    )
    job.run()
    return cat, cfg, job


def test_compaction_preserves_rows_and_resume(spark, webs, tmp_path):
    web, robots, fetcher = webs(3, 12)
    cat, cfg, job = _crawl(spark, tmp_path, web, robots, fetcher)

    n_slices = len(cat._slice_values("cache", "fetched_round"))
    assert n_slices >= 2  # multiple rounds → something to compact
    before = _rows(cat.read_slices("cache"), "url", "status", "fetched_round")
    round_before = job.current_round()
    metrics_before = _rows(job.metrics_df(), "host", "round", "n_urls")

    hi = job.compact_cache()
    assert hi == round_before - 1

    # slice dirs are gone; the base snapshot carries everything
    assert cat._slice_values("cache", "fetched_round") == []
    assert cat.exists("cache") and cat.compacted_upto("cache", "fetched_round") == hi
    # one plain snapshot, no layout dirs
    assert not any(e.is_dir() for e in os.scandir(cat.snapshot_path("cache")))
    after = _rows(cat.read_slices("cache"), "url", "status", "fetched_round")
    assert after == before  # rows preserved, per-row round lineage intact
    assert _rows(job.metrics_df(), "host", "round", "n_urls") == metrics_before

    # resume from the compacted state: the floor stands in for the
    # deleted slice markers, so a fresh job sees the same next round and
    # its run() is a no-op
    job2 = CrawlJob(spark, cat, fetcher, robots, cfg)
    job2.init_frontier(
        web.select("url", "host", F.xxhash64("url").alias("url_hash"))
    )
    assert job2.current_round() == round_before
    job2.run()
    assert _rows(cat.read_slices("cache"), "url", "status", "fetched_round") == before


def test_crawl_continues_after_compaction_and_recompacts(spark, webs, tmp_path):
    web, robots, fetcher = webs(3, 12)
    cat, cfg, job = _crawl(spark, tmp_path, web, robots, fetcher)
    seeds = {r["url"] for r in cat.read_slices("cache").select("url").collect()}
    floor = job.compact_cache()

    # enqueue a second wave (a later gen_web page range), drain it: new
    # slices land ABOVE the floor and read_slices unions base + tail
    wave2 = gen_web(spark, 3, 16).filter(~F.col("url").isin(list(seeds)))
    job.enqueue_frontier(
        wave2.select(
            "url", "host", F.xxhash64("url").alias("url_hash"),
            F.lit(1).alias("depth"),
        )
    )
    job.run()
    tail_vals = cat._slice_values("cache", "fetched_round")
    assert tail_vals and min(tail_vals) > floor
    combined = cat.read_slices("cache")
    urls = {r["url"] for r in combined.select("url").collect()}
    assert seeds < urls  # base still visible, wave-2 rows added
    assert combined.count() == combined.select("url").distinct().count()
    n_combined = combined.count()

    # incremental second compaction: keyed merge of the new slices
    hi2 = job.compact_cache()
    assert hi2 is not None and hi2 > floor
    assert cat._slice_values("cache", "fetched_round") == []
    assert cat.read_slices("cache").count() == n_combined
    assert {r["url"] for r in cat.read_slices("cache").collect()} == urls


def test_recompaction_crash_before_floor_update_no_double_count(
    spark, webs, tmp_path, monkeypatch
):
    """ADVICE r4 (medium): the SECOND compaction merges the new slices
    into the head snapshot BEFORE updating the ``_compacted`` floor. A
    crash between the two used to double-count: the folded rows were in
    the head AND in the still-on-disk slices above the stale floor.
    ``read_slices`` now bounds the head to the committed floor."""
    import os as _os

    web, robots, fetcher = webs(2, 10)
    cat, _cfg, job = _crawl(spark, tmp_path, web, robots, fetcher)
    seeds = {r["url"] for r in cat.read_slices("cache").select("url").collect()}
    floor = job.compact_cache()
    assert floor is not None

    wave2 = gen_web(spark, 2, 14).filter(~F.col("url").isin(list(seeds)))
    job.enqueue_frontier(
        wave2.select(
            "url", "host", F.xxhash64("url").alias("url_hash"),
            F.lit(1).alias("depth"),
        )
    )
    job.run()
    n_combined = cat.read_slices("cache").count()
    assert n_combined > len(seeds)

    # crash the second compaction exactly between merge-commit and floor
    # update: os.replace onto the _compacted meta file raises
    real_replace = _os.replace

    def crashing_replace(src, dst):
        if _os.path.basename(dst) == "_compacted":
            raise RuntimeError("injected crash before floor update")
        return real_replace(src, dst)

    monkeypatch.setattr(_os, "replace", crashing_replace)
    try:
        job.compact_cache()
        raise AssertionError("injected crash did not fire")
    except RuntimeError:
        pass
    monkeypatch.undo()

    # crash window: head snapshot already carries the folded wave-2 rows,
    # their slices are still on disk above the STALE floor — no dupes
    assert cat.compacted_upto("cache", "fetched_round") == floor
    assert min(cat._slice_values("cache", "fetched_round")) > floor
    combined = cat.read_slices("cache")
    assert combined.count() == n_combined
    assert combined.select("url").distinct().count() == n_combined

    # replaying the compaction heals: floor advances, slices deleted
    hi2 = job.compact_cache()
    assert hi2 is not None and hi2 > floor
    assert cat._slice_values("cache", "fetched_round") == []
    assert cat.read_slices("cache").count() == n_combined


def test_read_slices_excludes_sub_floor_stragglers(spark, webs, tmp_path):
    """Crash between snapshot commit and slice deletion leaves a slice
    dir at/below the floor — it must NOT double-count."""
    web, robots, fetcher = webs(2, 10)
    cat, _cfg, job = _crawl(spark, tmp_path, web, robots, fetcher)
    # materialize round 0 BEFORE compaction deletes its files
    first = cat.read_slice("cache", "fetched_round", 0).localCheckpoint()
    n = cat.read_slices("cache").count()
    job.compact_cache()
    # resurrect round 0's slice as a crash would leave it
    cat.write_slice(
        first.withColumn("fetched_round", F.lit(0)), "cache", "fetched_round", 0
    )
    assert cat.read_slices("cache").count() == n
    # and the replayed compaction just re-deletes (nothing above floor)
    assert job.compact_cache() is None
    assert cat._slice_values("cache", "fetched_round") == []


def test_recompaction_keeps_highest_round_for_a_base_key(spark, webs, tmp_path):
    """A key already in the compacted base that a newer slice carries
    again comes out of the next compaction once, with the newer round
    (highest slice wins across the base and the tail)."""
    web, robots, fetcher = webs(2, 10)
    cat, _cfg, job = _crawl(spark, tmp_path, web, robots, fetcher)
    floor = job.compact_cache()
    assert floor is not None
    key, newer = cat.read("cache").agg(F.min("url_hash")).first()[0], floor + 1
    cat.write_slice(
        cat.read("cache").filter(F.col("url_hash") == key).withColumn(
            "attempts", F.lit(7)
        ),
        "cache", "fetched_round", newer,
    )
    assert job.compact_cache() == newer
    got = cat.read_slices("cache").filter(F.col("url_hash") == key).collect()
    assert [(r["fetched_round"], r["attempts"]) for r in got] == [(newer, 7)]
    assert cat.read_slices("cache").count() == (
        cat.read_slices("cache").select("url_hash").distinct().count()
    )
