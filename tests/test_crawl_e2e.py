"""End-to-end crawl on the deterministic synthetic web (no network):
seeds → discovery → frontier → round loop (politeness, bloom seen-set,
mock fetch) → cache → parse → validate. Mirrors the reference e2e
(mod.rs:276-321) plus resume determinism (W4) and image invariants.
"""

import pytest
from pyspark.sql import functions as F

from netrunner_spark.images import psnr_udf
from netrunner_spark.lens import LensConfig, LensRule
from netrunner_spark.operators.dedup import canonical_dedup
from netrunner_spark.parser.udf import parse_pages
from netrunner_spark.plans.check_urls import check_urls, write_urls_txt
from netrunner_spark.plans.crawl import CrawlConfig, CrawlJob
from netrunner_spark.plans.validate import validate_crawl
from netrunner_spark.synth import gen_cdx, gen_images, gen_robots, gen_sitemaps, gen_web
from netrunner_spark.tables import LakeCatalog

N_HOSTS, PAGES = 3, 30


@pytest.fixture(scope="module")
def world(spark):
    web = gen_web(spark, N_HOSTS, PAGES).cache()
    return {
        "web": web,
        "images": gen_images(spark, N_HOSTS, PAGES).cache(),
        "robots": gen_robots(spark, N_HOSTS),
        "sitemaps": gen_sitemaps(spark, N_HOSTS, PAGES),
        "cdx": gen_cdx(spark, N_HOSTS, PAGES),
        "lens": LensConfig(
            name="synth",
            domains=[f"host{h}.test" for h in range(N_HOSTS)],
            rules=[LensRule("skip", "https://host0.test/wiki/*")],
        ),
    }


@pytest.fixture(scope="module")
def fetcher(world, colocated_fetcher):
    return colocated_fetcher(world["web"])


@pytest.fixture(scope="module")
def discovered(spark, world):
    return check_urls(
        spark, world["lens"], world["robots"], world["sitemaps"], world["cdx"]
    ).cache()


def test_check_urls_discovers_and_filters(spark, world, discovered):
    urls = [r["url"] for r in discovered.collect()]
    assert len(urls) == len(set(urls))  # deduped (F8)
    assert any("host0.test/docs" in u for u in urls)
    # skip rule enforced (F2)
    assert not any(u.startswith("https://host0.test/wiki/") for u in urls)
    # sitemap evens present for host1
    assert "https://host1.test/docs/0" in urls


def test_urls_txt_roundtrip(spark, discovered, tmp_path):
    path = str(tmp_path / "urls.txt")
    write_urls_txt(discovered, path)
    back = spark.read.text(path)
    vals = [r["value"] for r in back.collect()]
    assert vals == sorted(vals)  # K1/O1
    assert len(vals) == discovered.count()


@pytest.fixture(scope="module")
def crawled(spark, world, fetcher, discovered, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lake"))
    cat = LakeCatalog(spark, root)
    job = CrawlJob(
        spark,
        cat,
        fetcher,
        world["robots"],
        CrawlConfig(round_seconds=10.0, max_rounds=30, n_bloom_shards=8),
        lens=world["lens"],
    )
    job.init_frontier(discovered)
    stats = job.run()
    return {"cat": cat, "stats": stats}


def test_crawl_drains_frontier(spark, world, crawled):
    cat = crawled["cat"]
    cache = cat.read_slices("cache")
    frontier = cat.read("frontier")
    # every non-robots-blocked queued URL was attempted exactly once
    assert cache.count() == cache.select("url_hash").distinct().count()
    blocked = frontier.filter(F.col("state") == "queued")
    # only /private/ paths (robots disallow) stay queued
    assert blocked.filter(~F.col("url").contains("/private/")).count() == 0
    # politeness: per-host per-round fetch counts ≤ budget (W1)
    per_round = cache.groupBy("host", "fetched_round").count()
    assert per_round.filter(F.col("count") > 20).count() == 0
    # crawl-delay host (host0, h%7==0) capped at floor(10/2)=5
    assert (
        per_round.filter((F.col("host") == "host0.test") & (F.col("count") > 5)).count()
        == 0
    )


def test_validate_crawl(spark, world, crawled, discovered):
    cat = crawled["cat"]
    cache = cat.read_slices("cache")
    robots_allowed_urls = discovered.filter(~F.col("url").contains("/private/"))
    # every robots-allowed URL must have an attempt recorded in the cache
    # (connection failures keep their row with NULL status, like the
    # reference's per-URL cache files that exist even for errors)
    result = validate_crawl(cache, robots_allowed_urls.select("url"), world["images"])
    assert result.ok, result.errors


def test_parse_and_canonical_dedup(spark, world, crawled):
    cache = crawled["cat"].read_slices("cache")
    ok = cache.filter(F.col("status").between(200, 299))
    parsed = parse_pages(ok.select("url", "content"))
    assert parsed.filter(F.col("title").isNull()).count() == 0
    deduped = canonical_dedup(parsed)
    # pages i%10==8 declare canonical = page i-2 → dropped when both fetched
    assert deduped.count() < parsed.count()
    assert (
        deduped.groupBy("canonical_url").count().filter(F.col("count") > 1).count() == 0
    )


def test_archive_stage_single_pass_stats(
    spark, world, fetcher, crawled, monkeypatch
):
    """r3 verdict item 7: archive_stage's tallies must ride the ONE
    write pass (observe on input + written rows) — no parsed-table
    re-read, no cache re-count. Pinned by forbidding DataFrame.count and
    cat.read('parsed') during the call, then checking the stats against
    directly recomputed values."""
    from pyspark.sql import DataFrame

    cat = crawled["cat"]
    # expected values, computed independently BEFORE the patch
    cache = cat.read_slices("cache")
    ok = cache.filter(F.col("status").between(200, 299))
    exp_total = ok.count()
    exp_parsed = canonical_dedup(parse_pages(ok.select("url", "content"))).count()

    job = CrawlJob(
        spark, cat, fetcher, world["robots"],
        CrawlConfig(), lens=world["lens"],
    )

    def no_count(self, *a, **k):
        raise AssertionError("archive_stage ran an extra count() scan")

    orig_read = LakeCatalog.read

    def guarded_read(self, table, *a, **k):
        if table == "parsed":
            raise AssertionError("archive_stage re-read the parsed table")
        return orig_read(self, table, *a, **k)

    monkeypatch.setattr(DataFrame, "count", no_count)
    monkeypatch.setattr(LakeCatalog, "read", guarded_read)
    stats = job.archive_stage()
    monkeypatch.undo()

    assert stats["parsed"] == exp_parsed
    assert stats["dupes_dropped"] == exp_total - exp_parsed
    # synthetic corpus never falls back (rate pinned in test_parser_fast)
    assert stats["parse_fallbacks"] == 0


def test_image_psnr_invariant(spark, world):
    """input_hint: decoded-pixel PSNR ≥ 40 dB for lossy, exact for
    lossless — against the reference image table itself (cache holds
    image_id FKs; bytes live in the images table)."""
    images = world["images"]
    both = images.withColumn("p", psnr_udf(F.col("bytes"), F.col("bytes")))
    # self-PSNR infinite (identity) — sanity of the decode path
    assert both.filter(F.col("p").isNotNull()).count() == images.count()
    # lossy reconstruction vs lossless ground truth: re-encode check done
    # in images unit tests; here assert every fmt is decodable
    from netrunner_spark.images import decode_check_udf

    chk = images.withColumn("c", decode_check_udf(F.col("bytes")))
    bad = chk.filter(
        ~F.col("c.decode_ok")
        | (F.col("c.w_actual") != F.col("w"))
        | (F.col("c.phash_actual") != F.col("phash"))
    )
    assert bad.count() == 0


def test_follow_links_expands_schedule(spark, world, fetcher, tmp_path_factory):
    """Link expansion (our scalability extension): start from a few
    seed pages only; parsed links must be admitted, robots-checked,
    seen-filtered and scheduled into LATER rounds (schedule_ext),
    then actually fetched — with no URL attempted twice."""
    root = str(tmp_path_factory.mktemp("lake_links"))
    cat = LakeCatalog(spark, root)
    cfg = CrawlConfig(
        round_seconds=10.0,
        max_rounds=30,
        n_bloom_shards=8,
        follow_links=True,
        max_depth=2,
    )
    job = CrawlJob(
        spark, cat, fetcher, world["robots"], cfg,
        lens=world["lens"],
    )
    seeds = world["web"].filter(F.col("url").endswith("/docs/0")).select(
        "url", "host", F.xxhash64("url").alias("url_hash")
    )
    job.init_frontier(seeds)
    stats = job.run()
    cache = cat.read_slices("cache")
    n_seeds = seeds.count()
    # expansion really happened: more URLs fetched than seeded
    assert cache.count() > n_seeds
    # every URL attempted exactly once (seen guard + schedule dedup)
    assert cache.count() == cache.select("url_hash").distinct().count()
    # depth-1+ rows exist and respect max_depth
    depths = {r["depth"] for r in cache.select("depth").distinct().collect()}
    assert max(depths) >= 1 and max(depths) <= cfg.max_depth
    # skip-rule still enforced on expanded links (F2)
    assert cache.filter(F.col("url").startswith("https://host0.test/wiki/")).count() == 0
    # terminal frontier accounts for everything scheduled
    frontier = cat.read("frontier")
    assert frontier.filter(F.col("state") == "queued").count() == 0
    assert stats["fetched"] == cache.count()


def test_expansion_backfill_heals_crash(spark, world, fetcher, tmp_path_factory):
    """W4 exactly-once for link expansion (ADVICE r2): a crash after the
    round's cache slice commits but before _expand_links runs must NOT
    lose that round's discovered links on resume. Simulated by
    committing round 0 without expansion (no marker), then resuming
    with follow_links on — the backfill replays the expansion and the
    final cache equals an uninterrupted run's."""

    def mk_cfg():
        return CrawlConfig(
            round_seconds=10.0, max_rounds=30, n_bloom_shards=8,
            follow_links=True, max_depth=2,
        )

    seeds_df = world["web"].filter(F.col("url").endswith("/docs/0")).select(
        "url", "host", F.xxhash64("url").alias("url_hash")
    )

    # uninterrupted reference run
    root_a = str(tmp_path_factory.mktemp("lake_exp_a"))
    cat_a = LakeCatalog(spark, root_a)
    job_a = CrawlJob(
        spark, cat_a, fetcher, world["robots"], mk_cfg(),
        lens=world["lens"],
    )
    job_a.init_frontier(seeds_df)
    job_a.run()

    # crashed run: round 0's cache slice commits, expansion never runs
    root_b = str(tmp_path_factory.mktemp("lake_exp_b"))
    cat_b = LakeCatalog(spark, root_b)
    crash_cfg = mk_cfg()
    crash_cfg.follow_links = False  # models dying inside _expand_links
    job_b = CrawlJob(
        spark, cat_b, fetcher, world["robots"], crash_cfg,
        lens=world["lens"],
    )
    job_b.init_frontier(seeds_df)
    job_b.run_round(0)
    assert not cat_b.has_marker("schedule_ext", "expanded-0")

    # resume: fresh job, follow_links on → backfill must replay round 0's
    # expansion even though current_round() has moved past it
    job_b2 = CrawlJob(
        spark, cat_b, fetcher, world["robots"], mk_cfg(),
        lens=world["lens"],
    )
    job_b2.run()
    assert cat_b.has_marker("schedule_ext", "expanded-0")

    a = {(r["url"], r["status"]) for r in cat_a.read_slices("cache").collect()}
    b = {(r["url"], r["status"]) for r in cat_b.read_slices("cache").collect()}
    assert a == b
    assert len(b) > seeds_df.count()  # expansion genuinely recovered


def test_round_without_expandable_pages_skips_expansion(
    spark, world, fetcher, tmp_path_factory, monkeypatch
):
    """With max_depth=1 only round 0 (the seeds, depth 0) has pages to
    expand; every later round holds depth-1 pages only. Such a round
    must run NO Spark job after its cache write — the count of
    expandable rows rides the write's Observation — yet still set its
    ``expanded-N`` marker so resume never replays it. The expanding
    round 0, measured the same way, does run jobs."""
    cat = LakeCatalog(spark, str(tmp_path_factory.mktemp("lake_skip")))
    cfg = CrawlConfig(
        round_seconds=10.0, max_rounds=30, n_bloom_shards=8,
        follow_links=True, max_depth=1,
    )
    job = CrawlJob(
        spark, cat, fetcher, world["robots"], cfg,
        lens=world["lens"],
    )
    job.init_frontier(
        world["web"].filter(F.col("url").endswith("/docs/0")).select(
            "url", "host", F.xxhash64("url").alias("url_hash")
        )
    )
    sc = spark.sparkContext
    write_slice = cat.write_slice

    def tagged_write(df, table, slice_col, slice_val):
        write_slice(df, table, slice_col, slice_val)
        if table == "cache":
            sc.setJobGroup(f"after-cache-{slice_val}", "rest of the round")

    monkeypatch.setattr(cat, "write_slice", tagged_write)
    jobs_after_cache = {}
    r = 0
    while r <= job.max_round():
        try:
            job.run_round(r)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        group = sc.statusTracker().getJobIdsForGroup(f"after-cache-{r}")
        jobs_after_cache[r] = len(group)
        r += 1

    assert r >= 2  # round 0 expanded into later rounds
    assert jobs_after_cache[0] > 0
    for late in range(1, r):
        assert jobs_after_cache[late] == 0, late
        assert cat.has_marker("schedule_ext", f"expanded-{late}")
    # nothing to replay on resume: the skipped rounds count as expanded
    sc.setJobGroup("backfill", "expansion backfill")
    try:
        job._backfill_expansion()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("backfill") == []


def test_metrics_bulk_gives_empty_rounds_an_empty_slice(
    spark, world, fetcher, tmp_path_factory
):
    """A committed cache round that aggregates to no metrics rows gets
    no partition from the bulk write; stamping ``_SUCCESS`` on it would
    leave a marker-only directory that reads as committed but fails
    ``read_slice``. Such a round gets an empty slice instead, which
    reads back and counts as done: a second backfill runs no job."""
    cat = LakeCatalog(spark, str(tmp_path_factory.mktemp("lake_metrics")))
    job = CrawlJob(
        spark, cat, fetcher, world["robots"],
        CrawlConfig(round_seconds=10.0, n_bloom_shards=8),
    )
    job.init_frontier(
        world["web"].select("url", "host", F.xxhash64("url").alias("url_hash"))
    )
    job.run_round(0)
    empty = cat.read_slice("cache", "fetched_round", 0).limit(0)
    cat.write_slice(empty, "cache", "fetched_round", 1)
    assert cat.slice_committed("cache", "fetched_round", 1)

    job._write_metrics_bulk([0, 1])
    assert cat.slice_committed("metrics", "round", 0)
    assert cat.read_slice("metrics", "round", 0).count() > 0
    assert cat.slice_exists("metrics", "round", 1)
    assert cat.slice_committed("metrics", "round", 1)
    assert cat.read_slice("metrics", "round", 1).count() == 0

    sc = spark.sparkContext
    sc.setJobGroup("metrics-backfill", "second metrics backfill")
    try:
        job._backfill_metrics()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("metrics-backfill") == []


def test_resume_bit_identity(
    spark, world, fetcher, discovered, tmp_path_factory
):
    """Kill-resume: running rounds 0..1, then resuming a fresh CrawlJob
    over the same catalog, must converge to the same cache/frontier as
    an uninterrupted run (W4)."""
    cfg = CrawlConfig(round_seconds=10.0, max_rounds=30, n_bloom_shards=8)

    root_a = str(tmp_path_factory.mktemp("lake_a"))
    cat_a = LakeCatalog(spark, root_a)
    job_a = CrawlJob(spark, cat_a, fetcher, world["robots"], cfg)
    job_a.init_frontier(discovered)
    job_a.run()

    root_b = str(tmp_path_factory.mktemp("lake_b"))
    cat_b = LakeCatalog(spark, root_b)
    job_b = CrawlJob(spark, cat_b, fetcher, world["robots"], cfg)
    job_b.init_frontier(discovered)
    for r in range(2):
        job_b.run_round(r)
    # "kill" → new job object over the same catalog (resume path)
    job_b2 = CrawlJob(spark, cat_b, fetcher, world["robots"], cfg)
    job_b2.run()

    a = {(r["url"], r["status"]) for r in cat_a.read_slices("cache").collect()}
    b = {(r["url"], r["status"]) for r in cat_b.read_slices("cache").collect()}
    assert a == b
    fa = {(r["url"], r["state"]) for r in cat_a.read("frontier").collect()}
    fb = {(r["url"], r["state"]) for r in cat_b.read("frontier").collect()}
    assert fa == fb


def test_sharded_drain_equals_unsharded(
    spark, world, fetcher, discovered, crawled, tmp_path
):
    """Partition-and-drain invariance: splitting the frontier across
    rendezvous workers (host-sticky, so per-host politeness state never
    straddles a shard) and draining each shard independently yields
    exactly the unsharded cache URL set, with disjoint shards — the
    property that makes the HRW address map safe to deploy."""
    from netrunner_spark.operators.crawlintel import rendezvous_shards

    whole = {
        r.url for r in crawled["cat"].read_slices("cache").select("url").collect()
    }
    assigned = rendezvous_shards(discovered, n_workers=2).cache()
    shard_sets = []
    for w in (0, 1):
        cat = LakeCatalog(spark, str(tmp_path / f"w{w}"))
        job = CrawlJob(
            spark,
            cat,
            fetcher,
            world["robots"],
            CrawlConfig(round_seconds=10.0, max_rounds=30, n_bloom_shards=8),
            lens=world["lens"],
        )
        shard = assigned.filter(F.col("worker") == w).drop("worker")
        if shard.isEmpty():
            shard_sets.append(set())
            continue
        job.init_frontier(shard)
        job.run()
        shard_sets.append(
            {r.url for r in cat.read_slices("cache").select("url").collect()}
        )
    assert shard_sets[0] | shard_sets[1] == whole
    assert not (shard_sets[0] & shard_sets[1])


def test_enqueue_crash_between_bloom_and_append_is_safe(
    spark, world, fetcher, tmp_path_factory, monkeypatch
):
    """The enqueue_frontier crash window (r5 review): the bloom folds
    BEFORE the schedule_ext append, so dying between the two leaves a
    bloom false POSITIVE (healed by the exact anti-join on replay) —
    never a false negative that would double-schedule the links. After
    the replay every URL is scheduled exactly once and every scheduled
    key probes maybe_seen."""
    from netrunner_spark.operators.seen import bloom_partition

    cfg = CrawlConfig(
        round_seconds=10.0, max_rounds=30, n_bloom_shards=8,
        follow_links=True, max_depth=2,
    )
    seeds_df = world["web"].filter(F.col("url").endswith("/docs/0")).select(
        "url", "host", F.xxhash64("url").alias("url_hash")
    )
    root = str(tmp_path_factory.mktemp("lake_enq_crash"))
    cat = LakeCatalog(spark, root)
    job = CrawlJob(
        spark, cat, fetcher, world["robots"], cfg,
        lens=world["lens"],
    )
    job.init_frontier(seeds_df)

    real_append = LakeCatalog.append_partitions
    calls = {"n": 0}

    def crashing_append(self, df, table, part_col):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash after bloom fold")
        return real_append(self, df, table, part_col)

    monkeypatch.setattr(LakeCatalog, "append_partitions", crashing_append)
    with pytest.raises(RuntimeError, match="simulated crash"):
        job.run_round(0)
    # crash landed between fold and append: bloom grew, ext did not
    assert cat.read_slices("schedule_ext") is None

    # resume: a fresh job replays the expansion (no marker was set)
    job2 = CrawlJob(
        spark, cat, fetcher, world["robots"], cfg,
        lens=world["lens"],
    )
    job2.run()
    ext = cat.read_slices("schedule_ext")
    assert ext is not None
    rows = ext.select("url_hash").collect()
    keys = [r["url_hash"] for r in rows]
    assert len(keys) == len(set(keys))  # exactly-once despite the crash
    assert len(keys) > 0
    # no-false-negative invariant: every scheduled ext key probes seen
    shards = cat.read("bloom_shards")
    n_sh = int(shards.agg(F.max("n_shards")).first()[0])
    tagged = bloom_partition(
        ext.select("url_hash"), shards, n_sh
    )
    assert tagged.filter(~F.col("maybe_seen")).count() == 0


def test_expanding_rounds_keep_bloom_snapshots_bounded(
    spark, world, fetcher, tmp_path_factory
):
    """Every expanding round folds its new keys into a full bloom
    snapshot (n_shards x 128 KiB); the fold is followed by a vacuum, so
    after any number of expanding rounds ``bloom_shards`` holds at most
    the last two snapshots on disk."""
    import os

    cat = LakeCatalog(spark, str(tmp_path_factory.mktemp("lake_bloom_vac")))
    cfg = CrawlConfig(
        round_seconds=10.0, n_bloom_shards=8, follow_links=True, max_depth=8,
    )
    job = CrawlJob(
        spark, cat, fetcher, world["robots"], cfg, lens=world["lens"],
    )
    job.init_frontier(
        world["web"].filter(F.col("url").endswith("/docs/0")).select(
            "url", "host", F.xxhash64("url").alias("url_hash")
        )
    )
    # snapshot 1 is the init build; every later one is an expanding fold
    r = 0
    while cat.version("bloom_shards") < 4 and r <= job.max_round():
        job.run_round(r)
        r += 1
    assert cat.version("bloom_shards") - 1 >= 3
    snaps = [
        d for d in os.listdir(cat._tdir("bloom_shards")) if d.startswith("snap-")
    ]
    assert 1 <= len(snaps) <= 2, snaps


def test_init_crash_before_bloom_write_heals_on_resume(
    spark, world, fetcher, tmp_path_factory
):
    """The init_frontier crash window: schedule committed, bloom write
    never ran. The resumed init is a no-op; the next expanding round
    probes exactly and its fold rebuilds the full bloom, so every
    ``schedule`` and ``schedule_ext`` key probes maybe-seen and no URL
    is scheduled twice."""
    import shutil

    from netrunner_spark.operators.seen import bloom_partition

    cfg = CrawlConfig(
        round_seconds=10.0, max_rounds=30, n_bloom_shards=8,
        follow_links=True, max_depth=2,
    )
    seeds_df = world["web"].filter(F.col("url").endswith("/docs/0")).select(
        "url", "host", F.xxhash64("url").alias("url_hash")
    )
    root = str(tmp_path_factory.mktemp("lake_init_crash"))
    cat = LakeCatalog(spark, root)
    job = CrawlJob(
        spark, cat, fetcher, world["robots"], cfg,
        lens=world["lens"],
    )
    job.init_frontier(seeds_df)
    # simulate the crash: bloom vanishes, schedule stays
    shutil.rmtree(cat._tdir("bloom_shards"))

    job2 = CrawlJob(
        spark, cat, fetcher, world["robots"], cfg,
        lens=world["lens"],
    )
    job2.init_frontier(seeds_df)
    assert not cat.exists("bloom_shards")
    job2.run_round(0)  # expanding: exact probe, then the full rebuild
    assert cat.exists("bloom_shards")
    job2.run_round(1)  # expanding again, through the rebuilt bloom
    assert cat.read_slices("schedule_ext") is not None
    sched_keys = job2._scheduled().select("url_hash")
    tagged = bloom_partition(
        sched_keys, cat.read("bloom_shards"), cfg.n_bloom_shards
    )
    assert tagged.filter(~F.col("maybe_seen")).count() == 0
    urls = [r["url"] for r in job2._scheduled(blocked=True).collect()]
    assert len(urls) == len(set(urls))


def test_resume_with_other_shard_count_raises_before_writing(
    spark, world, fetcher, tmp_path_factory
):
    """The bloom's shard count is the configured ``n_bloom_shards``. A
    resume configured with another count fails on its first expanding
    round, in the probe, before the bloom or ``schedule_ext`` is
    written — a silent re-key would route keys to the wrong shard."""
    import dataclasses

    cfg = CrawlConfig(
        round_seconds=10.0, max_rounds=30, n_bloom_shards=8,
        follow_links=True, max_depth=2,
    )
    seeds_df = world["web"].filter(F.col("url").endswith("/docs/0")).select(
        "url", "host", F.xxhash64("url").alias("url_hash")
    )
    cat = LakeCatalog(spark, str(tmp_path_factory.mktemp("lake_shard_n")))
    job = CrawlJob(
        spark, cat, fetcher, world["robots"], cfg, lens=world["lens"],
    )
    job.init_frontier(seeds_df)
    job.run_round(0)
    ext_before = sorted(tuple(r) for r in cat.read_slices("schedule_ext").collect())
    assert ext_before
    bloom_version = cat.version("bloom_shards")

    job2 = CrawlJob(
        spark, cat, fetcher, world["robots"],
        dataclasses.replace(cfg, n_bloom_shards=4), lens=world["lens"],
    )
    with pytest.raises(Exception, match="n_shards"):
        job2.run_round(1)
    ext_after = sorted(tuple(r) for r in cat.read_slices("schedule_ext").collect())
    assert ext_after == ext_before
    assert cat.version("bloom_shards") == bloom_version


def test_init_after_streaming_enqueue_keeps_streamed_keys_in_bloom(
    spark, world, fetcher, tmp_path_factory
):
    """A streaming-fed crawl enqueues before any ``init_frontier``; the
    init that follows folds its schedule into that bloom instead of
    replacing it, so the streamed keys still probe maybe-seen (a
    replaced bloom lets them through the probe as definitely unseen)."""
    from netrunner_spark.operators.seen import bloom_partition

    cfg = CrawlConfig(round_seconds=10.0, n_bloom_shards=8)
    cat = LakeCatalog(spark, str(tmp_path_factory.mktemp("lake_stream_init")))
    job = CrawlJob(spark, cat, fetcher, world["robots"], cfg)
    keyed = world["web"].select(
        "url", "host", F.xxhash64("url").alias("url_hash")
    )
    job.enqueue_frontier(
        keyed.filter(F.col("url").endswith("/docs/3")).withColumn(
            "depth", F.lit(0)
        )
    )
    assert cat.exists("bloom_shards")
    job.init_frontier(keyed.filter(F.col("url").endswith("/docs/0")))
    sched_keys = job._scheduled().select("url_hash")
    assert cat.read_slices("schedule_ext").count() > 0
    tagged = bloom_partition(sched_keys, cat.read("bloom_shards"), 8)
    assert tagged.filter(~F.col("maybe_seen")).count() == 0


def test_init_after_streaming_enqueue_keeps_host_budget(
    spark, world, fetcher, tmp_path_factory
):
    """``init_frontier`` after a streaming enqueue schedules after the
    streamed rounds: scheduling both from round 0 put two budgets' worth
    of one host's URLs into each overlapping round."""
    cfg = CrawlConfig(round_seconds=1.0, n_bloom_shards=4)  # budget 2
    cat = LakeCatalog(spark, str(tmp_path_factory.mktemp("lake_stream_budget")))
    job = CrawlJob(spark, cat, fetcher, world["robots"], cfg)
    # host1 has no crawl-delay, so its budget is round_seconds * rps = 2
    keyed = world["web"].filter(F.col("host") == "host1.test").select(
        "url", "host", F.xxhash64("url").alias("url_hash")
    )
    urls = [f"https://host1.test/{p}" for p in
            ("docs/0", "blog/1", "wiki/2", "docs/3", "blog/4", "docs/6")]
    job.enqueue_frontier(
        keyed.filter(F.col("url").isin(urls[:3])).withColumn("depth", F.lit(0))
    )
    job.init_frontier(keyed.filter(F.col("url").isin(urls[3:])))
    per_round = (
        job._scheduled().groupBy("host", "sched_round").count().collect()
    )
    assert sum(r["count"] for r in per_round) == 6
    assert max(r["count"] for r in per_round) <= 2


def test_archive_fallback_counts_missing_images_as_failures(
    spark, world, colocated_fetcher, tmp_path_factory
):
    """An image reference whose image is MISSING from the store is a
    failure, not a no-image page. The fetch stage stamps such
    a page image_ok = false, and archive_stage counts it, with per-page
    multiplicity."""
    from netrunner_spark.images import encode_image, phash64
    import numpy as np

    # 3 pages: two share image 1 (present + valid), one references
    # image 99 (missing from the image store)
    arr = np.full((8, 8, 3), 128, dtype=np.uint8)
    web = spark.createDataFrame(
        [
            (f"https://h.test/{p}", "h.test", 200, f"<html>{p}</html>", iid, False)
            for p, iid in (("a", "img-1"), ("b", "img-1"), ("c", "img-99"))
        ],
        "url string, host string, status int, content string,"
        " image_id string, flaky_once boolean",
    ).withColumn(
        "headers", F.lit(None).cast("array<struct<name:string,value:string>>")
    )
    images = spark.createDataFrame(
        [("img-1", encode_image(arr, "png"), 8, 8, phash64(arr))],
        "image_id string, bytes binary, w int, h int, phash long",
    )
    cfg = CrawlConfig(round_seconds=10.0, max_rounds=5, n_bloom_shards=4)
    cat = LakeCatalog(spark, str(tmp_path_factory.mktemp("lake_fb_img")))
    job = CrawlJob(
        spark, cat, colocated_fetcher(web, images), world["robots"], cfg,
    )
    job.init_frontier(web.select("url", "host", F.xxhash64("url").alias("url_hash")))
    job.run()
    stamped = {r["url"]: r["image_ok"] for r in job.cache_df().collect()}
    assert stamped == {
        "https://h.test/a": True,
        "https://h.test/b": True,
        "https://h.test/c": False,
    }
    stats = job.archive_stage()
    assert stats["images_checked"] == 3   # every ref row counted
    assert stats["image_failures"] == 1   # the missing image


def test_limit_depth_admits_every_intermediate_depth():
    """r5 review: the depth-limit regex matched only depth 0 or exactly
    max_depth (spyglass-lens LimitURLDepth is {0,N}) — every
    intermediate depth silently vanished from the frontier."""
    import re

    lens = LensConfig(
        name="t",
        domains=[],
        urls=[],
        rules=[
            LensRule(
                kind="limit_depth",
                pattern="https://a.test/docs",
                max_depth=2,
            )
        ],
    )
    allow, _ = lens.alternations()
    assert re.match(allow, "https://a.test/docs")
    assert re.match(allow, "https://a.test/docs/a")       # was dropped
    assert re.match(allow, "https://a.test/docs/a/")      # trailing slash
    assert re.match(allow, "https://a.test/docs/a/b")
    assert not re.match(allow, "https://a.test/docs/a/b/c")
