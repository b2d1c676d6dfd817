"""Regressions for the seventh review batch (lake catalog, discovery
sources, probe front-end, bench harness inputs)."""

from pyspark.sql import functions as F

from netrunner_spark.sources.xmlparse import parse_rss, parse_sitemap
from netrunner_spark.tables import LakeCatalog


def test_merge_clears_stale_uncommitted_snapshot(spark, tmp_path):
    """A stale snap-N dir (crashed merge / rollback leftover) must not
    leak its files into the next merge's commit: an earlier merge path
    ran no overwrite job for an empty upsert and committed the stale
    files alongside the old ones — silent duplicate keys."""
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    cat.write(base, "t")                                       # snap-1
    upd = spark.createDataFrame([(2, "B!")], "k long, v string")
    cat.merge(upd, "t", key="k")                               # snap-2
    cat.rollback("t", 1)                                       # snap-2 now stale
    empty = spark.createDataFrame([], "k long, v string")
    cat.merge(empty, "t", key="k")                             # re-commits v2
    rows = {(r["k"], r["v"]) for r in cat.read("t").collect()}
    assert rows == {(1, "a"), (2, "b"), (3, "c")}
    # no duplicate keys
    assert cat.read("t").count() == cat.read("t").select("k").distinct().count()

    # same window with a NON-empty merge of another key: stale files
    # must still be cleared
    cat.merge(upd, "t", key="k")                               # snap-2 again
    cat.rollback("t", 1)
    other = spark.createDataFrame([(1, "A!")], "k long, v string")
    cat.merge(other, "t", key="k")
    rows = {(r["k"], r["v"]) for r in cat.read("t").collect()}
    assert rows == {(1, "A!"), (2, "b"), (3, "c")}


def test_read_table_preserves_partition_column_order(spark, tmp_path):
    """Multi-column partition specs must re-register in WRITE order —
    set+sorted recovered zero partitions for ['b','a'] layouts."""
    cat = LakeCatalog(spark, str(tmp_path / "lake2"))
    df = spark.createDataFrame(
        [(1, 10, 100, "x"), (2, 20, 200, "y")],
        "k long, b int, a int, v string",
    )
    cat.write_table_bucketed(df, "mp", key="k", n_buckets=2, partition_by=["b", "a"])
    # force the re-register path (fresh-session analog)
    spark.sql(f"DROP TABLE IF EXISTS {cat.table_name('mp')}")
    got = cat.read_table("mp")
    assert got.count() == 2
    assert {r["v"] for r in got.collect()} == {"x", "y"}


def test_gzip_garbage_sitemap_does_not_crash():
    """A body that starts with the gzip magic but is truncated/garbage
    must parse to empty, never raise (one adversarial sitemap must not
    fail the fetch task)."""
    for garbage in (b"\x1f\x8b", b"\x1f\x8b\x08\x00garbage-not-deflate"):
        assert parse_sitemap(garbage) == ([], [])
        assert parse_rss(garbage) == []
    # real gzip still inflates
    import gzip

    xml = b'<urlset><url><loc>https://h.test/p</loc></url></urlset>'
    assert parse_sitemap(gzip.compress(xml)) == (["https://h.test/p"], [])


def test_atom_rel_links_filtered():
    """Only rel="alternate" (or rel-less) Atom entry links are article
    URLs; self/replies/enclosure hrefs are junk frontier entries."""
    feed = """<feed xmlns="http://www.w3.org/2005/Atom">
      <entry>
        <link rel="alternate" href="https://h.test/post"/>
        <link rel="self" href="https://h.test/feed.atom"/>
        <link rel="replies" href="https://h.test/post/comments.atom"/>
        <link rel="enclosure" href="https://h.test/ep.mp3"/>
        <link href="https://h.test/post2"/>
      </entry>
    </feed>"""
    assert parse_rss(feed) == ["https://h.test/post", "https://h.test/post2"]
    # RSS <item><link>text</link> unaffected
    rss = "<rss><channel><item><link>https://h.test/a</link></item></channel></rss>"
    assert parse_rss(rss) == ["https://h.test/a"]


def test_probe_keeps_declared_sitemaps_for_homepage_less_host(spark):
    """A host whose homepage fetch failed but whose robots.txt declared
    Sitemap: lines must keep its sitemap tree (old bug: site_info only
    covers homepage hosts, and rules' own sitemaps column was dropped
    → CDX-only discovery for that host)."""
    from netrunner_spark.lens import LensConfig
    from netrunner_spark.plans.check_urls import check_urls_from_probe
    from netrunner_spark.synth import gen_cdx, gen_robots_txt, gen_sitemaps, gen_web

    n, pages = 4, 12
    web = gen_web(spark, n, pages)
    # host1 declares a sitemap in robots.txt but its homepage is missing
    homepages = (
        web.filter(F.col("url").endswith("/docs/0"))
        .filter(F.col("host") != "host1.test")
        .select("host", "url", "content")
    )
    lens = LensConfig(name="probe", domains=[f"host{h}.test" for h in range(n)])
    out = check_urls_from_probe(
        spark,
        lens,
        homepages,
        gen_robots_txt(spark, n),
        gen_sitemaps(spark, n, pages),
        gen_cdx(spark, n, pages),
    )
    urls = {r["url"] for r in out.collect()}
    assert "https://host1.test/docs/0" in urls
