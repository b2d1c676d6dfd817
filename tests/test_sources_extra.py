"""XML sitemap/RSS parsing (S4/S6/X10), wayback URL (X7), lens
writer/folder lens (K6), dual-source fallback (S9)."""

import gzip

from pyspark.sql import functions as F

from netrunner_spark import lens as lens_mod
from netrunner_spark.sources.xmlparse import parse_rss, parse_sitemap
from netrunner_spark.urlnorm import wayback_url

SITEMAP = """<?xml version="1.0"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url><loc>https://a.test/1</loc><lastmod>2024-01-01</lastmod></url>
  <url><loc>https://a.test/2</loc></url>
</urlset>"""

SITEMAP_INDEX = """<?xml version="1.0"?>
<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <sitemap><loc>https://a.test/sitemap-1.xml</loc></sitemap>
  <sitemap><loc>https://a.test/sitemap-2.xml</loc></sitemap>
</sitemapindex>"""

RSS = """<rss version="2.0"><channel>
  <item><link>https://b.test/post1</link></item>
  <item><link>https://b.test/post2</link></item>
</channel></rss>"""

ATOM = """<feed xmlns="http://www.w3.org/2005/Atom">
  <entry><link href="https://c.test/e1"/></entry>
</feed>"""


def test_parse_sitemap_urlset_and_index():
    urls, children = parse_sitemap(SITEMAP)
    assert urls == ["https://a.test/1", "https://a.test/2"] and not children
    urls, children = parse_sitemap(SITEMAP_INDEX)
    assert not urls and len(children) == 2


def test_parse_sitemap_gzip_and_bom():
    # X10: gzip payload + UTF-8 BOM both handled (bootstrap.rs:329-336)
    payload = gzip.compress(("﻿" + SITEMAP).encode("utf-8"))
    urls, _ = parse_sitemap(payload)
    assert len(urls) == 2
    assert parse_sitemap(b"not xml") == ([], [])


def test_parse_rss_and_atom():
    assert parse_rss(RSS) == ["https://b.test/post1", "https://b.test/post2"]
    assert parse_rss(ATOM) == ["https://c.test/e1"]


def test_wayback_url():
    assert (
        wayback_url("https://x.test/p", "20240101")
        == "https://web.archive.org/web/20240101000000id_/https://x.test/p"
    )


def test_lens_roundtrip_and_folder_lens():
    text = lens_mod.folder_lens("docs", ["https://f.test/b", "https://f.test/a"])
    cfg = lens_mod.loads(text)
    assert cfg.urls == ["https://f.test/a$", "https://f.test/b$"]
    assert cfg.seeds() == [
        ("https://f.test/a", "exact"),
        ("https://f.test/b", "exact"),
    ]


def test_dual_source_fallback(spark, colocated_fetcher):
    """S9: origin-404 pages with an IA snapshot are recovered via the
    archive side; source column records which side served."""
    from netrunner_spark.synth import gen_web

    web = gen_web(spark, 1, 40)  # page i=9 (i%31==9): origin 404, ia 200
    batch = web.select("url", F.xxhash64("url").alias("url_hash"))
    out = colocated_fetcher(web).fetch(batch)
    rescued = out.filter(F.col("url").endswith("/9")).collect()[0]
    assert rescued["status"] == 200
    assert rescued["source"] == "archive"
    assert rescued["attempts"] == 2  # one origin try (404, no retry) + one IA
    plain = out.filter(F.col("url").endswith("/0")).collect()[0]
    assert plain["source"] == "origin" and plain["status"] == 200
    dead = out.filter(F.col("url").endswith(f"/{37 + 1}")).collect()
    if dead:  # i=38: 404 origin, no IA → stays failed, 1 attempt (F10)
        assert dead[0]["status"] == 404 and dead[0]["attempts"] == 1


def test_parse_sitemap_hints_fields_and_edges():
    from netrunner_spark.sources.xmlparse import parse_sitemap_hints

    xml = """<?xml version="1.0"?>
    <urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
      <url><loc>https://a.test/1</loc><lastmod>2024-01-03T10:00:00Z</lastmod>
           <changefreq>Daily</changefreq><priority>0.7</priority></url>
      <url><loc>https://a.test/2</loc></url>
      <url><lastmod>2024-01-01</lastmod></url>
      <url><loc>https://a.test/3</loc><priority>bogus</priority></url>
    </urlset>"""
    got = parse_sitemap_hints(xml)
    assert got[0] == ("https://a.test/1", "2024-01-03T10:00:00Z", "daily", 70)
    assert got[1] == ("https://a.test/2", None, None, None)  # hints optional
    assert len(got) == 3  # loc-less entry dropped
    assert got[2] == ("https://a.test/3", None, None, None)  # bad priority -> None
    assert parse_sitemap_hints(b"") == []
    assert parse_sitemap_hints("<not xml") == []


def test_sitemap_hints_spark_roundtrip_and_period(spark):
    from netrunner_spark.sources.discovery import hints_with_period, sitemap_hints

    xml = (
        '<urlset><url><loc>u1</loc><changefreq>hourly</changefreq></url>'
        "<url><loc>u2</loc><changefreq>never</changefreq></url>"
        "<url><loc>u3</loc></url></urlset>"
    )
    sm = spark.createDataFrame([("s1", xml)], "sitemap_url string, xml string")
    got = {
        r["url"]: r["period_h"]
        for r in hints_with_period(sitemap_hints(sm), default_h=99).collect()
    }
    assert got == {"u1": 1, "u2": 100 * 8760, "u3": 99}


def test_sitemap_priority_overflow_is_null(spark):
    """r5 review: <priority>1e999</priority> floats to inf and
    int(round(inf)) raised OverflowError, killing the task."""
    from netrunner_spark.sources.xmlparse import parse_sitemap_hints

    xml = (
        '<?xml version="1.0"?><urlset>'
        "<url><loc>https://h.test/a</loc><priority>1e999</priority></url>"
        "<url><loc>https://h.test/b</loc><priority>0.8</priority></url>"
        "</urlset>"
    )
    got = {loc: prio for loc, _lm, _cf, prio in parse_sitemap_hints(xml)}
    assert got == {"https://h.test/a": None, "https://h.test/b": 80}


def test_blank_user_agent_group_never_matches(spark):
    """r5 review: an empty 'User-agent:' value is invalid per REP; it
    used to tie the '*' group (startswith('') is vacuously true) and
    could blanket-block a host."""
    from netrunner_spark.operators.politeness import robots_allowed
    from netrunner_spark.sources.robots import parse_robots

    text = "User-agent:\nDisallow: /\n\nUser-agent: *\nAllow: /\n"
    rules = parse_robots(
        spark.createDataFrame(
            [("h.test", text)], "host string, robots_txt string"
        )
    )
    frontier = spark.createDataFrame(
        [("https://h.test/page", "h.test")], "url string, host string"
    )
    assert robots_allowed(frontier, rules).count() == 1  # not blocked


def test_parsed_read_auto_sniffs_ron_directory(spark, tmp_path):
    """r5 review: fmt='auto' classified any non-.gz PATH as JSON, so a
    directory written by parsed_export_ron was misread as JSON into
    corrupt rows. It must sniff the part files."""
    from netrunner_spark.sources.archive import parsed_export_ron, parsed_read

    df = spark.createDataFrame(
        [("https://h.test/a", "t", "d", "alpha", "hh", {}, [])],
        "canonical_url string, title string, description string,"
        " content string, content_hash string, meta map<string,string>,"
        " links array<string>",
    )
    out = str(tmp_path / "parsed_ron")
    parsed_export_ron(df, out)
    back = parsed_read(spark, out)  # fmt defaults to auto
    rows = back.collect()
    assert len(rows) == 1
    assert rows[0]["canonical_url"] == "https://h.test/a"


def test_warc_partition_names_do_not_collide(spark, tmp_path):
    """r5 review: the per-partition WARC name derived from (first url,
    count) alone — two partitions opening with the same duplicate URL
    and equal counts overwrote each other's file. The partition id is
    now part of the name."""
    from netrunner_spark.sources.warc import warc_export

    schema = "url string, status int, headers string, content string"
    rdd = spark.sparkContext.parallelize(
        [("https://h.test/dup", 200, "", "a"),
         ("https://h.test/dup", 200, "", "b")],
        2,  # exactly two partitions, same first url + count
    )
    df = spark.createDataFrame(rdd, schema)
    out = str(tmp_path / "warc")
    import os

    os.makedirs(out, exist_ok=True)
    manifest = warc_export(df, out).collect()
    paths = [r["path"] for r in manifest]
    assert len(paths) == 2
    assert len(set(paths)) == 2  # distinct files, nothing overwritten
    assert sum(r["n_records"] for r in manifest) == 2
