"""CLI mirroring the reference's commands (main.rs:108-238) over the
Spark engine — a user of `netrunner <cmd>` can run the same workflows:

  python -m netrunner_spark check-domain --domain HOST
  python -m netrunner_spark check-urls  --lens L [--lake DIR]
  python -m netrunner_spark crawl       --lens L --lake DIR [--follow-links]
  python -m netrunner_spark validate    --lake DIR --urls urls.txt
  python -m netrunner_spark parse       --url U --file page.html
  python -m netrunner_spark preprocess  --warc DIR --out DIR
  python -m netrunner_spark crawl-folder --dir D --base-url U --out DIR

Sandbox note: discovery/fetch run against the deterministic synthetic
web (--synth-hosts/--synth-pages); plug HttpFetcher for live crawling
outside the sandbox (network is unavailable here).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="netrunner_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def add_common(sp):
        sp.add_argument("--synth-hosts", type=int, default=3)
        sp.add_argument("--synth-pages", type=int, default=30)
        sp.add_argument("--cores", type=int, default=8)

    sp = sub.add_parser("check-domain")
    sp.add_argument("--domain", required=True)
    add_common(sp)

    sp = sub.add_parser("check-urls")
    sp.add_argument("--lens", required=True)
    sp.add_argument("--out", default="./urls.txt")
    add_common(sp)

    sp = sub.add_parser("crawl")
    sp.add_argument("--lens", required=True)
    sp.add_argument("--lake", required=True)
    sp.add_argument("--follow-links", action="store_true")
    sp.add_argument("--rps", type=float, default=2.0)
    sp.add_argument("--round-seconds", type=float, default=10.0)
    add_common(sp)

    sp = sub.add_parser("validate")
    sp.add_argument("--lake", required=True)
    sp.add_argument("--urls", required=True)
    add_common(sp)

    sp = sub.add_parser("parse")
    sp.add_argument("--url", required=True)
    sp.add_argument("--file", required=True)

    sp = sub.add_parser("preprocess")
    sp.add_argument("--warc", required=True)
    sp.add_argument("--out", required=True)
    add_common(sp)

    sp = sub.add_parser("crawl-folder")
    sp.add_argument("--dir", required=True)
    sp.add_argument("--base-url", required=True)
    sp.add_argument("--out", required=True)
    add_common(sp)

    args = p.parse_args(argv)

    if args.cmd == "parse":  # driver-side, no Spark needed
        from netrunner_spark.plans.preprocess import parse_one

        with open(args.file, encoding="utf-8") as f:
            print(json.dumps(parse_one(args.url, f.read()), indent=2))
        return 0

    from netrunner_spark.session import get_spark

    spark = get_spark("netrunner_cli", master=f"local[{args.cores}]")

    if args.cmd == "check-domain":
        # main.rs:110-115 / site.rs:73-99: probe one domain and print
        # robots / feeds / sitemaps (table-backed in the sandbox)
        from pyspark.sql import functions as F

        from netrunner_spark.sources.robots import site_info
        from netrunner_spark.synth import gen_robots_txt, gen_web

        web = gen_web(spark, args.synth_hosts, args.synth_pages)
        homepages = (
            web.filter(F.col("host") == args.domain)
            .orderBy("url")
            .limit(1)
            .select("host", "url", "content")
        )
        robots_texts = gen_robots_txt(spark, args.synth_hosts).filter(
            F.col("host") == args.domain
        )
        rows = site_info(homepages, robots_texts).collect()
        if not rows:
            print(f"Domain: {args.domain}\nRobots: N/A\n\n== Feeds (0) ==\n== Sitemaps (0) ==")
            return 1
        info = rows[0]
        print(f"Domain: {info['host']}")
        print(f"Robots: {'present' if info['has_robots'] else 'N/A'}")
        print(f"\n== Feeds ({len(info['feeds'])}) ==")
        for f_ in info["feeds"]:
            print(f_)
        print(f"\n== Sitemaps ({len(info['sitemaps'])}) ==")
        for s_ in info["sitemaps"]:
            print(s_)

    elif args.cmd == "check-urls":
        from netrunner_spark import lens as lens_mod
        from netrunner_spark.plans.check_urls import check_urls, write_urls_txt
        from netrunner_spark.synth import gen_cdx, gen_robots, gen_sitemaps

        lens = lens_mod.load(args.lens)
        urls = check_urls(
            spark,
            lens,
            gen_robots(spark, args.synth_hosts),
            gen_sitemaps(spark, args.synth_hosts, args.synth_pages),
            gen_cdx(spark, args.synth_hosts, args.synth_pages),
        )
        write_urls_txt(urls, args.out)
        # count the WRITTEN artifact, not the source DataFrame — urls is
        # unpersisted, so urls.count() re-executed the entire discovery
        # DAG (sitemap BFS + CDX + admission) a second time (r5 review)
        n = spark.read.text(args.out).count()
        print(f"wrote {n} urls to {args.out}")

    elif args.cmd == "crawl":
        from netrunner_spark import lens as lens_mod
        from netrunner_spark.plans.check_urls import check_urls
        from netrunner_spark.plans.crawl import CrawlConfig, CrawlJob
        from netrunner_spark.sources.fetcher import prepare_colocated_fetcher
        from netrunner_spark.synth import gen_cdx, gen_robots, gen_sitemaps, gen_web
        from netrunner_spark.tables import LakeCatalog

        lens = lens_mod.load(args.lens)
        robots = gen_robots(spark, args.synth_hosts)
        web = gen_web(spark, args.synth_hosts, args.synth_pages)
        cat = LakeCatalog(spark, args.lake)
        job = CrawlJob(
            spark,
            cat,
            prepare_colocated_fetcher(cat, web),
            robots,
            CrawlConfig(
                rps=args.rps,
                round_seconds=args.round_seconds,
                follow_links=args.follow_links,
            ),
            lens=lens,
        )
        urls = check_urls(
            spark,
            lens,
            robots,
            gen_sitemaps(spark, args.synth_hosts, args.synth_pages),
            gen_cdx(spark, args.synth_hosts, args.synth_pages),
        )
        job.init_frontier(urls)
        print(json.dumps(job.run()))

    elif args.cmd == "validate":
        from netrunner_spark.plans.validate import validate_crawl
        from netrunner_spark.tables import LakeCatalog

        cat = LakeCatalog(spark, args.lake)
        cache = cat.read_slices("cache")
        expected = spark.read.text(args.urls).withColumnRenamed("value", "url")
        result = validate_crawl(cache, expected)
        print(json.dumps(result.__dict__))
        return 0 if result.ok else 1

    elif args.cmd == "preprocess":
        from netrunner_spark.plans.preprocess import preprocess_warc, validate_parsed
        from netrunner_spark.sources.archive import parsed_export

        parsed = preprocess_warc(spark, args.warc)
        parsed_export(parsed, args.out)
        ok = validate_parsed(spark.read.json(args.out))
        print(json.dumps({"out": args.out, "unique_canonicals": ok}))

    elif args.cmd == "crawl-folder":
        from netrunner_spark.sources.archive import crawl_folder

        df = crawl_folder(spark, args.dir, args.base_url)
        df.write.mode("overwrite").parquet(args.out)
        # count the written parquet — df.count() would re-crawl the
        # folder a second time (r5 review)
        n = spark.read.parquet(args.out).count()
        print(f"wrote {n} records to {args.out}")

    return 0


if __name__ == "__main__":
    sys.exit(main())
