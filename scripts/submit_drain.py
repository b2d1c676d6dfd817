#!/usr/bin/env python
"""Frontier-drain job for ``spark-submit`` (north_rule execution mode).

Runs the same drain as bench.py/bench_scaling.py, but as a submitted
application: the cluster manager supplies the master/executors and the
engine arrives on executors via ``--py-files`` (scripts/make_pyfiles.py
builds the zip) — this script deliberately does NOT add the repo to
``sys.path``, so a run proves the zip is self-contained.

    spark-submit --master local[8] \
        --py-files dist/netrunner_spark.zip \
        scripts/submit_drain.py --hosts 50 --pages 60 --mode pairs \
        --lake /tmp/nr_submit_lake

On a real cluster the same invocation takes ``--master yarn``/
``--master k8s://...`` plus executor sizing; nothing in the job code
changes — the drain is expressed entirely against the DataFrame API,
so the physical placement (N or 4N executors) is the cluster manager's
choice. Prints ONE JSON line with drain stats.
"""

from __future__ import annotations

import argparse
import json
import shutil
import tempfile
import time


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--hosts", type=int, default=50)
    p.add_argument("--pages", type=int, default=60)
    p.add_argument("--mode", choices=["pairs", "html"], default="pairs")
    p.add_argument("--lake", default=None, help="table root (default: tmpdir)")
    p.add_argument("--buckets", type=int, default=8, help="url_hash buckets (>= 1)")
    p.add_argument("--rps", type=float, default=2.0)
    p.add_argument("--round-seconds", type=float, default=None)
    args = p.parse_args()
    if args.buckets < 1:
        p.error("--buckets must be >= 1")

    # master/deploy-mode come from spark-submit, not from code: the same
    # jobfile runs at N or 4N executors with no change here.
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("netrunner_drain")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .getOrCreate()
    )

    # imports resolve from the --py-files zip on driver AND executors
    from netrunner_spark.plans.crawl import CrawlConfig, CrawlJob
    from netrunner_spark.sources.fetcher import prepare_colocated_fetcher
    from netrunner_spark.synth import gen_images, gen_pair_web, gen_robots, gen_web
    from netrunner_spark.tables import LakeCatalog
    from netrunner_spark.urlnorm import url_hash_col

    lake = args.lake or tempfile.mkdtemp(prefix="nr_submit_")
    cleanup = args.lake is None
    try:
        web = (
            gen_pair_web(spark, args.hosts, args.pages)
            if args.mode == "pairs"
            else gen_web(spark, args.hosts, args.pages)
        )
        images = gen_images(spark, args.hosts, args.pages, dense=(args.mode == "pairs"))
        robots = gen_robots(spark, args.hosts)
        frontier0 = web.select("url", "host", url_hash_col("url").alias("url_hash"))

        cat = LakeCatalog(spark, lake)
        cfg = CrawlConfig(
            rps=args.rps,
            round_seconds=args.round_seconds or args.pages / 3.0,
            max_rounds=50,
            colocated_buckets=args.buckets,
        )
        fetcher = prepare_colocated_fetcher(cat, web, images, n_buckets=args.buckets)
        job = CrawlJob(spark, cat, fetcher, robots, cfg)
        job.init_frontier(frontier0)
        t0 = time.time()
        stats = job.run()
        dt = time.time() - t0
        n = cat.read_slices("cache").count()
        print(
            json.dumps(
                {
                    "metric": "submit_drain",
                    "master": spark.sparkContext.master,
                    "mode": args.mode,
                    "urls": n,
                    "rounds": stats["rounds"],
                    "seconds": round(dt, 3),
                    "urls_per_sec": round(n / dt, 1),
                }
            )
        )
        return 0
    finally:
        if cleanup:
            shutil.rmtree(lake, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
