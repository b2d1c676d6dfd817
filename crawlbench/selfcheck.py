#!/usr/bin/env python3
"""Check the crawl oracle itself.

    python3 crawlbench/selfcheck.py [--seed N]

Runs from the repository root and takes a few minutes. It

1. checks that the oracle's pure-Python XXH64 equals Spark's ``xxhash64``
   on every generated URL, since the expected rounds are ranked by it;
2. runs one small ``drain_pairs`` crawl and scores copies of its lake: an
   untouched copy must score exactly 1, and dropping one cache row,
   moving one URL to another round, flipping one ``image_ok``, duplicating
   one row and adding one unexpected row must each score below 1;
3. runs one small link-following crawl whose closure contains links that
   point outside the store, and requires a score of exactly 1 with those
   misses among the expected rows.

Prints one JSON line and exits 0 when every check holds, 1 otherwise.
"""

import argparse
import dataclasses
import json
import os
import shutil
import sys
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import pyarrow as pa  # noqa: E402
import pyarrow.dataset as ds  # noqa: E402

from crawlbench import oracle  # noqa: E402
from crawlbench.run import SLOTS, TMP_PARENT, isolate, stop_spark  # noqa: E402
from crawlbench.spans import Tracer  # noqa: E402
from crawlbench.workloads import WORKLOADS, crawl, generate, prepare  # noqa: E402
from crawlbench.xxh64 import url_hash  # noqa: E402

SMALL_PAIRS = dataclasses.replace(WORKLOADS["drain_pairs"], hosts=21, pages=24)
# from seed page 13 of 17 the closure reaches /blog/16 on every host, a URL
# the store does not have (page 16 lives under /private/)
SMALL_LINKS = dataclasses.replace(
    WORKLOADS["crawl_links"], hosts=6, pages=17, seed_page=13, paragraphs=6
)


def rewrite_cache(src: str, dst: str, mutate) -> None:
    """Copy lake ``src`` to ``dst`` and rewrite its cache rows through
    ``mutate(rows)``, keeping the ``fetched_round=N`` layout."""
    shutil.copytree(src, dst)
    data = os.path.join(dst, "cache", "data")
    table = ds.dataset(data, format="parquet", partitioning="hive").to_table()
    rows = table.to_pylist()
    mutate(rows)
    shutil.rmtree(data)
    ds.write_dataset(
        pa.Table.from_pylist(rows, schema=table.schema),
        data,
        format="parquet",
        partitioning=ds.partitioning(
            pa.schema([table.schema.field("fetched_round")]), flavor="hive"
        ),
    )


def _first(rows, pred):
    return next(i for i, r in enumerate(rows) if pred(r))


def _drop(rows):
    rows.pop(0)


def _move_round(rows):
    i = _first(rows, lambda r: r["fetched_round"] == 0)
    rows[i]["fetched_round"] = 1


def _flip_image(rows):
    rows[0]["image_ok"] = not rows[0]["image_ok"]


def _duplicate(rows):
    rows.append(dict(rows[0]))


def _extra(rows):
    row = dict(rows[0])
    row["url"] = row["url"] + "-not-in-the-store"
    rows.append(row)


MUTATIONS = {
    "drop_row": _drop,
    "move_round": _move_round,
    "flip_image_ok": _flip_image,
    "duplicate_row": _duplicate,
    "extra_row": _extra,
}


def check(seed: int, tmp: str) -> dict:
    from pyspark.sql import functions as F

    from netrunner_spark.session import get_spark

    spark = get_spark("crawlbench-selfcheck", master=f"local[{SLOTS}]",
                      extra=isolate(tmp))
    out = {}
    try:
        inputs = generate(spark, SMALL_PAIRS, seed, os.path.join(tmp, "pairs"))
        spark_hash = dict(
            inputs.web.select("url", F.xxhash64("url").alias("h")).collect()
        )
        out["xxh64_matches_spark"] = all(
            url_hash(u) == h for u, h in spark_hash.items()
        )
        fetcher = prepare(spark, SMALL_PAIRS, inputs, os.path.join(tmp, "pairs-store"),
                          SLOTS)
        lake = os.path.join(tmp, "pairs-lake")
        crawl(spark, SMALL_PAIRS, inputs, fetcher, lake, SLOTS, Tracer())
        shares = {}
        for name, mutate in [("untouched", lambda rows: None), *MUTATIONS.items()]:
            copy = os.path.join(tmp, f"copy-{name}")
            rewrite_cache(lake, copy, mutate)
            shares[name] = oracle.score(
                inputs.expected, oracle.read_cache(copy, with_images=True)
            ).share
        out["pairs_shares"] = shares

        links = generate(spark, SMALL_LINKS, seed, os.path.join(tmp, "links"))
        fetcher = prepare(spark, SMALL_LINKS, links, os.path.join(tmp, "links-store"),
                          SLOTS)
        lake = os.path.join(tmp, "links-lake")
        crawl(spark, SMALL_LINKS, links, fetcher, lake, SLOTS, Tracer())
        misses = [u for u in links.expected.rows if u not in links.store]
        got = oracle.score(links.expected, oracle.read_cache(lake, with_images=False))
        out["links_share"] = got.share
        out["links_expected"] = got.expected
        out["links_misses_expected"] = len(misses)
        out["links_failures"] = dict(got.failures)
    finally:
        stop_spark(spark)
    shares = out["pairs_shares"]
    out["ok"] = (
        out["xxh64_matches_spark"]
        and shares["untouched"] == 1.0
        and all(shares[m] < 1.0 for m in MUTATIONS)
        and out["links_share"] == 1.0
        and out["links_misses_expected"] > 0
    )
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--seed", type=int, default=7)
    args = p.parse_args()
    parent = os.path.join(ROOT, TMP_PARENT)
    tmp = os.path.join(parent, f"selfcheck-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(tmp)
    try:
        out = check(args.seed, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:
            pass
    print(json.dumps(out))
    return 0 if out["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
