"""Round-6 optimization regressions: every rewrite that changed an
operator's INTERNALS is pinned here against the formulation it
replaced (reconstructed inline), so a future edit that drifts the
values — not just the speed — fails loudly.

Covered: the zip_with gram fold (token_ngrams/_pos), the unrolled
gram_hash, semdedup's per-cell numpy pairing, the connected-components
dedup/observe trims, and the drain's bulk metrics pass."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from netrunner_spark.operators import textops, vectors


TRICKY_DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, ""),
    (2, "one"),
    (3, "two words"),
    (4, "  Leading  SPACE and   punct!! 7x numbers 42 mid7dle  "),
    (5, "a a a a a"),
    (6, "CAPS and MiXeD CaSe tokens"),
    (7, "hyphen-ated under_scored dot.sep"),
    (8, None),
]


def _docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in TRICKY_DOCS if t is not None]
        + [(8, None)],
        "doc_id long, text string",
    )


def _reference_ngrams(docs, n):
    """The pre-r6 transform(sequence)+slice+concat_ws formulation."""
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != "")
    hi = F.size(toks) - F.lit(n - 1)
    grams = F.when(
        hi >= 1,
        F.transform(
            F.sequence(F.lit(1), hi),
            lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(n))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select("doc_id", F.posexplode(grams).alias("idx", "gram")).select(
        "doc_id", (F.col("idx") + 1).cast("long").alias("pos"), "gram"
    )


@pytest.mark.parametrize("n", [2, 3, 4, 5])
def test_gram_fold_matches_reference_formulation(spark, n):
    docs = _docs(spark)
    got = sorted(
        map(tuple, textops.token_ngrams_pos(docs, n=n).collect())
    )
    want = sorted(map(tuple, _reference_ngrams(docs, n).collect()))
    assert got == want
    # token_ngrams is the positionless projection of the same fold
    got2 = sorted(map(tuple, textops.token_ngrams(docs, n=n).collect()))
    assert got2 == sorted((d, g) for d, _, g in want)


def test_gram_hash_unroll_matches_fold(spark):
    rows = [(i, s) for i, s in enumerate(["abc", "zzz", "a b", "0#!", "xyz"])]
    df = spark.createDataFrame(rows, "id long, g string")
    a = df.select("id", textops.gram_hash(F.col("g")).alias("h"))
    b = df.select("id", textops.gram_hash(F.col("g"), fixed_len=3).alias("h"))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_semdedup_matches_join_formulation(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base_vecs = rng.randn(8, 8)
    rows = []
    for i in range(40):
        v = base_vecs[i % 8] + (0.001 * rng.randn(8) if i >= 8 else 0)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = sorted(map(tuple, vectors.semdedup(emb, k=4, iters=2).collect()))

    # reference: the pre-r6 cid self-join + HOF dot pipeline
    b = emb.select("vec_id", vectors._quantized(F.col("embedding")).alias("q"))
    cents = vectors._lloyd(b, 4, 2)
    a = vectors._kmeans_assign(b, cents)
    left = a.select("cid", F.col("vec_id").alias("vec_a"), F.col("q").alias("qa"))
    right = a.select("cid", F.col("vec_id").alias("vec_b"), F.col("q").alias("qb"))
    pairs = (
        left.join(right, "cid")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.aggregate(
                F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dot_q"),
        )
        .filter(F.col("dot_q") >= 300_000)
    )
    comp = textops.connected_components(
        pairs.select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")),
        nodes=a.select(F.col("vec_id").alias("doc_id")),
    )
    from pyspark.sql import Window

    scored = a.select("vec_id", "cid", "dist_q").join(
        comp.select(
            F.col("doc_id").alias("vec_id"), F.col("cluster_id").alias("group_id")
        ),
        "vec_id",
    )
    w = Window.partitionBy("group_id").orderBy(
        F.col("dist_q").desc(), F.col("vec_id").asc()
    )
    want = sorted(
        map(
            tuple,
            scored.select(
                "vec_id",
                "cid",
                "dist_q",
                "group_id",
                (F.row_number().over(w) == 1).alias("is_keeper"),
            ).collect(),
        )
    )
    assert got == want


@pytest.mark.parametrize("max_band_df", [None, 2])
def test_lsh_pairs_match_row_form_signatures(spark, max_band_df):
    # r6 rewrote minhash_lsh_pairs to build band keys from ONE wide
    # per-doc aggregate; this pins it against band keys derived from
    # the row-form minhash_signatures (which kept the old formulation)
    docs = spark.createDataFrame(
        [
            (i, ("the quick brown fox " * 3) + (f"tail {i % 4} " * 2))
            for i in range(24)
        ]
        + [(100, "x"), (101, "")],
        "doc_id long, text string",
    )
    k, bands, n = 16, 4, 3
    sig = textops.minhash_signatures(docs, k, n)
    r = k // bands
    band_keys = (
        sig.withColumn("band", (F.col("j") / r).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("j", "minhash"))),
                    lambda s: s["minhash"].cast("string"),
                ),
                ",",
            ).alias("band_key")
        )
    )
    if max_band_df is None:
        a = band_keys.alias("a")
        b = band_keys.alias("b")
        want = (
            a.join(b, ["band", "band_key"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .dropDuplicates()
        )
    else:
        stats = band_keys.groupBy("band", "band_key").agg(
            F.count(F.lit(1)).alias("bdf"), F.min("doc_id").alias("hub")
        )
        keyed = band_keys.join(stats, ["band", "band_key"])
        small = keyed.filter(F.col("bdf") <= max_band_df)
        a = small.alias("a")
        b = small.alias("b")
        sp = (
            a.join(b, ["band", "band_key"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
        )
        bp = keyed.filter(
            (F.col("bdf") > max_band_df) & (F.col("doc_id") != F.col("hub"))
        ).select(F.col("hub").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        want = sp.unionByName(bp).dropDuplicates()
    got = sorted(
        map(
            tuple,
            textops.minhash_lsh_pairs(docs, k, bands, n, max_band_df=max_band_df).collect(),
        )
    )
    assert got == sorted(map(tuple, want.collect()))


def test_connected_components_with_heavy_multiplicity(spark):
    # chains + a star + duplicate/reversed edges: the r6 trims removed
    # intermediate dedups on multiplicity-INSENSITIVE aggregates; this
    # pins that labels stay exact under heavy duplicate input
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)]
    edges = edges + [(b, a) for a, b in edges] + edges * 3
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    nodes = spark.createDataFrame([(i,) for i in range(1, 31)], "doc_id long")
    got = dict(
        (r["doc_id"], r["cluster_id"])
        for r in textops.connected_components(pairs, nodes=nodes).collect()
    )
    for m in (1, 2, 3, 4):
        assert got[m] == 1
    for m in (10, 11, 12):
        assert got[m] == 10
    for m in (20, 21):
        assert got[m] == 20
    for isolated in set(range(1, 31)) - {1, 2, 3, 4, 10, 11, 12, 20, 21}:
        assert got[isolated] == isolated


def test_cc_local_unionfind_matches_distributed(spark):
    # r6 added a driver-side union-find path for edge sets under the
    # small-graph cutover; labels must be identical to the distributed
    # large-star/small-star loop on a gnarly random multigraph
    import random

    rng = random.Random(13)
    edges = [
        (rng.randrange(60), rng.randrange(60)) for _ in range(150)
    ] + [(i, i + 1) for i in range(70, 90)]  # a 21-node chain
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    nodes = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    local = sorted(
        map(tuple, textops.connected_components(pairs, nodes=nodes).collect())
    )
    dist = sorted(
        map(
            tuple,
            textops.connected_components(
                pairs, nodes=nodes, local_max_edges=0
            ).collect(),
        )
    )
    assert local == dist and len(local) == 100


def test_bulk_metrics_match_per_round_recompute(spark, colocated_fetcher, tmp_path):
    from netrunner_spark.plans.crawl import CrawlConfig, CrawlJob
    from netrunner_spark.synth import gen_robots, gen_web
    from netrunner_spark.tables import LakeCatalog
    from netrunner_spark.urlnorm import url_hash_col

    web = gen_web(spark, 4, 24)
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    job = CrawlJob(
        spark,
        cat,
        colocated_fetcher(web),
        gen_robots(spark, 4),
        CrawlConfig(rps=2.0, round_seconds=6.0),
    )
    job.init_frontier(web.select("url", "host", url_hash_col("url").alias("url_hash")))
    stats = job.run()
    assert stats["fetched"] > 0
    # every committed cache round has a committed metrics slice ...
    done = cat.max_committed_slice("cache", "fetched_round")
    assert done is not None and done >= 0
    for r in range(done + 1):
        if cat.slice_exists("cache", "fetched_round", r):
            assert cat.slice_committed("metrics", "round", r)
    # ... and its contents equal a direct per-round recompute
    for r in range(done + 1):
        if not cat.slice_exists("cache", "fetched_round", r):
            continue
        s = cat.read_slice("cache", "fetched_round", r)
        want = sorted(
            map(
                tuple,
                s.groupBy("host")
                .agg(
                    F.count(F.lit(1)).alias("n_urls"),
                    F.sum(
                        F.when(F.col("status").between(200, 299), 1).otherwise(0)
                    ).alias("n_ok"),
                    F.sum(
                        F.when(
                            F.col("status").isNull()
                            | ~F.col("status").between(200, 299),
                            1,
                        ).otherwise(0)
                    ).alias("n_failed"),
                    F.sum("attempts").alias("attempts"),
                )
                .collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                cat.read_slice("metrics", "round", r)
                .select("host", "n_urls", "n_ok", "n_failed", "attempts")
                .collect(),
            )
        )
        assert got == want, f"round {r} metrics drifted"
