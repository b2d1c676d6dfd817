#!/usr/bin/env python
"""Benchmark harness: frontier-drain throughput (the BASELINE.md target
metric) + headline analytics queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "e2e_bench_total", "value": <total sec>, "unit": "sec",
   "queries": {<name>: sec, ...}, "sf": <sf>,
   "frontier": {"urls": N, "seconds": s, "urls_per_sec": r}}

The frontier drain runs on a deterministic synthetic web (no network);
its size scales with BENCH_HOSTS/BENCH_PAGES env vars. The scaling-
efficiency experiment (N vs 4N cores) lives in bench_scaling.py.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_HOSTS = int(os.environ.get("BENCH_HOSTS", "1000"))
PAGES = int(os.environ.get("BENCH_PAGES", "100"))

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "w1_politeness_quota",
    "f7_seen_antijoin",
    "j4_domain_memo_join",
    "dedup_exact",
    "text_token_stats",
    "doc_fingerprint",
    "minhash_lsh",
    "minhash_lsh_capped",
    "dedup_clusters",
    "ann_topk_int",
    "stratified_sample",
    "source_budget_cap",
    "vocab_topk",
    "link_pagerank",
    "repetition_signals",
    "benchmark_contamination",
    "image_shard_pack",
    "image_pair_alignment",
    "bm25_search",
    "phrase_search",
    "search_facets",
    "boolean_search",
    "kmeans_clusters",
    "doc_surprisal",
    "bigram_pmi",
    "text_quality_gate",
    "ann_pq_topk",
    "seed_pagerank",
    "duplicate_spans",
    "dup_spans",
    "pii_scrub",
    "scrub_admission",
    "vocab_drift",
    "drift_recrawl_alloc",
    "containment_pairs",
    "multimodal_dup_pairs",
    "zorder_curve",
    "curation_pipeline",
    "sketch_kmv_events",
    "sketch_cms_tokens",
    "sketch_hist_quantiles",
    "weighted_pagerank",
    "mirror_hosts",
    "dust_params",
    "host_harvest",
    "crawl_budget_alloc",
    "redirect_resolve",
    "sitemap_diff",
    "anchor_text_topk",
    "link_spam_hosts",
    "cdc_chunks",
    "image_dedup_savings",
    "link_communities",
    "host_crawl_report",
    "search_rerank_anchors",
    "warc_revisit_plan",
    "dust_apply",
    "pack_sequences",
    "mixture_plan",
    "mixture_apply",
    "dedup_eval",
    "winnow_dups",
    "phash_radius_search",
    "link_authority_report",
    "reciprocal_links",
    "recrawl_schedule",
    "url_templates",
    "template_cap_apply",
    "host_health",
    "crawl_policy_table",
    "boilerplate_strip",
    "split_leakage",
    "image_curation_pipeline",
    "quality_mixture",
    "seed_distance",
    "robots_refetch_plan",
    "drain_eta_report",
    "warc_cdx_index",
    "host_triangles",
    "clustering_coeff",
    "recrawl_budget",
    "link_kcore",
    "line_dedup",
    "sketch_hll_registers",
    "crawl_shard_assign",
    "domain_rollup",
    "event_funnel",
    "bpe_train",
    "bpe_tokenize",
    "web_bowtie",
    "shard_drain_plan",
    "user_retention",
    "event_transitions",
    "robots_block_report",
    "sketch_hll_merged",
    "cocitation_links",
    "budget_fairness",
    "rolling_active_sketch",
    "host_alias_fold",
    "sketch_bloom_probe",
    "degree_profile",
    "event_spikes",
    "caption_lang_mix",
    "image_res_tiers",
    "sitemap_coverage",
    "signature_bit_balance",
    "url_depth_profile",
    "image_bpp_outliers",
    "hilbert_curve",
    "tokenizer_fertility",
    "token_budget_by_source",
    "hamming_distance_hist",
    "pq_recall",
    "mime_mismatch_report",
    "host_latency_quantiles",
    "dup_cluster_size_hist",
    "text_dedup_savings",
    "embedding_norm_audit",
    "kmeans_cell_balance",
    "redirect_hops_hist",
    "postings_df_hist",
    "session_duration_hist",
    "source_quality_matrix",
    "etld1_budget",
    "q5_local_supplier_volume",
    "drain_schedule_table",
    "drain_schedule_salted",
    "trap_url_signals",
    "trap_hosts",
    "pagination_params",
    "pagination_cap_apply",
    "priority_compose",
    "politeness_compliance",
    "semdedup_prune",
    "opic_importance",
    "opic_budget_alloc",
    "dup_source_matrix",
    "sketch_kmv_intersect",
    "sketch_kmv_difference",
    "caption_consensus",
    "adaptive_delay_plan",
    "batch_novelty",
    "soft_dedup_weights",
    "image_canonical_pairs",
    "graph_hyperball",
    "graph_random_walks",
    "graph_neighbor_sample",
]


def warmup_drain(spark) -> None:
    """One tiny drain through the same code path before any timed
    drain: first execution pays ~30 s of JVM JIT/codegen that is
    per-process, not per-drain — a real drain runs for hours, so
    steady-state throughput is the honest number. Applied before BOTH
    timed modes identically."""
    from netrunner_spark.plans.crawl import CrawlConfig, CrawlJob
    from netrunner_spark.sources.fetcher import prepare_colocated_fetcher
    from netrunner_spark.synth import gen_images, gen_pair_web, gen_robots
    from netrunner_spark.tables import LakeCatalog
    from netrunner_spark.urlnorm import url_hash_col

    tmp = tempfile.mkdtemp(prefix="nr_warmup_")
    try:
        web = gen_pair_web(spark, 30, 20)
        images = gen_images(spark, 30, 20, dense=True)
        cat = LakeCatalog(spark, os.path.join(tmp, "lake"))
        fetcher = prepare_colocated_fetcher(cat, web, images, n_buckets=8)
        job = CrawlJob(
            spark,
            cat,
            fetcher,
            gen_robots(spark, 30),
            CrawlConfig(rps=2.0, round_seconds=10.0, colocated_buckets=8),
        )
        job.init_frontier(
            web.select("url", "host", url_hash_col("url").alias("url_hash"))
        )
        job.run()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def bench_frontier_drain(spark, mode: str = "html") -> dict:
    """mode='pairs': the BASELINE.json headline object — drain a frontier
    over the image+caption pair store (~2 KB/URL, per-round batch image
    decode+validate in the caching path), no HTML archive tail.
    mode='html': the full reference-crawl scope (12 KB pages, parse +
    canonical dedup + archive).

    The fetch join runs CO-LOCATED (store/schedule/images bucketed on
    url_hash → zero exchanges, zero per-round driver-serial broadcast
    builds of big rounds)."""
    from pyspark.sql import functions as F

    from netrunner_spark.plans.crawl import CrawlConfig, CrawlJob
    from netrunner_spark.sources.fetcher import prepare_colocated_fetcher
    from netrunner_spark.synth import gen_images, gen_pair_web, gen_robots, gen_web
    from netrunner_spark.tables import LakeCatalog
    from netrunner_spark.urlnorm import url_hash_col

    tmp = tempfile.mkdtemp(prefix="nr_bench_")
    try:
        web_path = os.path.join(tmp, "web")
        gen_df = (
            gen_pair_web(spark, N_HOSTS, PAGES)
            if mode == "pairs"
            else gen_web(spark, N_HOSTS, PAGES)
        )
        gen_df.write.parquet(web_path)
        web = spark.read.parquet(web_path)
        robots = gen_robots(spark, N_HOSTS)
        # materialize the image+caption store once (the Iceberg-table
        # analog); rounds must scan parquet, not re-encode in Python
        img_path = os.path.join(tmp, "images")
        gen_images(spark, N_HOSTS, PAGES, dense=(mode == "pairs")).write.parquet(
            img_path
        )
        images = spark.read.parquet(img_path)
        frontier0 = web.select(
            "url", "host", url_hash_col("url").alias("url_hash")
        )

        cat = LakeCatalog(spark, os.path.join(tmp, "lake"))
        # politeness window sized so crawl-delay hosts (budget = rs/2)
        # drain in ~6 rounds — web-scale shape: many hosts, bounded depth
        cfg = CrawlConfig(
            rps=2.0,
            round_seconds=PAGES / 3.0,
            max_rounds=50,
            n_bloom_shards=CPUS * 2,
            colocated_buckets=CPUS,
        )
        fetcher = prepare_colocated_fetcher(cat, web, images, n_buckets=CPUS)
        job = CrawlJob(spark, cat, fetcher, robots, cfg)
        job.init_frontier(frontier0)

        t0 = time.time()
        stats = job.run()
        t_rounds = time.time() - t0
        archive = (
            job.archive_stage() if mode == "html" else {"skipped": "pairs mode"}
        )
        dt = time.time() - t0
        n = cat.read_slices("cache").count()
        return {
            "mode": mode,
            "urls": n,
            "seconds": round(dt, 3),
            "urls_per_sec": round(n / dt, 1),
            "drain_urls_per_sec": round(n / t_rounds, 1),
            "seconds_rounds": round(t_rounds, 3),
            "rounds": stats["rounds"],
            "archive": archive,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    from netrunner_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark("netrunner_bench", master=f"local[{CPUS}]")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    t_start = time.time()
    timings: dict[str, float] = {}

    # JIT warm-up through the drain code path (not timed; see docstring)
    warmup_drain(spark)

    # Drain headlines now get the same interleaved best-of protocol the
    # analytics queries have had since r2 (r3 verdict item 1): run
    # pairs/html alternately DRAIN_REPS times and keep the fastest pass
    # per mode. Co-tenant bus steal on this VM is bursty; interleaving
    # means a burst hits one pass of each mode, not every pass of one
    # mode (that asymmetry is what produced the unannotated r3
    # frontier_drain_pairs 4,079→1,854 URLs/s "regression"). Raw passes
    # are kept under frontier["passes"] so the floor is auditable.
    reps = int(os.environ.get("BENCH_DRAIN_REPS", "2"))
    drain_passes: dict[str, list[dict]] = {"pairs": [], "html": []}
    for _rep in range(reps):
        drain_passes["pairs"].append(bench_frontier_drain(spark, mode="pairs"))
        drain_passes["html"].append(bench_frontier_drain(spark, mode="html"))
    pairs = min(drain_passes["pairs"], key=lambda r: r["seconds"])
    html = min(drain_passes["html"], key=lambda r: r["seconds"])
    timings["frontier_drain_pairs"] = pairs["seconds"]
    timings["frontier_drain"] = html["seconds"]
    # first-pass values alongside the best-of floor (ADVICE r4): r2/r3
    # headlines were single-pass, so cross-round readers need both
    timings["frontier_drain_pairs_pass1"] = drain_passes["pairs"][0]["seconds"]
    timings["frontier_drain_pass1"] = drain_passes["html"][0]["seconds"]
    frontier = {
        "pairs": pairs,
        "html": html,
        "passes": {
            m: [
                {"seconds": r["seconds"], "urls_per_sec": r["urls_per_sec"]}
                for r in runs
            ]
            for m, runs in drain_passes.items()
        },
        "protocol": f"interleaved best-of-{reps} (same as queries)",
    }

    # Interleaved A/B repetition (round-2 verdict item 5): run the whole
    # headline list twice, A-pass then B-pass, and keep the per-query MIN.
    # Co-tenant steal on this VM hits whichever query it lands on; two
    # interleaved passes bound that noise (r2's minhash_lsh 16 s vs r1's
    # 4.6 s was exactly such a hit). Raw per-pass numbers are kept in
    # "queries_passes" so the floor is auditable.
    qs = entry_mod.queries()
    passes: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _rep in range(2):
        for name in HEADLINE:
            fn = qs[name]
            t0 = time.time()
            df = fn(spark, SF_DIR)
            _ = df.count()
            passes[name].append(round(time.time() - t0, 3))
    for name in HEADLINE:
        timings[name] = min(passes[name])

    total = round(time.time() - t_start, 3)
    out = {
        "metric": "e2e_bench_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_passes": passes,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "frontier": frontier,
        "cpus": CPUS,
        "protocol": f"drains+queries interleaved best-of ({reps} drain reps)",
    }
    # attach the last committed scaling-efficiency experiment (the
    # BASELINE.json north_rule criterion; produced by bench_scaling.py
    # — too long to rerun here) + the hardware controls
    for name, key in (
        ("scaling.json", "scaling"),
        ("scaling_10x.json", "scaling_10x"),
        ("scaling_cpu_r5.json", "scaling_cpu"),
        ("scaling_cpu10x_r5.json", "scaling_cpu_10x"),
        ("scaling_10x_r5.json", "scaling_10x_gated"),
        # r5b: gate on RESIDENT memcopy (warm buffers — the bandwidth a
        # running drain actually sees) instead of fresh-alloc; the 10x
        # N->4N pair passes at 0.969 (BENCH/BASELINE.md §4e)
        ("scaling_10x_r5b.json", "scaling_10x_resident"),
        ("scaling_1x_r5b.json", "scaling_1x_resident"),
        # r5c: 1x pairs with warm-JVM legs (SCALE_REPEATS honored) —
        # isolates the 1x shortfall as per-core bus headroom, not JIT;
        # BENCH/BASELINE.md §4g
        ("scaling_1x_r5c.json", "scaling_1x_resident_warm"),
        # r5d: healthy-window 1x pair PASSES at 0.934 (BASELINE.md §4i)
        # — the criterion is now evidenced at both input sizes
        ("scaling_1x_r5d.json", "scaling_1x_pass"),
        ("controls.json", "controls"),
    ):
        path = os.path.join(REPO, "BENCH", name)
        if os.path.isfile(path):
            with open(path) as f:
                out[key] = json.load(f)

    # DURABLE RECORD (VERDICT r4 #1): the driver keeps only the last
    # ~2 KB of stdout, which in r4 contained nothing but the scaling
    # attachments — the per-query timings and drain headlines were lost.
    # Persist the COMPLETE dict to BENCH/bench_r{N}.json (N inferred from
    # the driver's committed BENCH_r*.json: this run belongs to the round
    # after the highest one recorded), plus a stable bench_latest.json.
    import re

    rounds = [
        int(m.group(1))
        for f in os.listdir(REPO)
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", f))
    ]
    tag = f"r{(max(rounds) + 1) if rounds else 1:02d}"
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    # smoke runs at reduced scale (BENCH_HOSTS/BENCH_PAGES overridden)
    # must not clobber the round's full-scale durable record
    full_scale = "BENCH_HOSTS" not in os.environ and "BENCH_PAGES" not in os.environ
    if full_scale:
        # append-only: a later run in a degraded bus window must never
        # erase an earlier healthy-window record — first run owns
        # bench_rN.json, reruns get bench_rN_c2.json, _c3.json, ...
        name = f"bench_{tag}.json"
        k = 2
        while os.path.isfile(os.path.join(REPO, "BENCH", name)):
            name = f"bench_{tag}_c{k}.json"
            k += 1
        fnames = [name, "bench_latest.json"]
    else:
        fnames = ["bench_smoke.json"]
    for fname in fnames:
        with open(os.path.join(REPO, "BENCH", fname), "w") as f:
            json.dump(out, f, indent=1)
    out["full_record"] = f"BENCH/{fnames[0]}"

    # stdout stays SMALL enough that the headline numbers survive the
    # driver's tail window AS VALID JSON: with 145 headline queries the
    # full timings dict alone is ~4 KB, so a ~2 KB tail would truncate
    # mid-line (the r4 failure mode, shifted one field left). Budget the
    # whole line: emit the slowest timings that fit, point at the
    # durable record for the rest.
    slim = {
        "metric": out["metric"],
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_total": len(timings),
        "sf": out["sf"],
        "cpus": CPUS,
        "frontier": {
            m: {
                "urls": frontier[m]["urls"],
                "seconds": frontier[m]["seconds"],
                "urls_per_sec": frontier[m]["urls_per_sec"],
                "drain_urls_per_sec": frontier[m]["drain_urls_per_sec"],
            }
            for m in ("pairs", "html")
        },
        "protocol": out["protocol"],
        "full_record": out["full_record"],
    }
    for key in (
        "scaling",
        "scaling_10x",
        "scaling_cpu",
        "scaling_cpu_10x",
        "scaling_10x_gated",
        "scaling_10x_resident",
        "scaling_1x_resident",
    ):
        if key in out and isinstance(out[key], dict):
            summary = {
                k: out[key][k]
                for k in (
                    "scaling_efficiency",
                    "pass",
                    "drain_throughput_n",
                    "drain_throughput_4n",
                    "pages_per_sec_n",
                    "pages_per_sec_4n",
                    "best_pair_efficiency",
                )
                if k in out[key]
            }
            if summary:
                slim[key] = summary
    # shrink to the tail window: keep dropping the FASTEST timings
    # (least informative) until the line fits; the durable record
    # (slim["full_record"]) always has every number.
    budget = int(os.environ.get("BENCH_STDOUT_BUDGET", "1900"))
    by_speed = sorted(timings, key=timings.get)  # fastest first
    while len(json.dumps(slim)) > budget and by_speed:
        slim["queries"] = dict(slim["queries"])  # don't mutate `timings`
        slim["queries"].pop(by_speed.pop(0), None)
    print(json.dumps(slim))


if __name__ == "__main__":
    main()
