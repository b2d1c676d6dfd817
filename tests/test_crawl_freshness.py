"""Freshness scheduling, URL path templates, host health, and
boilerplate stripping: exact-integer semantics on hand-built frames —
every interval branch of change_rate_plan, both template rewrite rules,
all three backoff tiers, and the min_docs guard."""

from pyspark.sql import functions as F

from netrunner_spark.operators import crawlintel, textops


# ----------------------------------------------------------- change rate
def _visits(spark, spec):
    """spec: {url: [hash, hash, ...]} in visit order."""
    rows = [
        (url, i, h)
        for url, hashes in spec.items()
        for i, h in enumerate(hashes)
    ]
    return spark.createDataFrame(
        rows, "url string, visit_no long, content_hash string"
    )


def test_change_rate_all_interval_branches(spark):
    v = _visits(
        spark,
        {
            "always": ["a", "b", "c", "d"],  # 3/3 changes -> min clamp
            "never": ["x", "x", "x", "x"],  # 0 changes -> max interval
            "half": ["p", "p", "q", "q", "r"],  # 2/4 -> base*1000//500 = 2*base
            "once": ["z"],  # single visit -> base, NULL permille
        },
    )
    out = {
        r["url"]: r
        for r in crawlintel.change_rate_plan(
            v, base_interval_s=86400, min_interval_s=3600, max_interval_s=2592000
        ).collect()
    }
    assert out["always"]["change_permille"] == 1000
    assert out["always"]["next_interval_s"] == 86400 * 1000 // 1000  # = base, no clamp
    assert out["never"]["change_permille"] == 0
    assert out["never"]["next_interval_s"] == 2592000
    assert out["half"]["change_permille"] == 500
    assert out["half"]["next_interval_s"] == 86400 * 1000 // 500
    assert out["once"]["change_permille"] is None
    assert out["once"]["next_interval_s"] == 86400
    assert out["once"]["n_visits"] == 1 and out["once"]["n_changes"] == 0


def test_change_rate_min_clamp(spark):
    # base*1000//1000 = base > min, so force the clamp with a tiny max
    v = _visits(spark, {"u": ["a", "b", "c"]})
    row = crawlintel.change_rate_plan(
        v, base_interval_s=100, min_interval_s=3600, max_interval_s=9999999
    ).collect()[0]
    # 100*1000//1000 = 100 -> clamped up to min 3600
    assert row["next_interval_s"] == 3600


def test_change_rate_counts_consecutive_flips_not_distinct(spark):
    # a->b->a is TWO changes even though only two distinct hashes
    v = _visits(spark, {"u": ["a", "b", "a"]})
    row = crawlintel.change_rate_plan(v).collect()[0]
    assert row["n_changes"] == 2 and row["change_permille"] == 1000


# -------------------------------------------------------- path templates
def test_url_path_templates_rules_and_flags(spark):
    rows = (
        # unbounded id space: 6 urls, 2 hashes -> 3000 permille, flagged
        [(f"https://a.test/item/{i}", f"h{i % 2}") for i in range(6)]
        # bounded route: 3 urls, 3 hashes -> never flagged
        + [(f"https://a.test/cat/{i}/list", f"c{i}") for i in range(3)]
        # hex rule: 8+ hex chars collapse to <h>
        + [("https://a.test/u/deadbeef01", "u1"), ("https://a.test/u/cafebabe9922", "u2")]
        # short hex stays literal (7 chars)
        + [("https://a.test/u/abcdef1", "u3")]
    )
    pages = spark.createDataFrame(rows, "url string, content_hash string")
    out = {
        (r["host"], r["template"]): r
        for r in crawlintel.url_path_templates(pages, min_urls=5).collect()
    }
    item = out[("a.test", "/item/<n>")]
    assert item["n_urls"] == 6 and item["n_hashes"] == 2
    assert item["urls_per_hash_permille"] == 3000 and item["unbounded"]
    cat = out[("a.test", "/cat/<n>/list")]
    assert not cat["unbounded"] and cat["n_urls"] == 3
    assert out[("a.test", "/u/<h>")]["n_urls"] == 2
    assert ("a.test", "/u/abcdef1") in out  # short hex is literal


def test_url_path_templates_min_urls_guard(spark):
    # ratio 3000 met but only 3 urls -> below min_urls, not flagged
    rows = [(f"https://b.test/x/{i}", "same") for i in range(3)]
    pages = spark.createDataFrame(rows, "url string, content_hash string")
    row = crawlintel.url_path_templates(pages, min_urls=5).collect()[0]
    assert row["urls_per_hash_permille"] == 3000 and not row["unbounded"]


def test_url_path_templates_query_string_ignored(spark):
    pages = spark.createDataFrame(
        [("https://c.test/p/7?sess=1", "h1"), ("https://c.test/p/8?sess=2", "h2")],
        "url string, content_hash string",
    )
    out = crawlintel.url_path_templates(pages).collect()
    assert len(out) == 1 and out[0]["template"] == "/p/<n>"


# ------------------------------------------------------------ host health
def test_host_health_backoff_tiers(spark):
    def rows(host, statuses, lat=100):
        return [(host, s, lat) for s in statuses]

    data = (
        rows("bad.test", [503, 503, 200, 200])  # 500 permille 5xx -> 4x
        + rows("meh.test", [503] + [200] * 19)  # 50 permille -> 2x
        + rows("ok.test", [200] * 20 + [404])  # healthy -> 1x
        + rows("slow.test", [200] * 4, lat=900)  # all slow -> 4x
    )
    log = spark.createDataFrame(data, "host string, status int, latency_ms long")
    out = {r["host"]: r for r in crawlintel.host_health(log, base_delay_ms=500).collect()}
    assert out["bad.test"]["backoff"] == 4 and out["bad.test"]["crawl_delay_ms"] == 2000
    assert out["meh.test"]["backoff"] == 2
    assert out["ok.test"]["backoff"] == 1 and out["ok.test"]["crawl_delay_ms"] == 500
    assert out["slow.test"]["backoff"] == 4 and out["slow.test"]["slow_permille"] == 1000
    assert out["ok.test"]["err4_permille"] == 1000 // 21
    assert out["bad.test"]["ok_permille"] == 500


def test_host_health_exact_means(spark):
    log = spark.createDataFrame(
        [("h.test", 200, 100), ("h.test", 200, 101)],
        "host string, status int, latency_ms long",
    )
    row = crawlintel.host_health(log).collect()[0]
    assert row["mean_latency_ms"] == 100  # floor division, not rounding


# ------------------------------------------------------ boilerplate strip
def test_boilerplate_strip_flags_chrome_tokens(spark):
    # 6 docs in one group, 'footer' in all 6 (df 1000 permille),
    # 'menu' in 4/6 (666 permille >= 600), 'story' in 1.
    rows = [
        (i, "s1", "footer " + ("menu " if i < 4 else "") + f"story{i} words")
        for i in range(6)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r["doc_id"]: r
        for r in textops.boilerplate_strip(
            docs, min_df_permille=600, min_docs=5
        ).collect()
    }
    # doc 0: tokens footer, menu, story0 (->story), words = 4 tokens; story0
    # splits on the digit into 'story' ('story' appears in all 6 docs -> boiler!)
    r0 = out[0]
    assert r0["n_tokens"] == 4
    # footer(6/6), menu(4/6), story(6/6), words(6/6) all >= 600 permille
    assert r0["boiler_tokens"] == 4 and r0["content_permille"] == 0


def test_boilerplate_strip_min_docs_guard(spark):
    # only 3 docs in the group -> nothing flags even at df=1000
    rows = [(i, "tiny", "common text") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = textops.boilerplate_strip(docs, min_docs=5).collect()
    assert all(r["boiler_tokens"] == 0 and r["content_permille"] == 1000 for r in out)


def test_boilerplate_strip_groups_independent(spark):
    # 'banner' is boilerplate in g1 (5/5 docs) but content in g2 (1/5)
    rows = [(i, "g1", f"banner unique{i} text") for i in range(5)]
    rows += [(10 + i, "g2", ("banner " if i == 0 else "") + f"other{i} text") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {(r["grp"], r["doc_id"]): r for r in textops.boilerplate_strip(docs).collect()}
    # g1 doc0: banner+text boiler ('text' in 5/5), unique0->unique in 5/5 too
    assert out[("g1", 0)]["boiler_tokens"] >= 2
    # g2 doc10 has 'banner' but df=1/5 there -> not boiler
    r = out[("g2", 10)]
    assert r["n_tokens"] == 3  # banner, other, text
    # 'other' (5/5) and 'text' (5/5) are boiler in g2; banner is not
    assert r["boiler_tokens"] == 2


# ---------------------------------------------------------- template caps
def test_apply_template_caps_caps_only_unbounded(spark):
    rows = [(f"https://a.test/item/{i}", "h0") for i in range(10)]  # unbounded
    rows += [(f"https://a.test/cat/{i}/list", f"c{i}") for i in range(3)]  # bounded
    pages = spark.createDataFrame(rows, "url string, content_hash string")
    verdicts = crawlintel.url_path_templates(pages, min_urls=5)
    out = crawlintel.apply_template_caps(pages, verdicts, cap=4).collect()
    by_tmpl = {}
    for r in out:
        by_tmpl.setdefault(r["template"], []).append(r)
    item = by_tmpl["/item/<n>"]
    assert len(item) == 10 and sum(r["keep"] for r in item) == 4
    cat = by_tmpl["/cat/<n>/list"]
    assert len(cat) == 3 and all(r["keep"] for r in cat)


def test_apply_template_caps_deterministic_across_repartition(spark):
    rows = [(f"https://a.test/item/{i}", "h") for i in range(20)]
    pages = spark.createDataFrame(rows, "url string, content_hash string")
    verdicts = crawlintel.url_path_templates(pages, min_urls=5)
    kept1 = {
        r["url"]
        for r in crawlintel.apply_template_caps(pages, verdicts, cap=5).collect()
        if r["keep"]
    }
    kept2 = {
        r["url"]
        for r in crawlintel.apply_template_caps(
            pages.repartition(7), verdicts, cap=5
        ).collect()
        if r["keep"]
    }
    assert kept1 == kept2 and len(kept1) == 5


def test_apply_template_caps_plan_is_window_free(spark):
    # the skew guard: no per-(host,template) sort window anywhere in the
    # physical plan — the cap is a two-level top-k + broadcast threshold
    rows = [(f"https://a.test/item/{i}", "h") for i in range(12)]
    pages = spark.createDataFrame(rows, "url string, content_hash string")
    verdicts = crawlintel.url_path_templates(pages, min_urls=5)
    out = crawlintel.apply_template_caps(pages, verdicts, cap=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert sum(r["keep"] for r in out.collect()) == 4


def test_apply_template_caps_cap_exceeds_group(spark):
    # groups smaller than the cap keep everything
    rows = [(f"https://a.test/item/{i}", "h") for i in range(6)]
    pages = spark.createDataFrame(rows, "url string, content_hash string")
    verdicts = crawlintel.url_path_templates(pages, min_urls=5)
    out = crawlintel.apply_template_caps(pages, verdicts, cap=50).collect()
    assert len(out) == 6 and all(r["keep"] for r in out)


# -------------------------------------------- health -> politeness loop
def test_health_feeds_politeness_budgets_e2e(spark, colocated_fetcher):
    """The adaptive-politeness loop closed end to end: the REAL fetch
    surface (MockFetcher over a synthetic web with one all-5xx host)
    produces the fetch log, host_health turns it into per-host delays,
    and politeness.host_budgets hands the sick host proportionally
    fewer slots in the next scheduling round."""
    from netrunner_spark.operators import politeness
    from netrunner_spark.synth import gen_web, host_name
    from netrunner_spark.urlnorm import url_hash_col

    web = gen_web(spark, 3, 12)
    sick = host_name(0)
    web = web.withColumn(
        "status",
        F.when(F.col("host") == sick, F.lit(503)).otherwise(F.col("status")),
    ).withColumn("ia_status", F.lit(None).cast("int")).withColumn(
        "flaky_once", F.lit(False)
    )
    frontier = web.select(
        "url", "host", url_hash_col("url").alias("url_hash")
    ).withColumn("depth", F.lit(0))
    res = colocated_fetcher(web).fetch(frontier)
    log = res.select(
        "host",
        F.coalesce(F.col("status"), F.lit(0)).alias("status"),
        F.lit(0).cast("long").alias("latency_ms"),
    )
    health = crawlintel.host_health(log, base_delay_ms=1000)
    by_host = {r["host"]: r for r in health.collect()}
    assert by_host[sick]["backoff"] == 4
    assert by_host[host_name(1)]["backoff"] in (1, 2)  # synth sprinkles some 5xx
    delays = health.select(
        "host", (F.col("crawl_delay_ms") / 1000.0).alias("crawl_delay")
    )
    budgets = {
        r["host"]: r["budget"]
        for r in politeness.host_budgets(delays, round_seconds=60.0).collect()
    }
    healthy = [h for h, r in by_host.items() if r["backoff"] == 1]
    assert budgets[sick] * 4 == budgets[healthy[0]] if healthy else True
    assert budgets[sick] == 15  # 60s / 4s widened delay


# ------------------------------------------------------------- BFS hops
def test_bfs_hops_ring_distance_and_cap(spark):
    from netrunner_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(i, (i + 1) % 20) for i in range(20)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "id long")
    out = {r["id"]: r["hops"] for r in bfs_hops(edges, seeds, max_hops=5).collect()}
    assert out[0] == 0 and out[3] == 3 and out[5] == 5
    assert 6 not in out and len(out) == 6  # cap at 5 hops on a one-way ring


def test_bfs_hops_min_over_seeds_and_early_exit(spark):
    from netrunner_spark.operators.graph import bfs_hops

    # two chains meeting: 0->1->2 and 10->2; seeds {0,10}
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 2)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,), (10,)], "id long")
    out = {r["id"]: r["hops"] for r in bfs_hops(edges, seeds, max_hops=9).collect()}
    # node 2 reachable in 1 from seed 10 (min wins over the 2-hop path)
    assert out == {0: 0, 10: 0, 1: 1, 2: 1}


# ------------------------------------------------------ robots revalidation
def test_robots_revalidation_matrix(spark):
    meta = spark.createDataFrame(
        [("fresh.test", 990_000), ("stale.test", 100_000), ("idle.test", 50_000)],
        "host string, fetched_at long",
    )
    active = spark.createDataFrame(
        [("fresh.test",), ("stale.test",), ("new.test",)], "host string"
    )
    out = {
        r["host"]: r
        for r in crawlintel.robots_revalidation(
            meta, active, now_s=1_000_000, ttl_s=86_400
        ).collect()
    }
    assert not out["fresh.test"]["refetch"] and out["fresh.test"]["age_s"] == 10_000
    assert out["stale.test"]["stale"] and out["stale.test"]["refetch"]
    # stale but INACTIVE: no budget wasted
    assert out["idle.test"]["stale"] and not out["idle.test"]["refetch"]
    # active but never fetched: must fetch first
    r = out["new.test"]
    assert r["refetch"] and r["age_s"] is None and not r["stale"]


# --------------------------------------------------------------- CDX index
def test_cdx_index_surt_and_offsets(spark):
    rows = [
        ("https://www.a.test/p/1", 2, "d2", 100, 0),
        ("https://www.a.test/p/0?x=1", 1, "d1", 50, 0),
        ("https://b.test/", 5, "d3", 70, 1),
    ]
    rec = spark.createDataFrame(
        rows, "url string, ts long, digest string, n_bytes long, file_id int"
    )
    out = {r["digest"]: r for r in crawlintel.cdx_index(rec).collect()}
    # SURT: labels reversed, comma-joined; query string kept; bare / path
    assert out["d1"]["urlkey"] == "test,a,www)/p/0?x=1"
    assert out["d3"]["urlkey"] == "test,b)/"
    # offsets: sequential-writer order (ts asc) within each file
    assert out["d1"]["offset"] == 0 and out["d2"]["offset"] == 50
    assert out["d3"]["offset"] == 0  # first record of its own file


def test_cdx_index_resolves_record_bytes(spark):
    # offset + length tiles the file exactly: no gaps, no overlaps
    rows = [(f"https://a.test/{i}", i, f"d{i}", 10 + i, 0) for i in range(6)]
    rec = spark.createDataFrame(
        rows, "url string, ts long, digest string, n_bytes long, file_id int"
    )
    out = sorted(crawlintel.cdx_index(rec).collect(), key=lambda r: r["offset"])
    pos = 0
    for r in out:
        assert r["offset"] == pos
        pos += r["length"]


# ---------------------------------------------------------------- triangles
def test_triangle_count_k4_and_star(spark):
    from netrunner_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    star = [(100, 200 + i) for i in range(8)]  # celebrity hub: no triangles
    edges = spark.createDataFrame(k4 + star, "src long, dst long")
    out = {r["id"]: r["n_triangles"] for r in triangle_count(edges).collect()}
    # K4 has C(4,3)=4 triangles, each node sits in exactly 3
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_count_direction_and_dup_insensitive(spark):
    from netrunner_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 0), (0, 2), (2, 2)], "src long, dst long"
    )
    out = {r["id"]: r["n_triangles"] for r in triangle_count(edges).collect()}
    assert out == {0: 1, 1: 1, 2: 1}


def test_clustering_coefficient_farm_vs_organic(spark):
    from netrunner_spark.operators.graph import clustering_coefficient

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]  # farm: clique
    star = [(100, 200 + i) for i in range(6)]  # organic hub
    edges = spark.createDataFrame(k4 + star, "src long, dst long")
    out = {r["id"]: r for r in clustering_coefficient(edges).collect()}
    assert all(out[i]["coeff_permille"] == 1000 for i in range(4))  # clique
    assert out[100]["coeff_permille"] == 0 and out[100]["deg"] == 6
    assert out[200]["coeff_permille"] == 0 and out[200]["deg"] == 1  # deg<2 guard


# ------------------------------------------------------------------ k-core
def test_k_core_peels_chains_keeps_clique(spark):
    from netrunner_spark.operators.graph import k_core

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(0, 10), (10, 11), (11, 12)]  # pendant path off node 0
    edges = spark.createDataFrame(k4 + chain, "src long, dst long")
    out = {r["id"]: r["deg"] for r in k_core(edges, k=2).collect()}
    # the whole chain peels (needs 3 rounds), the clique survives with
    # its internal degrees only
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}


def test_k_core_empty_when_k_exceeds_graph(spark):
    from netrunner_spark.operators.graph import k_core

    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")
    assert k_core(edges, k=3).count() == 0  # a triangle has no 3-core
    assert {r["id"] for r in k_core(edges, k=2).collect()} == {0, 1, 2}


# ------------------------------------------------------------ drift loop
def test_drift_loop_reallocates_recrawl_budget(spark, colocated_fetcher):
    """E2E through the engine path: fetch round A (MockFetcher) →
    parse (X2) → fetch round B after two hosts roll out a template
    rewrite → parse → source_drift over the two parsed corpora keyed
    by host → budget_alloc. Unchanged hosts drift EXACTLY 0 (identical
    parsed text both rounds) and get zero recrawl budget; the whole
    budget lands on the two rewritten hosts."""
    from netrunner_spark.operators.crawlintel import budget_alloc
    from netrunner_spark.operators.textops import source_drift
    from netrunner_spark.parser.udf import parse_pages
    from netrunner_spark.synth import gen_web
    from netrunner_spark.urlnorm import url_hash_col

    web_a = gen_web(spark, 4, 10).filter(F.col("status") == 200)
    changed = ("host0.test", "host2.test")
    web_b = web_a.withColumn(
        "content",
        F.when(
            F.col("host").isin(*changed),
            F.regexp_replace("content", "[aeiou]", "y"),
        ).otherwise(F.col("content")),
    )

    def corpus(web):
        fetched = colocated_fetcher(web).fetch(
            web.select(
                "url", "host", url_hash_col("url").alias("url_hash")
            ),
            prefer_broadcast=True,
        )
        parsed = parse_pages(
            fetched.filter(F.col("status").between(200, 299)).select(
                "url", "content"
            )
        )
        return parsed.join(
            web.select("url", "host").distinct(), "url"
        ).select(F.col("host").alias("source"), F.col("content").alias("text"))

    drift = source_drift(corpus(web_a), corpus(web_b))
    tv = {r.source: r.tv_ppm for r in drift.collect()}
    assert set(tv) == {f"host{i}.test" for i in range(4)}
    assert tv["host1.test"] == 0 and tv["host3.test"] == 0
    assert tv["host0.test"] > 0 and tv["host2.test"] > 0

    alloc = {
        r.host: r.alloc
        for r in budget_alloc(drift, "tv_ppm", total=100, host_col="source").collect()
    }
    assert alloc["host1.test"] == 0 and alloc["host3.test"] == 0
    assert alloc["host0.test"] + alloc["host2.test"] == 100
