"""Per-domain politeness + priority scheduling (W1/J6/O3) and robots
allow/deny (S3) — the north_rule's "priority queue realized as
window-ranked DataFrame batches".

Reference semantics: keyed token bucket 2 req/s/domain awaited before
each fetch (crawler.rs:21,80-88; quota mod.rs:133,150); robots parse via
texting_robots (cache.rs:50-64). The reference drains serially; we
schedule a whole ROUND at once: every host gets
``budget = round_seconds × effective_rps`` slots, and the round batch is
``row_number() over (partition by host order by priority, url_hash)
<= budget``. Same politeness envelope, executed with full partition
parallelism — this is the scalability headroom being measured.

Crawl order is thereby pinned to the deterministic total order
``(round, priority, url_hash)`` (SURVEY.md §2.7 O3): the reference's
own order is HashSet-iteration (unspecified); its reproducible artifact
is the sorted URL set, which we match by set-equality.

Robots evaluation is pure relational: explode rules, longest-match wins,
allow beats disallow on ties (Google REP §longest-match) — a join +
window, zero Python in the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_RPS = 2.0  # reference hard-codes 2 req/s/domain (mod.rs:133,150)


def robots_allowed(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """frontier(url, host, ...) × robots(host, directive, path_pattern)
    → frontier rows the crawler may fetch.

    Longest matching pattern wins; allow wins ties; no matching rule ⇒
    allowed. ``robots`` is per-host metadata (small relative to the
    frontier), pre-grouped into ONE rules array per host and broadcast —
    the longest-match aggregate is then a pure projection (filter +
    array_max over the array), so the frontier is NEVER shuffled. The
    previous shape (explode rules → groupBy every frontier column) hash-
    aggregated wide rows incl. URL strings; at 10^10 rows that shuffle
    is real bytes (VERDICT r2 'what's wrong' #3).
    """
    rules_by_host = robots.filter(F.col("directive").isNotNull()).groupBy(
        "host"
    ).agg(
        F.collect_list(
            F.struct(
                F.length("path_pattern").alias("spec"),
                (F.col("directive") == "allow").cast("int").alias("is_allow"),
                F.col("path_pattern").alias("pat"),
            )
        ).alias("_rules")
    )
    joined = frontier.join(F.broadcast(rules_by_host), "host", "left")
    path = F.regexp_replace(F.col("url"), r"^[a-z]+://[^/]+", "")
    path = F.when(path == "", "/").otherwise(path)
    matched = F.filter(
        F.col("_rules"),
        lambda r: _pattern_matches(path, r["pat"]),
    )
    # struct comparison is field-ordered: max picks longest spec, then
    # allow over disallow on ties (Google REP longest-match)
    best = F.array_max(
        F.transform(matched, lambda r: F.struct(r["spec"], r["is_allow"]))
    )
    allowed = (
        F.col("_rules").isNull()
        | best.isNull()
        | (best["is_allow"] == 1)
    )
    return joined.filter(allowed).select(*frontier.columns)


def _pattern_matches(path, pattern_col):
    """REP pattern match for a PRE-EXTRACTED path column and a
    per-element pattern (usable inside higher-order lambdas) — the ONE
    copy of the escape/anchor rewrite chain: escape ALL regex
    metachars (incl. mid-pattern '$', a literal in REP paths), then
    * -> .*, then re-enable only a TRAILING '$' as the REP end-anchor
    (replacement-side '$' is a group ref in Java regex — escaped)."""
    esc = F.regexp_replace(pattern_col, r"([.^$+?(){}\[\]\\|])", r"\\$1")
    esc = F.regexp_replace(esc, r"\*", ".*")
    rx = F.concat(F.lit("^"), F.regexp_replace(esc, r"\\\$$", "\\$"))
    return F.regexp_like(path, rx) | (pattern_col == "")


def host_budgets(robots: DataFrame, round_seconds: float, rps: float = DEFAULT_RPS) -> DataFrame:
    """host → (budget, stride): fetch slots per SCHEDULED round, and the
    round spacing. crawl_delay overrides the default politeness rate
    when larger (slots = round_seconds / delay).

    ``stride`` closes the r5-review gap: a Crawl-delay LARGER than the
    round window used to clamp to budget=1 — one fetch per round, i.e.
    round_seconds between requests instead of the delay the host asked
    for. Now such hosts get stride = ceil(delay / round_seconds): one
    slot every stride-th round, so with wall-clock pacing the inter-
    request gap is ≥ delay. Hosts with delay ≤ round_seconds keep
    stride 1 — bit-identical schedules to before."""
    delays = robots.groupBy("host").agg(F.max("crawl_delay").alias("crawl_delay"))
    eff_delay = F.greatest(
        F.coalesce(F.col("crawl_delay"), F.lit(0.0)), F.lit(1.0 / rps)
    )
    return delays.select(
        "host",
        F.greatest(F.lit(1), F.floor(F.lit(round_seconds) / eff_delay))
        .cast("int")
        .alias("budget"),
        F.greatest(F.lit(1), F.ceil(eff_delay / F.lit(round_seconds)))
        .cast("int")
        .alias("stride"),
    )


def budgets_from_delays(
    delays: DataFrame, round_seconds: float, delay_col: str = "delay_ms"
) -> DataFrame:
    """host → fetch slots from an ADAPTIVE per-host delay plan
    (`crawlintel.adaptive_delay_plan` output): slots = max(1,
    floor(round_ms / delay_ms)).

    This closes the feedback loop the reference leaves open (its pace
    is static config, mod.rs:37-51): round N's observed latencies and
    error rates become round N+1's politeness budgets through the SAME
    ``budgets`` interface `host_budgets` feeds — robots-declared delays
    and learned delays compose by taking whichever slot count is
    smaller (`least` after a join, or just pass the stricter frame).
    Output is per-host (broadcast-sized), exact integer.
    """
    round_ms = int(round_seconds * 1000)
    return delays.select(
        "host",
        F.greatest(
            F.lit(1), (F.lit(round_ms) / F.col(delay_col)).cast("int")
        )
        .cast("int")
        .alias("budget"),
        F.greatest(
            F.lit(1), F.ceil(F.col(delay_col) / F.lit(round_ms))
        )
        .cast("int")
        .alias("stride"),
    )


def rank_round(
    frontier: DataFrame,
    budgets: DataFrame | None = None,
    default_budget: int = 20,
    round_no: int = 0,
) -> DataFrame:
    """Pick this round's batch: window-rank within host by
    (priority, url_hash), keep rank ≤ budget (W1).

    Budgets carrying a ``stride`` column (host_budgets /
    budgets_from_delays for Crawl-delays larger than the round window)
    gate the host to every stride-th round given ``round_no`` — the
    iterated equivalent of schedule_rounds' stride (r5 review: the
    stride never reached this path, so a 60 s-delay host was picked
    EVERY round at 6× its declared rate; the raw stride column also
    leaked into the output schema).

    Skew note: the window shuffles by host — a hot host with 10^8 queued
    URLs would skew one partition. Mitigation at scale: pre-filter with a
    cheap per-host ``count ≤ budget`` fast path is wrong (order matters),
    so instead we rely on AQE skew splitting for the shuffle and the fact
    that rank ≤ budget truncates output per host; budget ≪ queue depth
    keeps the output balanced.
    """
    w = Window.partitionBy("host").orderBy(F.col("priority"), F.col("url_hash"))
    ranked = frontier.withColumn("rank_in_host", F.row_number().over(w))
    if budgets is not None:
        ranked = ranked.join(F.broadcast(budgets), "host", "left").withColumn(
            "budget", F.coalesce(F.col("budget"), F.lit(default_budget))
        )
        if "stride" in budgets.columns:
            ranked = ranked.filter(
                F.lit(int(round_no))
                % F.coalesce(F.col("stride"), F.lit(1))
                == 0
            ).drop("stride")
    else:
        ranked = ranked.withColumn("budget", F.lit(default_budget))
    return ranked.filter(F.col("rank_in_host") <= F.col("budget")).drop(
        "rank_in_host", "budget"
    )


def schedule_rounds(
    frontier: DataFrame,
    budgets: DataFrame | None = None,
    default_budget: int = 20,
    round_offset: int = 0,
    n_salts: int = 1,
) -> DataFrame:
    """Assign every queued URL its drain round UP FRONT — one window
    pass for the whole crawl instead of one per round:

        sched_round = (row_number over (host, ORDER BY priority,
                       url_hash) - 1) // budget + round_offset

    Provably identical batches to iterated ``rank_round`` + requeue:
    round r's batch is exactly the rows with per-host rank in
    (r·budget, (r+1)·budget] — the rank is static because priority's
    host-count term is constant WITHIN a host (with_priority partitions
    by host), so draining earlier rounds never reorders later ones.

    This is the scale move: the per-round full-frontier window shuffle
    (O(R·N) at 10^10 rows) becomes ONE O(N) job, and each round's batch
    is a partition-pruned read of ``sched_round=r``. At cluster scale
    the window's host-shuffle is a single pass you'd bucket-by-host.

    ``n_salts > 1`` — SALTED scheduling for hot-host skew (north_rule:
    "salted repartitioning to break hot-host skew"): the window
    partitions by (host, pmod(url_hash, S)) so one 10^8-URL host spreads
    over S tasks instead of one. Each salt stripe gets
    ``floor(budget / S_eff)`` slots per round, so a (host, round) batch
    carries at most ``S_eff · floor(budget / S_eff) ≤ budget`` URLs —
    the politeness bound is PRESERVED (slightly under-filled rounds,
    never over). Within-host order becomes per-stripe instead of global
    — crawl order is our own pinned spec, and the sorted URL-set
    artifact is unchanged.
    """
    if budgets is not None:
        based = frontier.join(F.broadcast(budgets), "host", "left").withColumn(
            "budget", F.coalesce(F.col("budget"), F.lit(default_budget))
        )
    else:
        based = frontier.withColumn("budget", F.lit(default_budget))
    # ``stride`` (optional budgets column, default 1): hosts whose
    # crawl_delay exceeds the round window get one budget-batch every
    # stride-th round — with wall-clock pacing the inter-request gap is
    # ≥ stride·round_seconds ≥ delay. stride=1 → identical schedule to
    # the pre-stride formula.
    if "stride" in based.columns:
        based = based.withColumn(
            "stride", F.coalesce(F.col("stride"), F.lit(1))
        )
    else:
        based = based.withColumn("stride", F.lit(1))
    if n_salts <= 1:
        w = Window.partitionBy("host").orderBy(F.col("priority"), F.col("url_hash"))
        ranked = based.withColumn("_rk", F.row_number().over(w))
        per_round = F.col("budget")
    else:
        s_eff = F.least(F.lit(n_salts), F.col("budget"))
        based = based.withColumn("_salt", F.pmod(F.col("url_hash"), s_eff))
        w = Window.partitionBy("host", "_salt").orderBy(
            F.col("priority"), F.col("url_hash")
        )
        ranked = based.withColumn("_rk", F.row_number().over(w))
        per_round = F.floor(F.col("budget") / s_eff)
    return ranked.withColumn(
        "sched_round",
        (
            F.floor((F.col("_rk") - F.lit(1)) / per_round) * F.col("stride")
            + F.lit(round_offset)
        ).cast("int"),
    ).drop("_rk", "budget", "stride", "_salt")


def with_priority(
    frontier: DataFrame,
    authority: DataFrame | None = None,
    authority_weight: float = 1.0,
) -> DataFrame:
    """priority = depth + host-budget score (north_rule formula).

    The host-budget score penalizes hosts with many queued URLs so small
    hosts drain early: score = log10(host_queue_len)/10, computed with a
    count window (no extra shuffle beyond the host partitioning the
    round-rank needs anyway — Spark reuses the exchange).

    ``authority`` (optional): a ``(host, rank_e12)`` DataFrame — e.g.
    host-aggregated `operators.graph.pagerank_int` output over the
    discovered link graph — broadcast-joined so authoritative hosts
    drain earlier. The boost is log-compressed to [0, ~0.75·weight]
    (log10 of a ≤10^12 fixed-point rank / 16), so it reorders within a
    depth tier but never outranks a full depth level at weight ≤ 1.
    Host-count is bounded (≪ URL count) → always broadcastable; the
    default path is untouched, so plan-shape pins on the scheduler
    (tests/test_plan_shape.py) hold.
    """
    w = Window.partitionBy("host")
    out = frontier.withColumn(
        "priority",
        F.col("depth").cast("double")
        + F.log10(F.count(F.lit(1)).over(w).cast("double") + F.lit(1.0)) / F.lit(10.0),
    )
    if authority is not None:
        auth = authority.select(
            F.col("host"), F.col("rank_e12").cast("double").alias("_auth_rank")
        )
        out = (
            out.join(F.broadcast(auth), "host", "left")
            .withColumn(
                "priority",
                F.col("priority")
                - F.lit(authority_weight)
                * F.log10(F.coalesce(F.col("_auth_rank"), F.lit(0.0)) + F.lit(1.0))
                / F.lit(16.0),
            )
            .drop("_auth_rank")
        )
    return out


def recrawl_priority(
    log: DataFrame,
    key_col: str = "url_hash",
    ts_col: str = "ts",
    changed_col: str = "changed",
) -> DataFrame:
    """Freshness-driven recrawl scheduling (Cho & Garcia-Molina-style
    change-rate estimation) → per key
    ``(key, n_obs, n_changes, period_us, age_us, priority_q)``.

    From an observation log (one row per past fetch, ``changed`` = the
    content hash differed from the previous fetch), estimate each URL's
    change period as observed-span div max(changes, 1) and rank by
    staleness ratio: ``priority_q = (age·1000) div (period+1)`` — a
    page one full estimated period stale scores ≈1000; never-changing
    pages (changes=0) inherit period = full span, deprioritizing them.
    All arithmetic is integer micros (unix_micros ↔ DuckDB epoch_us,
    positive → div ≡ //), so the schedule is engine-exact; ties at
    equal staleness break by key for a deterministic drain order.

    Shape at 100 TB: ONE map-side-combined hash aggregate over the
    fetch log keyed by url_hash (8-byte keys), plus a broadcast 1-row
    global clock (max observed ts — using the log's own horizon keeps
    the operator deterministic; a wall-clock `now` is a trivial
    substitution in production). No windows, no joins against the
    frontier — the output joins INTO the frontier as a priority source
    exactly like `with_priority`'s authority input.
    """
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    per = log.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.col(changed_col).cast("long")).alias("n_changes"),
        (F.max(ts_us) - F.min(ts_us)).alias("span_us"),
        F.max(ts_us).alias("last_us"),
    )
    clock = log.agg(F.max(ts_us).alias("now_us"))
    return (
        per.crossJoin(F.broadcast(clock))
        .select(
            key_col,
            "n_obs",
            "n_changes",
            F.expr("span_us div greatest(n_changes, 1L)").alias("period_us"),
            (F.col("now_us") - F.col("last_us")).alias("age_us"),
        )
        .withColumn(
            "priority_q",
            F.expr("(age_us * 1000) div (period_us + 1)"),
        )
    )


def robots_block_report(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """Per-host robots exposure audit → ``(host, n_urls, n_allowed,
    blocked_permille)``: how much of the frontier each host's
    robots.txt actually forbids.

    Operationally this is the first thing to check when a host's
    harvest rate collapses (did they just disallow the section we
    crawl?) and the input to seed-list triage — a lens whose frontier
    is 90 % blocked needs new seeds, not more budget. Composes
    :func:`robots_allowed` unchanged (same broadcast rules-array eval,
    frontier never shuffled by the EVAL; the counts are two map-side
    aggregates on host + one small join on the per-host table).
    """
    total = frontier.groupBy("host").agg(F.count(F.lit(1)).alias("n_urls"))
    ok = (
        robots_allowed(frontier, robots)
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_allowed"))
    )
    return (
        total.join(ok, "host", "left")
        .select(
            "host",
            "n_urls",
            F.coalesce("n_allowed", F.lit(0)).alias("n_allowed"),
        )
        .withColumn(
            "blocked_permille",
            F.expr("(n_urls - n_allowed) * 1000 DIV n_urls"),
        )
    )
