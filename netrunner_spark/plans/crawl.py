"""The flagship: round-based frontier drain (reference §3.1,
mod.rs:120-143,211-263) — Spark-first redesign, round 2.

The reference drains the queue SERIALLY under a 2 req/s/domain token
bucket. We schedule whole ROUNDS: politeness becomes a per-host slot
budget per round. Round 2 moves the scheduling itself out of the loop:

  * ``init_frontier`` window-ranks the WHOLE queue ONCE
    (politeness.schedule_rounds) and writes a ``schedule`` table
    partitioned by ``sched_round`` — provably the same per-round batches
    as re-ranking every round (the within-host order is static), at
    O(N) total instead of O(R·N).
  * one storage layout: the ``schedule``, the page store and the image
    payloads are bucketed on ``url_hash`` with one bucket count
    (``tables.N_BUCKETS`` unless configured; Iceberg
    ``bucket(N, url_hash)`` on a cluster), so the fetch join of an
    init-scheduled round never shuffles. Rounds that link expansion
    appends live in ``schedule_ext`` slices, which are unbucketed: such a
    round above ``BROADCAST_BATCH_BYTES`` shuffles its batch.
  * each round is then: partition-pruned read of ``sched_round=r`` →
    exchange-free fetch join over the bucketed store (the batch
    broadcasts below ``BROADCAST_BATCH_BYTES``, merge-joins co-located
    above) with the image decode/validate fused into the same stage →
    ONE cache-slice write (with ``observe`` supplying the row count, so
    no separate count job). Per-host metrics for all rounds land in one
    bulk pass at the end of ``run()``.
  * the URL-seen bloom covers every SCHEDULED key from init (enqueue-
    time membership, exactly when the reference consults its seen set,
    mod.rs:221-241) — it only changes when link expansion enqueues new
    URLs, so the per-round "bloom checkpoint" is the unchanged
    committed snapshot, not a rewrite. ``_fold_bloom`` is the one place
    it is written: a full build over every scheduled key when no bloom
    exists (init, or an enqueue that finds it missing), else a fold of
    the new keys.
  * link expansion (``follow_links``) runs each of its 3 Python passes
    ONCE per round: parse (pages → (link, depth+1) rows in one
    ``mapInPandas`` pass, no join back to the pages), normalize + host
    (one UDF) and the bloom probe (materialized once for both
    seen-guard branches). A round with no 2xx page below ``max_depth``
    skips expansion outright: the count rides the cache write's
    ``observe``, so no job runs after the write.
  * the terminal ``frontier`` snapshot (url, state, round) is an O(N)
    MATERIALIZATION at drain end / on demand — per-round frontier state
    is fully determined by (schedule, committed cache slices), which is
    what resume reads.

Durability / resume (W4): the cache slice IS the round commit — a round
is committed iff its slice directory carries Spark's ``_SUCCESS``
marker. ``current_round`` = max committed slice + 1 (driver-side
listdir, zero jobs). A crash mid-round leaves a marker-less partial
slice that the replay overwrites; a crash between the cache and metrics
writes is healed by the metrics backfill at ``run()`` start. All writes
are idempotent overwrites of per-round paths — exactly-once effect.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from netrunner_spark.operators.admission import (
    admission_filter,
    dedup_frontier,
    normalize_frontier,
    sanitize,
)
from netrunner_spark.operators.politeness import (
    DEFAULT_RPS,
    host_budgets,
    robots_allowed,
    schedule_rounds,
    with_priority,
)
from netrunner_spark.operators.seen import SHARD_SCHEMA, unseen_once, upsert_shards
from netrunner_spark.parser.udf import parse_links, parse_pages
from netrunner_spark.tables import N_BUCKETS, LakeCatalog

FRONTIER_COLS = ["url", "url_hash", "host", "depth", "priority", "state", "round"]
SCHEDULE_COLS = ["url", "url_hash", "host", "depth", "priority", "sched_round"]
CACHE_COLS = [
    "url_hash",
    "url",
    "host",
    "depth",
    "status",
    "headers",
    "content",
    "image_id",
    "attempts",
    "source",
]

# round batches below this on-disk size broadcast over the bucketed
# store scan (exchange-free BHJ, no merge-sort startup); above it they
# sort-merge co-located, so the driver never builds a broadcast of a
# multi-million-row round. Measured crossover is ~100k slim rows (merge
# won at 330k-row rounds, broadcast at 15k)
BROADCAST_BATCH_BYTES = 4 * 1024 * 1024


@dataclass
class CrawlConfig:
    """Live config (the reference's requests_per_second is dead config,
    mod.rs:37-51 — ours is real)."""

    rps: float = DEFAULT_RPS
    round_seconds: float = 10.0  # logical politeness window per round
    max_rounds: int = 100
    follow_links: bool = False  # reference drains a fixed queue; we can expand
    max_depth: int = 3
    n_bloom_shards: int = 64
    # >1: salt the scheduling window by pmod(url_hash, S) so a hot host
    # spreads over S tasks (north_rule skew mitigation); politeness
    # budget stays an upper bound (see politeness.schedule_rounds)
    schedule_salts: int = 1
    # enforce the politeness window against the wall clock: a round that
    # finishes early sleeps out its remainder, so the per-host request
    # rate NEVER exceeds rps even when compute is fast (live-crawl
    # mode). Off by default: batch/mock runs model politeness logically
    # (budget slots per round) and stay deterministic + fast.
    enforce_wall_clock: bool = False
    # bucket count of the SCHEDULE, a Spark bucketed table on url_hash.
    # Equal to the fetcher's store bucket count (both default to
    # tables.N_BUCKETS), every init-scheduled round's fetch join is
    # co-located and exchange-free with no driver-serial broadcast
    # build — the round-2 serial floor (BENCH/BASELINE.md §5).
    colocated_buckets: int = N_BUCKETS


class CrawlJob:
    def __init__(
        self,
        spark: SparkSession,
        catalog: LakeCatalog,
        fetcher,
        robots: DataFrame,
        config: CrawlConfig | None = None,
        lens=None,
    ):
        """``fetcher``: a MockFetcher over the bucketed store (see
        ``sources.fetcher``), whose image store (if any) stamps each
        cache row with its image verdict during the fetch, or an
        ``HttpFetcher``."""
        self.spark = spark
        self.cat = catalog
        self.fetcher = fetcher
        self.robots = robots
        self.cfg = config or CrawlConfig()
        self.lens = lens
        self._budgets = None

    # ------------------------------------------------------------ lifecycle
    def _scheduled(self, blocked: bool = False) -> DataFrame:
        """Every scheduled row (SCHEDULE_COLS): ``schedule`` plus every
        ``schedule_ext`` slice. ``blocked`` keeps the robots-blocked
        ``sched_round = -1`` rows, which are never seen keys."""
        # empty-schema fallback: a purely streaming-fed crawl calls
        # enqueue_frontier before any init_frontier, so no ``schedule``
        # table exists yet — the documented handoff entry point must
        # not raise (r5 review). All rounds then live in schedule_ext.
        try:
            sched = self.cat.read_table("schedule")
        except FileNotFoundError:
            sched = self.spark.createDataFrame(
                [],
                "url string, url_hash long, host string, depth int,"
                " priority double, sched_round int",
            )
        if not blocked:
            sched = sched.filter(F.col("sched_round") >= 0)
        sched = sched.select(*SCHEDULE_COLS)
        ext = self.cat.read_slices("schedule_ext")
        return sched if ext is None else sched.unionByName(ext.select(*SCHEDULE_COLS))

    def _bloom_shards(self) -> DataFrame | None:
        """The committed bloom snapshot, or None. Read with its known
        schema: a plain parquet read runs a schema-inference job."""
        if self.cat.exists("bloom_shards"):
            return self.spark.read.schema(SHARD_SCHEMA).parquet(
                self.cat.snapshot_path("bloom_shards")
            )
        return None

    def _fold_bloom(self, new_keys: DataFrame | None = None) -> None:
        """The one place the URL-seen bloom is written. With no bloom on
        disk it is built over every scheduled key plus ``new_keys`` —
        this also rebuilds a bloom lost to a crash between init's
        schedule and bloom writes, and builds a streaming-only crawl's
        bloom on its first enqueue. Otherwise ``new_keys`` (default:
        every scheduled key) are ORed into it. Each write is a full
        snapshot; the vacuum keeps the last two, so disk stays bounded
        over rounds. A persisted shard count other than
        ``n_bloom_shards`` raises (``upsert_shards``)."""
        shards = self._bloom_shards()
        keys = new_keys
        if shards is None or keys is None:
            sched = self._scheduled().select("url_hash")
            keys = sched if keys is None else sched.unionByName(keys)
        self.cat.write(
            upsert_shards(shards, keys, self.cfg.n_bloom_shards), "bloom_shards"
        )
        self.cat.vacuum("bloom_shards")

    def _sched_rounds(self) -> list[int]:
        return self.cat.table_partition_values("schedule", "sched_round")

    def init_frontier(self, urls: DataFrame) -> None:
        """urls(url, host, url_hash) → ``schedule`` table: robots verdict
        stamped ONCE per URL (disallowed rows park at sched_round=-1),
        then every allowed URL gets its drain round assigned up front
        (schedule_rounds — one window job for the whole crawl). The
        URL-seen bloom is built over all scheduled keys in the same
        step. No-op if a schedule exists (resume, W4/mod.rs:121-128): a
        bloom lost to a crash between the two writes is rebuilt by the
        next enqueue's fold."""
        if self.cat.table_meta("schedule") is not None:
            return
        base = urls.select("url", "url_hash", "host", F.lit(0).alias("depth"))
        ok = robots_allowed(base, self.robots)
        sched = schedule_rounds(
            with_priority(ok),
            self.budgets(),
            default_budget=self._default_budget(),
            # after any rounds a streaming enqueue already scheduled, so
            # no host gets two budgets' worth of URLs in one round
            round_offset=self.max_round() + 1,
            n_salts=self.cfg.schedule_salts,
        ).select(*SCHEDULE_COLS)
        blocked = base.join(ok.select("url_hash"), "url_hash", "left_anti").select(
            "url",
            "url_hash",
            "host",
            "depth",
            F.lit(0.0).alias("priority"),
            F.lit(-1).alias("sched_round"),
        )
        # bucket-aligned with the fetcher's store: per-round reads are
        # partition-pruned AND carry bucketing metadata into the join
        self.cat.write_table_bucketed(
            sched.unionByName(blocked),
            "schedule",
            key="url_hash",
            n_buckets=self.cfg.colocated_buckets,
            partition_by=["sched_round"],
        )
        self._fold_bloom()

    def current_round(self) -> int:
        """Next round to run = 1 + last COMMITTED cache slice (driver-side
        listdir + _SUCCESS check — zero Spark jobs). The cache slice is
        the round's commit anchor; a marker-less partial slice from a
        crash is replayed/overwritten."""
        m = self.cat.max_committed_slice("cache", "fetched_round")
        return 0 if m is None else m + 1

    def max_round(self) -> int:
        """Highest scheduled round (init schedule + link-expansion
        appends); -1 when nothing is scheduled. Driver-side listing."""
        vals = [v for v in self._sched_rounds() if v >= 0]
        m = max(vals, default=-1)
        ext = self.cat.max_slice("schedule_ext", "sched_round")
        return max(m, ext if ext is not None else -1)

    def _default_budget(self) -> int:
        """Slots/round for hosts with no robots row — derived from the
        CONFIGURED politeness rate (r5 review: the previous hardcoded
        20 matched rps=2.0 x round_seconds=10 only by coincidence and
        overshot any stricter configuration 4x+)."""
        return max(1, int(self.cfg.round_seconds * self.cfg.rps))

    def budgets(self) -> DataFrame:
        if self._budgets is None:
            self._budgets = host_budgets(
                self.robots, self.cfg.round_seconds, self.cfg.rps
            ).cache()
        return self._budgets

    def cache_df(self) -> DataFrame | None:
        return self.cat.read_slices("cache")

    def metrics_df(self) -> DataFrame | None:
        return self.cat.read_slices("metrics")

    # ------------------------------------------------------------ one round
    def _round_batch(self, round_no: int) -> DataFrame | None:
        parts = []
        if round_no in self._sched_rounds():
            # catalog-table read: the sched_round predicate prunes to
            # one partition at plan time AND the scan keeps its
            # url_hash bucketing → exchange-free fetch join
            parts.append(
                self.cat.read_table("schedule")
                .filter(F.col("sched_round") == round_no)
                .drop("sched_round")
            )
        if self.cat.slice_exists("schedule_ext", "sched_round", round_no):
            parts.append(self.cat.read_slice("schedule_ext", "sched_round", round_no))
        if not parts:
            return None
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def _batch_bytes(self, round_no: int) -> int:
        return self.cat.table_partition_bytes(
            "schedule", "sched_round", round_no
        ) + self.cat.slice_bytes("schedule_ext", "sched_round", round_no)

    _METRIC_AGGS = (
        lambda: [
            F.count(F.lit(1)).alias("n_urls"),
            F.sum(F.when(F.col("status").between(200, 299), 1).otherwise(0)).alias(
                "n_ok"
            ),
            F.sum(
                F.when(
                    F.col("status").isNull() | ~F.col("status").between(200, 299), 1
                ).otherwise(0)
            ).alias("n_failed"),
            F.sum("attempts").alias("attempts"),
        ]
    )

    def _write_metrics_bulk(self, rounds: list[int]) -> None:
        """Metrics for MANY committed cache rounds in ONE pass (r6
        optimization): the per-round read-back + slice write was two
        jobs per round (~0.5 s/round of fixed job latency at bench
        scale, O(rounds) jobs on a long crawl); one partition-pruned
        scan + one dynamic-partition write produces byte-identical
        per-round slice dirs. Each round dir then gets the same
        per-slice ``_SUCCESS`` marker ``write_slice``'s committer
        emits, written AFTER the data commit — the crash window
        (data committed, marker missing ⇒ slice replayed) is unchanged.
        A round with no cache rows gets no partition from the write; it
        gets an empty (schema-only) slice instead, so its stamp never
        sits in a marker-only directory that reads as committed yet
        fails ``read_slice``, and it is not found missing again on the
        next backfill. Column-pruned: content is never read."""
        cache = self.cat.read_slices("cache")
        agg = (
            cache.filter(F.col("fetched_round").isin(rounds))
            .groupBy("host", "fetched_round")
            .agg(*CrawlJob._METRIC_AGGS())
            .withColumnRenamed("fetched_round", "round")
        )
        self.cat.append_partitions(agg, "metrics", "round")
        for r in rounds:
            if not self.cat.slice_exists("metrics", "round", r):
                self.cat.write_slice(agg.limit(0), "metrics", "round", r)
        self.cat.mark_slices_committed("metrics", "round", rounds)

    def _backfill_metrics(self) -> None:
        """Write the metrics slice for every committed cache round
        missing one — the round loop defers metrics to one bulk pass
        at the end of ``run()`` (r6 optimization), and this same call
        heals a crash that lost them. Normally driver-side listdir +
        one Spark job; a no-op when nothing is missing."""
        done = self.cat.max_committed_slice("cache", "fetched_round")
        if done is None:
            return
        missing = [
            r
            for r in range(done + 1)
            if self.cat.slice_exists("cache", "fetched_round", r)
            and not self.cat.slice_committed("metrics", "round", r)
        ]
        if missing:
            self._write_metrics_bulk(missing)

    def run_round(self, round_no: int) -> int:
        """→ number of URLs attempted this round (from ``observe`` on the
        cache write — no separate count job)."""
        batch = self._round_batch(round_no)
        if batch is None:
            return 0

        # 1. cache slice — the ONE pass that materializes fetched content
        #    (idempotent overwrite on replay). Both join shapes are
        #    exchange-free over the bucketed store; the batch's on-disk
        #    size (driver-side stat, no job) picks broadcast-over-the-
        #    bucketed-scan while small (it skips the merge-sort startup,
        #    which dominates small rounds), the co-located merge join
        #    above. A fetcher with an image store stamps
        #    (image_ok, image_phash) during the fetch — dropping the
        #    stamp would silently pay the decode and discard the verdict.
        inline_images = getattr(self.fetcher, "images_by_url", None) is not None
        small = self._batch_bytes(round_no) < BROADCAST_BATCH_BYTES
        fetched = self.fetcher.fetch(batch, prefer_broadcast=small).select(
            *(CACHE_COLS + ["image_ok", "image_phash"])
            if inline_images
            else CACHE_COLS
        )
        obs = Observation()
        aggs = [F.count(F.lit(1)).alias("n")]
        if self.cfg.follow_links:
            # pages link expansion would parse, counted on the same
            # write: 0 ⇒ the round has nothing to expand (no extra job)
            aggs.append(F.count(F.when(self._expandable(), 1)).alias("n_expand"))
        fetched = fetched.observe(obs, *aggs)
        # no fetched_round literal: write_slice drops the slice column
        # anyway — it exists only as the partition directory name
        self.cat.write_slice(fetched, "cache", "fetched_round", round_no)
        got = obs.get
        n_batch = int(got["n"])

        # 2. per-host lineage/metrics: deferred to ONE bulk pass at the
        #    end of run() (r6 optimization — the per-round read-back +
        #    write cost two jobs/round); a crash before that pass is
        #    healed by the same _backfill_metrics that healed the old
        #    per-round crash window

        # 3. link expansion (our scalability extension; the reference
        #    drains a fixed queue) appends NEW schedule partitions and
        #    folds the new keys into the bloom — O(new links), never
        #    O(frontier). A round with no 2xx page below max_depth (e.g.
        #    the last round of a crawl, all misses) skips it: no job.
        if self.cfg.follow_links:
            if got["n_expand"]:
                self._expand_links(round_no)
            self.cat.set_marker("schedule_ext", f"expanded-{round_no}")
        return n_batch

    def _backfill_expansion(self) -> None:
        """Heal a crash AFTER the cache slice committed but BEFORE its
        link expansion landed (ADVICE r2): without this, resume skips
        past the round and its discovered links are never scheduled.
        Re-running _expand_links is idempotent — already-scheduled keys
        vanish in the seen anti-join — so replay appends only what the
        crash lost. Driver-side marker check; normally a no-op."""
        if not self.cfg.follow_links:
            return
        done = self.cat.max_committed_slice("cache", "fetched_round")
        if done is None:
            return
        for r in range(done + 1):
            if self.cat.slice_committed(
                "cache", "fetched_round", r
            ) and not self.cat.has_marker("schedule_ext", f"expanded-{r}"):
                self._expand_links(r)
                self.cat.set_marker("schedule_ext", f"expanded-{r}")

    def _expandable(self):
        """Cache rows whose out-links get expanded: 2xx below max_depth."""
        return F.col("status").between(200, 299) & (
            F.col("depth") < self.cfg.max_depth
        )

    def _expand_links(self, round_no: int) -> None:
        """Parse this round's 2xx pages, admit + normalize links,
        robots-check, then the F7 seen guard (bloom pre-filter + exact
        anti-join vs ALL scheduled keys) — at enqueue time; unseen links
        are window-scheduled into rounds AFTER the current maximum
        (budget-safe: a host's new rounds never exceed its slot budget).

        (Link-following is our scalability extension; the reference
        drains a fixed queue — its ParseResult.links are serde-skipped,
        parser/mod.rs:24.)
        """
        slice_df = self.cat.read_slice("cache", "fetched_round", round_no)
        links = parse_links(slice_df.filter(self._expandable()))
        if self.lens is not None:
            links = admission_filter(sanitize(links, self.lens), self.lens)
        links = dedup_frontier(normalize_frontier(links))
        self.enqueue_frontier(links)

    def enqueue_frontier(self, links: DataFrame) -> None:
        """Admit NEW URLs into rounds after the current maximum — the
        shared enqueue tail of link expansion AND the streaming→batch
        handoff (streaming.ingest.handoff_admitted): robots check →
        F7 seen guard (bloom pre-filter + exact anti-join vs ALL
        scheduled keys) → window-scheduled schedule_ext appends
        (budget-safe) → bloom fold. Idempotent: already-scheduled keys
        vanish in the seen guard.

        ``links``: (url, url_hash, host, depth) — normalized/admitted
        by the caller."""
        links = robots_allowed(links, self.robots)
        # blocked keys are NOT in the bloom; robots_allowed above already
        # re-filters them, so they can't re-enter via this path
        seen_keys = self._scheduled().select("url_hash")
        base_round = self.max_round() + 1
        obs = Observation()
        # a bloom persisted under another shard count raises in the
        # probe, before anything is written; no bloom (streaming-only
        # crawl, or lost to an init crash) probes exactly
        with unseen_once(
            links, seen_keys, self._bloom_shards(), self.cfg.n_bloom_shards
        ) as fresh:
            newly = (
                schedule_rounds(
                    with_priority(fresh),
                    self.budgets(),
                    default_budget=self._default_budget(),
                    round_offset=base_round,
                    n_salts=self.cfg.schedule_salts,
                )
                .select(*SCHEDULE_COLS)
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True)
            )
        if not obs.get["n"]:
            return
        # fold the bloom BEFORE appending the schedule partitions: a
        # crash between the two then leaves keys in the bloom that are
        # not yet scheduled — a bloom false POSITIVE, healed by the
        # exact anti-join on replay (the key isn't in seen_keys, so it
        # re-enters and both writes re-run idempotently). The reverse
        # order had the fatal window: keys in schedule_ext but not in
        # the bloom probe as definitely-unseen and are scheduled AGAIN
        # on replay — a false NEGATIVE no backstop can catch.
        self._fold_bloom(newly.select("url_hash"))
        self.cat.append_partitions(newly, "schedule_ext", "sched_round")

    # ------------------------------------------------------- frontier state
    def materialize_frontier(self) -> None:
        """Write the ``frontier`` snapshot (url, state, round) — an O(N)
        join of the schedule against the committed cache slices, run
        ONCE at drain end (round 1 rewrote this table every round).
        State is fully derivable: blocked (sched_round=-1) / fetched
        (2xx cache row) / failed (cache row) / queued (no cache row)."""
        sched = self._scheduled(blocked=True)
        cache = self.cache_df()
        if cache is None:
            attempts = self.spark.createDataFrame(
                [], "url_hash long, status int, fetched_round int"
            )
        else:
            attempts = cache.select("url_hash", "status", "fetched_round")
        frontier = sched.join(attempts, "url_hash", "left").select(
            "url",
            "url_hash",
            "host",
            "depth",
            "priority",
            F.when(F.col("sched_round") == -1, "blocked")
            .when(
                F.col("fetched_round").isNotNull()
                & F.col("status").between(200, 299),
                "fetched",
            )
            .when(F.col("fetched_round").isNotNull(), "failed")
            .otherwise("queued")
            .alias("state"),
            F.coalesce(F.col("fetched_round"), F.lit(-1)).alias("round"),
        )
        self.cat.write(
            frontier.select(*FRONTIER_COLS), "frontier", bucket_hint="url_hash"
        )
        self.cat.vacuum("frontier")

    # ------------------------------------------------------------ archive
    def archive_stage(self) -> dict:
        """The reference crawl's tail (§3.1, create_archives,
        archive.rs:356-403): 2xx filter (F6) → html_to_text parse (X2,
        Arrow-batched) → canonical dedup (F9) → parsed table; plus the
        north_star image tally: the verdicts the fetch stage stamped on
        the cache rows (``image_ok``) — phash/shape mismatches and
        images missing from the store are counted, never silently
        dropped. A cache without the stamp (no image store) reports 0.

        This is the perfectly-parallel stage of the drain (pure
        per-partition Python over Arrow batches; ONE pass over the
        cache: input/image tallies ride the parse plan via ``observe``,
        the parsed count via ``observe`` on the written rows — the r3
        verdict's two extra full scans (parsed re-read + ok.count) are
        gone; one shuffle for the canonical dedup)."""
        from netrunner_spark.operators.dedup import canonical_dedup

        cache = self.cache_df()
        if cache is None:
            return {
                "parsed": 0,
                "dupes_dropped": 0,
                "images_checked": 0,
                "image_failures": 0,
                "parse_fallbacks": 0,
            }
        ok = cache.filter(F.col("status").between(200, 299))
        in_aggs = [F.count(F.lit(1)).alias("n")]
        stamped = "image_ok" in ok.columns
        if stamped:
            in_aggs += [
                F.sum(
                    F.when(F.col("image_id").isNotNull(), 1).otherwise(0)
                ).alias("img_n"),
                F.sum(
                    F.when(
                        F.col("image_id").isNotNull()
                        & ~F.coalesce(F.col("image_ok"), F.lit(False)),
                        1,
                    ).otherwise(0)
                ).alias("img_bad"),
            ]
        obs_in, obs_out = Observation(), Observation()
        ok = ok.observe(obs_in, *in_aggs)
        fb_acc = self.spark.sparkContext.accumulator(0)
        parsed = parse_pages(
            ok.select("url", "content"), fallback_counter=fb_acc
        )
        deduped = canonical_dedup(parsed).observe(
            obs_out, F.count(F.lit(1)).alias("n")
        )
        self.cat.write(deduped, "parsed", bucket_hint="canonical_url")
        got_in, got_out = obs_in.get, obs_out.get
        n_total, n_parsed = got_in["n"], got_out["n"]
        return {
            "parsed": n_parsed,
            "dupes_dropped": n_total - n_parsed,
            "images_checked": (got_in["img_n"] or 0) if stamped else 0,
            "image_failures": (got_in["img_bad"] or 0) if stamped else 0,
            "parse_fallbacks": fb_acc.value,
        }

    # -------------------------------------------------------- maintenance
    def compact_cache(self) -> int | None:
        """Optional maintenance for long crawls (VERDICT r3 #10): fold
        the committed per-round cache slices into one base snapshot,
        keyed on url_hash (highest round wins). Metric/expansion
        backfills run first, so a round folded away has nothing left to
        heal; resume keeps working because the compaction floor stands
        in for the deleted slice markers (``max_committed_slice``).
        Returns the highest round compacted, or None if < 1 slice.

        Metrics slices are folded too — they're tiny but also one dir
        per round; keyed on (host, round) so nothing collapses."""
        self._backfill_metrics()
        self._backfill_expansion()
        hi = self.cat.compact_slices("cache", "fetched_round", key="url_hash")
        if hi is not None:
            self.cat.compact_slices(
                "metrics", "round", key=["host", "round"], upto=hi
            )
        return hi

    # ------------------------------------------------------------ full run
    def run(self) -> dict:
        import time as _time

        t0 = _time.time()
        self._backfill_metrics()
        self._backfill_expansion()
        start = self.current_round()
        total = 0
        rounds = 0
        r = start
        while rounds < self.cfg.max_rounds and r <= self.max_round():
            t_round = _time.time()
            total += self.run_round(r)
            if self.cfg.enforce_wall_clock and r < self.max_round():
                # politeness window is real time in live mode (W1):
                # each host got ≤ budget slots THIS window, so the next
                # window must not start before round_seconds elapse
                remaining = self.cfg.round_seconds - (_time.time() - t_round)
                if remaining > 0:
                    _time.sleep(remaining)
            rounds += 1
            r += 1
        # bulk per-host lineage/metrics for every round this run
        # committed (plus any a previous crash lost) — one scan + one
        # partitioned write instead of two jobs per round
        self._backfill_metrics()
        t_loop = _time.time() - t0
        self.materialize_frontier()
        return {
            "rounds": rounds,
            "fetched": total,
            "seconds_round_loop": round(t_loop, 3),
            "seconds_materialize": round(_time.time() - t0 - t_loop, 3),
        }
