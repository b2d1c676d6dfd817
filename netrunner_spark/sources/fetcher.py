"""Page fetch stage (S8/S9) with retry/backoff semantics (F10/F11/W5).

Two implementations behind one contract
``fetch(frontier) -> DataFrame[url, url_hash, host, depth, status,
headers, content, image_id, attempts, source]``:

* ``MockFetcher`` — deterministic, network-free: a fetch against the
  synthetic page store IS a key lookup, so it's expressed as an
  equi-join on url_hash. ``prepare_colocated_fetcher`` lays the store
  (and the image payloads) out bucketed on url_hash with the round
  batches' bucket count, so the join is exchange-free either way it
  runs: the batch broadcast over the bucketed store scan (small
  rounds), or a co-located merge join (at 10^10 frontier rows a round
  is millions of URLs — too big to broadcast). Retry semantics become
  column logic:
    - flaky_once pages cost one extra attempt then succeed (expo
      backoff budget: 3 tries, crawler.rs:73-75)
    - 403/404 are terminal, never retried (crawler.rs:48-59)
    - 5xx consume all 3 attempts and stay failed
    - missing URL = connection failure → 3 attempts, status NULL
* ``HttpFetcher`` — real HTTP via urllib inside ``mapInPandas``
  (per-partition connection reuse, 1 s connect / 10 s total timeout,
  UA ``netrunner_spark/<version>`` — envelope per crawler.rs:37-43).
  Optional: not exercised in the sandbox (no network), import-gated.

Dual-source policy (S9): origin first, the archive (``ia_status``)
when the origin fails — the mock store carries both variants;
``source`` records which side served the page.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from netrunner_spark.tables import N_BUCKETS

RETRY_BUDGET = 3  # crawler.rs:73-75
NO_RETRY_STATUSES = (403, 404)  # crawler.rs:48-59


class MockFetcher:
    def __init__(
        self,
        web: DataFrame,
        images_by_url: DataFrame | None = None,
    ):
        """``web``: synthetic page store (synth.gen_web schema), read
        back as a Spark bucketed table on ``url_hash`` with the round
        batches' bucket count — build it with ``prepare_colocated_fetcher``
        (on a cluster: Iceberg ``bucket(N, url_hash)`` + storage-
        partitioned joins).

        ``images_by_url``: image payloads (url_hash, bytes, w, h, phash),
        bucketed the same way — image decode+validate then happens
        INLINE in the fetch stage, and every hit row carries
        (image_ok, image_phash)."""
        if "url_hash" not in web.columns:
            web = web.withColumn("url_hash", F.xxhash64("url"))
        self.web = web
        self.images_by_url = images_by_url

    @staticmethod
    def _side(df: DataFrame, prefer_broadcast: bool) -> DataFrame:
        """Join hint for the batch side; both shapes are exchange-free
        over the bucketed store. A small batch broadcasts over the
        bucketed scan, which skips the merge-sort startup that dominates
        a round of thousands of rows; a big one merge-joins co-located
        with no driver-built broadcast relation."""
        return F.broadcast(df) if prefer_broadcast else df.hint("merge")

    def fetch(self, batch: DataFrame, prefer_broadcast: bool = True) -> DataFrame:
        """batch: frontier rows selected for this round (the round loop
        reads them from the bucketed ``schedule``).

        ``prefer_broadcast``: the round loop passes True while the
        batch's on-disk size is small, False above it (a multi-million-
        row broadcast with URL strings would kill the driver).

        Spark cannot broadcast the PRESERVED side of an outer join, so a
        naive ``batch LEFT JOIN store`` could never broadcast the batch.
        Instead: INNER join for hits + LEFT-ANTI for misses (connection
        failures), union. Broadcast: both joins broadcast
        the batch and stream the store once. Merge: both sort-merge
        bucket by bucket against the store. Neither shuffles."""
        has_ia = "ia_status" in self.web.columns
        pages = self.web.select(
            "url_hash",
            F.col("status").alias("_status"),
            F.col("headers").alias("_headers"),
            F.col("content").alias("_content"),
            F.col("image_id").alias("_image_id"),
            "flaky_once",
            (F.col("ia_status") if has_ia else F.lit(None).cast("int")).alias(
                "_ia_status"
            ),
        )
        batch_cols = list(batch.columns)
        # dual-source policy (S9, crawler.rs:62-108): origin first; on
        # failure fall back to the archive — column logic, one pass
        origin, archive = F.col("_status"), F.col("_ia_status")
        origin_ok = origin.between(200, 299)
        archive_ok = archive.between(200, 299)
        eff_status = (
            F.when(origin_ok, origin)
            .when(archive_ok, archive)
            .otherwise(F.coalesce(origin, archive))
        )
        bset = self._side(batch, prefer_broadcast)
        hits = pages.join(bset, "url_hash").select(
            *batch_cols,
            eff_status.alias("status"),
            F.col("_headers").alias("headers"),
            F.when(eff_status.between(200, 299), F.col("_content"))
            .otherwise(F.lit(""))
            .alias("content"),
            F.col("_image_id").alias("image_id"),
            F.when(origin_ok & F.col("flaky_once"), F.lit(2))  # 429→retry (F11)
            .when(origin_ok, F.lit(1))
            .when(archive_ok & origin.isin(*NO_RETRY_STATUSES), F.lit(2))
            .when(archive_ok, F.lit(RETRY_BUDGET + 1))
            .when(eff_status.isin(*NO_RETRY_STATUSES), F.lit(1))
            .otherwise(F.lit(RETRY_BUDGET))
            .alias("attempts"),
            F.when(origin_ok, F.lit("origin"))
            .when(archive_ok, F.lit("archive"))
            .otherwise(F.lit("origin"))
            .alias("source"),
        )
        # keys present in the store: column-pruned scan (url_hash only).
        # Broadcast: × broadcast batch keys — a small result, safe to
        # broadcast into the anti join. Merge: the whole chain stays
        # bucket-aligned instead.
        if prefer_broadcast:
            present = F.broadcast(
                pages.select("url_hash").join(
                    F.broadcast(batch.select("url_hash")), "url_hash"
                )
            )
        else:
            present = pages.select("url_hash").hint("merge")
        misses = batch.join(present, "url_hash", "left_anti").select(
            *batch_cols,
            F.lit(None).cast("int").alias("status"),  # connection failure
            F.lit(None).cast(
                "array<struct<name:string,value:string>>"
            ).alias("headers"),
            F.lit(None).cast("string").alias("content"),
            F.lit(None).cast("string").alias("image_id"),
            F.lit(RETRY_BUDGET).alias("attempts"),  # all retries consumed (W5)
            F.lit("origin").alias("source"),
        )
        if self.images_by_url is not None:
            hits = self._attach_images_inline(
                hits,
                batch_keys=batch.select("url_hash") if prefer_broadcast else None,
            )
            misses = misses.withColumn(
                "image_ok", F.lit(None).cast("boolean")
            ).withColumn("image_phash", F.lit(None).cast("long"))
        return hits.unionByName(misses)

    def _attach_images_inline(
        self, hits: DataFrame, batch_keys: DataFrame | None = None
    ) -> DataFrame:
        """Image decode+validate fused into the fetch stage: a co-located
        left join against the pre-bucketed (url_hash → image payload)
        table, then the Arrow-batched decode UDF — zero exchanges, zero
        broadcast builds. A page whose image is missing from the payload
        table gets ``image_ok = false``, never null.

        ``batch_keys`` (small rounds): compute slim per-url_hash
        verdicts by broadcasting the batch's keys into the image table,
        then broadcast the verdicts back into ``hits`` — no sort of the
        content-heavy side, no store-wide merge-sort startup. Same
        semantics; the payload rows decoded are identical (the batch's
        matches)."""
        from netrunner_spark.images import decode_check_udf

        if batch_keys is not None:
            matched = self.images_by_url.join(F.broadcast(batch_keys), "url_hash")
            chk = decode_check_udf(F.col("bytes"))
            verdicts = matched.select(
                "url_hash",
                chk.alias("chk"),
                F.col("w").alias("_iw"),
                F.col("h").alias("_ih"),
                F.col("phash").alias("_iphash"),
            ).select(
                "url_hash",
                (
                    F.col("chk.decode_ok")
                    & (F.col("chk.w_actual") == F.col("_iw"))
                    & (F.col("chk.h_actual") == F.col("_ih"))
                    & (F.col("chk.phash_actual") == F.col("_iphash"))
                ).alias("_img_ok"),
                F.col("chk.phash_actual").alias("_img_phash"),
            )
            joined = hits.join(F.broadcast(verdicts), "url_hash", "left")
            return joined.select(
                *hits.columns,
                F.when(
                    F.col("image_id").isNotNull(),
                    F.coalesce(F.col("_img_ok"), F.lit(False)),
                ).alias("image_ok"),
                F.col("_img_phash").alias("image_phash"),
            )

        ibu = self.images_by_url.select(
            "url_hash",
            F.col("bytes").alias("_ibytes"),
            F.col("w").alias("_iw"),
            F.col("h").alias("_ih"),
            F.col("phash").alias("_iphash"),
        )
        joined = hits.join(ibu.hint("merge"), "url_hash", "left")
        chk = F.when(
            F.col("_ibytes").isNotNull(), decode_check_udf(F.col("_ibytes"))
        )
        joined = joined.withColumn("chk", chk)
        return joined.select(
            *hits.columns,
            F.when(
                F.col("image_id").isNotNull(),
                F.coalesce(
                    F.col("chk.decode_ok")
                    & (F.col("chk.w_actual") == F.col("_iw"))
                    & (F.col("chk.h_actual") == F.col("_ih"))
                    & (F.col("chk.phash_actual") == F.col("_iphash")),
                    F.lit(False),
                ),
            ).alias("image_ok"),
            F.col("chk.phash_actual").alias("image_phash"),
        )


def prepare_colocated_fetcher(
    cat,
    web: DataFrame,
    images: DataFrame | None = None,
    n_buckets: int = N_BUCKETS,
) -> MockFetcher:
    """One-time layout job (drain init, amortized over every round):
    write the page store — and, when given, the image payloads keyed by
    their owning page's url_hash — as Spark bucketed tables on
    ``url_hash`` with a shared bucket count. Every subsequent round's
    fetch join (and inline image validation) is then exchange-free with
    no per-round driver-serial broadcast build. Cluster translation:
    Iceberg ``bucket(N, url_hash)`` on cache + store, storage-partitioned
    joins."""
    if "url_hash" not in web.columns:
        web = web.withColumn("url_hash", F.xxhash64("url"))

    def _fingerprint(df: DataFrame, key_expr: str) -> dict:
        # one column-pruned single-row aggregate: count + order-free
        # XOR of the key hashes — cheap, and collision-safe enough to
        # tell "same corpus" from "stale template" (ADVICE r4)
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr(f"bit_xor(xxhash64({key_expr}))"), F.lit(0)).alias("h"),
        ).collect()[0]
        return {"rows": int(row["n"]), "xor_key_hash": int(row["h"])}

    web_prov = _fingerprint(web, "url")

    def _have(table: str, prov: dict) -> bool:
        # reuse an existing layout (resume, or a lake pre-seeded from a
        # bucketed-store template) instead of re-running the one-time
        # layout shuffle — valid only if key + bucket count match AND
        # the persisted provenance matches the incoming source (a stale
        # or mismatched pre-seed must rebuild, not silently serve the
        # wrong corpus)
        m = cat.table_meta(table)
        return (
            m is not None
            and m.get("key") == "url_hash"
            and int(m.get("n_buckets", -1)) == n_buckets
            and m.get("provenance") == prov
        )

    if not _have("web_store", web_prov):
        cat.write_table_bucketed(
            web, "web_store", key="url_hash", n_buckets=n_buckets,
            provenance=web_prov,
        )
    ibu = None
    if images is not None:
        img_prov = {
            "web": web_prov, **_fingerprint(images, "image_id")
        }
        if not _have("images_by_url", img_prov):
            refs = web.select("url_hash", "image_id").filter(
                F.col("image_id").isNotNull()
            )
            pairs = images.join(refs, "image_id").select(
                "url_hash", "bytes", "w", "h", "phash"
            )
            cat.write_table_bucketed(
                pairs, "images_by_url", key="url_hash", n_buckets=n_buckets,
                provenance=img_prov,
            )
        ibu = cat.read_table("images_by_url")
    return MockFetcher(cat.read_table("web_store"), images_by_url=ibu)


def _decode_body(body: bytes, headers: list[dict]) -> str:
    """Bytes → text with the PINNED charset policy (VERDICT r4 #8):
    honor an explicit ``charset=`` in the Content-Type response header,
    then fall back to UTF-8; decoding is always LOSSY-REPLACEMENT,
    never a row drop — parity with the reference's fetch path, which
    uses reqwest ``resp.text()`` (charset-aware, U+FFFD substitution;
    archive.rs:74). The strict-drop convention applies only on WARC
    archive READ (archive.rs:137, see ``warc.parse_warc_bytes``)."""
    import re as _re

    charset = None
    for h in headers:
        if (h.get("name") or "").lower() == "content-type":
            m = _re.search(
                r"charset=[\"']?([A-Za-z0-9_.:-]+)", h.get("value") or "", _re.I
            )
            if m:
                charset = m.group(1)
    if charset:
        try:
            return body.decode(charset, errors="replace")
        except LookupError:
            pass  # unknown label → UTF-8 fallback, same as reqwest
    return body.decode("utf-8", errors="replace")


class HttpFetcher:
    """Real-HTTP fetch via mapInPandas; envelope mirrors crawler.rs:37-43
    (UA, timeouts, retry budget) + the keyed token bucket of
    crawler.rs:21,80-88 enforced INSIDE the partition.

    Scale/politeness design:
      * the batch is repartitioned by host, so each host's URLs land in
        exactly one partition — the per-host rate limit is then a local
        token check (no cross-task coordination needed);
      * one kept-alive ``http.client`` connection per (scheme, netloc),
        reused across the partition's requests, dropped on error;
      * F11: 429/503 honor a numeric ``Retry-After`` header (capped at
        MAX_RETRY_AFTER), other retryables back off exponentially;
        403/404 are terminal (crawler.rs:48-59), budget 3 attempts.

    Not exercised against the live network in the sandbox; the retry /
    Retry-After / reuse logic is unit-tested against a loopback server.
    """

    CONNECT_TIMEOUT = 1.0
    TOTAL_TIMEOUT = 10.0
    USER_AGENT = "netrunner_spark/0.1.0"
    MAX_RETRY_AFTER = 30.0
    MAX_REDIRECTS = 10  # reqwest's default policy (crawler.rs http_client)

    def __init__(
        self,
        rps: float = 2.0,
        pool_size: int = 8,
        content_binary: bool = False,
        salt: int = 1,
    ):
        """``pool_size``: concurrent in-flight requests per partition.
        Politeness only constrains per-host spacing — different hosts in
        the same partition fetch concurrently, so a task is no longer
        capped at 1/latency req/s regardless of host mix.

        ``content_binary``: return the body as a BinaryType column
        instead of utf-8 text — required for gz sitemaps (X10) and any
        non-text payload (a lossy decode would corrupt the gzip bytes
        before ``xmlparse._clean`` can gunzip them).

        ``salt``: sub-partitions per host (r3 verdict item 9). Default 1
        = one task per host, strict 1/rps spacing. With a high-``rps``
        config a single-host crawl serializes into one task + one
        thread pool; ``salt=K`` spreads each host over K tasks on
        ``pmod(xxhash64(url), K)`` and paces EACH task at ``rps/K`` —
        the politeness contract becomes an aggregate per-host rate cap
        (the reference's governor token bucket is also rate-based, not
        spacing-based, crawler.rs:21) while K pools fetch in parallel."""
        self.rps = rps
        self.pool_size = pool_size
        self.content_binary = content_binary
        if salt < 1:
            raise ValueError("salt must be >= 1")
        self.salt = salt

    def fetch(self, batch: DataFrame, prefer_broadcast: bool = True) -> DataFrame:
        import pandas as pd
        from pyspark.sql import types as T

        del prefer_broadcast  # join-strategy hint; meaningless for real HTTP

        schema = T.StructType(
            list(batch.schema.fields)
            + [
                T.StructField("status", T.IntegerType()),
                T.StructField(
                    "headers",
                    T.ArrayType(
                        T.StructType(
                            [
                                T.StructField("name", T.StringType()),
                                T.StructField("value", T.StringType()),
                            ]
                        )
                    ),
                ),
                T.StructField(
                    "content",
                    T.BinaryType() if self.content_binary else T.StringType(),
                ),
                T.StructField("image_id", T.StringType()),
                T.StructField("attempts", T.IntegerType()),
                T.StructField("source", T.StringType()),
            ]
        )
        binary = self.content_binary
        ua = self.USER_AGENT
        total_timeout = self.TOTAL_TIMEOUT
        connect_timeout = self.CONNECT_TIMEOUT
        max_retry_after = self.MAX_RETRY_AFTER
        # salted: K tasks per host, each paced at rps/K → aggregate ≤ rps
        min_interval = self.salt / self.rps if self.rps > 0 else 0.0

        max_redirects = self.MAX_REDIRECTS
        pool_size = self.pool_size

        def run(batches):
            import http.client
            import threading
            import time
            from concurrent.futures import ThreadPoolExecutor
            from urllib.parse import quote as urlquote
            from urllib.parse import urljoin, urlsplit

            # per-host slot reservation shared across the pool: each
            # request RESERVES the next legal hit time under a lock, then
            # sleeps until its slot — per-host spacing holds no matter
            # how many threads are in flight (W1, crawler.rs:21,80-88)
            last_slot: dict = {}
            slot_lock = threading.Lock()
            # http.client connections are not thread-safe → per-thread
            # keep-alive caches
            tls = threading.local()

            def reserve_slot(host: str) -> None:
                with slot_lock:
                    now = time.monotonic()
                    slot = max(now, last_slot.get(host, now - min_interval) + min_interval)
                    last_slot[host] = slot
                wait = slot - time.monotonic()
                if wait > 0:
                    time.sleep(wait)

            def get_conn(scheme: str, netloc: str):
                conns = getattr(tls, "conns", None)
                if conns is None:
                    conns = tls.conns = {}
                key = (scheme, netloc)
                if key not in conns:
                    cls = (
                        http.client.HTTPSConnection
                        if scheme == "https"
                        else http.client.HTTPConnection
                    )
                    # connect under the short CONNECT_TIMEOUT (r5
                    # review: it was defined but never used — dead
                    # hosts burned the full 10 s per attempt); the
                    # request path widens the socket timeout to
                    # TOTAL_TIMEOUT once connected
                    conns[key] = cls(netloc, timeout=connect_timeout)
                return conns[key]

            def drop_conn(scheme: str, netloc: str) -> None:
                conns = getattr(tls, "conns", None)
                if conns:
                    c = conns.pop((scheme, netloc), None)
                    if c is not None:
                        try:
                            c.close()
                        except Exception:
                            pass

            def fetch_one(url: str):
                status, headers, content, attempts = None, [], None, 0
                for attempt in range(RETRY_BUDGET):
                    attempts = attempt + 1
                    cur, hops = url, 0
                    while True:  # redirect-hop loop (reqwest follows ≤10)
                        # reset per NETWORK OPERATION, not per attempt:
                        # a connection error — including on hop ≥2 of
                        # the FINAL attempt — must report status NULL
                        # (connection failure), never a stale HTTP
                        # status from an earlier hop/attempt (W5
                        # distinguishes the two)
                        status, headers = None, []
                        try:
                            parts = urlsplit(cur)
                        except ValueError:
                            return None, [], None, attempts
                        host = (parts.hostname or parts.netloc or "").lower()
                        reserve_slot(host)
                        try:
                            conn = get_conn(parts.scheme, parts.netloc)
                            if conn.sock is None:
                                conn.connect()  # CONNECT_TIMEOUT bound
                            if conn.sock is not None:
                                conn.sock.settimeout(total_timeout)
                            path = parts.path or "/"
                            if parts.query:
                                path += "?" + parts.query
                            # percent-encode non-ASCII (IRI paths are
                            # common in sitemaps; http.client encodes
                            # the request line as ASCII and would raise
                            # before any I/O — the reference's reqwest
                            # encodes these transparently). safe set
                            # keeps already-encoded URLs unchanged.
                            path = urlquote(
                                path, safe="%/:=&?~#+!$,;'@()*[]"
                            )
                            conn.request(
                                "GET",
                                path,
                                headers={"User-Agent": ua, "Connection": "keep-alive"},
                            )
                            r = conn.getresponse()
                            status = r.status
                            headers = [
                                {"name": k, "value": v} for k, v in r.getheaders()
                            ]
                            # chunked read under a TOTAL deadline: the
                            # per-op socket timeout alone lets a slow-
                            # drip host (1 byte / 9 s) hold a politeness
                            # slot and pool thread indefinitely
                            _deadline = time.monotonic() + total_timeout
                            _chunks = []
                            while True:
                                if time.monotonic() > _deadline:
                                    raise TimeoutError(
                                        "total fetch deadline exceeded"
                                    )
                                _c = r.read(65536)
                                if not _c:
                                    break
                                _chunks.append(_c)
                            body = b"".join(_chunks)
                        except Exception:
                            # the op FAILED: discard any status/headers
                            # assigned mid-op (r.status lands before the
                            # body read — a deadline trip on the final
                            # attempt otherwise returned a stale 2xx
                            # with NULL content, recording a transient
                            # network failure as a successful empty
                            # page, r5 review)
                            status, headers = None, []
                            drop_conn(parts.scheme, parts.netloc)
                            time.sleep(min(0.1 * (2**attempt), 5.0))
                            break  # consume a retry attempt
                        if 300 <= status < 400:
                            loc = r.getheader("Location")
                            if loc and hops < max_redirects:
                                # re-resolve the connection key per hop;
                                # relative Location resolves against cur
                                cur = urljoin(cur, loc)
                                hops += 1
                                continue
                            # 3xx without Location / hop cap: terminal —
                            # retrying cannot help (ADVICE r2 fix)
                            return status, headers, None, attempts
                        if 200 <= status < 300:
                            return (
                                status,
                                headers,
                                bytes(body)
                                if binary
                                else _decode_body(body, headers),
                                attempts,
                            )
                        if status in NO_RETRY_STATUSES:
                            return status, headers, None, attempts
                        ra = r.getheader("Retry-After")
                        if status in (429, 503) and ra and ra.strip().isdigit():
                            time.sleep(min(float(ra.strip()), max_retry_after))
                        else:
                            time.sleep(min(0.1 * (2**attempt), 5.0))
                        break  # consume a retry attempt
                return status, headers, content, attempts

            for pdf in batches:
                urls = list(pdf["url"])
                n_workers = max(1, min(pool_size, len(urls) or 1))
                with ThreadPoolExecutor(max_workers=n_workers) as ex:
                    results = list(ex.map(fetch_one, urls))
                out = pdf.copy()
                # nullable Int32 — a plain int/None mix infers float64
                out["status"] = pd.array(
                    [r[0] for r in results], dtype="Int32"
                )
                out["headers"] = [r[1] for r in results]
                out["content"] = [r[2] for r in results]
                out["image_id"] = None
                out["attempts"] = pd.array(
                    [r[3] for r in results], dtype="Int32"
                )
                out["source"] = "origin"
                yield out

        # host-partitioned so the token bucket is local to one task;
        # salted mode splits a host over `salt` tasks, each already
        # paced at rps/salt via min_interval above. The salted
        # repartition pins an EXPLICIT partition count (the session's
        # shuffle width): an expression-only repartition lets AQE
        # coalesce the tiny shuffle back into one task, silently
        # un-salting the host
        if self.salt > 1:
            n = int(
                batch.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
            salt_col = (
                F.col("url_hash")
                if "url_hash" in batch.columns
                else F.xxhash64(F.col("url"))
            )
            part = batch.repartition(
                max(n, self.salt),
                F.col("host"),
                F.pmod(salt_col, F.lit(self.salt)),
            )
        else:
            part = batch.repartition(F.col("host"))
        return part.mapInPandas(run, schema)
