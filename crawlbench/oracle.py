"""Independent crawl oracle.

Builds, from the synthetic web's ground truth alone, the cache row every
URL must end up with, then scores a finished lake against it. Nothing here
calls into ``netrunner_spark`` or Spark: the lake and the inputs are read
as plain parquet with pyarrow, URL keys come from :mod:`crawlbench.xxh64`,
and the fetch, robots and politeness rules are restated from the mock web's
documented semantics.

Expected rows:

* drain (a fixed frontier of every generated URL): every URL that robots
  allows, fetched exactly once, in round
  ``(rank by xxhash64(url) within host - 1) // budget * stride``.
* closure (seeds plus ``follow_links``): the seeds' closure under the
  generated ``links`` column through 2xx, robots-allowed pages. A link that
  points outside the store comes back as a miss: NULL status, retry budget
  spent. Rounds depend on crawl order, so only the per-(host, round) budget
  is checked.

A URL is accepted when it has exactly one cache row and every checked field
matches. ``share`` divides accepted URLs by expected URLs plus extra URLs,
so missing, duplicated, mis-scheduled and extra rows all lower it.
"""

from __future__ import annotations

import math
import os
import re
from collections import Counter, defaultdict
from dataclasses import dataclass, field

import pyarrow.dataset as ds

from crawlbench.xxh64 import url_hash

# tries per URL before a fetch counts as failed, and the statuses that are
# never retried (the reference crawler's fetch loop)
RETRY_BUDGET = 3
TERMINAL_STATUSES = (403, 404)

CACHE_COLUMNS = [
    "url", "host", "depth", "status", "headers", "content", "attempts", "source",
    "fetched_round",
]


def _ok(status) -> bool:
    return status is not None and 200 <= status <= 299


def _headers(value) -> tuple | None:
    if value is None:
        return None
    return tuple((h["name"], h["value"]) for h in value)


@dataclass(frozen=True)
class Politeness:
    rps: float
    round_seconds: float

    def default_budget(self) -> int:
        return max(1, int(self.round_seconds * self.rps))

    def budget_stride(self, crawl_delay: float | None) -> tuple[int, int]:
        """Slots per scheduled round and the round spacing for a host
        whose robots rows declare ``crawl_delay`` (None: no delay)."""
        eff = max(crawl_delay or 0.0, 1.0 / self.rps)
        return (
            max(1, math.floor(self.round_seconds / eff)),
            max(1, math.ceil(eff / self.round_seconds)),
        )


class Robots:
    """Robots rules per host: longest matching pattern wins, allow wins
    ties, no matching rule allows. Patterns support ``*`` and a trailing
    ``$`` anchor."""

    def __init__(self, rows: list[dict], politeness: Politeness):
        self._rules: dict[str, list[tuple[int, bool, re.Pattern]]] = defaultdict(list)
        delays: dict[str, float | None] = {}
        for r in rows:
            host = r["host"]
            pat = r["path_pattern"]
            rx = re.escape(pat[:-1] if pat.endswith("$") else pat).replace(r"\*", ".*")
            rx = "^" + rx + ("$" if pat.endswith("$") else "")
            self._rules[host].append((len(pat), r["directive"] == "allow", re.compile(rx)))
            d = r["crawl_delay"]
            if d is not None and not (isinstance(d, float) and math.isnan(d)):
                delays[host] = max(delays.get(host) or 0.0, float(d))
            else:
                delays.setdefault(host, None)
        self._pol = politeness
        self._budgets = {h: politeness.budget_stride(d) for h, d in delays.items()}

    def allowed(self, host: str, url: str) -> bool:
        path = re.sub(r"^[a-z]+://[^/]+", "", url) or "/"
        best = None
        for spec, is_allow, rx in self._rules.get(host, ()):
            if rx.match(path) and (best is None or (spec, is_allow) > best):
                best = (spec, is_allow)
        return best is None or best[1]

    def budget_stride(self, host: str) -> tuple[int, int]:
        return self._budgets.get(host, (self._pol.default_budget(), 1))


@dataclass
class Expected:
    """One expected cache row per URL; ``round`` is None where the
    schedule depends on crawl order."""

    rows: dict[str, dict]
    robots: Robots


def expected_fetch(page: dict | None) -> dict:
    """Cache fields for one fetch of ``page`` (None: not in the store)."""
    if page is None:
        return {"status": None, "attempts": RETRY_BUDGET, "content": None,
                "headers": None, "source": "origin"}
    origin, ia = page["status"], page["ia_status"]
    if _ok(origin):
        status, attempts, source = origin, 2 if page["flaky_once"] else 1, "origin"
    elif _ok(ia):
        status, source = ia, "archive"
        attempts = 2 if origin in TERMINAL_STATUSES else RETRY_BUDGET + 1
    else:
        status = origin if origin is not None else ia
        attempts = 1 if status in TERMINAL_STATUSES else RETRY_BUDGET
        source = "origin"
    return {
        "status": status,
        "attempts": attempts,
        "content": page["content"] if _ok(status) else "",
        "headers": _headers(page["headers"]),
        "source": source,
    }


def load_store(web_path: str) -> dict[str, dict]:
    cols = ["url", "host", "status", "ia_status", "headers", "content", "links",
            "image_id", "flaky_once"]
    rows = ds.dataset(web_path, format="parquet").to_table(columns=cols).to_pylist()
    return {r["url"]: r for r in rows}


def load_phash(images_path: str) -> dict[str, int]:
    t = ds.dataset(images_path, format="parquet").to_table(columns=["image_id", "phash"])
    return dict(zip(t.column("image_id").to_pylist(), t.column("phash").to_pylist()))


def expect_drain(store: dict[str, dict], robots: Robots,
                 phash: dict[str, int] | None) -> Expected:
    by_host: dict[str, list[tuple[int, str]]] = defaultdict(list)
    for url, page in store.items():
        if robots.allowed(page["host"], url):
            by_host[page["host"]].append((url_hash(url), url))
    rows = {}
    for host, keyed in by_host.items():
        budget, stride = robots.budget_stride(host)
        for rank, (_, url) in enumerate(sorted(keyed), start=1):
            row = expected_fetch(store[url])
            row["host"] = host
            row["round"] = (rank - 1) // budget * stride
            if phash is not None:
                row["image_phash"] = phash[store[url]["image_id"]]
            rows[url] = row
    return Expected(rows, robots)


def host_of(url: str) -> str:
    return re.sub(r"^[a-z]+://", "", url).split("/", 1)[0]


def expect_closure(store: dict[str, dict], robots: Robots, seeds: list[str],
                   max_depth: int) -> Expected:
    depth = {u: 0 for u in seeds if robots.allowed(host_of(u), u)}
    level = list(depth)
    while level:
        nxt = []
        for url in level:
            page = store.get(url)
            if page is None or depth[url] >= max_depth:
                continue
            if not _ok(expected_fetch(page)["status"]):
                continue
            for link in page["links"]:
                if link not in depth and robots.allowed(host_of(link), link):
                    depth[link] = depth[url] + 1
                    nxt.append(link)
        level = nxt
    if max(depth.values(), default=0) >= max_depth:
        raise ValueError("max_depth must exceed the closure depth")
    rows = {}
    for url in depth:
        row = expected_fetch(store.get(url))
        row["host"] = host_of(url)
        row["round"] = None
        rows[url] = row
    return Expected(rows, robots)


def read_cache(lake: str, with_images: bool) -> list[dict]:
    cols = CACHE_COLUMNS + (["image_ok", "image_phash"] if with_images else [])
    cache = ds.dataset(os.path.join(lake, "cache", "data"), format="parquet",
                       partitioning="hive")
    return cache.to_table(columns=cols).to_pylist()


@dataclass
class Score:
    expected: int
    accepted: int
    extra: int
    failures: Counter = field(default_factory=Counter)

    @property
    def share(self) -> float:
        denom = self.expected + self.extra
        return self.accepted / denom if denom else 0.0

    @property
    def failed(self) -> int:
        return self.expected - self.accepted + self.extra


def _mismatch(exp: dict, got: dict) -> str | None:
    for key in ("status", "attempts", "content", "source", "host"):
        if got[key] != exp[key]:
            return key
    if _headers(got["headers"]) != exp["headers"]:
        return "headers"
    if exp["round"] is not None and got["fetched_round"] != exp["round"]:
        return "round"
    if "image_phash" in exp and not (
        got["image_ok"] is True and got["image_phash"] == exp["image_phash"]
    ):
        return "image"
    return None


def score(expected: Expected, cache: list[dict]) -> Score:
    by_url: dict[str, list[dict]] = defaultdict(list)
    per_slot: Counter = Counter()
    for row in cache:
        by_url[row["url"]].append(row)
        per_slot[(row["host"], row["fetched_round"])] += 1
    over = {
        slot for slot, n in per_slot.items()
        if n > expected.robots.budget_stride(slot[0])[0]
    }
    failures: Counter = Counter()
    accepted = 0
    for url, exp in expected.rows.items():
        got = by_url.get(url, [])
        if len(got) != 1:
            failures["missing" if not got else "duplicated"] += 1
            continue
        reason = _mismatch(exp, got[0])
        if reason is None and (got[0]["host"], got[0]["fetched_round"]) in over:
            reason = "over_budget"
        if reason is None:
            accepted += 1
        else:
            failures[reason] += 1
    extra = sum(1 for url in by_url if url not in expected.rows)
    if extra:
        failures["extra"] += extra
    return Score(len(expected.rows), accepted, extra, failures)


def links_offered(store: dict[str, dict], cache: list[dict], max_depth: int) -> int:
    """Links the crawl's expansion parsed out of its 2xx pages, from the
    ground-truth ``links`` column."""
    return sum(
        len(store[r["url"]]["links"])
        for r in cache
        if _ok(r["status"]) and r["url"] in store
        and r["depth"] < max_depth
    )
