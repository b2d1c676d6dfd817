"""RFC-3986 URL normalization + lens sanitize rules.

Reference semantics (cited for parity, not copied):
  - fragment strip + SanitizeUrls query removal: bootstrap.rs:131-164,393-397 (F4)
  - invalid-URL silent drop: bootstrap.rs:150-163 (F5)
  - href resolution incl. scheme-relative + http→https upgrade:
    parser/html/mod.rs:14-41 with goldens at :252-279 (X1)

Our engine's frontier key is ``xxhash64(rfc3986_normalize(url))`` per
BASELINE.json input_hint. Normalization beyond the reference (documented
extensions): lowercase scheme+host, drop default ports, resolve
dot-segments, '' path → '/', uppercase percent-escapes + decode
unreserved octets.

All of this runs batch-wise inside pandas UDFs (never per-row Python in
the Spark plan); xxhash64 itself is Spark's JVM-side builtin
``F.xxhash64`` so hashing stays in whole-stage codegen.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

_DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21"}
_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_PCT_RE = re.compile(r"%([0-9a-fA-F]{2})")
_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*$")


def _norm_pct(s: str) -> str:
    """Uppercase percent-escapes; decode unreserved octets (RFC 3986 §6.2.2)."""

    def sub(m: re.Match) -> str:
        ch = chr(int(m.group(1), 16))
        return ch if ch in _UNRESERVED else "%" + m.group(1).upper()

    return _PCT_RE.sub(sub, s)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4."""
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if len(out) > 1:
                out.pop()
            continue
        out.append(seg)
    # preserve trailing slash semantics of '.'/'..' final segments
    if path.endswith(("/.", "/..")) and out and out[-1] != "":
        out.append("")
    return "/".join(out)


def rfc3986_normalize(url: str | None, strip_fragment: bool = True) -> str | None:
    """Normalize one URL; None if unparsable (F5: silent drop)."""
    if url is None:
        return None
    url = url.strip()
    if not url:
        return None
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if not scheme or not _SCHEME_RE.match(scheme):
        return None
    if scheme in ("http", "https", "ftp") and not parts.netloc:
        return None
    try:
        # urlsplit defers host/port validation to attribute access: a
        # malformed port ('http://h:80x/', port > 65535) or bad IPv6
        # bracket raises ValueError HERE, not at urlsplit() — such URLs
        # are silently dropped per F5 (bootstrap.rs:150-163).
        host = (parts.hostname or "").lower()
        port = parts.port
    except ValueError:
        return None
    if any(c in host for c in " \t\n"):
        return None
    # parts.hostname strips IPv6 brackets — re-wrap, or the rebuilt
    # URL is unparsable ('http://2001:db8::1:8080/' — r5 review) and
    # every downstream key/politeness group for the host breaks
    netloc = f"[{host}]" if ":" in host else host
    if parts.username:
        cred = parts.username + (f":{parts.password}" if parts.password else "")
        netloc = f"{cred}@{netloc}"
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{netloc}:{port}"
    path = _norm_pct(parts.path)
    if scheme in ("http", "https", "ftp"):
        path = _remove_dot_segments(path) or "/"
    query = _norm_pct(parts.query)
    fragment = "" if strip_fragment else parts.fragment
    return urlunsplit((scheme, netloc, path, query, fragment))


def normalize_href(base_url: str, href: str) -> str | None:
    """Resolve an in-page href exactly like the reference (X1):

    scheme-relative ``//host`` → https; absolute http → https upgrade;
    everything else joined against the page URL. None if unparsable.
    Goldens ported verbatim in tests/test_urlnorm.py from
    parser/html/mod.rs:252-279.
    """
    if href is None or base_url is None:
        return None
    href = href.strip()
    # scheme matching is case-insensitive (RFC 3986 §3.1; the
    # reference's Url::parse lowercases schemes) — a 'HTTP://' href
    # must take the same upgrade branch as 'http://' or the same
    # target splits into two frontier keys (r5 review)
    low = href.lower()
    if href.startswith("//"):
        return rfc3986_normalize("https:" + href, strip_fragment=False)
    if low.startswith(("http://", "https://")):
        n = rfc3986_normalize(href, strip_fragment=False)
        if n is not None and n.startswith("http://"):
            n = "https://" + n[len("http://") :]
        return n
    base = rfc3986_normalize(base_url, strip_fragment=False)
    if base is None:
        return None
    try:
        joined = urljoin(base, href)
    except ValueError:
        return None
    return rfc3986_normalize(joined, strip_fragment=False)


def sanitize_url(url: str, remove_query: bool) -> str:
    """SanitizeUrls rule application (bootstrap.rs:393-397): drop query."""
    if not remove_query:
        return url
    parts = urlsplit(url)
    return urlunsplit((parts.scheme, parts.netloc, parts.path, "", ""))


def host_of(url: str | None) -> str | None:
    if url is None:
        return None
    try:
        return (urlsplit(url).hostname or "").lower() or None
    except ValueError:
        return None


# ---------------------------------------------------------------- pandas UDFs

@pandas_udf(T.StringType())
def host_udf(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: host_of(u) if isinstance(u, str) else None)


NORM_HOST_TYPE = T.StructType(
    [T.StructField("url", T.StringType()), T.StructField("host", T.StringType())]
)


def _normalize_with_host(urls: pd.Series) -> pd.DataFrame:
    norm = urls.map(lambda u: rfc3986_normalize(u) if isinstance(u, str) else None)
    return pd.DataFrame(
        {"url": norm, "host": norm.map(lambda u: None if u is None else host_of(u))}
    )


# (normalized url, its host) in ONE Python pass. Marked nondeterministic
# for the optimizer's sake only: a deterministic UDF lets Catalyst push
# a filter on its output (``url IS NOT NULL``) below the projection that
# computes it, which evaluates the UDF a second time in the filter.
normalize_host_udf = pandas_udf(
    _normalize_with_host, NORM_HOST_TYPE
).asNondeterministic()


def wayback_url(url: str, date_yyyymmdd: str) -> str:
    """Internet-Archive snapshot URL (X7, cdx.rs:14-23). The reference
    stamps *today's* date; ours takes the date explicitly (deterministic
    plans — no wall clock inside jobs)."""
    return f"https://web.archive.org/web/{date_yyyymmdd}000000id_/{url}"


def url_hash_col(url_col: str | Column = "url") -> Column:
    """xxhash64 frontier key — JVM-side builtin, stays in codegen (X6).

    Documented divergence from the reference's SipHash-1-3 DefaultHasher
    (crawler.rs:144-146): same role (stable 64-bit URL key), different
    function, per input_hint.
    """
    col = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.xxhash64(col)


# Public-suffix SNAPSHOT (a small, documented subset of the Mozilla
# Public Suffix List — the full PSL is refreshable DATA a deployment
# ships alongside the job, not code; the operator takes the rule sets
# as parameters so a full list drops in unchanged). Two tiers: 2-label
# and 3-label suffix rules. Unknown TLDs fall to the PSL default rule
# "*" (last label is the suffix), so registrable = last two labels.
PSL_SNAPSHOT_2 = (
    "co.uk org.uk ac.uk gov.uk com.au net.au org.au co.jp ne.jp or.jp "
    "com.br com.cn com.mx co.in co.kr co.za github.io gitlab.io "
    "blogspot.com herokuapp.com"
).split()
PSL_SNAPSHOT_3 = ["s3.amazonaws.com"]


def registrable_domain_col(
    host_col: str | Column = "host",
    suffixes2: list[str] = PSL_SNAPSHOT_2,
    suffixes3: list[str] = PSL_SNAPSHOT_3,
) -> Column:
    """eTLD+1 (registrable domain) of a hostname as a pure JVM column
    expression — longest-matching public-suffix rule wins, PSL default
    rule for unknown TLDs (registrable = last two labels), whole host
    when the host IS a suffix or has one label.

    Why the crawler needs it: politeness, budgets, and mirror/spam
    rollups keyed on raw host treat ``a.blogspot.com`` and
    ``b.blogspot.com`` as one site and ``shop.co.uk`` subdomains as
    different sites — both wrong. eTLD+1 is the unit the reference's
    per-"domain" governor actually intends (crawler.rs:237 keys on the
    parsed host; at 10^10 scale host≠site skews every per-site cap).

    Shape: split + two bounded array slices + set membership on
    literal arrays — zero shuffle, zero UDF, whole-stage codegen.
    """
    h = F.col(host_col) if isinstance(host_col, str) else host_col
    labels = F.split(h, r"\.")
    n = F.size(labels)

    def last_k(k: int) -> Column:
        return F.array_join(F.slice(labels, -k, k), ".")

    return (
        F.when((n > 3) & last_k(3).isin(*suffixes3), last_k(4))
        .when((n > 2) & last_k(2).isin(*suffixes2), last_k(3))
        .when(n > 1, last_k(2))
        .otherwise(h)
    )


def registrable_domain_sql_expr(
    host_expr: str = "host",
    suffixes2: list[str] = PSL_SNAPSHOT_2,
    suffixes3: list[str] = PSL_SNAPSHOT_3,
) -> str:
    """DuckDB twin of :func:`registrable_domain_col` — identical rule
    order over DuckDB list slicing (``ls[n-k+1:n]``)."""
    ls = f"string_split({host_expr}, '.')"

    def last_k(k: int) -> str:
        return f"array_to_string({ls}[len({ls}) - {k - 1}:len({ls})], '.')"

    s3 = ", ".join(f"'{s}'" for s in suffixes3)
    s2 = ", ".join(f"'{s}'" for s in suffixes2)
    return (
        f"CASE WHEN len({ls}) > 3 AND {last_k(3)} IN ({s3}) THEN {last_k(4)} "
        f"WHEN len({ls}) > 2 AND {last_k(2)} IN ({s2}) THEN {last_k(3)} "
        f"WHEN len({ls}) > 1 THEN {last_k(2)} "
        f"ELSE {host_expr} END"
    )
