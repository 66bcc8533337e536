"""URL canonicalization, resolution and fuzzy equality.

Reproduces the observable behavior of the reference's URL identity layer:

- ``clean_url`` (reference ``python/sandcrawler/misc.py:14-19``): WHATWG
  canonicalization via the ``urlcanon`` lib, plus stripping a bare colon
  port (``http://host:/x`` → ``http://host/x``). The reference's notion of
  URL identity for dedup is the *exact canonical string* (Postgres PK on
  ``base_url``, ``sql/sandcrawler_schema.sql:156-171``).
- ``url_fuzzy_equal`` (``misc.py:22-36``): scheme-insensitive,
  ``www.``-stripping, trailing-slash-tolerant equality.

The canonicalizer here is a from-scratch implementation of the public
WHATWG-ish rules the reference depends on (lowercase scheme/host, default
port removal, bare-colon-port removal, dot-segment resolution, empty path
→ "/", percent-encoding case normalization). It is the single definition
of URL identity for the whole engine: the oracle, the Spark pipeline, and
the tests all call the same function, so "byte-identical URL-seen sets"
is a property of the code, not a coincidence.

Spark form: pandas UDFs (Arrow-vectorized). URL canonicalization is
string surgery Spark's builtin surface cannot express; everything
downstream of it (hashing, joins, windows) stays JVM-side. The 64-bit
join key is Spark's builtin ``xxhash64`` over the canonical string.
"""

from __future__ import annotations

import re
from urllib.parse import quote, unquote, urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21", "ws": "80", "wss": "443"}

_PCT_RE = re.compile(r"%[0-9a-fA-F]{2}")
# RFC 3986 unreserved characters — safe to decode from percent form.
_UNRESERVED = set("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~")


def _normalize_pct(s: str) -> str:
    """Uppercase percent-escapes; decode escapes of unreserved chars."""

    def repl(m: re.Match) -> str:
        ch = chr(int(m.group(0)[1:], 16))
        if ch in _UNRESERVED:
            return ch
        return m.group(0).upper()

    return _PCT_RE.sub(repl, s)


def _encode_component(s: str, safe: str) -> str:
    """Percent-encode chars outside ``safe``+unreserved while PRESERVING
    existing %XX escapes (unlike quote(unquote(...)), which would decode
    reserved escapes like %2F and change URL identity)."""
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch == "%" and i + 2 < n + 1 and _PCT_RE.match(s, i):
            out.append(s[i : i + 3])
            i += 3
            continue
        if ch in _UNRESERVED or ch in safe:
            out.append(ch)
        else:
            out.append(quote(ch, safe=""))
        i += 1
    return "".join(out)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 dot-segment removal."""
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if out:
                out.pop()
            continue
        out.append(seg)
    # preserve leading/trailing slash semantics
    norm = "/".join(out)
    if path.startswith("/") and not norm.startswith("/"):
        norm = "/" + norm
    if path.endswith(("/", "/.", "/..")) and not norm.endswith("/"):
        norm += "/"
    return norm


def canonical_url(raw: str | None) -> str | None:
    """WHATWG-style canonical form; the engine's URL identity.

    Mirrors reference ``clean_url`` (misc.py:14-19): strip whitespace,
    lowercase scheme+host, drop a trailing host dot, remove default and
    bare colon ports, resolve dot segments, empty path → '/', normalize
    percent-encoding, drop fragment (wayback identity ignores fragments).
    """
    if raw is None:
        return None
    s = raw.strip()
    if not s:
        return None
    if "://" not in s:
        s = "http://" + s
    try:
        parts = urlsplit(s)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    host = (parts.hostname or "").lower().rstrip(".")
    if not host:
        return None
    # IDN hosts → punycode (WHATWG host parser)
    try:
        host = host.encode("idna").decode("ascii") if any(ord(c) > 127 for c in host) else host
    except UnicodeError:
        pass
    port = parts.port
    netloc = host
    if port is not None and str(port) != DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{host}:{port}"
    if parts.username:
        cred = parts.username + (f":{parts.password}" if parts.password else "")
        netloc = f"{cred}@{netloc}"
    path = _remove_dot_segments(parts.path) or "/"
    path = _normalize_pct(_encode_component(path, safe="/:@!$&'()*+,;=~-._"))
    query = _normalize_pct(_encode_component(parts.query, safe="/:@!$&'()*+,;=~-._?="))
    return urlunsplit((scheme, netloc, path, query, ""))


def resolve_ref(base: str | None, ref: str | None) -> str | None:
    """Resolve a possibly-relative reference against its base URL, then
    canonicalize (C11). Mirrors the reference's urljoin of every redirect
    Location and extracted resource URL against the fetch URL
    (``python/sandcrawler/ia.py:894``,
    ``html_metadata.py:1062-1064``).

    Unlike seed intake, a scheme-less ref here is RELATIVE (RFC 3986):
    ``resolve_ref("http://a/x/", "p.pdf")`` → ``http://a/x/p.pdf``, and
    ``"www.b.org/y"`` is a relative path, not a host. The join is
    UNCONDITIONAL like the reference's (urljoin already returns an
    absolute ref unchanged) — a relative ref that merely *contains*
    ``://`` in its query (``page?next=http://x``) is still resolved
    against the base, not misread as absolute.
    """
    if ref is None:
        return None
    r = ref.strip()
    if not r:
        return None
    if base is None:
        return canonical_url(r)
    try:
        return canonical_url(urljoin(base, r))
    except ValueError:
        return None


def host_of(raw: str | None) -> str | None:
    """Registered host of a URL after canonicalization (politeness key)."""
    cu = canonical_url(raw)
    if cu is None:
        return None
    return urlsplit(cu).hostname


def url_fuzzy_equal(left: str, right: str) -> bool:
    """Scheme-insensitive / www-stripping / trailing-slash-tolerant
    equality (reference misc.py:22-36)."""

    def fuzz(u: str) -> str:
        cu = canonical_url(u) or ""
        return "://".join(cu.replace("www.", "").replace(":80/", "/").split("://")[1:])

    fl, fr = fuzz(left), fuzz(right)
    return fl == fr or fl == fr + "/" or fr == fl + "/"


# ---------------------------------------------------------------- Spark UDFs

# Conservative already-canonical detector for the vectorized fast path:
# lowercase scheme + dotted lowercase host (no port/userinfo/trailing dot),
# a path, no fragment/percent, no dot segments — and path/query drawn ONLY
# from the explicit whitelist of characters canonical_url PRESERVES
# (unreserved + the _encode_component safe sets). Characters outside the
# whitelist ([ ] " | < > { } \ ^ ` space, non-ASCII, ...) would be
# percent-encoded by canonical_url, so they MUST fall through to the slow
# path — a permissive negated class here once let `/x[y]` pass unchanged
# while the oracle produced `/x%5By%5D`, breaking URL-seen parity.
# Property-tested: match ⇒ canonical_url(u) == u (tests/test_functions.py).
_PATH_SAFE = r"A-Za-z0-9\-._~/:@!$&'()*+,;="
_CANONICAL_FAST_RE = (
    r"^(https?|ftp)://[a-z0-9]([a-z0-9-]*[a-z0-9])?"
    r"(\.[a-z0-9]([a-z0-9-]*[a-z0-9])?)+"
    rf"/[{_PATH_SAFE}]*(\?[{_PATH_SAFE}?]*)?$"
)


def _canonicalize_series(urls: pd.Series) -> pd.Series:
    mask = urls.notna()
    fast = mask & urls.str.match(_CANONICAL_FAST_RE, na=False)
    # dot segments / empty-segment tricks force the slow path
    fast &= ~urls.str.contains("/./", regex=False, na=False)
    fast &= ~urls.str.contains("/../", regex=False, na=False)
    fast &= ~urls.str.endswith(("/.", "/.."), na=False)
    out = urls.where(fast, None)
    slow_idx = urls.index[mask & ~fast]
    if len(slow_idx):
        out.loc[slow_idx] = urls.loc[slow_idx].map(canonical_url)
    return out


@F.pandas_udf(T.StringType())
def canonical_url_udf(urls: pd.Series) -> pd.Series:
    return _canonicalize_series(urls)


@F.pandas_udf(T.StringType())
def resolve_url_udf(base: pd.Series, ref: pd.Series) -> pd.Series:
    """Vectorized :func:`resolve_ref`: urljoin against the base column,
    then canonicalize. Refs with an ANCHORED RFC-3986 scheme prefix
    (``^[A-Za-z][A-Za-z0-9+.-]*://``) are absolute — urljoin would
    return them unchanged — so they skip the per-row resolution and
    ride the canonicalization fast path; everything else (including a
    relative ref whose query embeds ``://``) pays the Python urljoin,
    matching :func:`resolve_ref` exactly."""
    mask = ref.notna()
    absolute = mask & ref.str.match(r"[A-Za-z][A-Za-z0-9+.\-]*://", na=False)
    out = _canonicalize_series(ref.where(absolute, None))
    rel_idx = ref.index[mask & ~absolute]
    if len(rel_idx):
        out.loc[rel_idx] = [
            resolve_ref(b, r) for b, r in zip(base.loc[rel_idx], ref.loc[rel_idx])
        ]
    return out


def host_col(url_col: Column | str) -> Column:
    """JVM-side host extraction for already-canonical URLs.

    ``parse_url(url,'HOST')`` stays in codegen; raw, un-canonicalized
    input needs :func:`host_of`.
    """
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.lower(F.parse_url(c, F.lit("HOST")))
