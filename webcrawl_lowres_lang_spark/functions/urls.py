"""URL canonicalization, registrable-domain extraction, and hashing.

Reference semantics being re-expressed (studied, not ported):
- the URL-seen key is a hash of the URL string (``fileutils.py:99-101``
  — MD5 of the *raw* URL). The new engine canonicalizes first
  (RFC 3986 §6) and keys on a 64-bit hash per the north rule, keeping a
  raw-URL MD5 column for reference parity checks.
- the relative-URL guard (``lrl-crawler.py:157-162``) drops entries whose
  scheme+netloc are empty; the canonicalizer returns NULL for those so a
  single ``isNotNull`` filter reproduces the guard.

Design notes for 100 TB scale:
- canonicalization is the only string-heavy step that genuinely needs
  Python (dot-segment resolution + percent-decoding have no Spark
  built-in). ``with_url_keys`` runs it, together with the host and the
  registrable domain that derive from the canonical form, as ONE
  ``mapInArrow`` pass: each row crosses into Python once, and one Python
  call handles a whole Arrow batch (~10k rows). The pass is opaque to
  Catalyst, so a filter on ``url_canon`` (the relative-URL guard) cannot
  be pushed below it: the canonicalizer runs only over the rows that
  reach it, never over a join input such as the whole link graph.
- hashing stays JVM-side (``F.xxhash64`` / ``F.md5``) so the hot dedup
  path never leaves codegen.
"""

from __future__ import annotations

import functools
import re
from urllib.parse import quote, urlsplit

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

# --- canonicalization -------------------------------------------------------

_DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21", "ws": "80", "wss": "443"}
# RFC 3986 unreserved characters — percent-decodings of these are normalized
# back to the literal character.
_UNRESERVED = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
_PCT_RE = re.compile(r"%([0-9A-Fa-f]{2})")


def _normalize_pct(s: str) -> str:
    """Decode percent-encodings of unreserved chars; uppercase the rest."""

    def repl(m: re.Match) -> str:
        ch = chr(int(m.group(1), 16))
        if ch in _UNRESERVED:
            return ch
        return "%" + m.group(1).upper()

    return _PCT_RE.sub(repl, s)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments."""
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if out:
                out.pop()
            continue
        out.append(seg)
    # preserve leading slash; a trailing '.'/'..' implies trailing slash
    norm = "/".join(out)
    if path.startswith("/") and not norm.startswith("/"):
        norm = "/" + norm
    if path.endswith(("/.", "/..", "/")) and not norm.endswith("/"):
        norm += "/"
    return norm or "/"


def canonicalize_one(url: str | None) -> str | None:
    """RFC-3986 canonical form; None for non-absolute/unfetchable URLs.

    lowercase scheme+host, strip default port, strip fragment, resolve
    dot segments, normalize percent-encoding, sort query params (stable),
    empty path -> '/'.
    """
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
    host = (parts.hostname or "").lower().rstrip(".")
    # relative-URL guard (reference: lrl-crawler.py:157-162)
    if not scheme or not host:
        return None
    if scheme not in ("http", "https", "ftp", "ws", "wss"):
        return None
    port = ""
    try:
        p = parts.port
    except ValueError:
        return None
    if p is not None and str(p) != _DEFAULT_PORTS.get(scheme, ""):
        port = f":{p}"
    if ":" in host:  # IPv6 literal: keep its brackets (RFC 3986 §3.2.2)
        host = f"[{host}]"
    userinfo = ""
    if parts.username:
        userinfo = parts.username + (f":{parts.password}" if parts.password else "") + "@"
    # normalize existing escapes first, then percent-encode raw chars that
    # need it (spaces, non-ASCII) with '%' kept safe so escapes like %2F
    # survive untouched (%2F != '/' per RFC 3986 — encoding is significant)
    path = _normalize_pct(parts.path) or "/"
    path = quote(path, safe="/:@!$&'()*+,;=-._~%")
    path = _remove_dot_segments(path)
    query = ""
    # a query of bare '&' separators has no pairs: drop the '?' too, or a
    # second pass would strip it and canonicalization would not be idempotent
    pairs = [kv for kv in parts.query.split("&") if kv]
    if pairs:
        query = "?" + "&".join(sorted(_normalize_pct(kv) for kv in pairs))
    return f"{scheme}://{userinfo}{host}{port}{path}{query}"


# Compact embedded multi-label public-suffix subset (full PSL is an external
# dataset; the engine accepts a user-supplied list at deploy time). Enough
# for deterministic tests + the common cc-SLD patterns.
_MULTI_SUFFIX_SLD = {
    "co", "com", "org", "net", "gov", "govt", "edu", "ac", "sch", "mil",
    "or", "ne", "go", "gen", "web", "info", "ltd", "plc", "nom",
}
_CC_TLDS_WITH_SLD = {
    "nz", "uk", "au", "jp", "kr", "za", "in", "br", "mx", "il", "id",
    "th", "tr", "ua", "ke", "tz", "fj", "ws", "to", "ck", "nu",
}


def registrable_domain_one(host: str | None) -> str | None:
    """eTLD+1-style registrable domain (politeness key, north rule).

    ``images.example.co.nz`` -> ``example.co.nz``;
    ``a.b.example.com`` -> ``example.com``; IPs (a bracketed IPv6
    literal too) and single labels pass through unchanged.
    """
    if not host:
        return None
    if host.startswith("["):
        return host
    labels = host.lower().rstrip(".").split(".")
    if len(labels) <= 2:
        return host.lower().rstrip(".")
    # IPv4 literal
    if all(l.isdigit() for l in labels):
        return ".".join(labels)
    tld, sld = labels[-1], labels[-2]
    if tld in _CC_TLDS_WITH_SLD and sld in _MULTI_SUFFIX_SLD and len(labels) >= 3:
        return ".".join(labels[-3:])
    return ".".join(labels[-2:])


def _host_of_canon(canon: str | None) -> str | None:
    """Host of a canonical URL: its authority without userinfo and port
    (the sequential oracle's rule, tests/reference_oracle.py). It equals
    Spark's ``parse_url(url_canon, 'HOST')`` wherever Java's URI parser
    accepts the host, an IPv6 literal included: it keeps its brackets.
    ``canonicalize_one`` always writes a path, so the authority ends at
    the first '/' after the scheme."""
    if canon is None:
        return None
    authority = canon.split("://", 1)[1].split("/", 1)[0].split("@")[-1]
    if authority.startswith("["):
        return authority[: authority.index("]") + 1]
    return authority.split(":")[0] or None


_KEY_COLS = ("url_canon", "host", "domain")


def _url_keys_batches(batches, url_col: str):
    """mapInArrow body: append url_canon / host / domain to each batch."""
    for b in batches:
        canon = [canonicalize_one(u) for u in b.column(url_col).to_pylist()]
        host = [_host_of_canon(c) for c in canon]
        domain = [registrable_domain_one(h) for h in host]
        keys = [pa.array(v, pa.string()) for v in (canon, host, domain)]
        yield pa.RecordBatch.from_arrays(
            b.columns + keys, names=b.schema.names + list(_KEY_COLS)
        )


# --- hashing (JVM-side) -----------------------------------------------------


def url_hash64(url_canon: Column | str) -> Column:
    """64-bit seen-set key over the canonical URL. JVM-side xxhash64 —
    stays inside whole-stage codegen; any stable 64-bit hash satisfies the
    seen-set semantics (reference used hex MD5, fileutils.py:99-101)."""
    c = F.col(url_canon) if isinstance(url_canon, str) else url_canon
    return F.xxhash64(c)


def md5_raw(url: Column | str) -> Column:
    """Reference-parity key: hex MD5 of the *raw* URL string."""
    c = F.col(url) if isinstance(url, str) else url
    return F.md5(c)


def with_url_keys(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Attach url_canon / host / registrable domain / hash keys.

    One ``mapInArrow`` pass computes ``url_canon``, ``host`` and ``domain``;
    ``url_hash`` and ``md5_hash`` are JVM built-ins over its output. Rows
    failing the absolute-URL guard keep url_canon (and host, domain) NULL
    (filter with ``.filter(col('url_canon').isNotNull())`` to reproduce the
    reference guard at lrl-crawler.py:157-162).
    """
    schema = StructType(
        df.schema.fields + [StructField(c, StringType(), True) for c in _KEY_COLS]
    )
    df = df.mapInArrow(functools.partial(_url_keys_batches, url_col=url_col), schema)
    df = df.withColumn("url_hash", url_hash64("url_canon"))
    df = df.withColumn("md5_hash", md5_raw(url_col))
    return df
