"""URL canonicalizer + registrable-domain unit/property tests (SURVEY §5.1)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from webcrawl_lowres_lang_spark.functions.urls import (
    canonicalize_one,
    registrable_domain_one,
)

CASES = {
    # scheme/host case, default port
    "HTTP://Example.COM:80/a": "http://example.com/a",
    "https://example.com:443/": "https://example.com/",
    "https://example.com:8443/x": "https://example.com:8443/x",
    # empty path
    "http://example.com": "http://example.com/",
    # fragment stripped
    "http://example.com/a#frag": "http://example.com/a",
    # dot segments
    "http://example.com/a/./b/../c": "http://example.com/a/c",
    "http://example.com/a/b/..": "http://example.com/a/",
    "http://example.com/../a": "http://example.com/a",
    # percent normalization: unreserved decoded, rest uppercased
    "http://example.com/%7euser/%2fx%2F": "http://example.com/~user/%2Fx%2F",
    # query param sort (stable)
    "http://example.com/p?b=2&a=1&a=0": "http://example.com/p?a=0&a=1&b=2",
    # trailing dot host
    "http://example.com./x": "http://example.com/x",
    # userinfo preserved
    "http://u:pw@example.com/": "http://u:pw@example.com/",
    # IPv6 literals keep their brackets (RFC 3986 §3.2.2); hex lowercased
    "http://[::1]:8080/a": "http://[::1]:8080/a",
    "HTTP://[2001:DB8::1]:80/x": "http://[2001:db8::1]/x",
}

REL_OR_BAD = ["/relative/path", "page.html", "", "   ", "mailto:x@y.z", "javascript:void(0)", None]


def test_canonicalize_cases():
    for raw, want in CASES.items():
        assert canonicalize_one(raw) == want, raw


def test_relative_guard_returns_none():
    # reference: lrl-crawler.py:157-162 drops scheme-less/relative URLs
    for u in REL_OR_BAD:
        assert canonicalize_one(u) is None, u


@settings(max_examples=200, deadline=None)
@given(
    st.one_of(
        st.just("example.com"),
        st.ip_addresses(v=6).map("[{}]".format),
        st.ip_addresses(v=6).map("[{}]:8080".format),
    ),
    st.text(
        alphabet=st.characters(min_codepoint=33, max_codepoint=126),
        min_size=0,
        max_size=40,
    ),
)
def test_canonicalize_idempotent(host, path):
    u = f"http://{host}/{path}"
    c1 = canonicalize_one(u)
    if c1 is None:
        return
    assert canonicalize_one(c1) == c1


def test_registrable_domain():
    assert registrable_domain_one("images.example.co.nz") == "example.co.nz"
    assert registrable_domain_one("a.b.example.com") == "example.com"
    assert registrable_domain_one("example.com") == "example.com"
    assert registrable_domain_one("localhost") == "localhost"
    assert registrable_domain_one("192.168.0.1") == "192.168.0.1"
    assert registrable_domain_one("[::ffff:1.2.3.4]") == "[::ffff:1.2.3.4]"
    assert registrable_domain_one("www.waikato.ac.nz") == "waikato.ac.nz"
    assert registrable_domain_one(None) is None


def test_with_url_keys_spark(spark):
    from webcrawl_lowres_lang_spark.functions.urls import with_url_keys

    df = spark.createDataFrame(
        [("HTTP://Example.COM:80/a?b=2&a=1",), ("/relative",), ("https://x.co.nz/p",)],
        ["url"],
    )
    keyed = with_url_keys(df)
    assert keyed.columns == ["url", "url_canon", "host", "domain", "url_hash", "md5_hash"]
    rows = {r["url"]: r for r in keyed.collect()}
    good = rows["HTTP://Example.COM:80/a?b=2&a=1"]
    assert good["url_canon"] == "http://example.com/a?a=1&b=2"
    assert good["host"] == "example.com"
    assert good["domain"] == "example.com"
    assert isinstance(good["url_hash"], int)
    assert len(good["md5_hash"]) == 32
    assert rows["/relative"]["url_canon"] is None
    assert rows["https://x.co.nz/p"]["domain"] == "x.co.nz"


def _assert_keys_match_parse_url(df):
    """``with_url_keys``' host and domain equal the JVM's
    ``parse_url(url_canon, 'HOST')`` and ``registrable_domain_one`` of it."""
    from webcrawl_lowres_lang_spark.functions.urls import with_url_keys

    rows = (
        with_url_keys(df)
        .select("url_canon", "host", "domain",
                F.parse_url("url_canon", F.lit("HOST")).alias("jvm_host"))
        .collect()
    )
    assert any(r["url_canon"] is not None for r in rows)
    for r in rows:
        assert r["host"] == r["jvm_host"], r
        assert r["domain"] == registrable_domain_one(r["jvm_host"]), r


def test_keys_pass_matches_parse_url_on_fixture_link_graphs(spark):
    from perfbench.workloads import NAMES, workload
    from webcrawl_lowres_lang_spark.sources import fixtures as fx

    for name in NAMES:
        c = workload(name, 1).config
        _assert_keys_match_parse_url(
            fx.gen_link_graph(spark, c.seed, c.n_urls, c.n_hosts, c.n_pages).select("url")
        )


_LABEL = st.from_regex(r"[a-zA-Z0-9]([a-zA-Z0-9-]{0,6}[a-zA-Z0-9])?", fullmatch=True)
# a dotted host's last label starts with a letter (else it is no hostname)
_TOP = st.from_regex(r"[a-zA-Z]([a-zA-Z0-9-]{0,4}[a-zA-Z0-9])?", fullmatch=True)
_DNS = st.builds(lambda ls, t: ".".join([*ls, t]), st.lists(_LABEL, max_size=3), _TOP)
_IPV4 = st.lists(st.integers(0, 255), min_size=4, max_size=4).map(lambda o: ".".join(map(str, o)))
_URL = st.builds(
    "{}://{}{}{}{}{}".format,
    st.sampled_from(["http", "HTTP", "https", "ftp", "ws", "wss"]),
    st.one_of(st.just(""), st.from_regex(r"[a-z0-9]{1,5}(:[a-z0-9]{0,5})?@", fullmatch=True)),
    st.one_of(_DNS, _IPV4, st.sampled_from(["images.example.co.nz", "www.waikato.ac.nz"])),
    st.one_of(st.just(""), st.integers(0, 65535).map(":{}".format)),
    st.from_regex(r"(/[a-zA-Z0-9._~-]{0,6}){0,3}", fullmatch=True),
    st.from_regex(r"(\?[a-z0-9=&]{0,8})?", fullmatch=True),
)
# userinfo, ports, IPv4 and IPv6 in every corpus, whatever hypothesis draws
_FIXED = ["http://u:pw@10.0.0.1:8080/x", "https://user@Example.COM:443/a/../b?y=1&x=2",
          "http://a.b.c.example.co.nz:81", "http://192.168.0.1/", "http://[::1]:8080/v6",
          "http://[2001:db8::1]/x"]


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(st.lists(_URL, min_size=20, max_size=60))
def test_keys_pass_matches_parse_url_on_generated_urls(spark, urls):
    _assert_keys_match_parse_url(spark.createDataFrame([(u,) for u in urls + _FIXED], "url string"))
