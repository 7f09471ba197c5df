"""uniqueKey / normalizeUrl / requestId golden vectors.

Mirrors the pinned examples in /root/reference/packages/core/src/request.ts
(459-461, 506-511, 438-445) and storages/utils.ts:117-121."""

import base64
import hashlib

from crawlee_spark.functions.keying import (
    compute_unique_key_py,
    hash_payload_py,
    normalize_url_py,
    registrable_domain_py,
    request_id_py,
)


def test_normalize_basic():
    assert (
        normalize_url_py("HTTP://www.EXAMPLE.com/something/")
        == "http://www.example.com/something"
    )


def test_normalize_trims():
    assert normalize_url_py("  http://example.com/a  ") == "http://example.com/a"


def test_normalize_fragment():
    assert normalize_url_py("http://example.com/a#frag") == "http://example.com/a"
    assert normalize_url_py("http://example.com/a#frag", keep_fragment=True) == "http://example.com/a#frag"


def test_normalize_utm_and_sort():
    assert (
        normalize_url_py("http://example.com/p?z=1&utm_source=x&a=2&utm_medium=y&m=0")
        == "http://example.com/p?a=2&m=0&z=1"
    )
    # all params dropped → no '?'
    assert normalize_url_py("http://example.com/p?utm_a=1&utm_b=2") == "http://example.com/p"


def test_normalize_root_slash():
    assert normalize_url_py("http://example.com/") == "http://example.com"


def test_normalize_invalid():
    assert normalize_url_py("") is None
    assert normalize_url_py(None) is None
    assert normalize_url_py("not a url") is None


def test_unique_key_default_and_extended():
    assert compute_unique_key_py("HTTP://E.com/x/") == "http://e.com/x"
    k = compute_unique_key_py("http://e.com/x", method="post", payload="body", use_extended_unique_key=True)
    ph = hash_payload_py("body")
    assert k == f"POST({ph}):http://e.com/x"
    assert len(ph) == 8
    # extended without payload: empty hash
    assert (
        compute_unique_key_py("http://e.com/x", method="PUT", use_extended_unique_key=True)
        == "PUT():http://e.com/x"
    )


def test_request_id_construction():
    uk = "http://example.com/something"
    b64 = base64.b64encode(hashlib.sha256(uk.encode()).digest()).decode()
    expected = b64.replace("+", "").replace("/", "").replace("=", "")[:15]
    assert request_id_py(uk) == expected
    assert len(request_id_py(uk)) == 15


def test_registrable_domain():
    assert registrable_domain_py("www.example.com") == "example.com"
    assert registrable_domain_py("a.b.example.co.uk") == "example.co.uk"
    assert registrable_domain_py("example.com") == "example.com"
    # tldts getDomain semantics: no registrable domain → None
    # (basic-crawler.ts:1560-1564 skips politeness; url.ts:100-106 falls
    # back to origin comparison)
    assert registrable_domain_py("localhost") is None
    assert registrable_domain_py("127.0.0.1") is None


def test_registrable_domain_full_psl():
    """PSL golden vectors the 14-suffix approximation got wrong (r4 verdict
    item 1): private suffixes, multi-label ICANN suffixes, wildcard rules,
    exception rules, punycode — tldts getDomain parity (url.ts:26-58)."""
    # private section: each github.io sub-site is its own registrable domain
    assert registrable_domain_py("foo.github.io") == "foo.github.io"
    assert registrable_domain_py("bar.foo.github.io") == "foo.github.io"
    assert registrable_domain_py("github.io") is None  # IS a public suffix
    assert registrable_domain_py("x.blogspot.com") == "x.blogspot.com"
    # multi-label ICANN suffixes beyond the old approximation
    assert registrable_domain_py("shop.example.com.mx") == "example.com.mx"
    assert registrable_domain_py("a.example.co.za") == "example.co.za"
    assert registrable_domain_py("example.com.tr") == "example.com.tr"
    assert registrable_domain_py("k12.ca.us") is None
    assert registrable_domain_py("school.k12.ca.us") == "school.k12.ca.us"
    # wildcard rules: *.kobe.jp / *.bd — every second label is a suffix
    assert registrable_domain_py("foo.bar.kobe.jp") == "foo.bar.kobe.jp"
    assert registrable_domain_py("foo.bar.bd") == "foo.bar.bd"
    # exception rules: !city.kobe.jp / !www.ck carve out of the wildcard
    assert registrable_domain_py("www.city.kobe.jp") == "city.kobe.jp"
    assert registrable_domain_py("shop.www.ck") == "www.ck"
    # punycode + unicode spellings of the same IDN rule (公司.cn)
    assert registrable_domain_py("b.example.xn--55qx5d.cn") == "example.xn--55qx5d.cn"
    assert registrable_domain_py("b.example.公司.cn") == "example.公司.cn"
    # trailing dot / case-insensitivity (normalizeHostname, url.ts:78-80)
    assert registrable_domain_py("WWW.Example.COM.") == "example.com"
    # bare TLD and bare multi-label suffix: no registrable domain
    assert registrable_domain_py("com") is None
    assert registrable_domain_py("co.uk") is None


def _sweep_urls() -> set:
    """Structured URL sweep + targeted tricky cases for the keying fast path:
    scheme/host/path/tail products, and whitespace or control characters
    trailing a URL, inside its path, or leading it."""
    import itertools

    schemes = ["http", "https", "HTTP", "a+b-c.d", "h", ""]
    hosts = [
        "example.com", "EXAMPLE.com", "10.0.0.1", "host:8080", "host.",
        "[::1]", "user@host", "ho st", "xn--55qx5d.cn", "",
    ]
    paths = ["", "/", "/a", "/a/", "//", "/a b", "/a?", "/%20x", "/docs/123"]
    tails = ["", "?b=2&a=1", "?utm_source=x", "#frag", "?a=1#f", "#"]
    urls = {f"{s}://{h}{p}{t}" for s, h, p, t in itertools.product(schemes, hosts, paths, tails)}
    urls |= {" https://a.com ", "https://a.com/x/", "mailto:x@y", "", "https://", "https:///p"}
    for ch in (" ", "\t", "\r", "\n", "\x00", "\x0b", "\x1f", "\xa0"):
        urls |= {f"http://a.com/x{ch}", f"http://a.com{ch}", f"http://a.com/a{ch}b", f"{ch}http://a.com/x"}
    return urls


def test_fast_path_regex_is_identity_on_normalized_urls():
    """The keying kernel's fast-path regex may match ONLY urls that are
    fixed points of normalize_url_py (for both keep_fragment values) — the
    r6 optimization that skips urlsplit for already-normalized frontier
    rows."""
    from crawlee_spark.functions.keying import _NORMALIZED_URL_RE

    n_fast = 0
    for u in _sweep_urls():
        if _NORMALIZED_URL_RE.match(u):
            n_fast += 1
            for kf in (False, True):
                assert normalize_url_py(u, kf) == u, (u, kf)
    assert n_fast > 0  # the sweep must actually exercise the fast path


def test_spark_keying_matches_python_kernels(spark):
    """Both Spark keying forms — the fused ``keying_udf`` and
    ``unique_key_col`` + ``request_id_col`` — equal ``compute_unique_key_py``
    and ``request_id_py`` row for row, nulls and unparseable urls included."""
    from crawlee_spark.functions.keying import keying_udf, request_id_col, unique_key_col

    urls = sorted(_sweep_urls()) + [None]  # the sweep holds "mailto:x@y" and ""
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i int, url string")
    uk = unique_key_col("url")
    rows = (
        df.select("i", keying_udf("url").alias("k"), uk.alias("uk"), request_id_col(uk).alias("rid"))
        .orderBy("i")
        .collect()
    )
    assert len(rows) == len(urls)
    for r, u in zip(rows, urls):
        want_uk = compute_unique_key_py(u)
        want_rid = None if want_uk is None else request_id_py(want_uk)
        assert (r["k"]["unique_key"], r["k"]["request_id"]) == (want_uk, want_rid), repr(u)
        assert (r["uk"], r["rid"]) == (want_uk, want_rid), repr(u)
