"""M0 tests: canonicalization vectors + properties (SURVEY.md §5.4)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from tripwire_spark.functions.urls import (
    canonicalize_url_py,
    host_of_py,
    reg_domain_py,
)

VECTORS = [
    # (input, expected canonical)
    ("HTTP://Example.COM/", "http://example.com/"),
    ("http://example.com", "http://example.com/"),
    ("http://example.com:80/a", "http://example.com/a"),
    ("https://example.com:443/a", "https://example.com/a"),
    ("https://example.com:8443/a", "https://example.com:8443/a"),
    ("http://example.com/a/./b/../c", "http://example.com/a/c"),
    ("http://example.com/%7Euser", "http://example.com/~user"),
    ("http://example.com/%7euser", "http://example.com/~user"),
    ("http://example.com/a%2Fb", "http://example.com/a/b"),  # decoded slash joins path
    ("http://example.com/a?b=1&c=2", "http://example.com/a?b=1&c=2"),
    ("http://example.com/a#frag", "http://example.com/a"),
    ("example.com/x", "http://example.com/x"),  # scheme-less seed (queue_sites:101-109)
    ("http://EXAMPLE.com./x", "http://example.com/x"),
    ("  http://example.com/x  ", "http://example.com/x"),
    ("http://site0001.test/p3", "http://site0001.test/p3"),
    ("http://example.com/..", "http://example.com/"),
    ("http://example.com/a/..", "http://example.com/"),
    ("", None),
    (None, None),
    ("http://bad host/", None),
    ("http://:80/", None),
]


def test_canonicalize_vectors():
    for raw, want in VECTORS:
        assert canonicalize_url_py(raw) == want, raw


@given(st.text(max_size=100))
@settings(max_examples=300, deadline=None)
def test_canonicalize_idempotent(s):
    once = canonicalize_url_py(s)
    if once is not None:
        assert canonicalize_url_py(once) == once


def test_reg_domain():
    assert reg_domain_py("www.example.com") == "example.com"
    assert reg_domain_py("a.b.example.co.uk") == "example.co.uk"
    assert reg_domain_py("site0001.test") == "site0001.test"
    assert reg_domain_py("deep.sub.site0001.test") == "site0001.test"
    assert reg_domain_py("localhost") == "localhost"
    assert reg_domain_py(None) is None


def test_reg_domain_full_psl_rules():
    """Multi-label, wildcard, exception, and private-section suffixes
    the round-1 subset missed (VERDICT #9)."""
    # private hosting suffixes: each user site is its own politeness bucket
    assert reg_domain_py("alice.github.io") == "alice.github.io"
    assert reg_domain_py("www.alice.github.io") == "alice.github.io"
    assert reg_domain_py("mybucket.s3.amazonaws.com") == "mybucket.s3.amazonaws.com"
    assert reg_domain_py("shop.myshopify.com") == "shop.myshopify.com"
    # multi-label ccTLD registries
    assert reg_domain_py("a.b.example.com.au") == "example.com.au"
    assert reg_domain_py("x.gob.mx") == "x.gob.mx"
    # wildcard rule *.ck: any label under ck is a suffix
    assert reg_domain_py("shop.foo.ck") == "shop.foo.ck"
    assert reg_domain_py("deep.shop.foo.ck") == "shop.foo.ck"
    # exception rule !www.ck: www.ck IS registrable
    assert reg_domain_py("www.ck") == "www.ck"
    assert reg_domain_py("sub.www.ck") == "www.ck"
    # unknown TLD falls to the default "*" rule
    assert reg_domain_py("foo.bar.zzunknown") == "bar.zzunknown"
    # a bare public suffix returns itself
    assert reg_domain_py("co.uk") == "co.uk"


def test_reg_domain_expanded_psl():
    """Round-3 expansion (VERDICT #6): private-section WILDCARD
    suffixes, multi-label US locality registries, and JP city
    wildcard/exception pairs — the rule classes whose absence lumps
    independent registrable domains into one politeness bucket."""
    # *.compute.amazonaws.com (private wildcard): each instance
    # hostname is its own registrable domain
    assert (
        reg_domain_py("myapp.eu-west-1.compute.amazonaws.com")
        == "myapp.eu-west-1.compute.amazonaws.com"
    )
    assert (
        reg_domain_py("deep.myapp.eu-west-1.compute.amazonaws.com")
        == "myapp.eu-west-1.compute.amazonaws.com"
    )
    # 3-label ccTLD registry (k12.<state>.us)
    assert reg_domain_py("school.k12.ca.us") == "school.k12.ca.us"
    assert reg_domain_py("www.school.k12.ca.us") == "school.k12.ca.us"
    # JP city wildcard *.kobe.jp with its !city.kobe.jp exception
    assert reg_domain_py("bar.foo.kobe.jp") == "bar.foo.kobe.jp"
    assert reg_domain_py("www.city.kobe.jp") == "city.kobe.jp"
    # new-gTLD program entry
    assert reg_domain_py("www.example.pizza") == "example.pizza"


def test_reg_domain_real_psl_sampled_rules():
    """Round-4 (VERDICT #7): the full publicsuffix.org list is now the
    snapshot.  Sample rules straight from the parsed rule sets — exact,
    wildcard, and every exception — and assert the canonical algorithm
    on each: exact suffix s -> host x.s registers at x.s; wildcard *.w
    -> host a.b.w registers at a.b.w; exception !e (e = lbl.w) -> host
    sub.e registers at e."""
    from tripwire_spark.functions.urls import _PSL_EXACT, _PSL_EXC, _PSL_WILD

    assert len(_PSL_EXACT) > 9000  # the real list, not a curated subset
    assert len(_PSL_WILD) > 50
    assert len(_PSL_EXC) >= 8
    exact = sorted(_PSL_EXACT)
    for s in exact[:: max(1, len(exact) // 10)][:10]:
        # skip suffixes shadowed by a longer exact rule ending in a
        # label of this suffix — sampling gives plain ones anyway
        host = "zz-sample." + s
        got = reg_domain_py(host)
        assert got == host or got in (s,), (s, got)
    for w in sorted(_PSL_WILD)[:: max(1, len(_PSL_WILD) // 6)][:6]:
        host = "aa.bb." + w
        exc_hit = "bb." + w in _PSL_EXC
        want = "bb." + w if exc_hit else "aa.bb." + w
        assert reg_domain_py(host) == want, (w, host)
    for e in sorted(_PSL_EXC):
        assert reg_domain_py("sub." + e) == e, e
        assert reg_domain_py(e) == e, e


def test_host_of():
    assert host_of_py("http://A.B.test/x?q=1") == "a.b.test"
    assert host_of_py("no-scheme.test/x") == "no-scheme.test"


def test_spark_canonicalize_matches_python(spark):
    import pyspark.sql.functions as F

    from tripwire_spark.functions.urls import canonicalize_url, url_hash

    raw = [r for r, _ in VECTORS if r]
    df = spark.createDataFrame([(u,) for u in raw], "url string")
    got = (
        df.withColumn("canon", canonicalize_url("url"))
        .withColumn("h", url_hash("canon"))
        .collect()
    )
    for row in got:
        assert row.canon == canonicalize_url_py(row.url)
        if row.canon is not None:
            assert isinstance(row.h, int)


# ---------------------------------------------------------------------------
# Fast-path invariants (urls._CANON_FAST and the absolute-href shortcut
# in resolve_canonicalize): the fast paths must be pure optimizations —
# identical output to the full pipeline on every input.
# ---------------------------------------------------------------------------

_SEG = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789._~-",
    min_size=1,
    max_size=8,
)
_LABEL = st.from_regex(r"[a-z0-9]([a-z0-9-]{0,8}[a-z0-9])?", fullmatch=True)


@given(
    st.sampled_from(["http", "https"]),
    st.lists(_LABEL, min_size=2, max_size=4),
    st.lists(_SEG, min_size=0, max_size=4),
    st.sampled_from(["", "/"]),
    st.sampled_from(["", "?", "?a=1&b=2", "?x", "?a:b/c@d", "?.~-"]),
)
@settings(max_examples=500, deadline=None)
def test_canon_fast_path_is_identity_on_full_pipeline(scheme, labels, segs, slash, q):
    """Any URL _CANON_FAST accepts must equal the FULL canonicalizer's
    output for it (fast-match => canonicalize is the identity)."""
    import re as _re

    from tripwire_spark.functions import urls as U

    path = "/" + "/".join(segs) + (slash if segs else "")
    u = f"{scheme}://{'.'.join(labels)}{path}{q}"
    if not U._CANON_FAST.match(u):
        return
    saved = U._CANON_FAST
    U._CANON_FAST = _re.compile(r"(?!)")  # disable fast path
    try:
        full = canonicalize_url_py(u)
    finally:
        U._CANON_FAST = saved
    assert full == u, (u, full)


def test_canon_fast_path_rejects_non_canonical():
    from tripwire_spark.functions.urls import _CANON_FAST

    for u in [
        "https://host.test",          # canonical adds "/"
        "http://HOST.test/",          # host must lowercase
        "HTTP://host.test/",          # scheme must lowercase
        "http://host.test:80/",       # default port strips
        "http://host.test/a/../b",    # dot segments
        "http://host.test/./a",
        "http://host.test/a%2Fb",     # percent escapes
        "http://host.test/a#frag",    # fragment drops
        "http://host.test./",         # trailing host dot strips
        "http://u:p@host.test/",      # userinfo -> slow path
        "http://host..test/",         # empty label
        "http://host.test/a?",        # empty query drops
        "http://host.test/a\n",       # trailing newline strips
    ]:
        assert not _CANON_FAST.match(u), u


def test_resolve_absolute_shortcut_edge_cases(spark):
    """Empty-netloc absolute-looking hrefs must still resolve via
    urljoin against the base (the shortcut must not catch them)."""
    import pyspark.sql.functions as F

    from tripwire_spark.functions.urls import resolve_canonicalize

    base = "http://base.test/a/b"
    hrefs = [
        "http://x.test/y",   # true absolute: shortcut
        "https://x.test",    # absolute, empty path
        "http://",           # empty netloc: merges with base
        "http:///p",         # empty netloc + path
        "http://?q",         # empty netloc + query
        "/rel",              # relative
        "rel2",              # relative
        "//x.test/z",        # scheme-relative
    ]
    df = spark.createDataFrame([(base, h) for h in hrefs], "base string, href string")
    got = {r.href: r.out for r in df.withColumn("out", resolve_canonicalize("base", "href")).collect()}
    from urllib.parse import urljoin

    for h in hrefs:
        want = canonicalize_url_py(urljoin(base, h))
        assert got[h] == want, (h, got[h], want)


# Bases and hrefs for the resolution fast path: each ingredient below
# either keeps a root-relative href on the fast path or must knock it
# off (dot segments, params, escapes, fragments, "//", empty queries;
# bases with upper case, a port, userinfo, a trailing host dot, "_" in
# the host, or no path).
_HREF_PART = st.sampled_from(
    ["p", "P12", "a-b_c~d.e", ".", "..", ";x", "%41", "%2f", "#f", "", "/", "//", "?", "?q=1",
     "?a:b/c@d", "&", "=", " ", "\n", "ü", ":"]
)
_BASE = st.sampled_from(
    [
        "http://a.test/", "https://a.test/x/y?z#f", "http://a.test/x", "HTTP://a.test/x",
        "http://A.test/x", "http://a.test:8080/x", "http://a.test:80/x", "http://u:p@a.test/x",
        "http://a.test./x", "http://a_b.test/x", "http://a.test", "http://a.test?q",
        "http://a.test#f", "http://sub.a-b.test/x/../y", "ftp://a.test/x", "", None,
    ]
)


@given(_BASE, st.lists(_HREF_PART, max_size=6).map("".join), st.booleans())
@settings(max_examples=2000, deadline=None)
def test_resolve_fast_path_equals_urljoin_full_pipeline(base, tail, rooted):
    """resolve_canonicalize_py == canonicalize(urljoin(base, href)) with
    both fast paths (the root-relative resolution and _CANON_FAST) off."""
    import re as _re
    from urllib.parse import urljoin

    from tripwire_spark.functions import urls as U

    href = "/" + tail if rooted else tail
    got = U.resolve_canonicalize_py(base, href)
    saved = U._CANON_FAST
    U._CANON_FAST = _re.compile(r"(?!)")  # disable fast path
    try:
        try:
            want = canonicalize_url_py(urljoin(base, href) if base else href)
        except ValueError:
            want = None
    finally:
        U._CANON_FAST = saved
    assert got == want, (base, href, got, want)


def test_resolve_fast_path_takes_root_relative_hrefs():
    """The common link shape resolves without urljoin: a root-relative
    href under a canonical origin is ``origin + href``."""
    from tripwire_spark.functions import urls as U

    assert U._FAST_ROOT_HREF.match("/p12?x=1") and U._FAST_BASE_ORIGIN.match("http://a.test/q")
    assert U.resolve_canonicalize_py("http://a.test/q/r?s", "/p12?x=1") == "http://a.test/p12?x=1"
    for href in ["/p?", "/a/../b", "//b.test/p", "/p#f", "/%41", "/p;x"]:
        assert not U._FAST_ROOT_HREF.match(href), href


def test_surt_key_shapes(spark):
    import pyspark.sql.functions as F

    from tripwire_spark.functions.urls import surt

    cases = {
        # host reversed, www stripped, query sorted, fragment dropped
        "http://WWW.News.Example.co.uk/a/b?x=2&a=1#f": "uk,co,example,news)/a/b?a=1&x=2",
        # bare host -> ')/' root path; no query suffix
        "https://Example.COM": "com,example)/",
        # www only stripped when leading (www2 / inner www kept)
        "http://www2.example.com/p": "com,example,www2)/p",
        "http://a.www.example.com/p": "com,example,www,a)/p",
        # single-param query unchanged; path case preserved
        "http://x.test/CasePath?k=v": "test,x)/CasePath?k=v",
        # non-default port is part of the origin; scheme defaults drop
        "http://example.com:8080/x": "com,example:8080)/x",
        "http://example.com:80/x": "com,example)/x",
        "https://example.com:443/x": "com,example)/x",
        "https://example.com:80/x": "com,example:80)/x",
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {r.url: r.s for r in df.select("url", surt("url").alias("s")).collect()}
    for u, want in cases.items():
        assert got[u] == want, (u, got[u], want)


def test_surt_groups_domain_contiguously(spark):
    """The point of SURT: all subdomains/pages of one registrable domain
    sort into one contiguous key range."""
    from tripwire_spark.functions.urls import surt

    urls = [
        "http://b.example.com/2",
        "http://zzz.other.com/x",
        "http://example.com/1",
        "http://a.example.com/3",
        "http://aaa.aardvark.com/y",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    keys = sorted(r.s for r in df.select(surt("url").alias("s")).collect())
    ex = [k for k in keys if k.startswith("com,example")]
    lo, hi = keys.index(ex[0]), keys.index(ex[-1])
    assert hi - lo + 1 == len(ex) == 3  # contiguous block
