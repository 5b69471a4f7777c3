"""RFC-3986 URL canonicalization, registrable-domain (PSL) extraction,
and URL hashing.

Reference parity:
- ``norm_url`` C UDF (reference: schema.sql:902-907) — RFC-3986
  canonicalization; the hash key of the URL-seen set.
- ``url_host/scheme/path/port`` extractors (schema.sql:982-1032) — we use
  Spark's built-in ``parse_url`` where exact, and the canonicalizer's
  parse otherwise.
- ``norm_dns_name``/``dns_name_valid`` (schema.sql:893-898, 27-32).
- ``dns_pub_suffix``/``dns_reg_domain`` (schema.sql:296-319) — politeness
  grouping key; full PSL rule semantics (exact/wildcard/exception,
  longest-match, implicit default) over the snapshot in psl_data.py,
  which uses the canonical publicsuffix.org file format so the complete
  list drops in verbatim.

Design: the canonicalizer is a **vectorized pandas UDF** (Arrow batches,
no per-row Python UDF serde).  The hash is JVM-side ``xxhash64`` on the
canonical string, so the seen-set key never round-trips through Python.
"""

from __future__ import annotations

import re
from urllib.parse import quote, unquote, urljoin, urlsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- pure-python core (unit-testable without Spark) ---------------------

_DEFAULT_PORTS = {"http": 80, "https": 443, "ftp": 21, "ws": 80, "wss": 443}

# RFC 3986 unreserved = ALPHA / DIGIT / "-" / "." / "_" / "~"
_SUB_DELIMS = "!$&'()*+,;="
_PATH_SAFE = _SUB_DELIMS + ":@/"
_QUERY_SAFE = _SUB_DELIMS + ":@/?"

# Shared between the Python canonicalizer and the JVM-side validator
# column (C3: dns_name_valid, schema.sql:27-32) — Java/RE2 compatible.
HOST_PATTERN = r"^[a-z0-9]([a-z0-9\-_]{0,61}[a-z0-9])?(\.[a-z0-9]([a-z0-9\-_]{0,61}[a-z0-9])?)*\.?$"
_HOST_RE = re.compile(HOST_PATTERN)

# PSL snapshot parsed into the three canonical rule classes
# (publicsuffix.org format; see psl_data.py — drop in the full list to
# extend).  Exception rules beat wildcards; longest match wins;
# the implicit default rule "*" makes any unknown TLD a suffix.
def _parse_psl(text: str) -> tuple[frozenset, frozenset, frozenset]:
    exact, wild, exc = set(), set(), set()
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("//"):
            continue
        if line.startswith("!"):
            exc.add(line[1:])
        elif line.startswith("*."):
            wild.add(line[2:])
        else:
            exact.add(line)
    return frozenset(exact), frozenset(wild), frozenset(exc)


from tripwire_spark.functions.psl_data import PSL_SNAPSHOT  # noqa: E402

_PSL_EXACT, _PSL_WILD, _PSL_EXC = _parse_psl(PSL_SNAPSHOT)


def _pct_normalize(s: str, safe: str) -> str:
    """Percent-normalize: decode unreserved chars, uppercase remaining
    escapes, re-encode anything that must be escaped (RFC 3986 §6.2.2)."""
    try:
        return quote(unquote(s), safe=safe)
    except Exception:  # malformed escapes: keep as-is
        return s


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments."""
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if out and out[-1] != "":
                out.pop()
                if not out:
                    out = [""]
            continue
        out.append(seg)
    # collapse the leading marker: path always starts with "/"
    res = "/".join(out)
    if not res.startswith("/"):
        res = "/" + res
    # trailing "." / ".." leave a trailing slash per the RFC algorithm
    if path.endswith(("/.", "/..")) and not res.endswith("/"):
        res += "/"
    return res


# Identity fast path: a URL matching this pattern is ALREADY its own
# canonical form, so the full parse/normalize pipeline (urlsplit +
# percent-normalization + dot-segment removal, ~10us/url) can be
# skipped.  The pattern is deliberately a strict SUBSET of canonical
# outputs: lowercase http(s) scheme; lowercase dotted host whose labels
# start/end alphanumeric (no userinfo, no port — so default-port
# stripping can't apply, and any explicit port takes the slow path); a
# path of unreserved-charset segments none of which is "." or ".."; an
# optional NON-EMPTY query over unreserved + "=&:@/" (all inside
# _QUERY_SAFE, so _pct_normalize is the identity; a bare "?" is dropped
# by the full pipeline); no "%", no "#", no "?" repetition, nothing after
# the end (``\Z``: ``$`` would also match before a trailing newline,
# which the full pipeline strips).  tests/test_urls.py pins the
# invariant fast-match => canonicalize(u) == u by fuzzing generated
# matches through the full canonicalizer.
_FAST_ORIGIN = (
    r"https?://"
    r"[a-z0-9](?:[a-z0-9-]{0,61}[a-z0-9])?"
    r"(?:\.[a-z0-9](?:[a-z0-9-]{0,61}[a-z0-9])?)+"
)
_FAST_PATH_QUERY = (
    r"/(?:(?!\.\.?(?:/|\?|\Z))[A-Za-z0-9._~\-]+/)*"
    r"(?:(?!\.\.?(?:\?|\Z))[A-Za-z0-9._~\-]+)?"
    r"(?:\?[A-Za-z0-9._~\-=&:@/]+)?\Z"
)
_CANON_FAST = re.compile(_FAST_ORIGIN + _FAST_PATH_QUERY)
# The root-relative resolution fast path (resolve_canonicalize_py): a
# base whose origin is _CANON_FAST's and an href that is _CANON_FAST's
# path-and-query resolve to exactly ``origin + href``.
_FAST_BASE_ORIGIN = re.compile(_FAST_ORIGIN + r"(?=/)")
_FAST_ROOT_HREF = re.compile(_FAST_PATH_QUERY)


def canonicalize_url_py(url: str | None) -> str | None:
    """RFC-3986-canonicalize one URL; None if unparseable/invalid.

    Rules (norm_url parity, schema.sql:902-907):
    scheme+host lowercased; default port stripped; percent-encoding
    normalized (decode unreserved, uppercase hex); dot-segments removed;
    empty path -> "/"; fragment dropped; query preserved byte-for-byte
    order; scheme-less input gets "http://" (reference queues bare
    domains, runners/queue_sites:101-109).
    """
    if url is None:
        return None
    if _CANON_FAST.match(url):
        return url  # already canonical (see _CANON_FAST invariant)
    u = url.strip()
    if not u:
        return None
    if "://" not in u:
        u = "http://" + u
    try:
        parts = urlsplit(u)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    host = (parts.hostname or "").lower().rstrip(".")
    if not host or not _HOST_RE.match(host):
        return None
    port = None
    try:
        port = parts.port
    except ValueError:
        return None
    netloc = host
    if parts.username:
        netloc = parts.username + (":" + parts.password if parts.password else "") + "@" + netloc
    if port is not None and port != _DEFAULT_PORTS.get(scheme):
        netloc += f":{port}"
    path = _pct_normalize(parts.path or "/", _PATH_SAFE)
    path = _remove_dot_segments(path if path.startswith("/") else "/" + path)
    out = f"{scheme}://{netloc}{path}"
    if parts.query:
        out += "?" + _pct_normalize(parts.query, _QUERY_SAFE)
    return out  # fragment intentionally dropped


def public_suffix_index(labels: list[str]) -> int:
    """Index where the public suffix starts, per the canonical PSL
    algorithm: exception rules win outright, else the longest matching
    exact/wildcard rule, else the implicit "*" default (bare TLD)."""
    n = len(labels)
    for i in range(n):
        if ".".join(labels[i:]) in _PSL_EXC:
            return i + 1  # the excepted label is registrable
    best = n - 1  # default rule "*": the TLD itself
    for i in range(n):
        if ".".join(labels[i:]) in _PSL_EXACT:
            best = min(best, i)
            break  # i ascends -> first hit is the longest exact match
    for i in range(n - 1):
        if ".".join(labels[i + 1 :]) in _PSL_WILD:
            best = min(best, i)
            break
    return best


def reg_domain_py(host: str | None) -> str | None:
    """Registrable domain = public suffix + one label (dns_reg_domain,
    schema.sql:305-310).  The politeness grouping key.

    A host that IS a public suffix returns itself (grouping stays
    defined); unknown TLDs fall to the default "*" rule."""
    if not host:
        return None
    h = host.lower().rstrip(".")
    labels = h.split(".")
    if len(labels) < 2:
        return h
    i = public_suffix_index(labels)
    return ".".join(labels[max(i - 1, 0) :])


def host_of_py(url: str | None) -> str | None:
    if url is None:
        return None
    try:
        return (urlsplit(url if "://" in url else "http://" + url).hostname or "").lower() or None
    except ValueError:
        return None


# --- Spark column API ----------------------------------------------------


@F.pandas_udf(T.StringType())
def canonicalize_url(urls: pd.Series) -> pd.Series:
    """Vectorized RFC-3986 canonicalizer (Arrow-batched)."""
    return urls.map(canonicalize_url_py)


@F.pandas_udf(T.StringType())
def reg_domain(hosts: pd.Series) -> pd.Series:
    """Vectorized registrable-domain extraction (politeness key)."""
    return hosts.map(reg_domain_py)


def resolve_canonicalize_py(base: str | None, href: str | None) -> str | None:
    """Resolve a (possibly relative) href against its page URL, then
    canonicalize (RFC 3986 §5 reference resolution): on every input,
    ``canonicalize_url_py(urljoin(base, href))`` (of ``href`` alone
    without a base; None where urljoin raises)."""
    if href is None:
        return None
    if href.startswith("/"):
        # Root-relative href ("/p12?x=1", most links on a page) under a
        # fast-path origin: urljoin keeps the base's origin and the href
        # verbatim, and the result is already canonical (_CANON_FAST),
        # so skip both (~9us together).  "//host" hrefs, dot segments,
        # escapes, fragments and empty queries miss _FAST_ROOT_HREF.
        if base and _FAST_ROOT_HREF.match(href):
            origin = _FAST_BASE_ORIGIN.match(base)
            if origin:
                return origin.group() + href
    elif href.startswith("http://") and len(href) > 7 and href[7] not in "/?#":
        # absolute href with a netloc: urljoin returns it verbatim —
        # skip the (pure-python, ~5us) resolution entirely.  An
        # EMPTY netloc ("http:///p", "http://", "http://?q") is NOT
        # shortcut: urljoin merges those against the base.
        return canonicalize_url_py(href)
    elif href.startswith("https://") and len(href) > 8 and href[8] not in "/?#":
        return canonicalize_url_py(href)
    try:
        absolute = urljoin(base, href) if base else href
    except ValueError:
        return None
    return canonicalize_url_py(absolute)


@F.pandas_udf(T.StringType())
def resolve_canonicalize(base: pd.Series, href: pd.Series) -> pd.Series:
    """Vectorized ``resolve_canonicalize_py`` (Arrow-batched)."""
    return pd.Series([resolve_canonicalize_py(b, h) for b, h in zip(base, href)])


def norm_dns_name(col: Column | str) -> Column:
    """C3 norm_dns_name (schema.sql:893-898): lowercase + strip one
    trailing root dot — pure JVM expressions."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(c), r"\.$", "")


def dns_name_valid(col: Column | str) -> Column:
    """C3 dns_name_valid (schema.sql:27-32): label-structure check on
    the normalized name (single codegen'd rlike)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(c).rlike(HOST_PATTERN)


def url_hash(col: Column | str) -> Column:
    """Seen-set key: JVM-side xxhash64 of the canonical URL (no Python)."""
    return F.xxhash64(F.col(col) if isinstance(col, str) else col)


def url_host(col: Column | str) -> Column:
    """Built-in host extractor (url_host parity, schema.sql:982-1032)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.parse_url(c, F.lit("HOST")))


def url_path(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.parse_url(c, F.lit("PATH"))


def url_scheme(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))


def url_query(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.parse_url(c, F.lit("QUERY"))


def surt(col: Column | str) -> Column:
    """Sort-friendly URI Reordering Transform — the Common Crawl /
    Internet Archive CDX index key (public SURT spec; pywb + the
    crawler's own alexa seed ordering are the analogs): the lowercased
    host minus one leading ``www.``, labels reversed and comma-joined,
    then ``)`` + path, then ``?`` + lexicographically sorted query
    parameters (fragment dropped).

        http://WWW.News.Example.co.uk/a/b?x=2&a=1
          -> uk,co,example,news)/a/b?a=1&x=2

    Reversing the host puts every page of a registrable domain (and
    every subdomain of it) in ONE contiguous key range, which is what
    makes a petabyte CDX index range-partitionable by prefix: a
    per-domain lookup is a partition-pruned range scan, not a full-index
    filter.  Pure codegen'd string exprs — usable directly as a
    repartitionByRange key.
    """
    c = F.col(col) if isinstance(col, str) else col
    host = F.lower(F.parse_url(c, F.lit("HOST")))
    host = F.regexp_replace(host, r"^www\.", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    # non-default port is part of the origin: keep it (SURT keeps
    # ':8080' after the reversed host) or two services' capture
    # streams interleave under one CDX key.  parse_url HOST strips the
    # port, so pull it from AUTHORITY; default ports are omitted.
    port = F.regexp_extract(F.parse_url(c, F.lit("AUTHORITY")), r":(\d+)$", 1)
    scheme = F.lower(F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    default_port = F.when(scheme == "http", F.lit("80")).when(
        scheme == "https", F.lit("443")
    ).otherwise(F.lit(""))
    rev = F.concat(
        rev,
        F.when(
            (port != "") & (port != default_port), F.concat(F.lit(":"), port)
        ).otherwise(F.lit("")),
    )
    path = F.coalesce(F.parse_url(c, F.lit("PATH")), F.lit(""))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.parse_url(c, F.lit("QUERY"))
    qsorted = F.array_join(F.array_sort(F.split(query, "&")), "&")
    return F.concat(
        rev,
        F.lit(")"),
        path,
        F.when(query.isNotNull() & (query != ""), F.concat(F.lit("?"), qsorted)).otherwise(
            F.lit("")
        ),
    )
