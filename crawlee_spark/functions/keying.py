"""URL keying kernel: normalizeUrl / uniqueKey / requestId / host columns.

Reference semantics (apify/crawlee v3.18.0):

- ``normalizeUrl(url, keepFragment)`` — from the public ``@apify/utilities``
  package (apify/apify-shared-js), consumed at
  ``packages/core/src/request.ts:9,426``; behavior pinned by the doc examples at
  ``request.ts:459-461`` (``HTTP://www.EXAMPLE.com/something/`` →
  ``http://www.example.com/something``) and ``request.ts:506-511`` (fragment
  dropped unless ``keepUrlFragment``): trim; lowercase scheme + host; strip one
  trailing ``/`` from the path; drop ``utm_*`` query params; lexicographically
  sort the remaining ``k=v`` strings; drop the fragment unless kept.
- ``Request.computeUniqueKey`` — ``packages/core/src/request.ts:418-440``:
  uniqueKey = normalized URL, or ``METHOD(payloadHash):normalizedUrl`` when
  ``useExtendedUniqueKey``.
- ``Request.hashPayload`` — ``request.ts:443-445``: sha256 → base64 → strip
  ``[+/=]`` → first 8 chars.
- ``getRequestId`` — ``packages/core/src/storages/utils.ts:117-121``: sha256 of
  uniqueKey → base64 → strip ``[+/=]`` → first 15 chars.

Two implementations are provided and tested against each other:

1. a **pure-Python kernel** (`normalize_url_py`, ...) — the canonical oracle,
   also used by the vectorized pandas UDF;
2. **native Column expressions** (`request_id_col`, `host_col`, ...) — the hot
   path: stays inside whole-stage codegen, no Python boundary.

At 100 TB the native expressions are what run per-row; the pandas UDF only
normalizes URLs (a few hundred bytes/row) and is Arrow-batched.
"""

from __future__ import annotations

import base64
import hashlib
import re
from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, StructField, StructType

from crawlee_spark.functions.psl import get_domain_col, get_domain_py

# ---------------------------------------------------------------------------
# Pure-Python kernels (canonical; shared by tests, fixtures and the UDF)
# ---------------------------------------------------------------------------


def normalize_url_py(url: str | None, keep_fragment: bool = False) -> str | None:
    """Canonicalize a URL exactly like the reference's ``normalizeUrl``.

    Returns None for non-string/empty/scheme-less input (the reference returns
    null there and computeUniqueKey falls back to the raw url).
    """
    if not isinstance(url, str) or not url:
        return None
    try:
        parts = urlsplit(url.strip())
    except ValueError:
        return None
    if not parts.scheme or not parts.netloc:
        return None

    path = parts.path[:-1] if parts.path.endswith("/") else parts.path
    params = ""
    if parts.query:
        kept = [p for p in parts.query.split("&") if p and not p.split("=", 1)[0].startswith("utm_")]
        params = "&".join(sorted(kept))

    out = f"{parts.scheme.lower()}://{parts.netloc.lower()}{path}"
    if params:
        out += f"?{params}"
    if keep_fragment and parts.fragment:
        out += f"#{parts.fragment}"
    return out


def hash_payload_py(payload: bytes | str) -> str:
    """sha256 → base64 → strip ``+/=`` → first 8 chars (request.ts:443-445)."""
    if isinstance(payload, str):
        payload = payload.encode("utf-8")
    b64 = base64.b64encode(hashlib.sha256(payload).digest())
    return b64.replace(b"+", b"").replace(b"/", b"").replace(b"=", b"")[:8].decode("ascii")


def compute_unique_key_py(
    url: str,
    method: str = "GET",
    payload: bytes | str | None = None,
    keep_url_fragment: bool = False,
    use_extended_unique_key: bool = False,
) -> str:
    """``Request.computeUniqueKey`` (request.ts:418-440)."""
    normalized_method = method.upper()
    normalized_url = normalize_url_py(url, keep_url_fragment) or url
    if not use_extended_unique_key:
        return normalized_url
    payload_hash = hash_payload_py(payload) if payload else ""
    return f"{normalized_method}({payload_hash}):{normalized_url}"


def request_id_py(unique_key: str) -> str:
    """sha256(uniqueKey) → base64 → strip ``+/=`` → first 15 chars
    (packages/core/src/storages/utils.ts:117-121). ``bytes.translate`` with
    a delete set is one C pass (vs three ``replace`` passes) in the hot
    keying kernel."""
    b64 = base64.b64encode(hashlib.sha256(unique_key.encode("utf-8")).digest())
    return b64.translate(None, b"+/=")[:15].decode("ascii")


# Fast path for the keying kernel: a URL matching this regex is ALREADY in
# normalized form, i.e. ``normalize_url_py(u, kf) == u`` for any kf —
# lowercase scheme, lowercase host[:port] netloc (conservative charset: no
# userinfo/brackets — those fall through to the full parser), no query, no
# fragment, path absent or not ending in ``/``. Whitespace the parser would
# change stays off the fast path: no tab/CR/LF anywhere (urlsplit deletes
# them), no trailing whitespace (``strip``), and ``\Z`` rather than ``$``
# (``$`` also matches before a final newline). The steady-state crawl
# frontier is dominated by such URLs (they are the kernel's own output
# shape), so the per-row urlsplit + rebuild is skipped for them; property
# test pins fast-path ≡ full-parser agreement.
_NORMALIZED_URL_RE = re.compile(
    r"^[a-z][a-z0-9+.-]*://[a-z0-9.:-]+(?:/[^?#\t\r\n]*[^/?#\s])?\Z"
)


# ---------------------------------------------------------------------------
# Vectorized pandas UDFs (Arrow-batched; the only Python in the keying path)
# ---------------------------------------------------------------------------


def _unique_keys(urls: pd.Series) -> list:
    """``normalizeUrl(url) || url`` per row (request.ts:426): the regex fast
    path returns already-normalized urls as they are, the full parser runs
    on the rest, and null stays null. One list comprehension over the raw
    values — pandas ``.map`` with a lambda pays a per-row Series overhead
    this avoids."""
    match = _NORMALIZED_URL_RE.match
    norm = normalize_url_py
    return [
        u
        if (isinstance(u, str) and match(u) is not None)
        else ((norm(u, False) or u) if u is not None else None)
        for u in urls
    ]


@pandas_udf(StringType())
def _normalize_or_raw_udf(urls: pd.Series) -> pd.Series:
    return pd.Series(_unique_keys(urls), index=urls.index, dtype=object)


_KEYING_SCHEMA = StructType(
    [StructField("unique_key", StringType()), StructField("request_id", StringType())]
)


@pandas_udf(_KEYING_SCHEMA)
def keying_udf(urls: pd.Series) -> pd.DataFrame:
    """One-pass keying kernel: url → (unique_key, request_id).

    Fuses normalizeUrl + getRequestId into a single Arrow batch so the whole
    per-URL keying path runs in Python worker processes. On a shared-heap
    local JVM this also sidesteps the allocation-bound sha/base64 expression
    path; on a cluster either form works — the expression variant
    (``request_id_col``) stays available for pure-SQL plans."""
    uks = _unique_keys(urls)
    rids = [None if uk is None else request_id_py(uk) for uk in uks]
    return pd.DataFrame({"unique_key": uks, "request_id": rids}, index=urls.index)


def unique_key_col(
    url: Column | str,
    method: Column | str | None = None,
    payload: Column | str | None = None,
    use_extended: bool = False,
) -> Column:
    """D2 ``Request.computeUniqueKey`` (request.ts:418-440) as a column:
    ``normalizedUrl`` or ``METHOD(payloadHash):normalizedUrl`` when extended.

    The payload hash is D3 (sha-256 → base64 → strip ``+/=`` → 8 chars,
    request.ts:443-445); an absent payload contributes an empty hash, as in
    the reference."""
    u = F.col(url) if isinstance(url, str) else url
    normalized = _normalize_or_raw_udf(u)
    if not use_extended:
        return normalized
    m = F.upper(F.col(method) if isinstance(method, str) else (method or F.lit("GET")))
    p = F.col(payload) if isinstance(payload, str) else payload
    ph = F.when(p.isNotNull(), payload_hash_col(p)).otherwise(F.lit("")) if p is not None else F.lit("")
    return F.format_string("%s(%s):%s", m, ph, normalized)


def salted_unique_key_col(unique_key: Column | str) -> Column:
    """D8 ``keepDuplicateUrls`` (request_list.ts:398-400): pre-salt the key
    with a uuid so duplicate URLs survive dedup as distinct requests."""
    c = F.col(unique_key) if isinstance(unique_key, str) else unique_key
    return F.concat(c, F.lit("|"), F.expr("uuid()"))


# ---------------------------------------------------------------------------
# Native Column expressions (JVM-side, whole-stage codegen)
# ---------------------------------------------------------------------------


def request_id_col(unique_key: Column | str) -> Column:
    """request_id as a native expression: no Python boundary.

    ``sha2`` returns lowercase hex; ``unhex`` → raw digest; ``base64`` may chunk
    with newlines on some JVMs, so strip ``\\n`` alongside ``+/=``.
    """
    c = F.col(unique_key) if isinstance(unique_key, str) else unique_key
    return F.substring(F.translate(F.base64(F.unhex(F.sha2(c, 256))), "+/=\n", ""), 1, 15)


def payload_hash_col(payload: Column | str) -> Column:
    """hash_payload as a native expression (first 8 chars)."""
    c = F.col(payload) if isinstance(payload, str) else payload
    return F.substring(F.translate(F.base64(F.unhex(F.sha2(c, 256))), "+/=\n", ""), 1, 8)


def host_col(url: Column | str) -> Column:
    """Lower-cased hostname (no port) of a URL; trailing dot stripped
    (reference normalizeHostname, packages/utils/src/internals/url.ts:78-80).

    Uses ``try_parse_url``: ANSI ``parse_url`` throws on malformed URLs, and a
    100 TB crawl frontier always contains malformed URLs."""
    c = F.col(url) if isinstance(url, str) else url
    h = F.lower(F.try_parse_url(c, F.lit("HOST")))
    return F.regexp_replace(h, r"\.$", "")


def origin_col(url: Column | str) -> Column:
    """``scheme://host[:port]`` of a URL (lower-cased)."""
    c = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1))
    # netloc incl. port, lower-cased
    netloc = F.lower(F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    return F.concat(scheme, F.lit("://"), netloc)


def scheme_col(url: Column | str) -> Column:
    c = F.col(url) if isinstance(url, str) else url
    return F.lower(F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1))


# Registrable-domain (eTLD+1) resolution — full public-suffix-list
# semantics, mirroring tldts getDomain (politeness is per registrable domain
# in the reference: basic-crawler.ts:1565; same-domain scoping: url.ts:99-107).
# The PSL snapshot + algorithm live in functions/psl.py; the .dat is
# drop-in replaceable with the complete publicsuffix.org file. NULLABLE:
# IPs, single-label hosts and hosts that ARE a public suffix have no
# registrable domain (getDomain → null) and callers mirror the reference's
# null-domain fallbacks.


def registrable_domain_py(hostname: str | None) -> str | None:
    """Registrable domain (eTLD+1) via the public-suffix list; None when the
    host has none (IPs, localhost, bare public suffixes) — tldts getDomain
    semantics."""
    return get_domain_py(hostname)


def registrable_domain_col(host: Column | str) -> Column:
    """Registrable domain as an Arrow-vectorized PSL lookup (nullable)."""
    return get_domain_col(host)
