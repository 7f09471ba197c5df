"""Public-suffix resolution — the registrable-domain (eTLD+1) kernel.

The reference keys two behaviors on tldts ``getDomain`` (full Mozilla
public-suffix list): the ``same-domain`` enqueue strategy
(packages/utils/src/internals/url.ts:99-107) and per-domain politeness
(packages/basic-crawler/src/internals/basic-crawler.ts:1560-1569). Both
need real PSL semantics on open-web data — ``foo.github.io`` and
``bar.github.io`` are DIFFERENT registrable domains (``github.io`` is a
private public suffix), ``shop.example.com.mx`` groups under
``example.com.mx`` (multi-label ICANN suffix), and ``www.city.kobe.jp``
resolves through a wildcard rule plus its exception.

Data: ``crawlee_spark/data/public_suffix_list.dat`` — a bundled snapshot in
the OFFICIAL publicsuffix.org grammar (plain / ``*.`` wildcard / ``!``
exception rules). Drop the complete upstream file at the same path for
full-registry coverage; this module re-parses whatever is there on import.
Only multi-label rules matter at runtime: the algorithm's implicit default
rule ``*`` already makes every unlisted plain TLD a public suffix.

Algorithm (https://publicsuffix.org/list/ §Algorithm): among all rules
matching the hostname right-to-left (``*`` matches exactly one label), an
exception rule prevails, else the rule with the most labels; the
registrable domain is the public suffix plus one more label. Mirroring
tldts ``getDomain``, hosts with NO registrable domain return None: IP
addresses, single-label hosts (``localhost``), and hosts that ARE a public
suffix (``github.io`` itself).

Execution shape for 100 TB: the compiled rule sets are three frozensets
(hash lookups, O(#labels) per host) embedded in an Arrow-vectorized pandas
UDF with a per-batch host memo — web batches repeat hosts heavily, so the
amortized cost is one dict probe per row. This rides the keying path's
existing Arrow boundary; no join, no shuffle, no broadcast needed.
"""

from __future__ import annotations

import re
from importlib import resources

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_IPV4_RE = re.compile(r"^(?:\d{1,3}\.){3}\d{1,3}$")


def _load_rules() -> tuple[frozenset, frozenset, frozenset, int]:
    """Parse the bundled .dat → (exact, wildcard_parents, exceptions, max_depth).

    Wildcard rule ``*.kobe.jp`` is stored as its parent ``kobe.jp``;
    exception ``!city.kobe.jp`` as ``city.kobe.jp``. Unicode rules are also
    indexed in IDNA/punycode form so punycoded hostnames (the WHATWG-URL
    wire form) match either spelling of the rule.
    """
    text = (
        resources.files("crawlee_spark.data")
        .joinpath("public_suffix_list.dat")
        .read_text(encoding="utf-8")
    )
    exact: set[str] = set()
    wildcard: set[str] = set()
    exceptions: set[str] = set()
    max_depth = 1
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("//"):
            continue
        rule = line.split()[0].lower()
        # index each rule under BOTH spellings: hostnames arrive either
        # punycoded (the WHATWG-URL wire form) or raw-unicode (unnormalized
        # hrefs), and the .dat may carry either form
        forms = {rule}
        if not rule.isascii():
            try:
                forms.add(rule.encode("idna").decode("ascii"))
            except UnicodeError:
                pass
        elif "xn--" in rule:
            try:
                forms.add(rule.encode("ascii").decode("idna"))
            except UnicodeError:
                pass
        for r in forms:
            if r.startswith("!"):
                exceptions.add(r[1:])
                max_depth = max(max_depth, r.count("."))  # suffix is one shorter
            elif r.startswith("*."):
                wildcard.add(r[2:])
                max_depth = max(max_depth, r.count(".") + 1)
            else:
                exact.add(r)
                max_depth = max(max_depth, r.count(".") + 1)
    return frozenset(exact), frozenset(wildcard), frozenset(exceptions), max_depth


_EXACT, _WILDCARD, _EXCEPTION, _MAX_DEPTH = _load_rules()


def public_suffix_len(labels: list[str]) -> int:
    """Number of labels in the prevailing public suffix of ``labels``
    (already lowercased, no empty labels). Implicit default rule ``*``
    makes the answer at least 1."""
    n = len(labels)
    best = 1
    for d in range(1, min(n, _MAX_DEPTH + 1) + 1):
        sfx = ".".join(labels[n - d :])
        if sfx in _EXCEPTION:
            # exception prevails immediately; its suffix drops the left label
            return d - 1
        if sfx in _EXACT:
            best = d if d > best else best
        if d >= 2 and ".".join(labels[n - d + 1 :]) in _WILDCARD:
            best = d if d > best else best
    return best


def get_domain_py(hostname: str | None) -> str | None:
    """tldts ``getDomain`` semantics: registrable domain (eTLD+1) of a
    hostname, or None when the host has no registrable domain (IP
    addresses, single-label hosts, hosts that are themselves a public
    suffix)."""
    if not hostname:
        return None
    h = hostname.strip().lower().rstrip(".")
    if not h or ":" in h or _IPV4_RE.match(h):
        return None
    labels = h.split(".")
    if len(labels) < 2 or "" in labels:
        return None
    ps = public_suffix_len(labels)
    if len(labels) <= ps:
        return None
    return ".".join(labels[-(ps + 1) :])




@pandas_udf(StringType())
def get_domain_udf(hosts: pd.Series) -> pd.Series:
    # per-batch memo: crawl batches repeat hosts heavily — amortizes the
    # label walk to one dict probe per row
    memo: dict = {}

    def one(h):
        try:
            return memo[h]
        except KeyError:
            memo[h] = d = get_domain_py(h)
            return d

    return hosts.map(one)


def get_domain_col(host: Column | str) -> Column:
    """Registrable domain of a hostname Column (Arrow-vectorized PSL
    lookup). NULL for hosts without one — callers mirror the reference's
    null-domain fallbacks (origin compare in same-domain, politeness
    bypass)."""
    c = F.col(host) if isinstance(host, str) else host
    return get_domain_udf(c)
