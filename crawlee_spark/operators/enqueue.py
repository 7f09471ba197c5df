"""enqueueLinks gating as DataFrame predicates.

Reference pipeline (packages/core/src/enqueue_links/enqueue_links.ts:235-469 +
packages/utils/src/internals/url.ts:26-119):

candidates → URL-validity (F9) → strategy scope (F1) → include globs/regexps,
exclude globs/regexps (F3) → depth gate (F7) → robots gate (F5) → transform
hook (F4) → budget (F6) → dedup + enqueue (frontier.add_requests).

Rejections are a side-output ``skipped(url, reason)`` frame with the
reference's skip reasons {robotsTxt, limit, enqueueLimit, filters, redirect,
depth} (shared.ts:50-52, basic-crawler.ts:1212-1229).

Strategy semantics (url.ts:89-119):
- all: any http(s) URL;
- same-hostname (default, enqueue_links.ts:322-324): target hostname ==
  origin hostname (trailing dot stripped);
- same-domain: registrable domains equal (public-suffix aware); origin with
  no registrable domain (IP) falls back to origin equality;
- same-origin: scheme + hostname + port equal.
Non-http(s) schemes are always rejected (url.ts:63, 131-134).

Globs are pre-compiled to regexes on the driver (minimatch nocase subset:
``*`` within a segment, ``**`` across segments, ``?`` one char) so matching
stays JVM-side via ``regexp_like`` — no Python in the filter path.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Column
from pyspark.sql import functions as F

from crawlee_spark.functions.keying import host_col, origin_col, registrable_domain_col, scheme_col

HTTP_SCHEMES = ("http", "https")


def _glob_body(glob: str) -> str:
    out = []
    i = 0
    while i < len(glob):
        ch = glob[i]
        # minimatch extglobs ?(a|b) *(a|b) +(a|b) @(a|b): quantified
        # alternation (enqueue_links.test.ts uses '?(http|https)://...')
        if ch in "?*+@" and i + 1 < len(glob) and glob[i + 1] == "(":
            j = glob.find(")", i + 2)
            if j > i:
                alts = glob[i + 2 : j].split("|")
                quant = {"?": "?", "*": "*", "+": "+", "@": ""}[ch]
                out.append("(" + "|".join(_glob_body(a) for a in alts) + ")" + quant)
                i = j + 1
                continue
        if ch == "*":
            if i + 1 < len(glob) and glob[i + 1] == "*":
                out.append(".*")
                i += 2
                continue
            out.append("[^/]*")
        elif ch == "?":
            out.append("[^/]")
        elif ch == "{":
            j = glob.find("}", i)
            if j > i:
                alts = glob[i + 1 : j].split(",")
                out.append("(" + "|".join(re.escape(a) for a in alts) + ")")
                i = j + 1
                continue
            out.append(re.escape(ch))
        else:
            out.append(re.escape(ch))
        i += 1
    return "".join(out)


def glob_to_regex(glob: str, nocase: bool = True) -> str:
    """Compile a minimatch-style URL glob to a Java-regex string.

    Supports ``**`` (any chars incl. ``/``), ``*`` (any chars except ``/``),
    ``?`` (one char except ``/``), ``{a,b}`` alternation, and the
    ``?( )/*( )/+( )/@( )`` extglob alternations — the subset the reference's
    enqueueLinks glob usage exercises (enqueue_links.test.ts:93-686)."""
    return ("(?i)" if nocase else "") + "^" + _glob_body(glob) + "$"


def purl_to_regex(purl: str) -> str:
    """Pseudo-URL → Java-regex string (the public @apify/pseudo_url
    ``purlToRegExp`` contract, used by enqueueLinks' deprecated ``pseudoUrls``
    option, shared.ts:96-110): characters inside top-level ``[...]`` sections
    are raw regex, everything outside is matched literally (escaped),
    anchored ``^...$`` and case-insensitive."""
    trimmed = purl.strip()
    if not trimmed:
        raise ValueError("Cannot parse PURL: it must be a non-empty string")
    out = []
    open_brackets = 0
    for ch in trimmed:
        if ch == "[":
            open_brackets += 1
            if open_brackets == 1:
                continue  # top-level opener: start of a raw-regex section
        elif ch == "]" and open_brackets > 0:
            open_brackets -= 1
            if open_brackets == 0:
                continue  # top-level closer
        if open_brackets > 0:
            out.append(ch)
        else:
            out.append(re.escape(ch))
    return "(?i)^" + "".join(out) + "$"


@dataclass(frozen=True)
class UrlPattern:
    """One enqueueLinks pattern object: ``{glob|regexp|purl, ...overrides}``
    (shared.ts:24-48 GlobObject/RegExpObject/PseudoUrlObject).

    Exactly one of ``glob``/``regexp``/``purl`` must be set. The override
    fields, when not None, replace the matched request's own values — the
    reference spreads ``{...opts, ...requestRegExpOptions}`` so pattern
    options win (shared.ts:190-205)."""

    glob: str | None = None
    regexp: str | None = None
    purl: str | None = None
    label: str | None = None
    user_data: str | None = None  # JSON string (userData column convention)
    method: str | None = None
    payload: str | None = None

    def to_regex(self) -> str:
        given = [x for x in (self.glob, self.regexp, self.purl) if x is not None]
        if len(given) != 1:
            raise ValueError("UrlPattern needs exactly one of glob/regexp/purl")
        if self.glob is not None:
            return glob_to_regex(self.glob)
        if self.purl is not None:
            return purl_to_regex(self.purl)
        return self.regexp


@dataclass(frozen=True)
class EnqueueOptions:
    """Mirror of enqueueLinks options that gate candidates.

    ``patterns`` carries the object form (``{glob|regexp|purl, label?,
    userData?, method?, payload?}``): ordered, include-gating like
    globs/regexps, and the FIRST matching pattern's overrides are applied to
    the request (createRequests, shared.ts:169-212). Plain ``globs`` and
    ``regexps`` are the string form; when any include pattern exists (either
    form) a URL must match at least one. Match order for overrides follows
    the reference's urlPatternObjects assembly: pseudoUrls → globs → regexps
    — here simply the order of ``patterns``."""

    strategy: str = "same-hostname"  # default: enqueue_links.ts:322-324
    globs: tuple[str, ...] = ()
    exclude_globs: tuple[str, ...] = ()
    regexps: tuple[str, ...] = ()
    exclude_regexps: tuple[str, ...] = ()
    patterns: tuple[UrlPattern, ...] = ()
    max_crawl_depth: int | None = None
    limit: int | None = None
    # plain enqueueLinks({label, userData}) shorthands (enqueue_links.ts:53-62,
    # createRequestOptions shared.ts:261-268): applied to every accepted
    # candidate; a matching pattern object's own override wins (the pattern
    # chain runs after, with these as its fallback)
    label: str | None = None
    user_data: str | None = None
    # F4 transformRequestFunction (shared.ts:299-305) carried with the
    # options so per-label option sets bring their own transform
    transform: "object | None" = None


def strategy_predicate(strategy: str, url: Column, origin_url: Column) -> Column:
    """F1 scope filter vs the *source page* URL (vectorized, no UDF)."""
    t_host = host_col(url)
    o_host = host_col(origin_url)
    if strategy == "all":
        return F.lit(True)
    if strategy == "same-hostname":
        return t_host == o_host
    if strategy == "same-domain":
        t_dom = registrable_domain_col(t_host)
        o_dom = registrable_domain_col(o_host)
        # getDomain is NULL for origins with no registrable domain (IPs,
        # bare public suffixes like github.io, single-label hosts): fall
        # back to comparing ORIGINS, exactly url.ts:100-106. The explicit
        # isNotNull keeps the predicate 2-valued — a NULL here would leak
        # through gate_candidates' when-chain as an accept.
        return F.when(
            o_dom.isNull(), origin_col(url) == origin_col(origin_url)
        ).otherwise(t_dom.isNotNull() & (t_dom == o_dom))
    if strategy == "same-origin":
        t_port = F.coalesce(F.try_parse_url(url, F.lit("HOST")), F.lit(""))
        o_port = F.coalesce(F.try_parse_url(origin_url, F.lit("HOST")), F.lit(""))
        # compare scheme + full lowercased netloc (host:port)
        t_netloc = F.lower(F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
        o_netloc = F.lower(F.regexp_extract(origin_url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
        return (scheme_col(url) == scheme_col(origin_url)) & (t_netloc == o_netloc)
    raise ValueError(f"unknown enqueue strategy: {strategy}")


def matches_enqueue_strategy_col(
    url: Column | str, loaded_url: Column | str, strategy: Column | str
) -> Column:
    """F2 ``requestMatchesEnqueueStrategy`` (basic-crawler.ts:2124-2168):
    after load, does ``loaded_url`` still satisfy the strategy recorded at
    enqueue time vs the original ``url``? NULL strategy or NULL loaded_url
    ⇒ matches (the reference assumes a match in both cases)."""
    u = F.col(url) if isinstance(url, str) else url
    lu = F.col(loaded_url) if isinstance(loaded_url, str) else loaded_url
    s = F.col(strategy) if isinstance(strategy, str) else strategy
    per_strategy = (
        F.when(s == "same-hostname", strategy_predicate("same-hostname", lu, u))
        .when(s == "same-domain", strategy_predicate("same-domain", lu, u))
        .when(s == "same-origin", strategy_predicate("same-origin", lu, u))
        .when(s == "all", scheme_col(u).isin(*HTTP_SCHEMES))
        .otherwise(F.lit(True))
    )
    return F.when(s.isNull() | lu.isNull(), F.lit(True)).otherwise(per_strategy)


def gate_candidates(
    links: DataFrame,
    options: EnqueueOptions,
    *,
    url_col: str = "url",
    origin_col_name: str = "origin_url",
    depth_col: str = "crawl_depth",
    robots_ok_col: str | None = None,
    transform=None,
) -> tuple[DataFrame, DataFrame]:
    """Apply F1/F3/F5/F7 gates; returns (accepted, skipped(url, reason)).

    ``links`` must carry the candidate URL, its source page URL
    (``origin_url``) and its depth; when ``robots_ok_col`` is given the
    robots gate runs too, reading that boolean column: the caller evaluates
    ``robots_allowed_udf`` once and pins it, so the gate itself stays
    JVM-only however many actions read it.

    ``transform`` is the F4 ``transformRequestFunction`` hook
    (shared.ts:299-305): a ``DataFrame → DataFrame`` callable applied to the
    accepted set — it may mutate columns or drop rows (the reference's
    falsy-return drop); transform-dropped rows are silent, matching the
    reference (no skip reason is defined for them)."""
    url = F.col(url_col)
    origin = F.col(origin_col_name)

    checks: list[tuple[str, Column]] = []
    # scheme validity (always): non-http(s) rejected with reason 'filters'
    checks.append(("filters", scheme_col(url).isin(*HTTP_SCHEMES) & host_col(url).isNotNull()))
    checks.append(("filters", strategy_predicate(options.strategy, url, origin)))

    pattern_matches = [url.rlike(p.to_regex()) for p in options.patterns]
    if options.globs or options.regexps or options.patterns:
        pats = [glob_to_regex(g) for g in options.globs] + list(options.regexps)
        inc = F.lit(False)
        for m in pattern_matches:
            inc = inc | m
        for p in pats:
            inc = inc | url.rlike(p)
        checks.append(("filters", inc))
    for g in options.exclude_globs:
        checks.append(("filters", ~url.rlike(glob_to_regex(g))))
    for r in options.exclude_regexps:
        checks.append(("filters", ~url.rlike(r)))

    if options.max_crawl_depth is not None:
        checks.append(("depth", F.col(depth_col) <= options.max_crawl_depth))

    if robots_ok_col is not None:
        checks.append(("robotsTxt", F.col(robots_ok_col)))

    # first failing gate names the skip reason (reference applies them in order)
    reason = F.lit(None).cast("string")
    for name, pred in reversed(checks):
        reason = F.when(~pred, F.lit(name)).otherwise(reason)

    tagged = links.withColumn("_skip_reason", reason)
    accepted = tagged.filter(F.col("_skip_reason").isNull()).drop("_skip_reason")
    # plain label/userData options stamp every accepted candidate
    # (createRequestOptions, shared.ts:261-268) BEFORE the pattern chain, so
    # a matching pattern's own override wins via the chain's fallback. A
    # candidate arriving WITH a label/user_data already set (handler-emitted
    # requests: the per-row enqueue_label analog of enqueueLinks({urls,
    # label})) keeps its own value — the route option is the fallback.
    for base_field in ("label", "user_data"):
        base_val = getattr(options, base_field)
        if base_val is not None:
            if base_field in accepted.columns:
                accepted = accepted.withColumn(
                    base_field, F.coalesce(F.col(base_field), F.lit(base_val))
                )
            else:
                accepted = accepted.withColumn(base_field, F.lit(base_val))
    # per-pattern requestOptions: the FIRST matching pattern's non-null
    # overrides replace the candidate's values (shared.ts:190-205) — a
    # when-chain in declaration order, all JVM-side
    if options.patterns:
        for field_name, col_name in (
            ("label", "label"),
            ("user_data", "user_data"),
            ("method", "method"),
            ("payload", "payload"),
        ):
            existing = (
                F.col(col_name) if col_name in accepted.columns else F.lit(None).cast("string")
            )
            expr = None
            for pat, m in zip(options.patterns, pattern_matches):
                v = getattr(pat, field_name)
                val = F.lit(v) if v is not None else existing
                expr = F.when(m, val) if expr is None else expr.when(m, val)
            accepted = accepted.withColumn(col_name, expr.otherwise(existing))
    transform = transform if transform is not None else options.transform
    if transform is not None:
        accepted = transform(accepted)
    skipped = (
        tagged.filter(F.col("_skip_reason").isNotNull())
        .select(url.alias("url"), F.col("_skip_reason").alias("reason"))
    )
    return accepted, skipped
