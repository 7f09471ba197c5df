"""CrawlEngine: the crawl loop as batch-incremental rounds over the frontier.

One round = the set-wise equivalent of BasicCrawler._runTaskFunction
(basic-crawler.ts:1601-1747) applied to the whole claimable set at once:

  claim (O2-O5, C3) → lease commit (O5) → fetch = frontier ⋈ pages (S11
  replacement) + MIME/status gate (E5, E9) → extract text + links (E1-E2
  Arrow UDFs) → user hooks (C13) → round aggregate → gate links (F1-F9) +
  dedup + enqueue (D5) → side outputs: skipped, results, outcome log (C10),
  session and proxy state, staged → outcome commit: success / retry / fail
  (C4-C5, O8-O9, C11), which also publishes the staged side outputs.

``run_round`` calls one method per phase, in that order.

The engine writes no file itself: every side table is a
``FrontierStore.stage`` of a new version, and nothing is staged before the
lease commit, so the outcome commit's manifest swap publishes the whole
round at once. A crash anywhere in a round leaves every reader on the last
committed round.

Retry policy (basic-crawler.ts:1881-1941):
- blocked statuses {401,403,429} (session_pool/consts.ts:1) ⇒ session
  rotation: retry WITHOUT consuming retryCount until
  maxSessionRotations (default 10) is hit (basic-crawler.ts:1870-1876);
- 5xx / missing page ⇒ retryable error: retry while
  retryCount < (request.maxRetries ?? maxRequestRetries=3), else final fail;
- other 4xx / unsupported MIME ⇒ non-retryable ⇒ immediate final fail
  (http-crawler.ts:914-930 body-abort → noRetry);
- reclaimed rows go to the back of the FIFO with a fresh order_no (the
  reference re-stamps orderNo=±now on reclaim, request-queue.ts:661-667),
  keeping the original ``forefront`` flag (O12, basic-crawler.ts:1591).

Determinism: no wall clock anywhere — order_no is a driver sequence,
leases are round numbers, handled_at derives from warc-epoch + round.
A killed run resumes from the last committed manifest and replays the
round identically (tested in tests/test_engine.py::test_resume).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Callable
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:
    import pandas as pd

from crawlee_spark.functions.errors import error_snapshot_filename_col
from crawlee_spark.functions.html_text import extract_page_udf
from crawlee_spark.functions.keying import host_col
from crawlee_spark.functions.robots import robots_allowed_udf
from crawlee_spark.operators.enqueue import (
    EnqueueOptions, gate_candidates, matches_enqueue_strategy_col,
)
from crawlee_spark.operators.frontier import (
    FRONTIER_SCHEMA,
    STATE_BEFORE_NAV,
    STATE_DONE,
    STATE_SKIPPED,
    STATE_ERROR,
    URL_KEY_COLS,
    FrontierStore,
    candidates_to_requests,
    with_url_keys,
)
from crawlee_spark.operators.handlers import (
    ENQUEUE_LABEL_COL, ENQUEUE_OUTPUT_TYPES, ENQUEUE_URLS_COL, ENQUEUE_USER_DATA_COL,
    ERROR_MUTABLE_COLS, HANDLER_INPUT_COLS, RequestHandler, apply_error_handler,
    apply_request_handlers, merged_extra_fields,
)
from crawlee_spark.operators.kvstore import KeyValueStore
from crawlee_spark.operators.proxies import (
    TRACKER_STATE_SCHEMA, predict_proxy_tiers, rotate_proxies, split_assignments,
)
from crawlee_spark.operators.scheduler import (
    PolitenessPolicy,
    claim_round,
    global_row_number,
)
from crawlee_spark.operators.sessions import (
    SessionPolicy, assign_sessions, make_pool, replenish_pool, update_pool,
)
from crawlee_spark.operators.sizing import fits_broadcast, maybe_broadcast
from crawlee_spark.operators.stats import (
    OUTCOME_SCHEMA, final_statistics, persist_run_statistics,
)
from crawlee_spark.sources.urls import parse_content_type_cols

BLOCKED_STATUS_CODES = (401, 403, 429)  # session_pool/consts.ts:1
SUPPORTED_MIME = (  # http-crawler.ts:65-66
    "text/html",
    "text/xml",
    "application/xhtml+xml",
    "application/xml",
    "application/json",
)
# The fetch join prunes the pages scan only when the pages source's files
# reach this size: below it a full shuffle is cheaper than the
# distinct + broadcast + semi-join machinery (measured -7% at a 40 MB corpus,
# while at the 100 TB design point the plain join shuffles the corpus).
PAGES_PRUNE_MIN_BYTES = 1 << 30
# ErrorSnapshotter: snapshots saved per round at most (smallest filenames
# first), so the driver-side write loop stays bounded by error-template
# cardinality
MAX_ERROR_SNAPSHOTS_PER_ROUND = 100
PROXY_LAST_SCHEMA = "request_id string, last_proxy_tier int"


def _skip_nav() -> Column:
    """request.skipNavigation (request.ts:268-277: stored in
    userData.__crawlee.skipNavigation — same wire format here)."""
    return F.coalesce(
        F.get_json_object(F.col("user_data"), "$.__crawlee.skipNavigation").cast("boolean"),
        F.lit(False),
    )


def _push_error(err: Column, when: Column | None = None) -> Column:
    """pushErrorMessage: ``error_messages`` with ``err`` appended where
    ``when`` holds and ``err`` is not null, else unchanged."""
    pushed = err.isNotNull() if when is None else when & err.isNotNull()
    return F.when(
        pushed, F.concat(F.coalesce(F.col("error_messages"), F.array()), F.array(err))
    ).otherwise(F.col("error_messages"))


def _logged_outcome() -> Column:
    """The outcome a round attempt is logged with: a redirect-strategy skip
    is handled and finished, so it logs (and rates its session) as a
    success."""
    return (
        F.when(F.col("_outcome") == "skip_redirect", F.lit("success"))
        .otherwise(F.col("_outcome"))
        .alias("outcome")
    )


def fetch_join(claimed: DataFrame, pages: DataFrame, *, prune_pages: bool = True) -> DataFrame:
    """The fetch stage: ``claimed LEFT JOIN pages`` on url (S11 replacement —
    a missing page row is a fetch error).

    ``pages`` is the BIG side (the 100 TB WARC-store analog) and ``claimed``
    is bounded by ``max_concurrency``, so a plain left join — which must
    shuffle BOTH sides on url — would shuffle the entire corpus every round.
    (Broadcasting directly into the left join is impossible: the preserved
    side of an outer join cannot be the build side.) Instead the claim's
    urls broadcast into a LEFT SEMI join that prunes the pages scan to the
    claimed rows — a map-only pass over the corpus — and the actual left
    join then runs at claim size on both sides. ``prune_pages=False`` is
    the plain join; the engine picks it when the pages source is below
    ``PAGES_PRUNE_MIN_BYTES`` or the claim's urls fail
    ``sizing.fits_broadcast``."""
    if not prune_pages:
        return claimed.join(pages, claimed["url"] == pages["page_url"], "left").drop("page_url")
    claim_urls = claimed.select(F.col("url").alias("page_url")).distinct()
    relevant = pages.join(F.broadcast(claim_urls), "page_url", "left_semi")
    return claimed.join(relevant, claimed["url"] == relevant["page_url"], "left").drop("page_url")


@dataclass
class CrawlOptions:
    max_request_retries: int = 3  # basic-crawler.ts:646
    max_session_rotations: int = 10  # basic-crawler.ts:648
    max_requests_per_crawl: int | None = None  # F6
    max_crawl_depth: int | None = None  # F7
    enqueue: EnqueueOptions = field(default_factory=EnqueueOptions)
    max_rounds: int = 1000
    # E6: override every response's charset (http-crawler.ts forceResponseEncoding);
    # default: the Content-Type header's charset parameter, else utf-8
    force_response_encoding: str | None = None
    # C7 requestHandlerTimeoutSecs (basic-crawler.ts:735-770): in the batch
    # model the handler cost is data (a ``handler_ms`` column on pages —
    # measured in production, synthesized in tests); a row over the limit is
    # a retryable TimeoutError exactly like the reference (consumes
    # retryCount, message 'requestHandler timed out after N seconds.').
    # None disables the gate (and sources without handler_ms are never gated).
    request_handler_timeout_secs: float | None = None
    # C13/Router: per-label user request handlers (router.ts dispatch,
    # basic-crawler.ts:159-175). Maps label -> RequestHandler (operators/
    # handlers.py); the None key is the default route. Each handler is an
    # Arrow-batched function over its label's slice of the round's successes;
    # its declared extra columns flow into the results dataset. A label with
    # no route and no default aborts the crawl (MissingRouteError ==
    # CriticalError, basic-crawler.ts:1889); a handler THROW is retryable
    # exactly like a fetch error (basic-crawler.ts:1880-1941).
    handlers: "dict[str | None, RequestHandler] | None" = None
    # Proxy rotation policy (proxy_configuration.ts): plain proxy_urls =
    # sticky per-session assignment persisted across rounds; tiered urls =
    # per-domain error-driven tier escalation (ProxyTierTracker state
    # persisted round-to-round; a retried request charges the tier its
    # previous attempt used). Assignment lands as proxy_tier/proxy_url
    # columns on the claim set and the outcomes log. No network — the
    # POLICY is the modeled surface.
    proxy_config: "object | None" = None
    # ErrorSnapshotter (statisticsOptions.saveErrorSnapshots,
    # error_snapshotter.ts:42-160): persist errored attempts' page bodies
    # under ERROR_SNAPSHOT_* keys in the run's KV store. Opt-in; costs one
    # extra wide checkpoint per round. Snapshot count per round is capped at
    # MAX_ERROR_SNAPSHOTS_PER_ROUND.
    save_error_snapshots: bool = False
    # E5 extension (HttpCrawlerOptions.additionalMimeTypes,
    # http-crawler.ts:146/:301/:361): content types accepted IN ADDITION to
    # the built-in SUPPORTED_MIME prefixes
    additional_mime_types: "tuple[str, ...]" = ()
    # Per-label enqueueLinks options: in the reference each route's handler
    # calls enqueueLinks with its OWN globs/strategy/label (the canonical
    # listing->detail pattern). Maps the ORIGIN page's label to the
    # EnqueueOptions its discovered links are gated with; labels without an
    # entry (and null labels) use the None entry, else `enqueue`. Gating
    # options only — the enqueue BUDGET (`limit`) stays global and is read
    # from `enqueue` (per-label limits would need per-label TakeOrdered
    # cuts; the reference's limit is likewise per-call, not per-label).
    enqueue_by_label: "dict[str | None, EnqueueOptions] | None" = None
    # errorHandler (basic-crawler.ts:1896-1899): set-wise hook over the
    # round's would-retry slice, AFTER the error is pushed and BEFORE
    # retry_count increments. fn(pdf) -> pd.DataFrame may return mutated
    # user_data / no_retry / max_retries / forefront / label columns (the
    # reference's errorHandler mutates the request in place); returning
    # no_retry=True converts the retry into a finalized failure, exactly
    # like request.noRetry in the reference (basic-crawler.ts:1904).
    error_handler: "Callable[[pd.DataFrame], pd.DataFrame] | None" = None
    # failedRequestHandler (basic-crawler.ts:1953-1965): set-wise hook over
    # the round's finalized failures, seeing error_messages WITH the final
    # error already pushed. fn(pdf) -> pd.DataFrame | None; returned rows
    # (schema: failed_handler_schema, plus round_id) append to the
    # ``failed_handled()`` table.
    failed_request_handler: "Callable[[pd.DataFrame], pd.DataFrame] | None" = None
    failed_handler_schema: "T.StructType | None" = None


@dataclass
class CrawlEngine:
    spark: SparkSession
    store: FrontierStore
    pages: DataFrame  # url, warc_ts, html, text?, lang?, status_code?, content_type?
    robots: DataFrame | None = None  # host, robots_txt
    policy: PolitenessPolicy = field(default_factory=PolitenessPolicy)
    options: CrawlOptions = field(default_factory=CrawlOptions)
    session_policy: "SessionPolicy | None" = None  # enable the session pool (C6)

    def __post_init__(self):
        merged = (
            [f.name for f in merged_extra_fields(self.options.handlers)]
            if self.options.handlers
            else []
        )
        # enqueue_urls / enqueue_label / enqueue_user_data are ENGINE-consumed
        # handler outputs (handler-emitted requests, basic-crawler.ts:
        # 1651-1672): they feed the link gate, never the results dataset
        self._handler_extra_names = [c for c in merged if c not in ENQUEUE_OUTPUT_TYPES]
        self._handler_enqueue_cols = [c for c in merged if c in ENQUEUE_OUTPUT_TYPES]
        self._handler_emits = ENQUEUE_URLS_COL in self._handler_enqueue_cols
        if (
            self.options.failed_request_handler is not None
            and self.options.failed_handler_schema is None
        ):
            raise ValueError(
                "failed_request_handler requires failed_handler_schema "
                "(the columns of the frame it returns)"
            )
        # size the robots dim ONCE: broadcast only when provably small
        self._robots = maybe_broadcast(self.robots) if self.robots is not None else None
        cols = self.pages.columns
        pages = self.pages
        if "status_code" not in cols:
            pages = pages.withColumn("status_code", F.lit(200))
        if "content_type" not in cols:
            pages = pages.withColumn("content_type", F.lit("text/html"))
        if "loaded_url" not in cols:  # no-redirect source: final url = url
            pages = pages.withColumn("loaded_url", F.col("url"))
        # E6: per-row charset — forceResponseEncoding ▸ header charset ▸ utf-8
        if self.options.force_response_encoding:
            pages = pages.withColumn("charset", F.lit(self.options.force_response_encoding))
        elif "charset" not in cols:
            _, charset = parse_content_type_cols(
                F.coalesce(F.col("content_type"), F.lit("")), F.col("url")
            )
            pages = pages.withColumn("charset", charset)
        if "handler_ms" not in cols:  # C7: no cost column ⇒ never times out
            pages = pages.withColumn("handler_ms", F.lit(None).cast("long"))
        self._pages = pages.withColumnRenamed("url", "page_url")
        # size the pages source ONCE (driver metadata only) to pick the
        # fetch-join strategy; sources with no file footprint (synthesized
        # test frames) stay on the plain join
        try:
            total = sum(os.path.getsize(urlparse(f).path) for f in self._pages.inputFiles())
        except Exception:
            total = 0
        self._prune_fetch = total >= PAGES_PRUNE_MIN_BYTES

    # -- committed side tables -------------------------------------------------
    def results(self) -> DataFrame:
        return self.store.table(
            "results",
            "request_id string, url string, loaded_url string, text string, "
            "crawl_depth int, label string, round_id int",
        )

    def outcomes(self) -> DataFrame:
        return self.store.table("outcomes", OUTCOME_SCHEMA)

    def skipped(self) -> DataFrame:
        return self.store.table("skipped", "url string, reason string, round_id int")

    def failed_handled(self) -> DataFrame:
        """The rows ``failed_request_handler`` returned, with their round."""
        fields = (self.options.failed_handler_schema or T.StructType()).fields
        return self.store.table(
            "failed_handled", T.StructType([*fields, T.StructField("round_id", T.IntegerType())])
        )

    def final_statistics(self) -> dict:
        return final_statistics(self.outcomes())

    # -- session pool (C6) ------------------------------------------------------
    def session_pool(self) -> DataFrame | None:
        """The committed pool; before the first round, a fresh one."""
        if self.session_policy is None:
            return None
        return self.store.table(
            "sessions", make_pool(self.spark, self.session_policy.max_pool_size, 0)
        )

    # -- proxy rotation policy (proxy_configuration.ts) -----------------------
    def _assign_proxies(self, claimed: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Stamp proxy_tier/proxy_url onto the claim set (the newProxyInfo
        call the reference makes per request before navigation); also
        returns the new rotation state, which the side outputs stage."""
        cfg = self.options.proxy_config
        if getattr(cfg, "proxy_urls", ()):
            return self._assign_plain_proxies(claimed, cfg)
        return self._assign_tiered_proxies(claimed, cfg)

    def _assign_plain_proxies(self, claimed: DataFrame, cfg) -> tuple[DataFrame, DataFrame]:
        """Sticky rotation (proxy_configuration.ts:400-415): a SESSION keeps
        the url it first drew; first-appearance ranks continue across rounds
        via the persisted session->url map (usedProxyUrls, bounded by the
        pool size). Without a session pool the reference round-robins per
        call and keeps NO per-call state — the deterministic set analog is
        a per-request in-batch rotation whose index continues from a
        persisted scalar offset (nextCustomUrlIndex), so nothing
        per-request is ever written."""
        with_sessions = self.session_policy is not None
        keyed = claimed.withColumn(
            "_pkey", F.col("session_id") if with_sessions else F.col("request_id")
        )
        if with_sessions:
            existing = self.store.table("proxy_state", "session_key string, proxy_url string")
            n_existing = existing.count()
            fresh = keyed.join(
                existing.withColumnRenamed("session_key", "_pkey"), "_pkey", "left_anti"
            )
        else:  # scalar offset table: one row, one long
            draws = self.spark.createDataFrame([(0,)], "draws long")
            n_existing = self.store.table("proxy_state", draws).collect()[0]["draws"]
            fresh = keyed
        # claim order = ascending signed order_no (forefront first) — and it
        # is UNIQUE, which the two-phase rank requires; abs() would both
        # reorder and create cross-sign ties. Pinned: the side outputs stage
        # it after the lease commit, whose compaction may delete the deltas
        # the claim read
        new_map = rotate_proxies(
            fresh.select("_pkey", F.col("order_no").alias("_ord")),
            cfg.proxy_urls,
            session_col="_pkey",
            order_col="_ord",
            num_partitions=self.store.num_partitions,
            rank_offset=n_existing,
        ).withColumnRenamed("_pkey", "session_key").localCheckpoint(eager=True)
        if with_sessions:
            state = new_state = existing.unionByName(new_map)
        else:
            state = new_map
            new_state = self.spark.createDataFrame([(n_existing + new_map.count(),)], "draws long")
        assigned = (
            keyed.join(state.withColumnRenamed("session_key", "_pkey"), "_pkey", "left")
            .drop("_pkey")
            .withColumn("proxy_tier", F.lit(None).cast("int"))
        )
        return assigned, new_state

    def _assign_tiered_proxies(self, claimed: DataFrame, cfg) -> tuple[DataFrame, DataFrame]:
        """Per-domain tier escalation (proxy_configuration.ts:337-368): the
        ordered claim replay charges each RETRY's previous tier (+10),
        predicts with decay, and the tracker state — histogram, current
        tier, rotation index — persists round-to-round per domain.
        Untouched domains carry their state forward."""
        state = self.store.table("proxy_state", TRACKER_STATE_SCHEMA)
        att = claimed.select(
            "request_id",
            host_col("url").alias("domain"),
            # replay in claim order: ascending signed order_no (unique)
            F.col("order_no").alias("_ord"),
        ).join(self.store.table("proxy_last", PROXY_LAST_SCHEMA), "request_id", "left")
        out = predict_proxy_tiers(
            att,
            cfg.tiered_proxy_urls,
            state=state,
            domain_col="domain",
            order_col="_ord",
            request_col="request_id",
            last_tier_col="last_proxy_tier",
        ).localCheckpoint(eager=True)  # one replay pinned for both outputs
        assignments, new_state = split_assignments(out)
        carried = state.join(new_state.select("domain"), "domain", "left_anti")
        assigned = claimed.join(
            assignments.select("request_id", "proxy_tier", "proxy_url"),
            "request_id",
            "left",
        )
        return assigned, new_state.unionByName(carried)

    def _proxy_last(self, classified: DataFrame) -> DataFrame:
        """The tier each WOULD-RETRY request just used (the
        userData.__crawlee.lastProxyTier analog, proxy_configuration.ts:
        349-364): next round's claim replay charges it. Finalized requests
        drop out; the table is bounded by outstanding retries."""
        retries = classified.filter(
            F.col("_outcome").isin("retry", "session_retry")
        ).select("request_id", F.col("proxy_tier").alias("last_proxy_tier"))
        kept = self.store.table("proxy_last", PROXY_LAST_SCHEMA).join(
            classified.select("request_id"), "request_id", "left_anti"
        )
        return kept.unionByName(retries)

    def _save_error_snapshots(self, wide: DataFrame) -> None:
        """ErrorSnapshotter.captureSnapshot as a set operation
        (error_snapshotter.ts:50-131): errored attempts that still carry a
        body persist it under the reference's filename scheme
        (``error_snapshot_filename_col``) in the run's KV store with
        content-type text/html. One combinable min-per-filename aggregate +
        ONE bounded collect: filenames hash the full (template-generated)
        error message, so cardinality is error-template-bounded, and the
        per-round cap keeps the driver loop finite regardless. First
        occurrence (min order_no) wins — the deterministic set-analog of the
        reference's per-occurrence overwrite."""
        errs = wide.filter(
            (F.col("_outcome") != "success")
            & F.col("_error").isNotNull()
            & F.col("html").isNotNull()
        ).select(
            error_snapshot_filename_col(F.col("_error")).alias("_fn"),
            F.struct("order_no", "html").alias("_s"),
        )
        picked = (
            errs.groupBy("_fn")
            .agg(F.min("_s").alias("_s"))
            .orderBy("_fn")
            .limit(MAX_ERROR_SNAPSHOTS_PER_ROUND)
            .collect()
        )
        if not picked:
            return
        kv = KeyValueStore(os.path.join(self.store.root, "kv"))
        for r in picked:
            body = r["_s"]["html"]
            if isinstance(body, str):
                body = body.encode("utf-8", "replace")
            kv.set_value(r["_fn"], bytes(body), content_type="text/html")

    def _handler_timeout_pred(self):
        """C7: handler_ms over requestHandlerTimeoutSecs (false when either
        side is absent)."""
        if self.options.request_handler_timeout_secs is None:
            return F.lit(False)
        limit_ms = int(self.options.request_handler_timeout_secs * 1000)
        return F.col("handler_ms").isNotNull() & (F.col("handler_ms") > limit_ms)

    # -- budget (F6: basic-crawler.ts:1199-1210) ------------------------------
    def _remaining_budget(self) -> int | None:
        """O(1): every request ever enqueued (handled or pending) counts
        against the cap, so remaining = cap - total_requests — a manifest
        read, never a frontier aggregate (the old version ran a full-table
        job per round whenever a budget was set)."""
        cap = self.options.max_requests_per_crawl
        if cap is None:
            return None
        return max(0, cap - self.store._manifest["total_requests"])

    # -- seeding ---------------------------------------------------------------
    def add_seeds(self, seeds: DataFrame, forefront: bool = False) -> None:
        """addRequests(seeds) with the depth/robots gates of
        basic-crawler.ts:1249-1326 applied set-wise. A robots-disallowed seed
        gets a ``robotsTxt`` skipped row, as a disallowed link does."""
        shaped = candidates_to_requests(seeds, forefront=forefront)
        if self.options.max_crawl_depth is not None:
            shaped = shaped.filter(F.col("crawl_depth") <= self.options.max_crawl_depth)
        if self.robots is not None:
            # pinned: the skipped rows and the enqueue both read the
            # verdict, so robots_allowed_udf runs once; the seed commit
            # publishes the skipped rows
            shaped = self._with_robots_verdict(shaped, F.col("host")).localCheckpoint(eager=True)
            self.store.stage(
                "skipped",
                shaped.filter(~F.col("_robots_ok")).select(
                    "url", F.lit("robotsTxt").alias("reason"), F.lit(self.store.round).alias("round_id")
                ),
            )
            shaped = shaped.filter(F.col("_robots_ok")).drop("_robots_ok")
        self.store.add_requests(shaped, forefront=forefront, max_new=self._remaining_budget())

    # -- round decisions, one definition each ---------------------------------
    def _with_robots_verdict(self, df: DataFrame, host: Column) -> DataFrame:
        """``df`` with the robots verdict ``_robots_ok`` (F5): the robots dim
        joined on ``host``, then ``robots_allowed_udf`` over ``url``. Every
        caller keys on ``host_col`` (lower-cased, trailing dot stripped — the
        frontier's ``host`` column is that too), so the seed gate, the link
        gate and the fetch re-check agree on which rules a url falls under."""
        if self.robots is None:
            return df.withColumn("_robots_ok", F.lit(True))
        return (
            df.join(
                self._robots.withColumnRenamed("host", "_rhost"), host == F.col("_rhost"), "left"
            )
            .withColumn("_robots_ok", robots_allowed_udf("url", "robots_txt"))
            .drop("_rhost", "robots_txt")
        )

    def _mime_ok(self) -> Column:
        """E5: the content type is a supported (or additional) MIME type."""
        ok = F.lit(False)
        for m in SUPPORTED_MIME + tuple(self.options.additional_mime_types):
            ok = ok | F.col("content_type").startswith(m)
        return ok

    def _retry_or_fail(self) -> Column:
        """A retryable error's outcome: ``retry`` while retry_count is under
        the request's (or the crawl's) max retries and noRetry is unset,
        else a final ``fail``."""
        can_retry = F.col("retry_count") < F.coalesce(
            F.col("max_retries"), F.lit(self.options.max_request_retries)
        )
        return F.when(can_retry & ~F.col("no_retry"), F.lit("retry")).otherwise(F.lit("fail"))

    def _rotate_or_retry(self) -> Column:
        """A session error's outcome: ``session_retry`` (no retryCount
        consumed) until maxSessionRotations, then a retryable error."""
        return F.when(
            F.col("session_rotation_count") < self.options.max_session_rotations,
            F.lit("session_retry"),
        ).otherwise(self._retry_or_fail())

    # -- one round --------------------------------------------------------------
    def run_round(self) -> dict:
        """Execute one scheduling round; returns round metrics. Each phase
        (see the module docstring) takes its inputs as arguments and returns
        its outputs."""
        round_id = self.store.round + 1
        claimed, n_claimed, claim_url_bytes, proxy_state = self._claim(round_id)
        if n_claimed == 0:
            return {"round": round_id, "claimed": 0, "done": True}
        self._commit_lease(claimed, round_id)
        classified = self._fetch_classify(claimed, n_claimed, claim_url_bytes)
        classified = self._extract(classified)
        classified = self._run_hooks(classified)
        cnts, n_links, n_emitted, r_lo, r_span = self._round_aggregate(classified)
        fresh_rows, n_enqueued, gate_skipped = self._enqueue(
            classified, n_links + n_emitted, n_claimed
        )
        self._write_side_outputs(classified, gate_skipped, proxy_state, round_id)
        self._commit_outcomes(classified, fresh_rows, cnts, r_lo, r_span, round_id)
        return {
            "round": round_id,
            "claimed": n_claimed,
            "succeeded": cnts.get("success", 0),
            "links_found": n_links,
            "enqueued": n_enqueued,
            "done": False,
        }

    def _claim(self, round_id: int) -> tuple[DataFrame, int, int, DataFrame | None]:
        """Claim phase: the round's claim set with its session and proxy
        assignments, pinned, plus its row count, its url byte mass and the
        new proxy rotation state (None without a proxy policy)."""
        claimed = claim_round(self.store.read(), round_id, self.policy)
        if self.options.max_requests_per_crawl is not None:
            # O(1) manifest counter — not a frontier aggregate per round
            handled = self.store._manifest["handled_total"]
            room = max(0, self.options.max_requests_per_crawl - handled)
            claimed = claimed.orderBy("order_no").limit(room)
        # C6: rotate a session onto each claimed request (hash rotation over
        # the usable pool — session_pool.ts:129-134)
        if self.session_policy is not None:
            claimed = assign_sessions(claimed, self.session_pool(), round_id, self.session_policy)
        else:
            claimed = claimed.withColumn("session_id", F.lit(None).cast("string"))
        proxy_state = None
        if self.options.proxy_config is not None:
            claimed, proxy_state = self._assign_proxies(claimed)
        claimed = claimed.localCheckpoint(eager=True)  # pin the claim set
        # one aggregate gives the claim count AND the exact url byte mass the
        # fetch-join prune would broadcast, for sizing.fits_broadcast
        stats = claimed.agg(
            F.count("*").alias("n"),
            F.sum(F.octet_length("url")).alias("url_bytes"),
        ).collect()[0]
        return claimed, stats["n"], int(stats["url_bytes"] or 0), proxy_state

    def _commit_lease(self, claimed: DataFrame, round_id: int) -> None:
        """O5 lease stamp: commit the claimed set as a mid-round delta
        (lease_until = this round, state BEFORE_NAV) — the live analog of
        listAndLockHead (request-queue.ts:228-298). A second writer at the
        same round sees the lease as unexpired and cannot re-claim; a crash
        after this commit resumes at round_id+1 where the lease has expired
        by round-number comparison and the rows are re-claimed — no unlock
        protocol. This is also the round-start commit (the round counter
        advances here, the outcome delta completes the round)."""
        leased = (
            claimed.withColumn("lease_until", F.lit(round_id).cast("long"))
            .withColumn("state", F.lit(STATE_BEFORE_NAV))
            .withColumn("round_id", F.lit(round_id))
            .select(*[f.name for f in FRONTIER_SCHEMA.fields])
        )
        self.store.commit_delta(leased, round_increment=True)

    def _fetch_classify(
        self, claimed: DataFrame, n_claimed: int, claim_url_bytes: int
    ) -> DataFrame:
        """Fetch + classify phase (lazy): the claim joined to its pages and
        the robots re-check, with each row's ``_outcome`` and ``_error``
        (the C4 decision table)."""
        # fetch = join against pages (left: missing page ⇒ fetch error); the
        # claim urls broadcast-semi-join prunes the corpus scan (see
        # fetch_join) so the pages store is never shuffled
        fetched = fetch_join(
            claimed,
            self._pages,
            prune_pages=self._prune_fetch and fits_broadcast(n_claimed, claim_url_bytes),
        )
        # robots re-check at fetch time (basic-crawler.ts:1627-1639)
        fetched = self._with_robots_verdict(fetched, F.col("host"))
        # F2: post-load strategy re-check against the final (redirected) URL
        strategy_ok = matches_enqueue_strategy_col("url", "loaded_url", "enqueue_strategy")
        retry_or_fail = self._retry_or_fail()
        # skipNavigation: the fetch outcome is ignored entirely
        # (http-crawler.ts:519 skips navigation, response parsing,
        # blocked/status gating and the redirect re-check) and the request
        # goes straight to the handler stage as a success with no parsed
        # body. The robots re-check still applies — it runs before
        # _runRequestHandler in the reference.
        return fetched.withColumn(
            "_outcome",
            F.when(~F.col("_robots_ok"), F.lit("skip_robots"))
            .when(_skip_nav(), F.lit("success"))
            .when(
                # blocked statuses BEFORE the redirect-strategy recheck:
                # _throwOnBlockedRequest (http-crawler.ts:547) fires before
                # requestMatchesEnqueueStrategy (:556) — a redirect landing on
                # 401/403/429 session-rotates, it is not permanently SKIPPED
                F.col("status_code").isin(*BLOCKED_STATUS_CODES),
                self._rotate_or_retry(),
            )
            .when(
                F.col("html").isNotNull() & ~strategy_ok, F.lit("skip_redirect")
            )  # basic-crawler.ts:2124-2168 / http-crawler.ts:556-568: noRetry,
            #    state SKIPPED, reason 'redirect', still marked handled
            .when(F.col("html").isNull() | (F.col("status_code") >= 500), retry_or_fail)
            .when((F.col("status_code") >= 400) | ~self._mime_ok(), F.lit("fail"))  # non-retryable
            # C7: handler over budget ⇒ retryable TimeoutError
            .when(self._handler_timeout_pred(), retry_or_fail)
            .otherwise(F.lit("success")),
        ).withColumn(
            "_error",
            # robots skips carry no error: the reference logs a warning and
            # never calls pushErrorMessage (basic-crawler.ts:1626-1638)
            F.when(
                F.col("_outcome").isin("success", "skip_redirect", "skip_robots"),
                F.lit(None).cast("string"),
            )
            .when(F.col("html").isNull(), F.lit("Fetch failed: page not found in source"))
            .when(
                (F.col("status_code") < 400) & self._handler_timeout_pred(),
                F.lit(
                    f"requestHandler timed out after "
                    f"{self.options.request_handler_timeout_secs} seconds."
                ),
            )
            .otherwise(F.concat(F.lit("Request failed with status "), F.col("status_code"))),
        )

    def _extract(self, classified: DataFrame) -> DataFrame:
        """Extract phase: the fused single-parse extraction over the
        preliminary successes, pinned as the round frame.

        One DOM parse yields text (E2, charset-decoded per E6), links (E1,
        resolved against the redirect-final URL) and the RETRY_CSS_SELECTORS
        probe (E9): a 200 carrying a challenge page is reclassified as a
        session error exactly like a blocked status code
        (isRequestBlocked, http-crawler.ts:600-614 → SessionError path).
        One projection, one Python pass: the parse reads the html of a
        JVM-only superset of the successes (``pre_ok`` uses no UDF output,
        so Spark runs the parse in the same Arrow node as the robots and
        strategy UDFs) and the exact success mask is applied to its
        outputs. Filtering on ``_outcome`` instead would re-run those UDFs,
        and success/rest branches would plan the fetch join twice.
        ``pre_ok`` mirrors the classifier's non-retryable fail branch
        null-safely: a null status_code or content_type makes that branch
        null, not true, so such a row still ends as a success and needs its
        page parsed."""
        skip_nav = _skip_nav()
        pre_ok = (
            F.col("html").isNotNull()
            & ~skip_nav
            & ~F.coalesce((F.col("status_code") >= 400) | ~self._mime_ok(), F.lit(False))
        )
        extracted_ok = (F.col("_outcome") == "success") & ~skip_nav
        page = extract_page_udf(
            F.when(pre_ok, F.col("html")),
            F.coalesce(F.col("loaded_url"), F.col("url")),
            "charset",
        )
        ext = (
            classified.withColumn("_page", page)
            .withColumns(
                {
                    # no navigation -> no response url: request.loadedUrl
                    # stays unset even when the pages source has the url
                    "loaded_url": F.when(skip_nav, F.lit(None).cast("string")).otherwise(
                        F.col("loaded_url")
                    ),
                    "extracted_text": F.when(extracted_ok, F.col("_page.text")),
                    "_links": F.when(extracted_ok, F.col("_page.links")),
                    "_blocked_sel": F.when(extracted_ok, F.col("_page.blocked")),
                }
            )
            .drop("_page")
        )
        # a null probe (every row but an extracted success) is "not blocked"
        is_blocked_page = F.coalesce(F.size("_blocked_sel") > 0, F.lit(False))
        ext = ext.withColumn(
            "_outcome",
            F.when(is_blocked_page, self._rotate_or_retry()).otherwise(F.col("_outcome")),
        ).withColumn(
            "_error",
            F.when(
                is_blocked_page,
                F.concat(
                    F.lit("Antibot protection detected. Found selectors: "),
                    F.array_join("_blocked_sel", ", "),
                ),
            ).otherwise(F.col("_error")),
        )
        if self.options.save_error_snapshots:
            # opt-in ErrorSnapshotter path: the snapshot capture needs the
            # bodies of errored rows, so pin the WIDE frame once (the
            # extraction UDF still runs exactly once — here), capture, then
            # fall through to the usual narrow checkpoint. The extra wide
            # pin is this feature's documented cost, mirroring the
            # reference's own snapshot-write overhead.
            ext = ext.localCheckpoint(eager=True)
            self._save_error_snapshots(ext)
        # raw bodies and probe scratch never outlive extraction: drop them so
        # the checkpointed round frame is narrow — at a 512k-claim round the
        # html column alone would pin tens of GB of executor storage
        return ext.drop("html", "_blocked_sel").localCheckpoint(eager=True)

    def _run_hooks(self, classified: DataFrame) -> DataFrame:
        """Hooks phase: user hooks AFTER the extraction checkpoint (their
        plans — and the router's no-route probe — must never recompute the
        extraction UDF) but BEFORE the round aggregate, so their
        reclassifications (handler throw -> retry, errorHandler noRetry ->
        fail) land in the counters and the outcome merge for free. A second
        narrow checkpoint pins the hook outputs; rounds without hooks keep
        the single-checkpoint plan unchanged."""
        if self.options.handlers:
            classified = self._apply_request_handlers(classified)
        if self.options.error_handler is not None:
            classified = self._apply_error_handler(classified)
        if self.options.handlers or self.options.error_handler is not None:
            classified = classified.localCheckpoint(eager=True)
        return classified

    def _round_aggregate(self, classified: DataFrame) -> tuple[dict, int, int, int, int]:
        """Round aggregate phase: ONE O(claimed) aggregate feeds everything
        driver-side this round needs — per-outcome counts (metrics + O(1)
        counter deltas), the discovered and handler-emitted link totals, and
        the reclaim re-sequencing range ``(r_lo, r_span)``."""
        emitted_sz = (
            F.sum(F.size(F.coalesce(F.col(ENQUEUE_URLS_COL), F.array())))
            if self._handler_emits
            else F.sum(F.lit(0))
        )
        stat_rows = (
            classified.groupBy("_outcome")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.size(F.coalesce(F.col("_links"), F.array()))).alias("links"),
                emitted_sz.alias("emitted"),
                F.min(F.abs(F.col("order_no"))).alias("lo"),
                F.max(F.abs(F.col("order_no"))).alias("hi"),
            )
            .collect()
        )
        cnts = {r["_outcome"]: int(r["n"]) for r in stat_rows}
        n_links = sum(int(r["links"] or 0) for r in stat_rows if r["_outcome"] == "success")
        n_emitted = sum(int(r["emitted"] or 0) for r in stat_rows if r["_outcome"] == "success")
        reclaim_rows = [r for r in stat_rows if r["_outcome"] in ("retry", "session_retry")]
        n_reclaims = sum(int(r["n"]) for r in reclaim_rows)
        r_lo = min((int(r["lo"]) for r in reclaim_rows), default=0)
        r_hi = max((int(r["hi"]) for r in reclaim_rows), default=0)
        r_span = (r_hi - r_lo + 1) if n_reclaims else 0
        return cnts, n_links, n_emitted, r_lo, r_span

    def _enqueue(
        self, classified: DataFrame, n_found: int, n_claimed: int
    ) -> tuple[DataFrame | None, int, DataFrame | None]:
        """Enqueue phase: discovered links (extracted + handler-emitted) →
        gate → dedup. Returns the fresh frontier rows (pinned by
        ``prepare_fresh``), how many there are, and the skipped ``(url,
        reason)`` frame of the gate's rejections and the budget's cuts —
        ``(None, 0, None)`` when the round found no links."""
        if not n_found:
            return None, 0, None
        links = self._link_candidates(classified.filter(F.col("_outcome") == "success"), n_claimed)
        # ONE Python pass over the discovered links, pinned: the robots
        # verdict (F5) and the URL_KEY_COLS. The skipped write, the gates
        # and prepare_fresh read the pin, so none of them re-runs a UDF.
        links = with_url_keys(self._with_robots_verdict(links, host_col("url"))).localCheckpoint(
            eager=True
        )
        accepted, skipped = self._gate_links(links)
        # deterministic arrival order: (parent rank in this round, position
        # on page). 32-bit stride: parent rank is bounded by the per-round
        # claim (max_concurrency < 2^31) and no real page yields 2^32
        # links, so the key is collision-free and far from long overflow —
        # uniqueness is load-bearing (sparse order_no assignment and the
        # abs(order_no) reclaim re-sequencing both assume it).
        accepted = accepted.withColumn(
            "_arrival",
            F.shiftleft(F.col("_parent_rank").cast("long"), 32) + F.col("_pos"),
        ).drop("_parent_rank", "_pos", "_robots_ok", "origin_label")
        # the budget is the tighter of enqueueLinks' ``limit`` and the
        # crawl's remaining maxRequestsPerCrawl; the new links it cuts are
        # skipped under the reason of the cap that bound (F6)
        budget, reason = self._remaining_budget(), "enqueueLimit"
        limit = self.options.enqueue.limit
        if limit is not None and (budget is None or limit <= budget):
            budget, reason = limit, "limit"
        carry = [
            c for c in ("label", "user_data", "method", "payload")
            if c in accepted.columns  # F3 per-pattern / base-label overrides
        ]
        total_before = self.store._manifest["total_requests"]
        # prepare_fresh shapes the survivors into frontier rows itself, so
        # the dedup shuffle carries only the candidates' own columns
        fresh_rows = self.store.prepare_fresh(
            accepted.select(
                # enqueue_strategy stamped per gate segment (recorded for F2)
                "url", "crawl_depth", "_arrival", "enqueue_strategy", *URL_KEY_COLS,
                *carry,
            ),
            max_new=budget,
        )
        if self.store.over_budget is not None:
            skipped = skipped.unionByName(
                self.store.over_budget.withColumn("reason", F.lit(reason))
            )
        # prepare_fresh already counted the survivors into the manifest —
        # no extra job for the metric
        return fresh_rows, self.store._manifest["total_requests"] - total_before, skipped

    def _link_candidates(self, extracted: DataFrame, n_claimed: int) -> DataFrame:
        """One row per discovered link of the round's successes: the origin
        page's url, label and parent rank, the link's depth and its position
        ``_pos`` on the page."""
        # parent rank: dense 1..|succ| by order_no. Two-phase global rank
        # (range-partition + per-partition row_number + offsets) over the
        # NARROW (order_no) projection — an unpartitioned window here
        # would funnel the whole html-bearing frame through ONE task at a
        # 512k-claim round — then broadcast-joined back on the unique
        # order_no (≤ max_concurrency rows, trivially broadcastable).
        ranks = global_row_number(
            extracted.select("order_no"),
            "order_no",
            col_name="_parent_rank",
            partitions=self.store.num_partitions,
            # n_claimed bounds the success count: small rounds keep the
            # rank a lazy narrow window (no extra jobs), big rounds go
            # two-phase — the single task would otherwise sort the round
            approx_rows=n_claimed,
        )
        ranked = extracted.join(F.broadcast(ranks), "order_no")
        origin = [
            F.col("url").alias("origin_url"),
            F.col("label").alias("origin_label"),
            F.col("_parent_rank"),
            (F.col("crawl_depth") + 1).alias("crawl_depth"),
        ]
        if not self._handler_emits:
            links = ranked.select(*origin, F.posexplode_outer("_links").alias("_pos", "url"))
            return links.filter(F.col("url").isNotNull())
        # handler-emitted urls (context.addRequests / enqueueLinks
        # ({urls}), basic-crawler.ts:1651-1672) append AFTER the
        # page's extracted links in ONE candidate array, so a single
        # posexplode yields gap-free per-page positions and the
        # (_parent_rank << 32) + _pos arrival key stays unique and
        # deterministic across both sources. Per-row enqueue_label /
        # enqueue_user_data stamp every url that row emitted.
        null_s = F.lit(None).cast("string")
        empty = F.array().cast("array<string>")

        def emitted(c: str) -> Column:
            return F.col(c) if c in self._handler_enqueue_cols else null_s

        def cands(urls: str, label: Column, user_data: Column) -> Column:
            return F.transform(
                F.coalesce(F.col(urls), empty),
                lambda u: F.struct(
                    u.alias("url"), label.alias("label"), user_data.alias("user_data")
                ),
            )

        cand_arr = F.concat(
            cands("_links", null_s, null_s),
            cands(ENQUEUE_URLS_COL, emitted(ENQUEUE_LABEL_COL), emitted(ENQUEUE_USER_DATA_COL)),
        )
        links = (
            ranked.select(*origin, F.posexplode_outer(cand_arr).alias("_pos", "_cand"))
            .withColumns(
                {
                    "url": F.col("_cand.url"),
                    "label": F.col("_cand.label"),
                    "user_data": F.col("_cand.user_data"),
                }
            )
            .drop("_cand")
        )
        return links.filter(F.col("url").isNotNull())

    def _write_side_outputs(
        self,
        classified: DataFrame,
        gate_skipped: DataFrame | None,
        proxy_state: DataFrame | None,
        round_id: int,
    ) -> None:
        """Side outputs phase: stage the round's skipped, results,
        failed-handler and outcome-log versions and the proxy and session
        state. The outcome commit publishes them with the round."""
        stage = self.store.stage
        # skip side-output (F8 handleSkippedRequest), ONE version per round:
        # redirect-strategy skips (reason 'redirect') and fetch-time robots
        # skips (reason 'robotsTxt', basic-crawler.ts:1626-1638 — SKIPPED +
        # handled, never failed), plus the link gate's rejections
        skipped = classified.filter(F.col("_outcome").isin("skip_redirect", "skip_robots")).select(
            "url",
            F.when(F.col("_outcome") == "skip_robots", F.lit("robotsTxt"))
            .otherwise(F.lit("redirect"))
            .alias("reason"),
        )
        if gate_skipped is not None:
            skipped = skipped.unionByName(gate_skipped)
        stage("skipped", skipped.withColumn("round_id", F.lit(round_id)))
        # results dataset (S7) of the successes, which already carry
        # extracted text + links — plus any extra columns the user's
        # per-label handlers produced (the requestHandler's pushData analog)
        stage(
            "results",
            classified.filter(F.col("_outcome") == "success").select(
                "request_id",
                "url",
                # request.loadedUrl = response.url (redirect-aware final URL);
                # skipNavigation rows never navigated, so loadedUrl stays
                # unset in the results too (request.ts:268-277 — the round
                # frame already nulled it, and the coalesce must not refill)
                F.when(_skip_nav(), F.lit(None).cast("string"))
                .otherwise(F.coalesce(F.col("loaded_url"), F.col("url")))
                .alias("loaded_url"),
                F.col("extracted_text").alias("text"),
                "crawl_depth",
                "label",
                F.lit(round_id).alias("round_id"),
                *self._handler_extra_names,
            ),
        )
        # failedRequestHandler: the round's finalized failures, error list
        # already carrying the final error (basic-crawler.ts:1953-1965)
        if self.options.failed_request_handler is not None:
            stage("failed_handled", self._failed_handled_rows(classified, round_id))
        # outcome log. Robots skips never reach the log: the reference
        # returns BEFORE stats.startJob (basic-crawler.ts:1626-1638), so
        # they appear in no Statistics series — only in the skipped
        # side-output and the queue's handled count.
        logged = classified.filter(F.col("_outcome") != "skip_robots")
        stage(
            "outcomes",
            logged.select(
                "request_id",
                "url",
                F.lit(round_id).alias("round_id"),
                F.col("retry_count").alias("attempt"),
                _logged_outcome(),
                F.col("status_code").cast("int").alias("status_code"),
                (F.lit(10) + F.pmod(F.xxhash64("request_id", F.lit(round_id)), F.lit(90))).alias("duration_ms"),
                F.col("_error").alias("error_message"),
                F.col("session_id"),
                # proxyInfo surface (proxy_configuration.ts:80-115): recorded
                # per attempt when a proxy policy is configured
                *(
                    [F.col("proxy_tier"), F.col("proxy_url")]
                    if self.options.proxy_config is not None
                    else []
                ),
            ),
        )
        if proxy_state is not None:
            stage("proxy_state", proxy_state, replace=True)
        if getattr(self.options.proxy_config, "tiered_proxy_urls", ()):
            stage("proxy_last", self._proxy_last(classified), replace=True)
        if self.session_policy is not None:
            # C6 reputation + cookie jars: when the source carries raw
            # Set-Cookie headers (array<string> ``set_cookie``), each
            # session's jar absorbs this round's cookies in request order
            # (session.ts:341-345) and persists with the pool.
            sess_cols = [F.col("session_id"), _logged_outcome()]
            kw = {}
            if "set_cookie" in classified.columns:
                sess_cols += [F.col("set_cookie"), F.abs(F.col("order_no")).alias("_ord")]
                kw = {"cookie_col": "set_cookie", "order_col": "_ord"}
            pool = update_pool(
                self.session_pool(), logged.select(*sess_cols), self.session_policy, **kw
            )
            pool = replenish_pool(self.spark, pool, round_id, self.session_policy)
            stage("sessions", pool, replace=True)

    def _commit_outcomes(
        self,
        classified: DataFrame,
        fresh_rows: DataFrame | None,
        cnts: dict,
        r_lo: int,
        r_span: int,
        round_id: int,
    ) -> None:
        """Outcome commit phase: MERGE outcomes back into the frontier +
        append fresh links. The touched set is just the claimed rows' new
        versions + fresh rows, and that is ALL the outcome delta writes
        (O(claimed+fresh) per round); the lease delta already advanced the
        round counter.

        O(1) counter maintenance from the round aggregate: the manifest's
        handled/failed totals advance atomically with the outcome delta.
        Monitoring and budgets read these counters instead of scanning the
        frontier. skip_robots increments handled (markRequestHandled) but
        NOT failed: the reference treats a fetch-time robots skip as
        handled-skipped, never as a failed request
        (basic-crawler.ts:1626-1638)."""
        handled_inc = sum(cnts.get(o, 0) for o in ("success", "skip_redirect", "fail", "skip_robots"))
        counter_extra = {
            "handled_total": self.store._manifest["handled_total"] + handled_inc,
            "failed_total": self.store._manifest["failed_total"] + cnts.get("fail", 0),
        }
        updated = self._outcome_rows(classified, round_id, r_lo, r_span)
        delta = updated if fresh_rows is None else updated.unionByName(fresh_rows)
        self.store.commit_delta(delta, extra=counter_extra)

    def _outcome_rows(
        self, classified: DataFrame, round_id: int, r_lo: int, r_span: int
    ) -> DataFrame:
        """Set-wise markRequestHandled / reclaimRequest (O8/O9, C4-C6) applied
        DIRECTLY to the claimed rows: the claim already carries the frontier
        columns, so the state transition is a map-only projection over
        O(claimed) rows — no frontier-wide join anywhere in the round.

        ``r_lo``/``r_span`` come from the round's fused
        O(claimed) aggregate: fresh order_no for reclaimed rows = back of
        FIFO (front if forefront), preserving previous relative order —
        sparse assignment from the old unique |order_no|, no window."""
        handled_ts = F.to_timestamp(F.lit("2026-01-01 00:00:00")) + F.make_interval(secs=F.lit(round_id))
        new_seq_base = self.store.order_seq

        is_success = F.col("_outcome") == "success"
        # handled, state SKIPPED, noRetry, NOT failed — both the redirect-
        # strategy skip and the fetch-time robots skip finalize this way
        # (basic-crawler.ts:1626-1638 / 2124-2168)
        is_skipped = F.col("_outcome").isin("skip_redirect", "skip_robots")
        is_retry = F.col("_outcome") == "retry"
        is_session_retry = F.col("_outcome") == "session_retry"
        is_fail = F.col("_outcome") == "fail"
        is_reclaim = is_retry | is_session_retry

        rseq = F.lit(new_seq_base) + (F.abs(F.col("order_no")) - F.lit(r_lo)) + 1

        updated = (
            classified.withColumn(
                "handled_at",
                F.when(is_success | is_fail | is_skipped, handled_ts).otherwise(F.col("handled_at")),
            )
            .withColumn("failed", F.when(is_fail, F.lit(True)).otherwise(F.col("failed")))
            .withColumn(
                "state",
                F.when(is_skipped, F.lit(STATE_SKIPPED))
                .when(is_success, F.lit(STATE_DONE))
                .when(is_fail, F.lit(STATE_ERROR))
                .otherwise(F.col("state")),
            )
            .withColumn("no_retry", F.when(is_skipped, F.lit(True)).otherwise(F.col("no_retry")))
            .withColumn(
                "retry_count",
                F.when(is_retry, F.col("retry_count") + 1).otherwise(F.col("retry_count")),
            )
            .withColumn(
                "session_rotation_count",
                F.when(is_session_retry, F.col("session_rotation_count") + 1).otherwise(
                    F.col("session_rotation_count")
                ),
            )
            .withColumn("error_messages", _push_error(F.col("_error"), is_reclaim | is_fail))
            .withColumn(
                "order_no",
                F.when(
                    is_reclaim,
                    F.when(F.col("forefront"), -rseq).otherwise(rseq).cast("long"),
                ).otherwise(F.col("order_no")),
            )
            .withColumn("lease_until", F.lit(None).cast("long"))
            .withColumn("round_id", F.lit(round_id))
        )
        self.store._manifest["order_seq"] = new_seq_base + r_span
        return updated.select(*[f.name for f in FRONTIER_SCHEMA.fields])

    # -- enqueue gating (global or per origin label) -------------------------
    def _merged_opts(self, o: EnqueueOptions) -> EnqueueOptions:
        if self.options.max_crawl_depth is not None and o.max_crawl_depth is None:
            return EnqueueOptions(**{**o.__dict__, "max_crawl_depth": self.options.max_crawl_depth})
        return o

    def _gate_links(self, links: DataFrame):
        """Gate discovered links: one ``gate_candidates`` pass, or — with
        ``enqueue_by_label`` — one pass per ORIGIN label, mirroring each
        route's own enqueueLinks call in the reference (the listing->detail
        pattern: a listing page's links get the detail globs + label).

        Scale shape: the per-label split is filters over the same links
        frame (no shuffle, no extra scan of anything upstream — the frame
        derives from the checkpointed round), and the gated segments union
        by name. The accepted frame always carries ``enqueue_strategy``
        (per segment) for the F2 redirect re-check.

        ``links`` is the round's link pin: it carries the robots verdict
        ``_robots_ok`` and the ``URL_KEY_COLS``. The F4 ``transform`` hook may
        rewrite ``url``, so a segment with a transform drops the keys before
        the hook and derives them again from the final url."""

        def one(part: DataFrame, o: EnqueueOptions):
            o = self._merged_opts(o)
            if o.transform is not None:
                part = part.drop(*URL_KEY_COLS)
            acc, skip = gate_candidates(part, o, robots_ok_col="_robots_ok")
            if o.transform is not None:
                acc = with_url_keys(acc)
            return acc.withColumn("enqueue_strategy", F.lit(o.strategy)), skip

        by_label = self.options.enqueue_by_label
        if not by_label:
            return one(links, self.options.enqueue)
        explicit = [l for l in by_label if l is not None]
        default_opts = by_label.get(None, self.options.enqueue)
        segments = [
            one(links.filter(F.col("origin_label") == lbl), by_label[lbl])
            for lbl in explicit
        ]
        rest = (
            links.filter(
                F.col("origin_label").isNull() | ~F.col("origin_label").isin(explicit)
            )
            if explicit
            else links
        )
        segments.append(one(rest, default_opts))
        acc, skip = segments[0]
        for a, s in segments[1:]:
            acc = acc.unionByName(a, allowMissingColumns=True)
            skip = skip.unionByName(s)
        return acc, skip

    # -- user hooks (C13 Router dispatch + error hooks) ----------------------
    def _apply_request_handlers(self, classified: DataFrame) -> DataFrame:
        """Dispatch the round's successes to their label's handler
        (router.ts:315-329) and fold the results back: extra columns flow to
        the results dataset; a handler THROW reclassifies that request as
        retryable exactly like a fetch error (basic-crawler.ts:1880-1941)."""
        succ = classified.filter(F.col("_outcome") == "success").withColumn(
            "links", F.col("_links")
        )
        extras = apply_request_handlers(succ, self.options.handlers)
        joined = classified.join(extras, "request_id", "left")
        err = F.col("_handler_error")
        return (
            joined.withColumn(
                "_outcome",
                F.when(
                    (F.col("_outcome") == "success") & err.isNotNull(), self._retry_or_fail()
                ).otherwise(F.col("_outcome")),
            )
            .withColumn("_error", F.when(err.isNotNull(), err).otherwise(F.col("_error")))
            .drop("_handler_error")
        )

    def _apply_error_handler(self, classified: DataFrame) -> DataFrame:
        """errorHandler (basic-crawler.ts:1896-1906), set-wise over the
        would-retry slice: the handler sees the request with the error
        already pushed and may mutate user_data / no_retry / max_retries /
        forefront / label; a flipped no_retry converts the retry into a
        finalized failure (the reference re-checks noRetry AFTER the hook)."""
        retryable = classified.filter(F.col("_outcome").isin("retry", "session_retry"))
        in_cols = [c for c in HANDLER_INPUT_COLS if c in classified.columns]
        mut_cols = [c for c, _ in ERROR_MUTABLE_COLS if c in classified.columns]
        sel = list(dict.fromkeys([*in_cols, *mut_cols]))
        handler_in = retryable.select(
            *sel, F.col("_error").alias("error_message")
        ).withColumn(
            # pushErrorMessage happens BEFORE the hook (basic-crawler.ts:1887)
            "error_messages",
            _push_error(F.col("error_message")),
        )
        muts = apply_error_handler(handler_in, self.options.error_handler)
        muts = muts.select(
            "request_id", "_eh", *[F.col(c).alias(f"_m_{c}") for c in mut_cols]
        )
        joined = classified.join(muts, "request_id", "left")
        seen = F.coalesce(F.col("_eh"), F.lit(False))
        out = joined
        for c in mut_cols:
            out = out.withColumn(c, F.when(seen, F.col(f"_m_{c}")).otherwise(F.col(c)))
        out = out.drop("_eh", *[f"_m_{c}" for c in mut_cols])
        return out.withColumn(
            "_outcome",
            F.when(
                F.col("_outcome").isin("retry", "session_retry") & F.col("no_retry"),
                F.lit("fail"),
            ).otherwise(F.col("_outcome")),
        )

    def _failed_handled_rows(self, classified: DataFrame, round_id: int) -> DataFrame:
        """failedRequestHandler (basic-crawler.ts:1953-1965), set-wise over
        the round's finalized failures; the input's error_messages carries
        the final error (pushed at the top of the reference's error path).
        Returns the rows the handler returns, stamped with the round."""
        fn = self.options.failed_request_handler
        schema = self.options.failed_handler_schema
        failed = classified.filter(F.col("_outcome") == "fail")
        in_cols = [c for c in HANDLER_INPUT_COLS if c in classified.columns]
        handler_in = failed.select(
            *in_cols, F.col("_error").alias("error_message")
        ).withColumn("error_messages", _push_error(F.col("error_message")))

        def gen(batches):
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                res = fn(pdf.copy())
                if res is None:
                    continue
                res = res.reset_index(drop=True)
                out = pd.DataFrame(index=range(len(res)))
                for fld in schema.fields:
                    out[fld.name] = res[fld.name] if fld.name in res.columns else None
                yield out

        return handler_in.mapInPandas(gen, schema=schema).withColumn("round_id", F.lit(round_id))

    # -- full crawl -------------------------------------------------------------
    def run(self, seeds: DataFrame | None = None) -> dict:
        """BasicCrawler.run: seed → rounds until finished → FinalStatistics.

        ``crawlerRuntimeMillis`` accumulates across resumes via the kvstore
        (statistics.ts:325-393 persistState semantics). Wall time here is
        driver-side observability only — nothing in the data plane (order_no,
        leases, handled_at) ever reads the clock, so resume determinism and
        the oracle compare are untouched."""
        t0 = time.time()
        if seeds is not None:
            self.add_seeds(seeds)
        rounds = 0
        while rounds < self.options.max_rounds:
            metrics = self.run_round()
            rounds += 1
            if metrics.get("done"):
                break
        final = self.final_statistics()
        kv = KeyValueStore(os.path.join(self.store.root, "kv"))
        state = persist_run_statistics(kv, int((time.time() - t0) * 1000), final)
        final["crawlerRuntimeMillis"] = state["crawlerRuntimeMillis"]
        final["crawlerResumeCount"] = state["crawlerResumeCount"]
        return final
