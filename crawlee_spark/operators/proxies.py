"""Proxy configuration + tiered rotation policy, set-oriented.

Reference semantics (packages/core/src/proxy_configuration.ts):

- ``proxyUrls`` rotation (:400-415): with a session, the assignment is
  STICKY — the first time a sessionId asks for a proxy it takes
  ``proxyUrls[nextCustomUrlIndex++ % n]`` and keeps it; without a session
  each call round-robins.
- ``tieredProxyUrls`` (:42, :117-173, :308-368): per-DOMAIN error-driven
  tier escalation. Each domain owns a ``ProxyTierTracker`` — a histogram of
  error scores per tier plus a current tier. A request that RETRIES (it
  carries the tier of its previous attempt, ``userData.__crawlee
  .lastProxyTier``, :349-351) charges ``+10`` onto that tier; every
  prediction first decays all non-current nonzero scores by 1, then moves
  off the current tier when its score exceeds a neighbour's, and probes a
  DOWNSHIFT when the lower neighbour's score has decayed to equality
  (:139-153). Fresh traffic therefore drifts back down to cheap tiers ~10
  predictions after the errors stop.
- Mixing ``proxyUrls`` / ``tieredProxyUrls`` / ``newUrlFunction`` throws
  (:248-249).

Spark shape: live proxies are out of scope (no network) — what this module
models is the deterministic ASSIGNMENT POLICY as columns, the way
``sessions.py`` models the session pool.

- Sticky rotation is pure DataFrame algebra: sessions ranked by first
  appearance (the salted two-phase ``global_row_number`` — no global
  window) pick ``proxy_urls[(rank-1) % n]`` via an array literal. One
  narrow shuffle over the session-cardinality frame.
- Tier prediction is an ordered per-domain replay — inherently sequential
  PER DOMAIN but embarrassingly parallel ACROSS domains, exactly the
  politeness shape: ``applyInPandas`` over ``groupBy(domain)``, state in /
  state out, one shuffle of the (narrow) attempt frame. Tracker state
  (histogram, current tier, rotation index) persists round-to-round as a
  tiny per-domain table (session-pool-style), so escalation carries across
  rounds.

Deliberate deviation, documented: the reference's ``nextCustomUrlIndex``
inside a tier is a GLOBAL mutable counter across all domains (:327) — a
strictly sequential contract that cannot exist in a partition-parallel
engine. Here the within-tier round-robin index is per-domain (same load
spreading, deterministic under parallelism).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass(frozen=True)
class ProxyConfiguration:
    """proxy_configuration.ts:233-255 — exactly one rotation source.

    ``proxy_urls`` entries may be None ("disable the proxy for this slot",
    :40); ``tiered_proxy_urls`` is ordered cheapest-first."""

    proxy_urls: tuple = ()
    tiered_proxy_urls: tuple = ()

    def __post_init__(self):
        if self.proxy_urls and self.tiered_proxy_urls:
            raise ValueError(
                'Cannot combine custom proxies "proxy_urls" with '
                '"tiered_proxy_urls".'
            )
        if not self.proxy_urls and not self.tiered_proxy_urls:
            raise ValueError(
                'One of "proxy_urls" or "tiered_proxy_urls" needs to be provided.'
            )


class ProxyTierTracker:
    """Pure-Python replica of the reference's per-domain tier state machine
    (proxy_configuration.ts:127-173), used inside the Arrow replay and unit
    tested against hand-simulated traces of the reference algorithm."""

    def __init__(self, n_tiers: int, histogram: Iterable[int] | None = None,
                 current_tier: int = 0):
        self.histogram = list(histogram) if histogram is not None else [0] * n_tiers
        self.current_tier = current_tier

    def add_error(self, tier: int) -> None:
        # :161-163 — disadvantage this tier for the next 10 predictions
        self.histogram[tier] += 10

    def predict_tier(self) -> int:
        # processStep (:139-153): decay non-current nonzero scores, then
        # move off the current tier when it scores worse than a neighbour;
        # equality with the LEFT neighbour probes a downshift.
        h = self.histogram
        for i in range(len(h)):
            if i != self.current_tier and h[i] > 0:
                h[i] -= 1
        cur = self.current_tier
        left = h[cur - 1] if cur > 0 else float("inf")
        right = h[cur + 1] if cur < len(h) - 1 else float("inf")
        if h[cur] > min(left, right):
            self.current_tier = cur - 1 if left <= right else cur + 1
        elif h[cur] == left:
            self.current_tier = cur - 1
        return self.current_tier


def rotate_proxies(
    sessions: DataFrame,
    proxy_urls: tuple,
    *,
    session_col: str = "session_id",
    order_col: str = "order_no",
    num_partitions: int = 32,
    rank_offset: int = 0,
) -> DataFrame:
    """Sticky per-session proxy assignment (proxy_configuration.ts:400-415):
    session S gets ``proxy_urls[first_appearance_rank(S) % n]`` — the
    set-oriented equivalent of "first call takes the next index and the
    session keeps it".

    ``sessions`` carries one row per (session, arrival): the rank orders
    sessions by their FIRST arrival (min order per session). Returns
    (session_col, proxy_url). ``rank_offset`` continues the rotation where
    a previous batch stopped (nextCustomUrlIndex carried across calls).
    Scale: one map-side-combinable min per session, then the two-phase
    global rank over the session-cardinality frame — no unpartitioned
    window (order values must be unique per the repo's ranking discipline;
    first arrivals inherit uniqueness from the order column)."""
    from crawlee_spark.operators.scheduler import global_row_number

    firsts = sessions.groupBy(session_col).agg(F.min(order_col).alias("_first"))
    ranked = global_row_number(
        firsts.select("_first"), "_first", col_name="_rk", partitions=num_partitions
    )
    urls = F.array(*[F.lit(u).cast("string") for u in proxy_urls])
    out = firsts.join(ranked, "_first").select(
        session_col,
        F.try_element_at(
            urls,
            (
                (F.col("_rk") - 1 + F.lit(rank_offset)) % F.lit(len(proxy_urls)) + 1
            ).cast("int"),
        ).alias("proxy_url"),
    )
    return out


TRACKER_STATE_SCHEMA = T.StructType(
    [
        T.StructField("domain", T.StringType(), False),
        T.StructField("histogram", T.ArrayType(T.IntegerType()), False),
        T.StructField("current_tier", T.IntegerType(), False),
        T.StructField("next_idx", T.IntegerType(), False),
    ]
)


def predict_proxy_tiers(
    attempts: DataFrame,
    tiered_proxy_urls: tuple,
    *,
    state: DataFrame | None = None,
    domain_col: str = "domain",
    order_col: str = "order_no",
    request_col: str = "request_id",
    last_tier_col: str | None = "last_proxy_tier",
) -> DataFrame:
    """Tiered proxy assignment: replay each domain's ordered attempt
    sequence through ``ProxyTierTracker`` (proxy_configuration.ts:337-368).

    ``attempts`` rows: (request, domain, order[, last_tier]) — one row per
    fetch attempt this batch, ``last_tier`` non-null iff the request is a
    RETRY carrying the tier of its previous attempt (userData.__crawlee
    .lastProxyTier): that tier is charged ``add_error`` BEFORE this
    attempt's prediction, exactly :349-353. A request retried within the
    same batch is charged from the in-replay assignment (the per-request
    last tier lives in the replay state, like userData does per request).

    Returns one row per input attempt plus one STATE row per domain
    (``_state`` = true; request/order null) carrying the tracker forward —
    callers split on ``_state`` and persist the state rows round-to-round.
    One shuffle of the narrow attempt frame, parallel across domains."""
    n_tiers = len(tiered_proxy_urls)
    tiers = [tuple(t) for t in tiered_proxy_urls]

    out_schema = T.StructType(
        [
            T.StructField("domain", T.StringType(), False),
            T.StructField("request_id", T.StringType(), True),
            T.StructField("order_no", T.LongType(), True),
            T.StructField("proxy_tier", T.IntegerType(), True),
            T.StructField("proxy_url", T.StringType(), True),
            T.StructField("histogram", T.ArrayType(T.IntegerType()), True),
            T.StructField("current_tier", T.IntegerType(), True),
            T.StructField("next_idx", T.IntegerType(), True),
            T.StructField("_state", T.BooleanType(), False),
        ]
    )

    has_last = last_tier_col is not None and last_tier_col in attempts.columns
    cols = [
        F.col(domain_col).alias("domain"),
        F.col(request_col).cast("string").alias("request_id"),
        F.col(order_col).cast("long").alias("order_no"),
        (
            F.col(last_tier_col).cast("int") if has_last else F.lit(None).cast("int")
        ).alias("last_tier"),
    ]
    narrow = attempts.select(*cols)
    if state is not None:
        st = state.select(
            "domain",
            F.col("histogram").alias("_st_hist"),
            F.col("current_tier").alias("_st_cur"),
            F.col("next_idx").alias("_st_idx"),
        )
        narrow = narrow.join(st, "domain", "left")
    else:
        narrow = (
            narrow.withColumn("_st_hist", F.lit(None).cast("array<int>"))
            .withColumn("_st_cur", F.lit(None).cast("int"))
            .withColumn("_st_idx", F.lit(None).cast("int"))
        )

    def _null(v) -> bool:
        return v is None or (isinstance(v, float) and pd.isna(v))

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("order_no", kind="mergesort").reset_index(drop=True)
        domain = pdf["domain"].iloc[0]
        hist0 = pdf["_st_hist"].iloc[0]
        cur0 = pdf["_st_cur"].iloc[0]
        idx0 = pdf["_st_idx"].iloc[0]
        tracker = ProxyTierTracker(
            n_tiers,
            histogram=None if _null(hist0) else [int(x) for x in hist0],
            current_tier=0 if _null(cur0) else int(cur0),
        )
        next_idx = 0 if _null(idx0) else int(idx0)
        seen_tier: dict[str, int] = {}
        rows = []
        for r in pdf.itertuples(index=False):
            prev = seen_tier.get(r.request_id)
            if prev is None and r.last_tier is not None and not pd.isna(r.last_tier):
                prev = int(r.last_tier)
            if prev is not None:
                tracker.add_error(prev)
            tier = tracker.predict_tier()
            seen_tier[r.request_id] = tier
            urls = tiers[tier]
            url = urls[next_idx % len(urls)]
            next_idx += 1
            rows.append(
                (domain, r.request_id, r.order_no, tier, url, None, None, None, False)
            )
        rows.append(
            (
                domain,
                None,
                None,
                None,
                None,
                list(tracker.histogram),
                tracker.current_tier,
                next_idx,
                True,
            )
        )
        return pd.DataFrame(
            rows,
            columns=[
                "domain",
                "request_id",
                "order_no",
                "proxy_tier",
                "proxy_url",
                "histogram",
                "current_tier",
                "next_idx",
                "_state",
            ],
        )

    return narrow.groupBy("domain").applyInPandas(replay, schema=out_schema)


def split_assignments(out: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a ``predict_proxy_tiers`` result into (assignments, state)."""
    assignments = out.filter(~F.col("_state")).select(
        "domain", "request_id", "order_no", "proxy_tier", "proxy_url"
    )
    state = out.filter(F.col("_state")).select(
        "domain", "histogram", "current_tier", "next_idx"
    )
    return assignments, state
