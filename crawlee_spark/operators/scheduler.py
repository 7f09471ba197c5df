"""Scheduling rounds: claim = ranked top-k per host with politeness budgets.

Replaces the reference's one-request-at-a-time loop (fetchNextRequest O3/O5,
listAndLockHead request-queue.ts:228-298, delayRequest politeness
basic-crawler.ts:1559-1595) with one set operation per round:

- eligibility: pending ∧ lease expired ∧ retry-eligible;
- ordering (O2): ascending ``order_no`` ⇒ forefront (negative, LIFO) before
  FIFO (positive, oldest first) — the contract pinned by
  request_queue.test.ts:700-735 / 1025-1083;
- politeness (C3): per-host token budget per round. A round models
  ``round_secs`` of wall time; a host with ``sameDomainDelaySecs = d`` may be
  claimed ``floor(round_secs / d)`` times per round (≥1 when d ≤ round_secs,
  exactly 1 when d == round_secs). maxConcurrency caps the global claim.
- skew: the per-host ranking is computed in two phases so one hot host
  (40% of a 10^10-row frontier) never serializes into a single task — a
  salted partial top-k per (host, salt) bucket feeds the exact final
  per-host rank over ≤ salt_buckets × budget rows per host.
- lease (O5): claimed rows are stamped ``lease_until = round_id`` (round
  numbers, not wall clock — deterministic); a crashed round's leases are
  expired by comparison, no unlock protocol needed (collapses O6/O7).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


@dataclass(frozen=True)
class PolitenessPolicy:
    """Engine analog of AutoscaledPool + sameDomainDelay knobs.

    max_concurrency: global URLs per round cap (AutoscaledPool.maxConcurrency,
        autoscaled_pool.ts:250 — default 200).
    same_domain_delay_secs: per-registrable-domain delay
        (basic-crawler.ts:1559-1595; default 0 ⇒ per-host budget falls back to
        per_host_cap).
    round_secs: wall-time one round models (sets the token refill).
    per_host_cap: hard per-host budget when no delay configured.
    salt_buckets: sub-buckets for hot-host rank splitting.
    """

    max_concurrency: int = 200
    same_domain_delay_secs: float = 0.0
    round_secs: float = 10.0
    per_host_cap: int = 25
    salt_buckets: int = 16

    @property
    def host_budget(self) -> int:
        if self.same_domain_delay_secs and self.same_domain_delay_secs > 0:
            return max(1, int(self.round_secs / self.same_domain_delay_secs))
        return self.per_host_cap


def eligible_requests(frontier: DataFrame, round_id: int) -> DataFrame:
    """Pending rows whose lease is free/expired (O10 eligibility)."""
    return frontier.filter(
        F.col("handled_at").isNull()
        & (F.col("lease_until").isNull() | (F.col("lease_until") < F.lit(round_id)))
    )


def per_key_topk(
    df: DataFrame,
    key: str,
    order_col: str,
    k: int,
    salt_buckets: int = 16,
    salt_on: str = "request_id",
) -> DataFrame:
    """Exact per-key top-k by ``order_col`` without a per-key global sort.

    Phase 1 ranks inside (key, salt) sub-buckets — a hot key is spread over
    ``salt_buckets`` tasks — and keeps ≤k rows per sub-bucket. Phase 2 ranks
    the ≤ salt_buckets×k survivors per key exactly. Result carries ``_rank``
    (1-based per key). This is the skew-handling demanded for hot domains:
    Crawlee never needs it because it is single-process
    (domainAccessedTime map, basic-crawler.ts:554,706).
    """
    salt = (F.abs(F.xxhash64(F.col(salt_on))) % salt_buckets).alias("_salt")
    w1 = Window.partitionBy(key, "_salt").orderBy(order_col)
    partial = (
        df.withColumn("_salt", salt)
        .withColumn("_prk", F.row_number().over(w1))
        .filter(F.col("_prk") <= k)
        .drop("_prk", "_salt")
    )
    w2 = Window.partitionBy(key).orderBy(order_col)
    return partial.withColumn("_rank", F.row_number().over(w2)).filter(F.col("_rank") <= k)


# Below this many rows a single-task sort of the NARROW rank frame is
# sub-millisecond work and the two-phase machinery (range-sample job +
# checkpoint + count collect) costs more than it saves; above it the
# unpartitioned window becomes a real serialization point. Same adaptive
# pattern as sizing.fits_broadcast: pick the physical strategy from the size.
SINGLE_TASK_RANK_MAX_ROWS = 131_072


def global_row_number(
    df: DataFrame,
    order_col: str,
    *,
    col_name: str = "_rank",
    partitions: int = 32,
    approx_rows: int | None = None,
) -> DataFrame:
    """Global 1-based rank by ``order_col`` (values must be unique) without a
    single-task sort of anything big.

    ``row_number().over(Window.orderBy(...))`` funnels the WHOLE frame
    through one task — fine at 200 rows, a serialization point at a
    512k-claim round. Two phases instead: range-partition on the order
    column, rank within each partition in parallel, then add per-partition
    offsets (one count-per-partition job, ≤ ``partitions`` rows collected).

    When the caller knows the frame is small (``approx_rows`` ≤
    ``SINGLE_TASK_RANK_MAX_ROWS``), the rank stays a lazy unpartitioned
    window over the narrow frame instead — zero extra jobs, identical
    result — because the two-phase version pays three eager jobs per call
    (range sample, checkpoint, count), which is pure overhead at small
    claim sizes.

    Because order values are unique, the resulting rank is a pure function
    of the data — independent of where Spark's sampled range boundaries
    land — so it is deterministic across runs/resumes even though
    ``repartitionByRange`` samples with an RDD-id-derived seed. (With ties
    it would NOT be; callers must rank a unique column.)
    """
    if approx_rows is not None and approx_rows <= SINGLE_TASK_RANK_MAX_ROWS:
        w = Window.orderBy(order_col)
        return df.withColumn(col_name, F.row_number().over(w).cast("long"))
    return global_running_total(
        df, order_col, F.count(F.lit(1)), col_name=col_name, partitions=partitions
    )


def global_running_total(
    df: DataFrame, order_col: str, agg: Column, *, col_name: str, partitions: int = 32
) -> DataFrame:
    """Running ``agg`` (a count or a sum) in ``order_col`` order, this row
    included: ``global_row_number``'s two phases with ``agg`` as both the
    per-partition total and the partitioned window. ``order_col`` must be
    unique."""
    parted = (
        df.repartitionByRange(partitions, F.col(order_col))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin: offsets must match the ranked frame
    )
    totals = {
        int(r["_pid"]): int(r["t"] or 0)
        for r in parted.groupBy("_pid").agg(agg.alias("t")).collect()
    }
    if not totals:
        return parted.drop("_pid").withColumn(col_name, F.lit(None).cast("long"))
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    off = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = Window.partitionBy("_pid").orderBy(order_col)
    return parted.withColumn(
        col_name, (agg.over(w) + off[F.col("_pid")]).cast("long")
    ).drop("_pid")


def claim_round(
    frontier: DataFrame,
    round_id: int,
    policy: PolitenessPolicy,
) -> DataFrame:
    """Select this round's claimable set (the set-wise fetchNextRequest loop).

    Per-host budget first (politeness), then the global ``max_concurrency``
    cut by ``order_no`` — matching the reference, where the pool draws from
    the head (order_no-ascending) and the per-domain delay vetoes
    (basic-crawler.ts:1601-1627). The global cut is an orderBy().limit() —
    a TakeOrdered, no full sort at scale.
    """
    eligible = eligible_requests(frontier, round_id)
    budget = policy.host_budget
    # Requests whose host has NO registrable domain (IPs, bare public
    # suffixes, single-label hosts) are not throttled by sameDomainDelay in
    # the reference (delayRequest: `if (!domain) return false`,
    # basic-crawler.ts:1560-1564). Key them by request_id — each becomes its
    # own singleton politeness group, which is budget-exempt in one pass
    # (no second scan / union over the eligible frame).
    polite = eligible.withColumn(
        "_polite_key",
        F.coalesce(F.col("registrable_domain"), F.col("request_id")),
    )
    ranked = per_key_topk(
        polite,
        key="_polite_key",
        order_col="order_no",
        k=budget,
        salt_buckets=policy.salt_buckets,
    )
    return (
        ranked.orderBy("order_no")
        .limit(policy.max_concurrency)
        .drop("_rank", "_polite_key")
    )

# Lease stamping (O5 listAndLockHead) lives in the engine: the claimed set is
# committed as a mid-round merge-on-read delta with lease_until = round_id and
# state BEFORE_NAV (engine.run_round) — an O(claimed) write, never the
# frontier-wide join a standalone MERGE would need.
