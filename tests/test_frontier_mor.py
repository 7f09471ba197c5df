"""Merge-on-read frontier: delta commits, compaction, resume, equivalence."""

import os

import pytest
from pyspark.sql import functions as F

from crawlee_spark.operators.engine import CrawlEngine, CrawlOptions
from crawlee_spark.operators.enqueue import EnqueueOptions
from crawlee_spark.operators.frontier import FrontierStore
from crawlee_spark.operators.scheduler import PolitenessPolicy
from crawlee_spark.sources.fixtures import make_pages, make_seeds


def crawl(spark, root, rounds: int = 3, compact_every: int = 100):
    store = FrontierStore(spark, root, num_partitions=4, compact_every=compact_every)
    engine = CrawlEngine(
        spark,
        store,
        make_pages(spark, n_pages=40),
        policy=PolitenessPolicy(max_concurrency=16, per_host_cap=8),
        options=CrawlOptions(enqueue=EnqueueOptions(strategy="same-hostname")),
    )
    engine.add_seeds(make_seeds(spark, n=4))
    for _ in range(rounds):
        if engine.run_round().get("done"):
            break
    return store, engine


def snapshot_of(store):
    rows = store.read().select(
        "request_id", "url", "order_no", "handled_at", "failed", "state", "retry_count"
    ).collect()
    return sorted(tuple(r) for r in rows)


def test_mor_equals_full_rewrite(spark, tmp_store_dir):
    # reference: compact_every=1 compacts on every delta commit, so every
    # round's state goes through a full-snapshot FrontierStore.commit
    s_full, _ = crawl(spark, os.path.join(tmp_store_dir, "full"), compact_every=1)
    assert s_full._manifest["deltas"] == [] and s_full._manifest["snapshot"] >= 0
    s_mor, _ = crawl(spark, os.path.join(tmp_store_dir, "mor"))
    assert snapshot_of(s_mor) == snapshot_of(s_full)
    # MOR actually produced deltas (still outstanding at compact_every=100)
    assert s_mor._manifest["deltas"], "expected outstanding delta files"
    # each delta touched O(claimed+fresh) rows, not the whole frontier
    touched = [h["rows_touched"] for h in s_mor._manifest["history"] if "delta" in h]
    total = s_mor.read().count()
    assert all(t <= total for t in touched) and len(touched) >= 3


def test_mor_compaction(spark, tmp_store_dir):
    store = FrontierStore(
        spark, tmp_store_dir, num_partitions=4, compact_every=2
    )
    store.add_requests(
        spark.createDataFrame([(f"http://a.com/{i}",) for i in range(10)], "url string")
    )
    before = snapshot = None
    # two delta commits trigger a compaction into a base snapshot
    d1 = store.read().withColumn("retry_count", F.lit(1))
    store.commit_delta(d1.limit(3))
    before = sorted(r["request_id"] for r in store.read().collect())
    d2 = store.read().withColumn("retry_count", F.lit(2))
    store.commit_delta(d2.limit(2))  # hits compact_every=2 → compaction
    assert store._manifest["deltas"] == []  # absorbed into the base
    after = sorted(r["request_id"] for r in store.read().collect())
    assert after == before  # same key set survives compaction


def test_dedup_exact_across_base_and_deltas(spark, tmp_store_dir):
    """One candidate batch holding base-only ids, delta-only ids and new
    ids: the seen-set anti-join against the merge-on-read frontier returns
    only the new ids."""
    store = FrontierStore(spark, tmp_store_dir, num_partitions=4, compact_every=100)
    store.add_requests(
        spark.createDataFrame([(f"http://a.com/{i}",) for i in range(40)], "url string")
    )
    store.commit_delta(
        store.prepare_fresh(
            spark.createDataFrame([(f"http://a.com/{i}",) for i in range(40, 50)], "url string")
        )
    )
    assert store._manifest["deltas"] and store._manifest["snapshot"] >= 0
    # 30-39 are in the base only, 40-49 in the delta only, 50-59 are new
    fresh = store.prepare_fresh(
        spark.createDataFrame([(f"http://a.com/{i}",) for i in range(30, 60)], "url string")
    )
    assert sorted(r["url"] for r in fresh.collect()) == sorted(
        f"http://a.com/{i}" for i in range(50, 60)
    )
    store.commit_delta(fresh)
    assert store.read().count() == 60
    assert store.read().select("request_id").distinct().count() == 60


def test_lease_delta_committed_mid_round(spark, tmp_store_dir):
    """O5: the claimed set is committed as a mid-round delta with
    lease_until = round and state BEFORE_NAV, before any outcome exists —
    the live analog of listAndLockHead's lock (request-queue.ts:228-298)."""
    from crawlee_spark.operators.frontier import STATE_BEFORE_NAV

    store, engine = crawl(spark, tmp_store_dir, rounds=1)
    # delta 0 is the round-1 lease stamp; delta 1 the outcomes
    lease = spark.read.parquet(store._delta_dir(0))
    rows = lease.collect()
    assert rows and all(r["lease_until"] == 1 for r in rows)
    assert all(r["state"] == STATE_BEFORE_NAV for r in rows)
    # outcomes released every lease (no in-flight rows after the round)
    assert store.read().filter(F.col("lease_until").isNotNull()).count() == 0


def test_lease_blocks_same_round_reclaim(spark, tmp_store_dir):
    """A second claimer at the SAME round must not re-claim leased rows;
    the NEXT round sees the (crashed) lease as expired and re-claims."""
    from crawlee_spark.operators.scheduler import eligible_requests

    store, engine = crawl(spark, tmp_store_dir, rounds=1)
    leased_only = spark.read.parquet(store._delta_dir(0))
    assert eligible_requests(leased_only, round_id=1).count() == 0
    assert eligible_requests(leased_only, round_id=2).count() == leased_only.count()


def test_counters_match_exact_recount(spark, tmp_store_dir):
    """O(1) manifest counters must agree with a full-table recount after a
    multi-round crawl (handled via commit extras, total via prepare_fresh,
    both resynced at compaction)."""
    store, engine = crawl(spark, tmp_store_dir, rounds=3)
    assert store.info() == store.info(exact=True)
    failed_exact = store.read().filter(F.col("failed")).count()
    assert store._manifest["failed_total"] == failed_exact


def test_budget_needs_no_frontier_scan(spark, tmp_store_dir):
    """_remaining_budget is a manifest read — pin that it never launches a
    frontier job (VERDICT r1 item 3)."""
    store, engine = crawl(spark, tmp_store_dir, rounds=1)
    engine.options.max_requests_per_crawl = 100
    real_read = store.read
    store.read = lambda *a, **k: (_ for _ in ()).throw(AssertionError("frontier scan"))
    try:
        assert engine._remaining_budget() == max(
            0, 100 - store._manifest["total_requests"]
        )
    finally:
        store.read = real_read


def test_mor_resume_with_outstanding_deltas(spark, tmp_store_dir):
    store, _ = crawl(spark, tmp_store_dir, rounds=2)
    expect = snapshot_of(store)
    # crash: brand-new store object over the same directory mid-delta-chain
    store2 = FrontierStore(spark, tmp_store_dir, num_partitions=4)
    assert store2._manifest["deltas"] == store._manifest["deltas"]
    assert snapshot_of(store2) == expect


def test_mid_round_crash_recovers(spark, tmp_store_dir):
    """Crash AFTER the lease delta but BEFORE the outcome delta: the resumed
    engine's next round sees the crashed round's leases as expired
    (lease_until < round_id) and re-claims the rows — nothing is stuck."""
    from crawlee_spark.operators.frontier import FRONTIER_SCHEMA, STATE_BEFORE_NAV
    from crawlee_spark.operators.scheduler import claim_round
    from crawlee_spark.sources.fixtures import make_pages, make_seeds

    store = FrontierStore(spark, tmp_store_dir, num_partitions=4, compact_every=100)
    engine = CrawlEngine(
        spark, store, make_pages(spark, n_pages=12),
        policy=PolitenessPolicy(max_concurrency=16, per_host_cap=8),
        options=CrawlOptions(enqueue=EnqueueOptions(strategy="all"), max_rounds=10),
    )
    engine.add_seeds(make_seeds(spark, n=4))

    # replicate run_round's first half by hand: claim + lease-delta commit,
    # then "crash" (no outcome delta ever written)
    crash_round = store.round + 1
    claimed = claim_round(store.read(), crash_round, engine.policy)
    leased = (
        claimed.withColumn("lease_until", F.lit(crash_round).cast("long"))
        .withColumn("state", F.lit(STATE_BEFORE_NAV))
        .withColumn("round_id", F.lit(crash_round))
        .select(*[f.name for f in FRONTIER_SCHEMA.fields])
    )
    store.commit_delta(leased, round_increment=True)
    n_leased = store.read().filter(F.col("lease_until").isNotNull()).count()
    assert n_leased > 0  # the crash left in-flight rows behind

    # resume: a fresh engine over the same dir finishes the crawl
    store2 = FrontierStore(spark, tmp_store_dir, num_partitions=4, compact_every=100)
    engine2 = CrawlEngine(
        spark, store2, make_pages(spark, n_pages=12),
        policy=PolitenessPolicy(max_concurrency=16, per_host_cap=8),
        options=CrawlOptions(enqueue=EnqueueOptions(strategy="all"), max_rounds=10),
    )
    engine2.run(None)
    final = store2.read()
    assert final.filter(F.col("handled_at").isNull()).count() == 0  # nothing stuck
    assert final.filter(F.col("lease_until").isNotNull()).count() == 0
    assert store2.info() == store2.info(exact=True)  # counters survived the crash


def test_legacy_manifest_backfills_delta_stats(spark, tmp_store_dir, monkeypatch):
    """Manifests written before delta_rows/delta_id_bytes existed list
    outstanding deltas with no stats; the sums must be backfilled from the
    delta files — not silently treated as 0, which would unconditionally
    broadcast arbitrarily large deltas (ADVICE r3)."""
    import json

    from crawlee_spark.operators import sizing

    store = FrontierStore(spark, tmp_store_dir, num_partitions=4, compact_every=100)
    store.add_requests(
        spark.createDataFrame([(f"http://a.com/{i}",) for i in range(10)], "url string")
    )
    store.commit_delta(store.read().limit(4).withColumn("retry_count", F.lit(1)))
    want_rows, want_bytes = store._outstanding_delta_stats()
    assert want_rows == 4 and want_bytes > 0

    # simulate an upgraded store: stats entries missing from the manifest
    mpath = os.path.join(tmp_store_dir, FrontierStore.MANIFEST)
    with open(mpath) as f:
        m = json.load(f)
    m.pop("delta_rows", None)
    m.pop("delta_id_bytes", None)
    with open(mpath, "w") as f:
        json.dump(m, f)

    s2 = FrontierStore(spark, tmp_store_dir, num_partitions=4, compact_every=100)
    assert s2._outstanding_delta_stats() == (want_rows, want_bytes)
    # and the guard still answers from real sizes
    assert s2._deltas_broadcastable()
    monkeypatch.setattr(sizing, "BROADCAST_MAX_BYTES", 1)
    assert not s2._deltas_broadcastable()
