"""Proxy rotation policy (proxy_configuration.ts semantics, no network).

- ProxyTierTracker replica vs hand-simulated reference traces
  (proxy_configuration.ts:127-173): +10 error charge, decay-by-1 per
  prediction on non-current tiers, neighbour comparison with left-equality
  downshift probe.
- Sticky per-session rotation (:400-415): first-appearance rank picks
  proxyUrls[rank % n] and the session keeps it; nextCustomUrlIndex
  continuation across batches via rank_offset.
- Tiered per-domain replay (:337-368): retries charge lastProxyTier before
  their own prediction; state (histogram, current tier, rotation index)
  persists across calls; domains are independent.
- Engine integration: claim sets get proxy_tier/proxy_url, a 503-retrying
  domain escalates while clean domains stay at tier 0, and the outcomes log
  records the per-attempt proxyInfo surface.
"""

import pytest
from pyspark.sql import functions as F

from crawlee_spark.operators.proxies import (
    ProxyConfiguration,
    TRACKER_STATE_SCHEMA,
    ProxyTierTracker,
    predict_proxy_tiers,
    rotate_proxies,
    split_assignments,
)


def test_configuration_exactly_one_source():
    with pytest.raises(ValueError):
        ProxyConfiguration(proxy_urls=("http://a",), tiered_proxy_urls=(("http://b",),))
    with pytest.raises(ValueError):
        ProxyConfiguration()
    ProxyConfiguration(proxy_urls=("http://a",))  # ok
    ProxyConfiguration(tiered_proxy_urls=(("http://a",), ("http://b",)))  # ok


def test_tracker_escalates_on_errors():
    """Reference trace, 3 tiers: fresh request predicts 0; each retry charges
    the previous tier (+10) and the neighbour rule walks the tier up."""
    t = ProxyTierTracker(3)
    assert t.predict_tier() == 0  # fresh: histogram all zero, stays put
    t.add_error(0)  # retry charges tier 0
    # h=[10,0,0]: decay skips current(0); right neighbour 0 < 10 -> move up
    assert t.predict_tier() == 1
    t.add_error(1)
    # h=[10,10,0] -> decay non-current: [9,10,0]; right 0 < left 9 -> up
    assert t.predict_tier() == 2
    assert t.histogram == [9, 10, 0]


def test_tracker_decays_back_down():
    """After errors stop, decay drifts the prediction back to cheap tiers
    (the '~10 predictions' contract in the reference docstring)."""
    t = ProxyTierTracker(3)
    t.predict_tier()
    t.add_error(0)
    t.predict_tier()
    t.add_error(1)
    t.predict_tier()  # now at tier 2, h=[9,10,0]
    seen = [t.predict_tier() for _ in range(25)]
    # equality-with-left probes the downshift once the charge decays
    assert 1 in seen and seen[-1] == 0
    assert t.histogram == [0, 0, 0]


def test_tracker_left_equality_probes_downshift():
    # current=1 with h[0]==h[1] must step DOWN (the `=== left` branch)
    t = ProxyTierTracker(3, histogram=[0, 0, 0], current_tier=1)
    assert t.predict_tier() == 0


def test_rotate_proxies_sticky_rank_and_offset(spark):
    urls = ("http://p0", "http://p1", "http://p2")
    rows = [  # (session, arrival order) — s2 arrives twice, rank = min
        ("s2", 7), ("s0", 1), ("s1", 4), ("s2", 2), ("s3", 9),
    ]
    df = spark.createDataFrame(rows, "session_id string, order_no long")
    got = {r["session_id"]: r["proxy_url"]
           for r in rotate_proxies(df, urls, num_partitions=4).collect()}
    # first-arrival ranks: s0(1)->p0, s2(2)->p1, s1(4)->p2, s3(9)->p0
    assert got == {"s0": "http://p0", "s2": "http://p1",
                   "s1": "http://p2", "s3": "http://p0"}
    # continuation: a later batch starts where the previous stopped
    df2 = spark.createDataFrame([("s9", 1)], "session_id string, order_no long")
    got2 = rotate_proxies(df2, urls, num_partitions=4, rank_offset=4).collect()
    assert got2[0]["proxy_url"] == "http://p1"  # index 4 % 3


def test_rotate_proxies_none_slot(spark):
    """None entries mean 'no proxy for this slot' (proxy_configuration.ts:40)."""
    df = spark.createDataFrame([("a", 1), ("b", 2)], "session_id string, order_no long")
    got = {r["session_id"]: r["proxy_url"]
           for r in rotate_proxies(df, ("http://p0", None), num_partitions=2).collect()}
    assert got == {"a": "http://p0", "b": None}


TIERS = (("http://t0",), ("http://t1a", "http://t1b"), ("http://t2",))


def test_predict_tiers_domains_independent(spark):
    att = spark.createDataFrame(
        [  # bad.com retries carry last_tier; good.com never errors
            ("r1", "good.com", 1, None),
            ("r2", "bad.com", 2, None),
            ("r3", "good.com", 3, None),
            ("r2x", "bad.com", 4, 0),   # retry of r2: charges tier 0
            ("r4", "bad.com", 5, None),
        ],
        "request_id string, domain string, order_no long, last_proxy_tier int",
    )
    out = predict_proxy_tiers(att, TIERS, state=None)
    assignments, state = split_assignments(out)
    a = {r["request_id"]: (r["proxy_tier"], r["proxy_url"]) for r in assignments.collect()}
    assert a["r1"] == (0, "http://t0") and a["r3"] == (0, "http://t0")
    assert a["r2"] == (0, "http://t0")
    assert a["r2x"][0] == 1  # escalated after the charge
    assert a["r4"][0] == 1  # fresh traffic on bad.com follows the tracker
    st = {r["domain"]: r for r in state.collect()}
    assert st["good.com"]["current_tier"] == 0
    assert st["bad.com"]["current_tier"] == 1
    assert st["bad.com"]["histogram"][0] > 0


def test_predict_tiers_state_carries_across_calls(spark):
    att1 = spark.createDataFrame(
        [("r1", "d.com", 1, None), ("r1x", "d.com", 2, 0)],
        "request_id string, domain string, order_no long, last_proxy_tier int",
    )
    _, state = split_assignments(predict_proxy_tiers(att1, TIERS, state=None))
    state = state.localCheckpoint(eager=True)
    att2 = spark.createDataFrame(
        [("r2", "d.com", 10, None)],
        "request_id string, domain string, order_no long, last_proxy_tier int",
    )
    out2, _ = split_assignments(predict_proxy_tiers(att2, TIERS, state=state))
    assert out2.collect()[0]["proxy_tier"] == 1  # escalation persisted


def test_predict_tiers_within_batch_retry_charges_replay_tier(spark):
    """A request retried WITHIN the batch charges the tier the replay just
    assigned it (the per-request userData analog), not a stale input col."""
    att = spark.createDataFrame(
        [("r1", "d.com", 1, None), ("r1", "d.com", 2, None)],
        "request_id string, domain string, order_no long, last_proxy_tier int",
    )
    a, _ = split_assignments(predict_proxy_tiers(att, TIERS, state=None))
    rows = {r["order_no"]: r["proxy_tier"] for r in a.collect()}
    assert rows[1] == 0 and rows[2] == 1


def test_predict_tiers_round_robin_within_tier(spark):
    """next_idx rotates urls inside a tier and persists across calls."""
    att = spark.createDataFrame(
        [(f"r{i}", "d.com", i, None) for i in range(1, 4)],
        "request_id string, domain string, order_no long, last_proxy_tier int",
    )
    two = (("http://a", "http://b"),)
    a, st = split_assignments(predict_proxy_tiers(att, two, state=None))
    urls = [r["proxy_url"] for r in a.orderBy("order_no").collect()]
    assert urls == ["http://a", "http://b", "http://a"]
    st = st.localCheckpoint(eager=True)
    att2 = spark.createDataFrame(
        [("r9", "d.com", 9, None)],
        "request_id string, domain string, order_no long, last_proxy_tier int",
    )
    a2, _ = split_assignments(predict_proxy_tiers(att2, two, state=st))
    assert a2.collect()[0]["proxy_url"] == "http://b"  # idx 3 % 2


def test_predict_tiers_no_unpartitioned_window(spark):
    """The replay is one groupBy(domain).applyInPandas — no WindowExec at
    all, so nothing funnels to a single partition."""
    att = spark.createDataFrame(
        [("r1", "d.com", 1, None)],
        "request_id string, domain string, order_no long, last_proxy_tier int",
    )
    plan = predict_proxy_tiers(att, TIERS, state=spark.createDataFrame([], TRACKER_STATE_SCHEMA))._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "FlatMapGroupsInPandas" in plan


def _engine(spark, tmp_store_dir, pages, proxy_config, max_rounds=6):
    from crawlee_spark.operators.engine import CrawlEngine, CrawlOptions
    from crawlee_spark.operators.enqueue import EnqueueOptions
    from crawlee_spark.operators.frontier import FrontierStore
    from crawlee_spark.operators.scheduler import PolitenessPolicy

    store = FrontierStore(spark, tmp_store_dir, num_partitions=4)
    return CrawlEngine(
        spark=spark,
        store=store,
        pages=pages,
        policy=PolitenessPolicy(max_concurrency=50, per_host_cap=10, salt_buckets=4),
        options=CrawlOptions(
            max_rounds=max_rounds,
            enqueue=EnqueueOptions(strategy="all"),
            proxy_config=proxy_config,
        ),
    )


def test_engine_tiered_escalation_end_to_end(spark, tmp_store_dir):
    """flaky.example.dev 503s retry -> its tier escalates; clean hosts stay
    at tier 0; every attempt in the outcomes log carries proxyInfo."""
    from crawlee_spark.sources.fixtures import make_pages, make_pages_rows, make_seeds

    pages = make_pages(spark, 40)
    engine = _engine(
        spark, tmp_store_dir, pages,
        ProxyConfiguration(tiered_proxy_urls=TIERS),
    )
    engine.run(make_seeds(spark, make_pages_rows(40)))
    att = engine.outcomes()
    assert "proxy_tier" in att.columns and "proxy_url" in att.columns
    assert att.filter(F.col("proxy_url").isNull()).count() == 0
    host = F.regexp_extract("url", r"https?://([^/]+)/", 1)
    att = att.withColumn("host", host)
    # only retries charge a tier: hosts whose attempts never retried must
    # all stay at tier 0 (escalation is per-domain, never cross-domain)
    retrying_hosts = [
        r["host"]
        for r in att.filter(F.col("outcome").isin("retry", "session_retry"))
        .select("host").distinct().collect()
    ]
    assert "flaky.example.dev" in retrying_hosts  # the 503 fixture host
    clean = att.filter(~F.col("host").isin(retrying_hosts))
    assert clean.count() > 0
    assert clean.filter(F.col("proxy_tier") != 0).count() == 0
    # the retried 503s must have pushed flaky.example.dev off tier 0
    flaky = att.filter(F.col("host") == "flaky.example.dev")
    assert flaky.filter(F.col("proxy_tier") > 0).count() > 0


def test_engine_plain_sticky_per_session(spark, tmp_store_dir):
    """proxyUrls + session pool: all attempts of one session share one url,
    across rounds (usedProxyUrls stickiness)."""
    from crawlee_spark.operators.engine import CrawlEngine, CrawlOptions
    from crawlee_spark.operators.enqueue import EnqueueOptions
    from crawlee_spark.operators.frontier import FrontierStore
    from crawlee_spark.operators.scheduler import PolitenessPolicy
    from crawlee_spark.operators.sessions import SessionPolicy
    from crawlee_spark.sources.fixtures import make_pages, make_pages_rows, make_seeds

    store = FrontierStore(spark, tmp_store_dir, num_partitions=4)
    engine = CrawlEngine(
        spark=spark,
        store=store,
        pages=make_pages(spark, 40),
        policy=PolitenessPolicy(max_concurrency=50, per_host_cap=10, salt_buckets=4),
        options=CrawlOptions(
            max_rounds=6,
            enqueue=EnqueueOptions(strategy="all"),
            proxy_config=ProxyConfiguration(proxy_urls=("http://p0", "http://p1", "http://p2")),
        ),
        session_policy=SessionPolicy(max_pool_size=4),
    )
    engine.run(make_seeds(spark, make_pages_rows(40)))
    att = engine.outcomes()
    per_session = (
        att.filter(F.col("session_id").isNotNull())
        .groupBy("session_id")
        .agg(F.countDistinct("proxy_url").alias("n"))
        .collect()
    )
    assert per_session and all(r["n"] == 1 for r in per_session)


def test_engine_plain_no_sessions_no_state_growth(spark, tmp_store_dir):
    """Sessionless proxyUrls mode: rotation state is ONE scalar row, not a
    per-request table (the reference keeps no per-call state either)."""
    from crawlee_spark.sources.fixtures import make_pages, make_pages_rows, make_seeds

    engine = _engine(
        spark, tmp_store_dir, make_pages(spark, 40),
        ProxyConfiguration(proxy_urls=("http://p0", "http://p1")),
    )
    engine.run(make_seeds(spark, make_pages_rows(40)))
    att = engine.outcomes()
    assert att.filter(F.col("proxy_url").isNull()).count() == 0
    state = engine.store.table("proxy_state", "draws long")
    assert state.count() == 1 and state.columns == ["draws"]
    assert state.collect()[0]["draws"] == att.count()
