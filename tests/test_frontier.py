"""Frontier store semantics: dedup idempotence, ordering golden sequences.

Golden sequences transcribed from
/root/reference/test/core/storages/request_queue.test.ts:700-735 (v1
forefront), :1025-1051 (v2, 28 requests), :1053-1083 (reclaim-forefront),
re-expressed at the model level: the concatenation of per-round head claims
must equal the reference fetch order under the same add/reclaim script.
"""

import pytest
from pyspark.sql import functions as F

from crawlee_spark.operators.frontier import FrontierStore
from crawlee_spark.operators.scheduler import PolitenessPolicy, claim_round


def urls_df(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def make_store(spark, tmp_store_dir):
    return FrontierStore(spark, tmp_store_dir, num_partitions=4)


def claim_one(store, round_id):
    """Head claim with a single-slot pool (the fetchNextRequest analog)."""
    pol = PolitenessPolicy(max_concurrency=1, per_host_cap=1, salt_buckets=4)
    rows = claim_round(store.read(), round_id, pol).collect()
    return rows[0] if rows else None


def mark_handled(store, request_id, round_id):
    """markRequestHandled: the handled row as a round's delta (the counter
    advances in the same commit, as the engine's outcome delta does)."""
    touched = store.read().filter(F.col("request_id") == request_id).withColumn(
        "handled_at", F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    )
    store.commit_delta(
        touched,
        round_increment=True,
        extra={"handled_total": store._manifest["handled_total"] + 1},
    )


def reclaim_forefront(store, request_id):
    """reclaimRequest(forefront=true): fresh negative order_no (O8)."""
    seq = store.order_seq + 1
    touched = store.read().filter(F.col("request_id") == request_id).withColumn(
        "order_no", F.lit(-seq).cast("long")
    )
    store._manifest["order_seq"] = seq
    store.commit_delta(touched)


def drain(store, start_round, expect_max=50):
    got = []
    r = start_round
    while len(got) < expect_max:
        row = claim_one(store, r)
        if row is None:
            break
        got.append(row["url"])
        mark_handled(store, row["request_id"], r)
        r += 1
    return got


def path_of(url):
    return "/" + url.split("/", 3)[3]


def test_dedup_idempotence(spark, tmp_store_dir):
    store = make_store(spark, tmp_store_dir)
    store.add_requests(urls_df(spark, [
        "http://example.com/1",
        "http://example.com/1",                 # in-batch dup
        "HTTP://EXAMPLE.com/1/",                # normalization dup
        "http://example.com/1?utm_source=x",    # utm dup
        "http://example.com/1#frag",            # fragment dup
        "http://example.com/2",
    ]))
    assert store.read().count() == 2
    # re-adding existing rows is a no-op (wasAlreadyPresent: not updated)
    before = {r["request_id"]: r["order_no"] for r in store.read().collect()}
    store.add_requests(urls_df(spark, ["http://example.com/2", "http://example.com/3"]))
    after = {r["request_id"]: r["order_no"] for r in store.read().collect()}
    assert len(after) == 3
    for rid, order in before.items():
        assert after[rid] == order  # existing rows untouched


def test_order_respects_forefront_v1(spark, tmp_store_dir):
    """request_queue.test.ts:700-735."""
    store = make_store(spark, tmp_store_dir)
    store.add_requests(urls_df(spark, [f"http://example.com/{i}" for i in (1, 5, 6)]))

    got = []
    row = claim_one(store, 1)
    got.append(row["url"])
    mark_handled(store, row["request_id"], 1)

    store.add_requests(urls_df(spark, ["http://example.com/4"]), forefront=True)
    store.add_requests(urls_df(spark, ["http://example.com/3"]), forefront=True)
    store.add_requests(urls_df(spark, ["http://example.com/2"]), forefront=True)

    row = claim_one(store, 10)
    assert row["url"] == "http://example.com/2"  # forefront LIFO head
    reclaim_forefront(store, row["request_id"])
    # reclaimed-forefront comes back at the head, then the rest in order
    got += drain(store, 11)
    assert [path_of(u) for u in got] == ["/1", "/2", "/3", "/4", "/5", "/6"]


def test_order_28_requests_v2(spark, tmp_store_dir):
    """request_queue.test.ts:1025-1051 (crosses the 25-batch API limit —
    irrelevant here, the whole frontier is one table)."""
    store = make_store(spark, tmp_store_dir)
    store.add_requests(
        urls_df(spark, ["http://example.com/1"] + [f"http://example.com/{i + 4}" for i in range(25)])
    )
    got = []
    row = claim_one(store, 1)
    got.append(row["url"])
    mark_handled(store, row["request_id"], 1)
    store.add_requests(urls_df(spark, ["http://example.com/3"]), forefront=True)
    store.add_requests(urls_df(spark, ["http://example.com/2"]), forefront=True)
    got += drain(store, 5)
    assert [path_of(u) for u in got] == [f"/{i + 1}" for i in range(28)]


def test_reclaim_forefront_ordering(spark, tmp_store_dir):
    """request_queue.test.ts:1053-1083."""
    store = make_store(spark, tmp_store_dir)
    store.add_requests(urls_df(spark, [f"http://example.com/{i}" for i in (1, 4, 5)]))
    got = []
    row = claim_one(store, 1)
    got.append(row["url"])
    mark_handled(store, row["request_id"], 1)
    store.add_requests(urls_df(spark, ["http://example.com/3"]), forefront=True)
    store.add_requests(urls_df(spark, ["http://example.com/2"]), forefront=True)
    row = claim_one(store, 5)
    assert row["url"] == "http://example.com/2"
    reclaim_forefront(store, row["request_id"])
    got += drain(store, 6)
    assert [path_of(u) for u in got] == ["/1", "/2", "/3", "/4", "/5"]


def test_budget_only_new_rows(spark, tmp_store_dir):
    """maxRequestsPerCrawl budget: duplicates don't consume it
    (basic_crawler.test.ts:2035-2130)."""
    store = make_store(spark, tmp_store_dir)
    store.add_requests(urls_df(spark, ["http://example.com/a"]))
    # batch: 2 dups + 3 new, budget 2 → exactly 2 new added (dups free)
    store.add_requests(
        urls_df(
            spark,
            [
                "http://example.com/a",
                "http://example.com/a#x",
                "http://example.com/b",
                "http://example.com/c",
                "http://example.com/d",
            ],
        ),
        max_new=2,
    )
    urls = sorted(path_of(r["url"]) for r in store.read().collect())
    assert urls == ["/a", "/b", "/c"]


def test_caller_host_and_domain_columns_are_rederived(spark, tmp_store_dir):
    """``host`` and ``registrable_domain`` always follow the url: the
    per-host politeness caps and the robots join key on them, so a caller's
    own columns of those names (mixed-case, or meaning something else) are
    replaced, on the shaping and on the enqueue path alike."""
    from crawlee_spark.operators.frontier import candidates_to_requests

    cands = spark.createDataFrame(
        [("https://Shop.Example.co.uk/a", "Shop.Example.co.uk", "tenant-7")],
        "url string, host string, registrable_domain string",
    )
    want = ("shop.example.co.uk", "example.co.uk")
    row = candidates_to_requests(cands).collect()[0]
    assert (row["host"], row["registrable_domain"]) == want
    store = make_store(spark, tmp_store_dir)
    store.add_requests(cands)
    row = store.read().collect()[0]
    assert (row["host"], row["registrable_domain"]) == want


def test_info_counters(spark, tmp_store_dir):
    store = make_store(spark, tmp_store_dir)
    store.add_requests(urls_df(spark, [f"http://example.com/{i}" for i in range(5)]))
    row = claim_one(store, 1)
    mark_handled(store, row["request_id"], 1)
    info = store.info()
    assert info == {
        "totalRequestCount": 5,
        "handledRequestCount": 1,
        "pendingRequestCount": 4,
    }
    assert not store.is_finished()


def test_resume_from_manifest(spark, tmp_store_dir):
    store = make_store(spark, tmp_store_dir)
    store.add_requests(urls_df(spark, [f"http://example.com/{i}" for i in range(4)]))
    row = claim_one(store, 1)
    mark_handled(store, row["request_id"], 1)
    seq, rnd = store.order_seq, store.round

    # simulate crash: brand-new store object over the same directory
    store2 = make_store(spark, tmp_store_dir)
    assert store2.order_seq == seq and store2.round == rnd
    assert store2.info()["handledRequestCount"] == 1
    # next claim continues deterministically
    nxt = claim_one(store2, rnd + 1)
    assert nxt["url"] == "http://example.com/1"


def test_commit_records_partition_lineage(spark, tmp_store_dir):
    """north_rule: per-partition lineage + metrics of the current base,
    replaced at every snapshot commit (compaction)."""
    store = make_store(spark, tmp_store_dir)
    store.add_requests(urls_df(spark, [f"http://example.com/{i}" for i in range(20)]))
    assert store._manifest["lineage"] == []  # an enqueue is a delta, not a base
    store.commit(store.read())
    parts = store._manifest["lineage"]
    assert sum(p["rows"] for p in parts) == 20
    assert all(p["handled"] == 0 for p in parts)
    row = claim_one(store, 1)
    mark_handled(store, row["request_id"], 1)
    store.commit(store.read())
    assert sum(p["handled"] for p in store._manifest["lineage"]) == 1
