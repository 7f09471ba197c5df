"""FrontierStore with the Bloom prefilter enabled: identical semantics."""

from pyspark.sql import functions as F

from crawlee_spark.operators.frontier import FrontierStore


def test_store_bloom_dedup_idempotence(spark, tmp_store_dir):
    store = FrontierStore(spark, tmp_store_dir, num_partitions=4, bloom_buckets=8)
    store.add_requests(
        spark.createDataFrame([(f"http://example.com/{i}",) for i in range(50)], "url string")
    )
    assert store.read().count() == 50
    # re-add 30 seen + 20 new through the bloom path
    store.add_requests(
        spark.createDataFrame(
            [(f"http://example.com/{i}",) for i in range(20, 70)], "url string"
        )
    )
    assert store.read().count() == 70
    # every request_id unique (no duplicate slipped past the filter)
    assert store.read().select("request_id").distinct().count() == 70


def test_bloom_exact_across_mor_deltas(spark, tmp_store_dir):
    """MOR store: the enqueue hot path must write NO filter version per
    delta — the base-covering filters stay put while outstanding delta ids
    are anti-joined exactly — and dedup stays exact against snapshot+delta
    contents (a delta-added id must never pass as definitely-new)."""
    store = FrontierStore(
        spark, tmp_store_dir, num_partitions=4, bloom_buckets=8,
        compact_every=100,
    )
    store.add_requests(
        spark.createDataFrame([(f"http://a.com/{i}",) for i in range(40)], "url string")
    )

    # a delta adds 10 new rows (bypassing add_requests' full commit);
    # this first bloom-path call bootstraps filter v0 over the base
    fresh = store.prepare_fresh(
        spark.createDataFrame([(f"http://a.com/{i}",) for i in range(40, 50)], "url string")
    )
    assert fresh.count() == 10
    store.commit_delta(fresh)
    v0 = store._manifest["filters_state"]["version"]

    # enqueue overlapping candidates THROUGH the bloom path: ids 30..59 —
    # 30-39 are in the base (filter catches), 40-49 only in the delta
    # (exact delta anti-join catches), 50-59 genuinely new
    fresh2 = store.prepare_fresh(
        spark.createDataFrame([(f"http://a.com/{i}",) for i in range(30, 60)], "url string")
    )
    assert fresh2.count() == 10
    store.commit_delta(fresh2)
    state = store._manifest["filters_state"]
    # no filter write happened in the hot path; still covering the base
    assert state["version"] == v0 and state["snapshot"] == store._manifest["snapshot"]
    assert store.read().count() == 60
    assert store.read().select("request_id").distinct().count() == 60

    # an out-of-band full commit rebuilds from the new base and stays exact
    store.commit(store.read())
    fresh3 = store.prepare_fresh(
        spark.createDataFrame([(f"http://a.com/{i}",) for i in range(55, 65)], "url string")
    )
    assert fresh3.count() == 5


def test_bloom_filters_cover_every_frontier_id(spark, tmp_store_dir):
    """Guarantee direction: every id in the current frontier must probe
    maybe_seen=True (no false 'definitely new' → no duplicate ever)."""
    from crawlee_spark.operators.dedup_filters import split_candidates

    store = FrontierStore(
        spark, tmp_store_dir, num_partitions=4, bloom_buckets=8,
        compact_every=100,
    )
    store.add_requests(
        spark.createDataFrame([(f"http://b.com/{i}",) for i in range(25)], "url string")
    )
    store.commit_delta(
        store.prepare_fresh(
            spark.createDataFrame([(f"http://b.com/{i}",) for i in range(25, 45)], "url string")
        )
    )
    tagged = split_candidates(
        store.read().select("request_id"), store.filters(), num_buckets=8
    )
    assert tagged.filter(~F.col("maybe_seen")).count() == 0


def test_compaction_carries_filters_without_rebuild(spark, tmp_store_dir, monkeypatch):
    """Compaction must NOT rebuild the Bloom filters from the full table:
    ids are never deleted, so the incrementally OR-merged version stays
    exactly valid and is re-pointed at the new snapshot (VERDICT r2 item 3).
    Only bootstrap may call build_filters."""
    import crawlee_spark.operators.dedup_filters as df_mod

    store = FrontierStore(
        spark, tmp_store_dir, num_partitions=4, bloom_buckets=8,
        compact_every=2,
    )
    store.add_requests(
        spark.createDataFrame([(f"http://a.com/{i}",) for i in range(30)], "url string")
    )
    store.filters()  # bootstrap build (the one allowed full-table pass)
    v0 = store._manifest["filters_state"]["version"]

    calls = []
    real_build = df_mod.build_filters
    monkeypatch.setattr(
        df_mod, "build_filters", lambda *a, **k: (calls.append(1), real_build(*a, **k))[1]
    )
    f1 = store.prepare_fresh(
        spark.createDataFrame([(f"http://a.com/{i}",) for i in range(30, 40)], "url string")
    )
    store.commit_delta(f1)
    f2 = store.prepare_fresh(
        spark.createDataFrame([(f"http://a.com/{i}",) for i in range(40, 50)], "url string")
    )
    store.commit_delta(f2)  # hits compact_every=2 -> compaction
    assert store._manifest["deltas"] == []  # compacted
    assert not calls, "compaction triggered a full Bloom rebuild"
    state = store._manifest["filters_state"]
    assert state["snapshot"] == store._manifest["snapshot"] and state["deltas"] == []
    assert state["version"] >= v0  # carried (possibly merged forward), never reset

    # the carried filters stay EXACT: overlapping enqueue dedups correctly
    f3 = store.prepare_fresh(
        spark.createDataFrame([(f"http://a.com/{i}",) for i in range(45, 55)], "url string")
    )
    assert f3.count() == 5
    assert not calls
