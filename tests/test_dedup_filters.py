"""Partitioned Bloom prefilter: exactness vs plain anti-join, pruning power."""

import pytest
from pyspark.sql import functions as F

from crawlee_spark.operators.dedup_filters import (
    bloom_anti_join,
    build_filters,
    split_candidates,
)


@pytest.fixture(scope="module")
def frames(spark):
    seen = spark.createDataFrame([(f"rid-{i}",) for i in range(2000)], "request_id string")
    # candidates: 500 already-seen + 1500 new
    cand = spark.createDataFrame(
        [(f"rid-{i}",) for i in range(1500, 2000)] + [(f"new-{i}",) for i in range(1500)],
        "request_id string",
    )
    filters = build_filters(seen, num_buckets=16)
    return seen, cand, filters


def test_filters_shape(spark, frames):
    seen, _, filters = frames
    rows = filters.collect()
    assert 0 < len(rows) <= 16
    assert sum(r["n_keys"] for r in rows) == 2000
    for r in rows:
        assert r["m_bits"] >= 8192 and len(r["bits"]) == r["m_bits"] // 8


def test_no_false_negatives(spark, frames):
    """Every truly-seen candidate must be flagged maybe_seen (the reference
    guarantee direction: never a false 'new')."""
    seen, cand, filters = frames
    tagged = split_candidates(cand, filters, num_buckets=16)
    missed = tagged.filter(
        F.col("request_id").startswith("rid-") & ~F.col("maybe_seen")
    ).count()
    assert missed == 0


def test_prefilter_prunes_most_new(spark, frames):
    """False-positive rate stays near the design point (~1% at 10 bits/key),
    so almost all genuinely-new candidates skip the anti-join."""
    seen, cand, filters = frames
    tagged = split_candidates(cand, filters, num_buckets=16)
    fp = tagged.filter(F.col("request_id").startswith("new-") & F.col("maybe_seen")).count()
    assert fp / 1500 < 0.05


def test_bloom_anti_join_equals_exact(spark, frames):
    seen, cand, filters = frames
    via_bloom = {r["request_id"] for r in bloom_anti_join(cand, seen, filters, num_buckets=16).collect()}
    exact = {r["request_id"] for r in cand.join(seen, "request_id", "left_anti").collect()}
    assert via_bloom == exact
    assert len(exact) == 1500


def test_empty_bucket_is_definitely_new(spark):
    seen = spark.createDataFrame([("only-one",)], "request_id string")
    filters = build_filters(seen, num_buckets=8)
    cand = spark.createDataFrame([(f"x-{i}",) for i in range(100)], "request_id string")
    out = bloom_anti_join(cand, seen, filters, num_buckets=8)
    assert out.count() == 100


def test_bloom_anti_join_probes_once(spark, frames):
    """Both union branches of ``bloom_anti_join`` (definitely-new and
    checked) read one pinned probe: the Python cogroup runs exactly once
    over the candidates, not once per branch."""
    import re

    from tests.plan_capture import capture_actions

    seen, cand, filters = frames
    with capture_actions() as taken:
        out = bloom_anti_join(cand, seen, filters, num_buckets=16).collect()
    assert len(out) == 1500
    probes = sum(
        len(re.findall(r"^\(\d+\) FlatMapCoGroupsInPandas", a.plan, re.M)) for a in taken
    )
    assert probes == 1, [a.kind for a in taken]
