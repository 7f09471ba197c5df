"""Partitioned Bloom filters for the URL-seen set.

Generalizes the reference's ``RequestDeduplicationCache`` (packages/core/src/
storages/request_dedup_cache.ts:14-51 — a fixed-size direct-mapped
approximate seen-set whose collisions cause harmless re-submission, never a
false hit) to the distributed setting, exactly as the BASELINE north star
demands: *partitioned* Bloom filters standing in front of the exact anti-join.

Guarantee direction (same as the reference): a Bloom false positive only
sends a candidate to the exact anti-join; a "definitely new" verdict is
always true, so no URL is ever dropped without an exact check and no
duplicate ever sneaks in (the exact join has the final word).

``FrontierStore`` does not use this operator: its seen-set is the exact
left-anti join alone. A prefilter pays only when it spares the exact probe,
and this one cannot — the maybe-seen branch still shuffles the whole frontier
read (base ⋉ delta ids ∪ deltas) on ``request_id``, the same exchange the
plain join takes, and adds a cogroup shuffle, a Python probe, a pin and the
filter builds on top. In front of the frontier it lost every paired
``churn`` run, at 26-27% fewer items/s (BENCH.md, "Bloom prefilter in front
of the frontier").

Layout: the seen-set is split into ``num_buckets`` partitions by
``xxhash64(request_id) % num_buckets``. Each bucket's filter is one row ``(bucket, m_bits, k_hashes,
n_keys, bits: binary)``; at 10 bits/key a 10^10-row frontier costs ~12 GB
of filters across 4096 buckets (~3 MB each) — small enough to pin in
executor memory, far too big for a single driver-side filter, which is why
``DataFrame.stat.bloomFilter`` (one driver-materialized filter) is not used.

Probing avoids shipping filters to rows or rows to the driver: candidates
and filters are **cogrouped on the bucket id** (one shuffle, Arrow-batched),
and the per-bucket numpy probe tests all candidates of a bucket against its
filter bits at once.

Hashing: double hashing h_i = h1 + i·h2 (Kirsch–Mitzenmacher) over the two
64-bit halves derived from the candidate's xxhash64, all uint64 arithmetic
in numpy — deterministic and engine-independent.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FILTER_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("m_bits", T.LongType(), False),
        T.StructField("k_hashes", T.IntegerType(), False),
        T.StructField("n_keys", T.LongType(), False),
        T.StructField("bits", T.BinaryType(), False),
    ]
)

_MIX = np.uint64(0x9E3779B97F4A7C15)


def _h1_h2(h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Two derived 64-bit hash streams from one xxhash64 value (splitmix)."""
    h = h.astype(np.uint64)
    z = (h + _MIX) & np.uint64(0xFFFFFFFFFFFFFFFF)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    h2 = z ^ (z >> np.uint64(31))
    return h, h2 | np.uint64(1)  # odd h2 ⇒ full-period stride


def _set_bits(bits: np.ndarray, h: np.ndarray, k: int, m: int) -> None:
    h1, h2 = _h1_h2(h)
    for i in range(k):
        idx = (h1 + np.uint64(i) * h2) % np.uint64(m)
        np.bitwise_or.at(bits, (idx >> np.uint64(3)).astype(np.int64), (1 << (idx & np.uint64(7))).astype(np.uint8))


def _test_bits(bits: np.ndarray, h: np.ndarray, k: int, m: int) -> np.ndarray:
    h1, h2 = _h1_h2(h)
    out = np.ones(len(h), dtype=bool)
    for i in range(k):
        idx = (h1 + np.uint64(i) * h2) % np.uint64(m)
        byte = bits[(idx >> np.uint64(3)).astype(np.int64)]
        out &= (byte & (1 << (idx & np.uint64(7))).astype(np.uint8)) != 0
    return out


def bucket_col(request_id, num_buckets: int):
    c = F.col(request_id) if isinstance(request_id, str) else request_id
    return F.pmod(F.xxhash64(c), F.lit(num_buckets)).cast("int")


def build_filters(
    seen: DataFrame,
    *,
    id_col: str = "request_id",
    num_buckets: int = 64,
    bits_per_key: int = 10,
    k_hashes: int = 7,
    min_bits: int = 8192,
) -> DataFrame:
    """One Bloom filter per bucket over the seen-set ids.

    Sizing is per bucket from its actual key count (``bits_per_key`` ×
    n, floor ``min_bits``), so skewed buckets keep their false-positive
    rate instead of inheriting a global average."""
    hashed = seen.select(
        bucket_col(id_col, num_buckets).alias("bucket"), F.xxhash64(F.col(id_col)).alias("h")
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf["bucket"].iloc[0])
        h = pdf["h"].to_numpy().astype(np.uint64)
        m = max(min_bits, int(len(h) * bits_per_key))
        m = (m + 7) // 8 * 8
        bits = np.zeros(m // 8, dtype=np.uint8)
        _set_bits(bits, h, k_hashes, m)
        return pd.DataFrame(
            [(bucket, m, k_hashes, len(h), bits.tobytes())],
            columns=["bucket", "m_bits", "k_hashes", "n_keys", "bits"],
        )

    return hashed.groupBy("bucket").applyInPandas(build, FILTER_SCHEMA)


def split_candidates(
    candidates: DataFrame,
    filters: DataFrame,
    *,
    id_col: str = "request_id",
    num_buckets: int = 64,
) -> DataFrame:
    """Tag candidates with ``maybe_seen``: False ⇒ definitely new (skip the
    exact anti-join), True ⇒ needs the exact check.

    Implementation: cogroup candidates and filters on the bucket id — one
    shuffle, and each Arrow batch probes a whole bucket's candidates against
    its filter in vectorized numpy. Buckets with no filter row (empty
    seen-set partition) are definitely-new."""
    cand = candidates.withColumn("bucket", bucket_col(id_col, num_buckets)).withColumn(
        "_h", F.xxhash64(F.col(id_col))
    )
    out_schema = T.StructType(
        cand.schema.fields + [T.StructField("maybe_seen", T.BooleanType(), False)]
    )
    cols = cand.columns

    def probe(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(columns=cols + ["maybe_seen"])
        if right.empty:
            left = left.copy()
            left["maybe_seen"] = False
            return left
        row = right.iloc[0]
        bits = np.frombuffer(row["bits"], dtype=np.uint8)
        h = left["_h"].to_numpy().astype(np.uint64)
        left = left.copy()
        left["maybe_seen"] = _test_bits(bits, h, int(row["k_hashes"]), int(row["m_bits"]))
        return left

    return (
        cand.groupBy("bucket")
        .cogroup(filters.groupBy("bucket"))
        .applyInPandas(probe, out_schema)
    )


def bloom_anti_join(
    candidates: DataFrame,
    seen: DataFrame,
    filters: DataFrame,
    *,
    id_col: str = "request_id",
    num_buckets: int = 64,
) -> DataFrame:
    """Exact ``candidates − seen`` with the Bloom prefilter in front (D5+D7).

    Only maybe-seen candidates enter the anti-join shuffle; definitely-new
    ones bypass it. Result is exactly equal to the plain left-anti join —
    verified property in tests/test_dedup_filters.py."""
    # pinned: both union branches read it, and each would re-run the probe
    tagged = split_candidates(candidates, filters, id_col=id_col, num_buckets=num_buckets)
    tagged = tagged.localCheckpoint(eager=True)
    fresh_fast = tagged.filter(~F.col("maybe_seen")).drop("maybe_seen", "bucket", "_h")
    checked = (
        tagged.filter(F.col("maybe_seen"))
        .drop("maybe_seen", "bucket", "_h")
        .join(seen.select(id_col), id_col, "left_anti")
    )
    return fresh_fast.unionByName(checked)
