"""Frame sizing: the scan spread before heavy per-row work, and the one
broadcast guard.

Every size-gated broadcast hint in the engine asks ``fits_broadcast(rows,
payload_bytes)``: the robots dimension (``maybe_broadcast``), the fetch-join
claim prune, the frontier's delta-id anti-join and the dedup candidate-pair
verify joins. A row-count guard alone is wrong on both ends (millions of
15-byte ids vs millions of KB-wide robots bodies), and a raw payload-byte
guard is wrong too: a broadcast hash relation costs far more than its
payload, so the estimate adds a measured per-row overhead.

Width samples are a bounded ``limit(sample_rows)`` aggregate — one tiny
job, never a full scan — so callers can afford one per dimension frame, or
they fold exact byte sums into a count job they already run (frontier delta
commits, the engine's claim aggregate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# One cap for every size-gated broadcast hint, on the ESTIMATED build size.
BROADCAST_MAX_BYTES = 128 << 20
# Build bytes per row on top of the payload. Measured as the dataSize metric
# of BroadcastExchange (get_spark defaults, local[4], AQE off): 2 M
# (long, long) pairs with hashed keys build 134,217,728 B (67 B/row against
# 16 B of payload) and 2 M 15-char request_id strings build 268,435,456 B
# (134 B/row against 15 B). At 200 k rows the same shapes build 16.8 MB and
# 75.5 MB: allocation is page-rounded, so small builds cost more per row.
# A 3 GB driver has a different page size and builds the ids in 234.9 MB.
# 120 B/row keeps payload + overhead at or above the measured size of both
# shapes at 2 M rows.
ROW_OVERHEAD = 120

# payload widths of fixed-width types (the hash relation's per-row cost is
# ROW_OVERHEAD, added by fits_broadcast)
_FIXED_BYTES = {
    T.BooleanType: 1,
    T.ByteType: 1,
    T.ShortType: 2,
    T.IntegerType: 4,
    T.FloatType: 4,
    T.LongType: 8,
    T.DoubleType: 8,
    T.DateType: 4,
    T.TimestampType: 8,
    T.TimestampNTZType: 8,
}


def row_bytes_col(df: DataFrame) -> Column:
    """Per-row estimated byte width as a Column over ``df``'s schema:
    octet_length for strings/binary, fixed sizes for numerics, and a JSON
    serialization bound for nested types (arrays/structs/maps)."""
    total = F.lit(0).cast("long")
    for fld in df.schema.fields:
        c = F.col(fld.name)
        if isinstance(fld.dataType, (T.StringType, T.BinaryType)):
            sz = F.coalesce(F.octet_length(c).cast("long"), F.lit(0))
        elif type(fld.dataType) in _FIXED_BYTES:
            sz = F.lit(_FIXED_BYTES[type(fld.dataType)]).cast("long")
        elif isinstance(fld.dataType, T.DecimalType):
            sz = F.lit(16).cast("long")
        else:  # arrays / structs / maps: JSON length upper-bounds the width
            sz = F.coalesce(F.octet_length(F.to_json(c)).cast("long"), F.lit(0))
        total = total + sz
    return total


def avg_row_bytes(df: DataFrame, sample_rows: int = 1024) -> float:
    """Average row width in bytes from a bounded head sample (0.0 on an
    empty frame). One small job; the head is not uniform-random, which is
    fine for a guard — widths within one source are near-homogeneous."""
    row = (
        df.limit(sample_rows)
        .select(F.avg(row_bytes_col(df)).alias("w"))
        .collect()[0]
    )
    return float(row["w"] or 0.0)


def fits_broadcast(rows: int, payload_bytes: float) -> bool:
    """True when a build side of ``rows`` rows carrying ``payload_bytes`` of
    data is small enough to broadcast: ``payload_bytes + rows *
    ROW_OVERHEAD`` must not exceed ``BROADCAST_MAX_BYTES``."""
    return payload_bytes + rows * ROW_OVERHEAD <= BROADCAST_MAX_BYTES


def maybe_broadcast(df: DataFrame) -> DataFrame:
    """Broadcast-hint a dimension frame only when ``fits_broadcast`` admits
    it; otherwise the join falls back to a shuffle join on the join key,
    which AQE sizes at runtime. An unconditional ``F.broadcast`` on the
    robots table is a scale-killer: at millions of crawled hosts the build
    OOMs the executors.

    The count is bounded at the most rows the cap admits with no payload at
    all, and the width comes from ``avg_row_bytes``'s head sample."""
    max_rows = BROADCAST_MAX_BYTES // ROW_OVERHEAD
    n = df.limit(max_rows + 1).count()
    if n > max_rows or not fits_broadcast(n, n * avg_row_bytes(df)):
        return df
    return F.broadcast(df)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism before
    heavy per-row work (Python UDFs, hash/regex chains, higher-order-function
    folds). Small corpora arrive as single-row-group parquet files, and a
    parquet reader only materializes row groups whose midpoint falls in its
    split, so without this the whole per-row pass runs in ONE task however
    many splits the scan planner makes. The shuffled bytes are tiny next to
    the per-row compute. The Exchange is also a projection barrier: columns
    selected above it stay materialized (CollapseProject cannot re-inline
    them), and a plan that reads the spread frame twice reuses it."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
