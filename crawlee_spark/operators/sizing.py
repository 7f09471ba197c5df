"""Frame sizing: the scan spread before heavy per-row work, and byte
estimates so broadcast guards gate on DATA size, not row count.

A row-count guard alone is wrong on both ends: 4 M rows of 15-byte
request_ids is a comfortable ~60 MB broadcast, while 4 M rows of 2 KB
robots.txt bodies is an 8 GB build that OOMs the executors. Guards here
check rows AND estimated bytes (rows x sampled average row width).

The width sample is a bounded ``limit(sample_rows)`` aggregate — one tiny
job, never a full scan — so callers can afford it once per dimension frame
(engine robots dim) or amortize it into an existing count job (frontier
delta commits fold the id-width sum into the row-count aggregate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# serialized-width guesses for fixed-width types (broadcast hash tables carry
# some per-row overhead; these are deliberately on the generous side)
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
