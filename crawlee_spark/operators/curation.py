"""Corpus-curation operators: deterministic splits, shards, and sequence
packing for training-data assembly.

The reference stops at extraction (its Dataset is an append log,
packages/core/src/storages/dataset.ts); everything here is an engine-native
extension covering what a pre-training pipeline does AFTER crawling: carve
train/val/test splits that are stable under recrawls, spread documents over
output shards, and pack variable-length documents into fixed-size token
windows (the GPT-style concat-and-chunk batch layout).

Determinism contract (the repo-wide oracle discipline): every assignment is
a pure function of document identity — md5-derived buckets, integer
arithmetic, exclusive prefix sums over a UNIQUE order column — so an
independent SQL engine restates each number exactly and recrawling a shard
never reshuffles previously assigned documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crawlee_spark.operators.scheduler import global_running_total


def _bucket_col(id_col: Column | str, *, salt: str = "", modulus: int = 1) -> Column:
    """Stable bucket in [0, modulus): first 8 md5 hex chars of the salted
    string id → BIGINT (fits: < 2³²). md5-over-strings is the engine-portable
    hash family (DuckDB md5 is VARCHAR-only)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    digest = F.md5(F.concat(F.lit(salt), c.cast("string")))
    return F.conv(F.substring(digest, 1, 8), 16, 10).cast("long") % modulus


def hash_split_col(
    id_col: Column | str,
    weights: dict[str, int],
    *,
    salt: str = "split",
) -> Column:
    """Deterministic train/val/test label from integer weights (e.g.
    ``{"train": 98, "val": 1, "test": 1}``): document id hashes into
    ``[0, sum(weights))`` and the label follows cumulative thresholds in the
    dict's insertion order. Stable under recrawls and corpus growth — a
    document's split never depends on what else was crawled (the property
    random sampling lacks). Change ``salt`` to draw an independent split."""
    if not weights or any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be positive integers")
    total = sum(weights.values())
    bucket = _bucket_col(id_col, salt=salt, modulus=total)
    expr = None
    acc = 0
    for name, w in weights.items():
        acc += w
        cond = bucket < acc
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return expr


def shard_col(
    id_col: Column | str,
    n_shards: int,
    *,
    salt: str = "shard",
) -> Column:
    """Stable output-shard index in [0, n_shards): the writer-side partition
    key for ``partitionBy``/``repartition`` so shard membership survives
    incremental recrawls (unlike round-robin, which depends on row order)."""
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    return _bucket_col(id_col, salt=salt, modulus=n_shards).cast("int")


def global_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    *,
    col_name: str = "_prefix",
    partitions: int = 32,
) -> DataFrame:
    """EXCLUSIVE prefix sum of ``value_col`` in ``order_col`` order (values
    before this row), without a single-task global window: the two-phase
    ``scheduler.global_running_total`` of the sum, minus the row's own value.

    ``order_col`` must be unique (the repo's ranking discipline): with ties
    the within-partition ordering — and therefore the prefix — would depend
    on where range boundaries land. Values must be non-negative longs small
    enough that the corpus total fits BIGINT."""
    v = F.col(value_col).cast("long")
    running = global_running_total(
        df, order_col, F.sum(v), col_name=col_name, partitions=partitions
    )
    return running.withColumn(col_name, F.col(col_name) - v)


def pack_sequences(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    window_size: int,
    partitions: int = 32,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents concatenate in
    ``id_col`` order and split into fixed ``window_size`` token windows
    (documents may span window boundaries — the standard pre-training batch
    layout). Per document: ``start_tok`` (exclusive prefix sum),
    ``window_id`` = start_tok div window, ``offset_in_window``, and
    ``end_window_id`` (the window its last token lands in) — everything a
    shard writer needs to emit window-aligned batches.

    One range shuffle + one ≤-partitions-row collect (the two-phase prefix
    sum); no global window, no driver iteration."""
    if window_size <= 0:
        raise ValueError("window_size must be positive")
    pref = global_prefix_sum(
        df, id_col, token_col, col_name="start_tok", partitions=partitions
    )
    n = F.col(token_col).cast("long")
    start = F.col("start_tok")
    last = start + F.greatest(n, F.lit(1).cast("long")) - 1  # empty docs stay put

    def idiv(x: Column) -> Column:  # exact BIGINT division (pmod-floor)
        r = F.pmod(x, F.lit(window_size))
        return ((x - r) / window_size).cast("long")

    return pref.select(
        id_col,
        n.alias("n_tokens"),
        "start_tok",
        idiv(start).alias("window_id"),
        F.pmod(start, F.lit(window_size)).cast("long").alias("offset_in_window"),
        idiv(last).alias("end_window_id"),
    )
