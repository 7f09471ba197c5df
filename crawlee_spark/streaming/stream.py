"""Structured Streaming forms of the crawl-engine stages.

The batch engine (operators/engine.py) runs deterministic micro-batch
"rounds" — deliberately, per SURVEY §2.7: same semantics, testable, resumable
via snapshots. This module layers the streaming shapes on top for
deployments where URLs/outcomes arrive continuously:

- ``stream_enqueue`` — a ``foreachBatch`` sink that runs every micro-batch
  of discovered URLs through the exact ``FrontierStore`` enqueue (keying →
  in-batch dedup → anti-join vs seen-set → order assignment → delta
  commit). The idempotent anti-join makes replayed batches safe — exactly
  the property Structured Streaming needs from a sink (at-least-once input,
  exactly-once effect).
- ``stream_statistics`` — the Statistics aggregation (C10) as a watermarked
  windowed aggregation over a live outcome stream: per-window × outcome
  counts/durations; late events beyond the watermark are dropped, mirroring
  the reference's persist-interval snapshots (statistics.ts:135-170).
- ``stream_sessionize`` — per-user session counts with an inactivity gap via
  ``session_window`` — the event-time form of the batch sessionize query.

Checkpointing: every writer takes a ``checkpoint_dir``; Spark's offset log +
the frontier's own manifest together give resume-from-kill with no
duplicate enqueues (the anti-join absorbs the overlap window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawlee_spark.operators.frontier import FrontierStore


def stream_enqueue(
    urls_stream: DataFrame,
    store: FrontierStore,
    *,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Run a streaming DataFrame of candidate URLs into the frontier.

    ``urls_stream`` needs a ``url`` column (extra columns ride along into
    the frontier row). Returns the started StreamingQuery."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        store.add_requests(batch_df)

    writer = urls_stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_statistics(
    outcomes_stream: DataFrame,
    *,
    window_secs: int = 60,
    watermark_secs: int = 120,
    ts_col: str = "ts",
) -> DataFrame:
    """C10 as an event-time windowed aggregation (returns a streaming DF).

    Input: outcome rows with an event-time column. Output per (window,
    outcome): request count, duration sum/min/max — the StatisticState
    fields that aggregate (statistics.ts:511-528); histograms/ratios derive
    downstream."""
    return (
        outcomes_stream.withWatermark(ts_col, f"{watermark_secs} seconds")
        .groupBy(
            F.window(F.col(ts_col), f"{window_secs} seconds").alias("win"),
            F.col("outcome"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("duration_ms").alias("total_duration_ms"),
            F.min("duration_ms").alias("min_duration_ms"),
            F.max("duration_ms").alias("max_duration_ms"),
        )
    )


def stream_sessionize(
    events_stream: DataFrame,
    *,
    gap_secs: int = 1800,
    watermark_secs: int = 3600,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Event-time sessionization with an inactivity gap (session_window) —
    the streaming form of the batch ``events_sessionize`` query."""
    return (
        events_stream.withWatermark(ts_col, f"{watermark_secs} seconds")
        .groupBy(
            F.session_window(F.col(ts_col), f"{gap_secs} seconds").alias("session"),
            F.col(user_col),
        )
        .agg(F.count("*").alias("n_events"))
    )


def stream_host_rate_limit(
    urls_stream: DataFrame,
    *,
    budget_per_batch: int = 10,
    carryover_cap: int | None = None,
    host_col: str = "host",
    url_col: str = "url",
) -> DataFrame:
    """C3 politeness as a CUSTOM STATEFUL streaming operator
    (``applyInPandasWithState``): a per-host token bucket whose credit
    survives across micro-batches — the event-driven form of
    ``sameDomainDelaySecs`` (basic-crawler.ts:1559-1595), where the batch
    scheduler instead uses per-round window budgets (scheduler.py).

    Each micro-batch refills ``budget_per_batch`` tokens per host; a host
    admits up to ``tokens + carried credit`` URLs (deterministic order:
    ``url`` ascending) and carries unused credit forward, capped at
    ``carryover_cap`` (default: one batch's budget — a polite crawler never
    hoards). Rows are emitted with an ``admitted`` flag so the non-admitted
    remainder can be looped back into the frontier (whose anti-join keeps
    the loop idempotent) rather than lost.

    State per host is ONE long (the credit): at 10^8 hosts that is a few GB
    across the cluster's state store — the shape that scales, as opposed to
    keeping per-URL state."""
    import pandas as pd  # local: keep the module import-light
    from pyspark.sql import types as T

    src = urls_stream.select(F.col(host_col).alias("host"), F.col(url_col).alias("url"))
    out_schema = T.StructType(
        [
            T.StructField("host", T.StringType()),
            T.StructField("url", T.StringType()),
            T.StructField("admitted", T.BooleanType()),
        ]
    )
    state_schema = T.StructType([T.StructField("credit", T.LongType())])
    cap = budget_per_batch if carryover_cap is None else carryover_cap

    def limiter(key, pdfs, state):
        credit = int(state.get[0]) if state.exists else 0
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values("url", kind="mergesort").reset_index(drop=True)
        allow = min(len(rows), budget_per_batch + credit)
        new_credit = min(cap, budget_per_batch + credit - allow)
        state.update((new_credit,))
        rows["admitted"] = rows.index < allow
        yield rows

    return src.groupBy("host").applyInPandasWithState(
        limiter, out_schema, state_schema, "append", "NoTimeout"
    )
