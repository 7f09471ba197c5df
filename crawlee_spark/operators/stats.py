"""Statistics: per-request outcome log → Crawlee-compatible aggregates.

Reference: ``Statistics`` (packages/core/src/crawlers/statistics.ts:217-393,
state schema 511-528) tracks per-request durations, finished/failed counters,
a retry histogram (array indexed by retry count, statistics.ts:315-319) and
per-status-code counts; ``FinalStatistics`` derives averages and rates
(packages/core/src/autoscaling/system_status.ts:101-112).

Here the source of truth is an append-only ``outcomes`` log (one row per
request *attempt*); every statistic is a groupBy aggregation over it — no
mutable counters. Histogram = groupBy(retry_count).count() collected into a
dense array.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

OUTCOME_SCHEMA = T.StructType(
    [
        T.StructField("request_id", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("round_id", T.IntegerType(), False),
        T.StructField("attempt", T.IntegerType(), False),  # retry_count at attempt time
        T.StructField("outcome", T.StringType(), False),  # success|retry|fail|session_retry
        T.StructField("status_code", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), False),
        T.StructField("error_message", T.StringType(), True),
        T.StructField("session_id", T.StringType(), True),  # C6 (null: pool off)
    ]
)


def final_statistics(outcomes: DataFrame, runtime_millis: int | None = None) -> dict:
    """Compute FinalStatistics fields from the outcome log.

    Terminal attempts only (success|fail) define finished/failed; the retry
    histogram counts terminal requests by how many retries they consumed —
    exactly `statistics.ts:315-319` (`retryHistogram[retryCount] += 1` at
    job-finish/fail time).
    """
    terminal = outcomes.filter(F.col("outcome").isin("success", "fail"))
    agg = terminal.agg(
        F.sum(F.when(F.col("outcome") == "success", 1).otherwise(0)).alias("finished"),
        F.sum(F.when(F.col("outcome") == "fail", 1).otherwise(0)).alias("failed"),
        F.sum(F.when(F.col("outcome") == "success", F.col("duration_ms")).otherwise(0)).alias("fin_dur"),
        F.sum(F.when(F.col("outcome") == "fail", F.col("duration_ms")).otherwise(0)).alias("fail_dur"),
        F.min(F.when(F.col("outcome") == "success", F.col("duration_ms"))).alias("min_dur"),
        F.max(F.when(F.col("outcome") == "success", F.col("duration_ms"))).alias("max_dur"),
    ).collect()[0]

    retries_row = outcomes.filter(F.col("outcome") == "retry").count()

    hist_rows = (
        terminal.groupBy("attempt").count().orderBy("attempt").collect()
    )
    histogram: list[int] = []
    for row in hist_rows:
        while len(histogram) < row["attempt"]:
            histogram.append(0)
        histogram.append(row["count"])

    status_rows = (
        outcomes.filter(F.col("status_code").isNotNull())
        .groupBy("status_code")
        .count()
        .collect()
    )

    finished = int(agg["finished"] or 0)
    failed = int(agg["failed"] or 0)
    out = {
        "requestsFinished": finished,
        "requestsFailed": failed,
        "retryHistogram": histogram,
        "requestAvgFailedDurationMillis": (agg["fail_dur"] / failed) if failed else None,
        "requestAvgFinishedDurationMillis": (agg["fin_dur"] / finished) if finished else None,
        "requestTotalDurationMillis": int((agg["fin_dur"] or 0) + (agg["fail_dur"] or 0)),
        "requestsTotal": finished + failed,
        "requestMinDurationMillis": agg["min_dur"],
        "requestMaxDurationMillis": agg["max_dur"],
        "requestsRetries": retries_row,
        "requestsWithStatusCode": {str(r["status_code"]): r["count"] for r in status_rows},
    }
    if runtime_millis is not None:
        out["crawlerRuntimeMillis"] = runtime_millis
        minutes = runtime_millis / 60_000 if runtime_millis else None
        out["requestsFinishedPerMinute"] = round(finished / minutes) if minutes else 0
        out["requestsFailedPerMinute"] = round(failed / minutes) if minutes else 0
    return out


def _find_biggest_word_intersection(a: list, b: list) -> tuple:
    """Longest common word streak between two tokenized messages
    (error_tracker.ts:115-147): returns (max_streak, a_index, b_index)."""
    max_streak, a_idx, b_idx = 0, -1, -1
    for ai in range(len(a)):
        start = 0
        while True:
            try:
                bi = b.index(a[ai], start)
            except ValueError:
                break
            streak, aw, bw = 0, ai, bi
            while aw < len(a) and bw < len(b) and b[bw] == a[aw]:
                streak += 1
                aw += 1
                bw += 1
            if streak > max_streak:
                max_streak, a_idx, b_idx = streak, ai, bi
            start = bi + 1
    return max_streak, a_idx, b_idx


def _calculate_placeholder(a: list, b: list) -> list:
    """error_tracker.ts:161-186 — keep the biggest shared streak, recurse
    into the flanks, collapse unshared spans to a single ``_``."""
    max_streak, ai, bi = _find_biggest_word_intersection(a, b)
    if max_streak == 0:
        return ["_"]
    out: list = []
    if a[:ai] or b[:bi]:
        out.extend(_calculate_placeholder(a[:ai], b[:bi]))
    out.extend(a[ai : ai + max_streak])
    if a[ai + max_streak :] or b[bi + max_streak :]:
        out.extend(_calculate_placeholder(a[ai + max_streak :], b[bi + max_streak :]))
    return out


def merge_error_messages(a: str, b: str) -> str | None:
    """Generalized pattern for two messages, or None when they are too
    different to share a group (error_tracker.ts:188-221: a pattern that is
    >= 50% placeholders is rejected — 'status 404' and 'status 503' stay
    SEPARATE groups, unlike a digit-wildcard would make them)."""
    out = _calculate_placeholder(a.split(" "), b.split(" "))
    if out.count("_") / len(out) >= 0.5:
        return None
    return " ".join(out)


def error_message_groups(
    outcomes: DataFrame,
    *,
    group_cols: tuple = (),
    message_col: str = "error_message",
    first_col: str = "round_id",
    show_full_message: bool = False,
) -> DataFrame:
    """Faithful ErrorTracker message grouping (error_tracker.ts:223-261 +
    golden vectors from test/core/error_tracker.test.ts placeholder #1-#9):
    messages collapse into word-streak placeholder patterns ('Expected
    boolean, got _'), but messages that would be >= 50% placeholder stay
    separate (a digit wildcard would merge 'status 404' and 'status 503').

    Spark shape: occurrences are pre-aggregated per DISTINCT first-line
    message (one map-side-combinable groupBy over the 100-TB outcome log);
    the inherently sequential pairwise merge then replays only the distinct
    message dictionary per group partition (``applyInPandas``), bounded by
    message-template cardinality, never by traffic. Replay order is
    first-appearance (min ``first_col``, message as tiebreak) — the
    deterministic set-analog of the reference's arrival order.

    Output: (*group_cols, error_group, occurrences, n_messages,
    first_round)."""
    import pandas as pd

    errs = outcomes.filter(F.col(message_col).isNotNull())
    msg = F.col(message_col)
    if not show_full_message:
        # message.slice(0, indexOf('\n')) — error_tracker.ts:239-242
        msg = F.split(msg, "\n", 2).getItem(0)
    gcols = list(group_cols)
    distinct = errs.groupBy(*gcols, msg.alias("_msg")).agg(
        F.count("*").alias("_n"), F.min(first_col).alias("_first")
    )
    if not gcols:
        distinct = distinct.withColumn("_g", F.lit(0))
        part_cols = ["_g"]
    else:
        part_cols = gcols

    out_fields = [
        T.StructField(c, T.StringType()) for c in gcols
    ] + [
        T.StructField("error_group", T.StringType(), False),
        T.StructField("occurrences", T.LongType(), False),
        T.StructField("n_messages", T.LongType(), False),
        T.StructField("first_round", T.LongType(), True),
    ]
    out_schema = T.StructType(out_fields)

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["_first", "_msg"], kind="mergesort")
        storage: dict[str, int] = {}
        meta: dict[str, list] = {}  # pattern -> [n_messages, first_round]
        # zip, not itertuples: pandas mangles _-prefixed column names there
        for message, count, first in zip(pdf["_msg"], pdf["_n"], pdf["_first"]):
            count = int(count)
            first = None if pd.isna(first) else int(first)
            if message not in storage:
                merged = None
                for existing in list(storage):
                    pattern = merge_error_messages(message, existing)
                    if pattern is not None:
                        merged = (existing, pattern)
                        break
                if merged is None:
                    storage[message] = 0
                    meta[message] = [0, first]
                else:
                    existing, pattern = merged
                    # delete+reinsert at the end, counts summed (:211-218)
                    prev_n = storage.pop(existing)
                    prev_meta = meta.pop(existing)
                    old_meta = meta.pop(pattern, [0, None])
                    storage[pattern] = storage.pop(pattern, 0) + prev_n
                    meta[pattern] = [
                        prev_meta[0] + old_meta[0],
                        _min_first(prev_meta[1], old_meta[1]),
                    ]
                    message = pattern
            storage[message] += count
            meta[message][0] += 1
            meta[message][1] = _min_first(meta[message][1], first)
        head = pdf.iloc[0]
        rows = [
            tuple(getattr(head, c) for c in gcols)
            + (pat, int(cnt), int(meta[pat][0]), meta[pat][1])
            for pat, cnt in storage.items()
        ]
        return pd.DataFrame(rows, columns=[f.name for f in out_fields])

    return distinct.groupBy(*part_cols).applyInPandas(replay, schema=out_schema)


def _min_first(*vals):
    present = [v for v in vals if v is not None]
    return min(present) if present else None


STATISTICS_STATE_KEY = "SDK_CRAWLER_STATISTICS_0"  # statistics.ts:135 key family


def persist_run_statistics(kv, run_millis: int, final: dict, key: str = STATISTICS_STATE_KEY) -> dict:
    """persistState/_maybeLoadStatistics semantics (statistics.ts:325-393):
    ``crawlerRuntimeMillis`` ACCUMULATES across resumes (each run adds its own
    wall time on top of the persisted total — the reference derives this from
    crawlerLastStartTimestamp; here each run passes its measured duration),
    while the request counters reflect the full outcome log, which already
    spans resumes. Returns the merged state that was persisted."""
    state = kv.get_value(key, None) or {}
    state["crawlerRuntimeMillis"] = int(state.get("crawlerRuntimeMillis", 0)) + int(run_millis)
    state["crawlerResumeCount"] = int(state.get("crawlerResumeCount", -1)) + 1
    for k in (
        "requestsFinished",
        "requestsFailed",
        "requestsRetries",
        "retryHistogram",
        "requestTotalDurationMillis",
        "requestMinDurationMillis",
        "requestMaxDurationMillis",
    ):
        if k in final:
            state[k] = final[k]
    kv.set_value(key, state)
    return state
