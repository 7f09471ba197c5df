"""FinalStatistics parity over a fixed synthetic outcome table
(statistics.ts:315-393, system_status.ts:101-112 semantics)."""

from crawlee_spark.operators.stats import OUTCOME_SCHEMA, final_statistics


def outcome(rid, rnd, attempt, outcome_, status, dur):
    return (rid, f"https://x.com/{rid}", rnd, attempt, outcome_, status, dur, None, None)


def test_final_statistics(spark):
    rows = [
        # r1: success first try, 100ms
        outcome("r1", 1, 0, "success", 200, 100),
        # r2: two retries then success (consumed 2 retries), durations 50/60/70
        outcome("r2", 1, 0, "retry", 500, 50),
        outcome("r2", 2, 1, "retry", 500, 60),
        outcome("r2", 3, 2, "success", 200, 70),
        # r3: one retry then final fail, 80/90
        outcome("r3", 1, 0, "retry", 503, 80),
        outcome("r3", 2, 1, "fail", 503, 90),
        # r4: immediate non-retryable fail
        outcome("r4", 1, 0, "fail", 404, 40),
    ]
    df = spark.createDataFrame(rows, OUTCOME_SCHEMA)
    stats = final_statistics(df, runtime_millis=60_000)

    assert stats["requestsFinished"] == 2
    assert stats["requestsFailed"] == 2
    assert stats["requestsTotal"] == 4
    assert stats["requestsRetries"] == 3
    # histogram indexed by retries consumed: r1,r4 at 0; r3 at 1; r2 at 2
    assert stats["retryHistogram"] == [2, 1, 1]
    assert stats["requestAvgFinishedDurationMillis"] == (100 + 70) / 2
    assert stats["requestAvgFailedDurationMillis"] == (90 + 40) / 2
    assert stats["requestTotalDurationMillis"] == 100 + 70 + 90 + 40
    assert stats["requestMinDurationMillis"] == 70
    assert stats["requestMaxDurationMillis"] == 100
    assert stats["requestsWithStatusCode"]["500"] == 2
    assert stats["requestsWithStatusCode"]["200"] == 2
    assert stats["requestsFinishedPerMinute"] == 2
    assert stats["requestsFailedPerMinute"] == 2


def test_empty_outcomes(spark):
    df = spark.createDataFrame([], OUTCOME_SCHEMA)
    stats = final_statistics(df)
    assert stats["requestsFinished"] == 0
    assert stats["requestsFailed"] == 0
    assert stats["retryHistogram"] == []
    assert stats["requestAvgFinishedDurationMillis"] is None


# ---------------------------------------------------------------------------
# round-2: cross-resume runtime accounting + error-tracker summaries
# ---------------------------------------------------------------------------

def test_persist_run_statistics_accumulates(tmp_path):
    """statistics.ts:325-393: crawlerRuntimeMillis accumulates across resumes
    while counters reflect the latest full log (statistics.test.ts:220-306)."""
    from crawlee_spark.operators.kvstore import KeyValueStore
    from crawlee_spark.operators.stats import STATISTICS_STATE_KEY, persist_run_statistics

    kv = KeyValueStore(str(tmp_path / "kv"))
    s1 = persist_run_statistics(kv, 1000, {"requestsFinished": 3, "retryHistogram": [3]})
    assert s1["crawlerRuntimeMillis"] == 1000 and s1["crawlerResumeCount"] == 0
    s2 = persist_run_statistics(kv, 250, {"requestsFinished": 7, "retryHistogram": [6, 1]})
    assert s2["crawlerRuntimeMillis"] == 1250 and s2["crawlerResumeCount"] == 1
    assert s2["requestsFinished"] == 7 and s2["retryHistogram"] == [6, 1]
    # persisted: a fresh reader sees the accumulated state
    assert kv.get_value(STATISTICS_STATE_KEY)["crawlerRuntimeMillis"] == 1250


def test_engine_runtime_accumulates_across_resume(spark, tmp_path):
    from crawlee_spark.operators.engine import CrawlEngine, CrawlOptions
    from crawlee_spark.operators.enqueue import EnqueueOptions
    from crawlee_spark.operators.frontier import FrontierStore
    from crawlee_spark.sources.fixtures import make_pages, make_seeds

    root = str(tmp_path / "f")
    pages = make_pages(spark, n_pages=12)

    def engine(rounds):
        return CrawlEngine(
            spark, FrontierStore(spark, root, 2), pages,
            options=CrawlOptions(max_rounds=rounds, enqueue=EnqueueOptions(strategy="all")),
        )

    s1 = engine(1).run(make_seeds(spark, n=3))
    s2 = engine(1).run()  # resume over the same store dir
    assert s2["crawlerResumeCount"] == 1
    assert s2["crawlerRuntimeMillis"] > s1["crawlerRuntimeMillis"]


def test_merge_error_messages_golden_vectors():
    """Reference golden vectors, test/core/error_tracker.test.ts placeholder
    #1-#9: word-streak placeholder merging with the >= 50% generality cap."""
    from crawlee_spark.operators.stats import merge_error_messages as m

    # placeholder #1/#2: trailing variable word collapses
    assert m("Expected boolean, got number", "Expected boolean, got string") == \
        "Expected boolean, got _"
    assert m("Expected `boolean`, got `number`", "Expected `boolean`, got `string`") == \
        "Expected `boolean`, got _"
    # placeholder #3/#4/#5: middle / trailing / leading variable positions
    assert m("1 2 3", "1 4 3") == "1 _ 3"
    assert m("1 2 3", "1 2 4") == "1 2 _"
    assert m("1 2 3", "4 2 3") == "_ 2 3"
    # placeholder #6: multiple interleaved streaks survive
    assert m(
        "The weather is sunny today, but the grass is wet.",
        "The weather is rainy today, but the grass is still dry.",
    ) == "The weather is _ today, but the grass is _"
    # placeholder #7: a multi-word variable span merges into one _
    assert m("Expected `boolean`, got `number`", "Expected `boolean`, got `falsy value`") == \
        "Expected `boolean`, got _"
    # placeholder #8/#9: >= 50% placeholders -> too general, NO group
    assert m("Expected `boolean`, got `number`", "Expected `string`, got `null`") is None
    assert m(
        "Unexpected `show` property in `options` object", "Missing `display` in style"
    ) is None
    # unlike the digit wildcard, status families stay apart (the cap)
    assert m("status 404", "status 503") is None


def test_error_message_groups_replay(spark):
    """End-to-end ErrorTracker analog: distinct messages fold into pattern
    groups with summed occurrence counts; ungroupable messages stay literal;
    only the first line of a multi-line message participates
    (error_tracker.ts:239-242)."""
    from crawlee_spark.operators.stats import OUTCOME_SCHEMA, error_message_groups

    def row(rid, rnd, msg):
        return (rid, f"https://a/{rid}", rnd, 0, "fail", None, 10, msg, None)

    rows = [
        row("r1", 1, "Expected boolean, got number"),
        row("r2", 1, "Expected boolean, got number"),
        row("r3", 2, "Expected boolean, got string"),
        row("r4", 2, "Expected boolean, got undefined"),
        row("r5", 1, "Timeout after 30 seconds elapsed\n  at stack frame"),
        row("r6", 3, "Timeout after 60 seconds elapsed"),
        row("r7", 3, "Completely unrelated parser explosion"),
        ("r8", "https://a/r8", 3, 0, "success", 200, 10, None, None),
    ]
    out = spark.createDataFrame(rows, OUTCOME_SCHEMA)
    got = {r["error_group"]: r for r in error_message_groups(out).collect()}
    assert set(got) == {
        "Expected boolean, got _",
        "Timeout after _ seconds elapsed",
        "Completely unrelated parser explosion",
    }
    exp = got["Expected boolean, got _"]
    assert exp["occurrences"] == 4 and exp["n_messages"] == 3 and exp["first_round"] == 1
    tmo = got["Timeout after _ seconds elapsed"]
    assert tmo["occurrences"] == 2 and tmo["n_messages"] == 2 and tmo["first_round"] == 1
    assert got["Completely unrelated parser explosion"]["occurrences"] == 1
