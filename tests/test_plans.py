"""Physical-plan quality gates: pushdown, pruning, broadcast, no global sort.

These pin the Catalyst properties the engine's scale story depends on
(SURVEY §4): if a refactor silently turns the scheduling scan into a
full-width read or the robots join into a shuffle join, these fail."""

import os

import pytest
from pyspark.sql import functions as F

from crawlee_spark.operators.frontier import FrontierStore
from crawlee_spark.operators.scheduler import PolitenessPolicy, claim_round, eligible_requests


def explain_str(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    em = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(em)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("plans-frontier"))
    s = FrontierStore(spark, d, num_partitions=4)
    s.add_requests(
        spark.createDataFrame(
            [(f"https://h{i % 5}.example.com/p{i}",) for i in range(50)], "url string"
        )
    )
    s.commit(s.read())  # the enqueue is a delta: compact it into a base
    return s


def test_scheduling_scan_prunes_and_pushes(store):
    """The claim path must read only scheduling columns and push the
    pending-rows filter into the parquet scan."""
    narrow = eligible_requests(store.read(), round_id=1).select(
        "request_id", "registrable_domain", "order_no"
    )
    plan = explain_str(narrow)
    assert "PushedFilters" in plan
    assert "IsNull(handled_at)" in plan.replace(" ", "")
    # ReadSchema is pruned: the wide payload columns never leave parquet
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    for needed in ("request_id", "order_no", "handled_at", "lease_until"):
        assert needed in read_schema
    for heavy in ("user_data", "error_messages", "payload", "unique_key"):
        assert heavy not in read_schema


def test_claim_round_has_no_global_sort_before_limit(store):
    """The global concurrency cut must be a TakeOrdered, not Sort+Limit."""
    claimed = claim_round(store.read(), 1, PolitenessPolicy(max_concurrency=10, per_host_cap=2))
    plan = explain_str(claimed, "simple")
    assert "TakeOrderedAndProject" in plan
    # the only Sort nodes are the per-(key,salt) window sorts, never global
    # (simple-mode format: "Sort [cols...], <global>, 0")
    for line in plan.splitlines():
        if "Sort [" in line and "order_no" in line:
            assert "], false, 0" in line, f"global sort found: {line.strip()}"


def test_robots_join_broadcasts(spark, store):
    robots = spark.createDataFrame(
        [("h1.example.com", "User-agent: *\nDisallow: /x")], "host string, robots_txt string"
    )
    joined = store.read().join(F.broadcast(robots), "host", "left")
    plan = explain_str(joined, "simple")
    assert "BroadcastHashJoin" in plan


def test_robots_join_strategy_switches_with_size(spark, store, monkeypatch):
    """maybe_broadcast: a small robots dim broadcasts; one whose estimated
    build is over the cap falls back to a shuffle join (no broadcast build of
    an unbounded dim). Bodies are short, so the row count decides here."""
    from crawlee_spark.operators import sizing
    from crawlee_spark.operators.sizing import maybe_broadcast

    robots = spark.createDataFrame(
        [(f"h{i}.example.com", "User-agent: *\n") for i in range(10)],
        "host string, robots_txt string",
    )
    monkeypatch.setattr(sizing, "BROADCAST_MAX_BYTES", 100 * sizing.ROW_OVERHEAD)
    small = store.read().join(maybe_broadcast(robots), "host", "left")
    assert "BroadcastHashJoin" in explain_str(small, "simple")
    # the cap admits at most 5 rows even with no payload: 10 rows are over it
    monkeypatch.setattr(sizing, "BROADCAST_MAX_BYTES", 5 * sizing.ROW_OVERHEAD)
    big = store.read().join(maybe_broadcast(robots), "host", "left")
    assert "BroadcastHashJoin" not in explain_str(big, "simple")


def test_robots_broadcast_gates_on_bytes_not_just_rows(spark, store, monkeypatch):
    """A wide dim with few rows but over the BYTE cap must fall back to a
    shuffle join: millions of rows of KB-wide values is a multi-GB broadcast
    a row guard alone would wave through. 10 rows of 10 KB bodies are
    ~100 KB of payload."""
    from crawlee_spark.operators import sizing
    from crawlee_spark.operators.sizing import maybe_broadcast

    wide = spark.createDataFrame(
        [(f"h{i}.example.com", "x" * 10_000) for i in range(10)],
        "host string, robots_txt string",
    )
    monkeypatch.setattr(sizing, "BROADCAST_MAX_BYTES", 1 << 20)
    ok = store.read().join(maybe_broadcast(wide), "host", "left")
    assert "BroadcastHashJoin" in explain_str(ok, "simple")
    # same 10 rows, but ~100 KB of bodies > a 50 KB byte cap
    monkeypatch.setattr(sizing, "BROADCAST_MAX_BYTES", 50_000)
    toobig = store.read().join(maybe_broadcast(wide), "host", "left")
    assert "BroadcastHashJoin" not in explain_str(toobig, "simple")


def test_mor_delta_broadcast_gates_on_bytes(spark, tmp_path_factory, monkeypatch):
    """The MOR read's delta-id broadcast HINT must respect the byte cap:
    over it, the read stops hinting and the join strategy is left to
    Catalyst's own size estimates (which at scale means a shuffle join).
    Auto-broadcast is disabled for the assertion so the hint alone decides —
    on a toy delta Catalyst would otherwise broadcast regardless."""
    from crawlee_spark.operators import sizing

    d = str(tmp_path_factory.mktemp("plans-mor-bytes"))
    s = FrontierStore(spark, d, num_partitions=4, compact_every=100)
    monkeypatch.setattr(sizing, "BROADCAST_MAX_BYTES", 10)  # ids are ~15 B each: always over
    s.add_requests(
        spark.createDataFrame([(f"http://a.com/{i}",) for i in range(10)], "url string")
    )
    s.commit(s.read())  # the enqueue is a delta: compact it into a base
    s.commit_delta(s.read().limit(3).withColumn("retry_count", F.lit(1)))
    assert not s._deltas_broadcastable()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = explain_str(s.read(), "simple")
        assert "BroadcastHashJoin" not in plan
        # and under the cap the hint fires even with auto-broadcast off
        monkeypatch.setattr(sizing, "BROADCAST_MAX_BYTES", 128 << 20)
        assert "BroadcastHashJoin" in explain_str(s.read(), "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert s.read().count() == 10
    assert s.read().filter("retry_count = 1").count() == 3


def test_anti_join_is_hash_not_cartesian(spark, store):
    cand = spark.createDataFrame([(f"rid{i}",) for i in range(10)], "request_id string")
    anti = cand.join(store.read().select("request_id"), "request_id", "left_anti")
    plan = explain_str(anti, "simple")
    assert "LeftAnti" in plan
    assert "Cartesian" not in plan


def test_mor_read_merges_without_frontier_shuffle(spark, tmp_path_factory):
    """The MOR merge must never shuffle the base frontier: deltas resolve
    among themselves, the base joins them with a broadcast LEFT ANTI
    (VERDICT r2 item 1 — the old groupBy(request_id).max_by over base∪deltas
    was a full-frontier wide-row shuffle on every read)."""
    d = str(tmp_path_factory.mktemp("plans-mor"))
    s = FrontierStore(spark, d, num_partitions=4, compact_every=100)
    s.add_requests(
        spark.createDataFrame([(f"http://a.com/{i}",) for i in range(10)], "url string")
    )
    s.commit(s.read())  # the enqueue is a delta: compact it into a base
    s.commit_delta(s.read().limit(3).withColumn("retry_count", F.lit(1)))

    plan = explain_str(s.read(), "simple")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # one outstanding delta: NO shuffle anywhere in the read at all
    assert "Exchange hashpartitioning" not in plan
    assert "max_by" not in plan
    # the base snapshot scan feeds the anti-join directly
    lines = plan.splitlines()
    (i,) = [n for n, l in enumerate(lines) if "BroadcastHashJoin" in l]
    assert "snapshots/" in lines[i + 1]

    # several deltas: last-writer-wins resolves among the DELTAS only — the
    # base scan still sits directly under the broadcast anti-join, unshuffled
    s.commit_delta(s.read().limit(2).withColumn("retry_count", F.lit(2)))
    s.commit_delta(s.read().limit(2).withColumn("retry_count", F.lit(3)))
    plan = explain_str(s.read(), "simple")
    lines = plan.splitlines()
    (i,) = [n for n, l in enumerate(lines) if "BroadcastHashJoin" in l]
    assert "snapshots/" in lines[i + 1]
    assert s.read().count() == 10
    assert s.read().filter("retry_count = 3").count() == 2


def test_global_rank_plan_has_no_unpartitioned_window(spark):
    """global_row_number (engine parent ranks) must rank inside partitions —
    an unpartitioned row_number window funnels the frame through one task
    (VERDICT r2 item 5)."""
    from crawlee_spark.operators.scheduler import global_row_number

    ranked = global_row_number(
        spark.range(100).selectExpr("id * 3 as order_no"), "order_no", partitions=4
    )
    plan = explain_str(ranked, "simple")
    assert "Window" in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            spec = line.split("windowspecdefinition")[1]
            assert "_pid" in spec[:80], f"unpartitioned window: {line.strip()}"


def test_domain_mixture_plan_has_no_window(spark):
    """domain_mixture_weights normalizes with an exact integer sum broadcast
    back over a constant key — no WindowExec at all (the r4 verdict flagged
    the old single-partition ordered window; the fixed-point normalizer
    removes the float-order contract that forced it)."""
    from crawlee_spark.functions.text_analysis import domain_mixture_weights

    df = spark.range(200).selectExpr("concat('d', id % 7) as source")
    out = domain_mixture_weights(df, "source", alpha_pct=50)
    plan = explain_str(out, "simple")
    assert "Window" not in plan, plan
    # the 1-row normalizer attaches via a broadcast (constant-key equality
    # folds to a nested-loop with a single-row build side — a scalar attach,
    # not a data-sized cartesian)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert len(out.collect()) == 7  # collect() finalizes out's OWN adaptive plan
    # the counts aggregation feeds BOTH branches through one exchange — the
    # source is scanned once, not once per branch
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


def test_ivf_index_partition_pruning(spark, tmp_path_factory):
    """The materialized IVF index must PRUNE unprobed cells at scan time —
    the partition filter reaches the file source (only probed cell dirs
    are read), which is the whole point of the physical-IVF layout."""
    from crawlee_spark.operators.similarity import (
        ivf_search_index,
        ivf_write_index,
        ivf_topk,
    )
    from pyspark.sql import functions as F

    d = str(tmp_path_factory.mktemp("ivf-index")) + "/idx"
    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(80)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ivf_write_index(corpus, d, n_centroids=4, train_iters=1)

    q = corpus.filter("vec_id < 2").selectExpr("vec_id as query_id", "embedding")
    res = ivf_search_index(spark, d, q, k=3, nprobe=2)
    plan = explain_str(res)
    # partition filter present and pushed to the scan
    assert "PartitionFilters" in plan
    assert "ivf_cell" in [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    rows_out = res.collect()
    assert {r["query_id"] for r in rows_out} == {0, 1}
    # pruned search ≡ in-memory ivf_topk with the same quantizer params
    mem = ivf_topk(q, corpus, k=3, n_centroids=4, nprobe=2, train_iters=1).collect()
    assert sorted(map(tuple, rows_out)) == sorted(map(tuple, mem))


def test_fetch_join_never_shuffles_pages(spark, tmp_path_factory):
    """The fetch stage must prune the pages store (the 100 TB corpus analog)
    with a broadcast LEFT SEMI join on the claimed urls — a map-only corpus
    scan — instead of shuffling the whole pages table into the left join."""
    from crawlee_spark.operators.engine import fetch_join

    d = str(tmp_path_factory.mktemp("plans-pages")) + "/pages"
    spark.createDataFrame(
        [(f"https://h.com/p{i}", f"<p>{i}</p>", 200, "text/html") for i in range(50)],
        "page_url string, html string, status_code int, content_type string",
    ).write.parquet(d)
    pages = spark.read.parquet(d)
    claimed = spark.createDataFrame(
        [(f"rid{i}", f"https://h.com/p{i}") for i in range(5)], "request_id string, url string"
    )

    plan = explain_str(fetch_join(claimed, pages), "simple")
    lines = plan.splitlines()
    semi = [n for n, l in enumerate(lines) if "BroadcastHashJoin" in l and "LeftSemi" in l]
    assert semi, f"no broadcast semi join in plan:\n{plan}"
    # the pages parquet scan feeds the semi join directly (through at most a
    # pushed not-null filter) — never an Exchange
    sub = lines[semi[0] + 1 : semi[0] + 3]
    assert any("plans-pages" in l for l in sub), plan
    assert not any("Exchange" in l for l in sub), plan
    # fallback shape: plain left join (both sides shuffled) when pruning is off
    plain = explain_str(fetch_join(claimed, pages, prune_pages=False), "simple")
    assert "LeftSemi" not in plain

    # semantics identical either way (missing pages -> null page columns)
    claimed2 = claimed.union(
        spark.createDataFrame([("ridX", "https://h.com/missing")], "request_id string, url string")
    )
    a = sorted(map(tuple, fetch_join(claimed2, pages).collect()))
    b = sorted(map(tuple, fetch_join(claimed2, pages, prune_pages=False).collect()))
    assert a == b and len(a) == 6


def test_spread_round_robins_a_single_file_scan(spark, tmp_path_factory):
    """sizing.spread puts a round-robin Exchange over a one-file parquet scan
    (single-row-group inputs otherwise run their per-row pass in one task),
    and gopher_repetition_signals reuses that Exchange for both of its join
    branches, so the scan + split + tokenize run once."""
    from crawlee_spark.functions.text_analysis import gopher_repetition_signals
    from crawlee_spark.operators.sizing import spread

    d = str(tmp_path_factory.mktemp("plans-spread")) + "/docs"
    spark.createDataFrame(
        [(i, f"line {i % 3}\nword{i} word{i % 5} word{i}") for i in range(40)],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(d)
    docs = spark.read.parquet(d)

    assert "RoundRobinPartitioning" in explain_str(spread(docs), "simple")
    out = gopher_repetition_signals(docs, top_ns=(2,), dup_ns=(5,))
    assert len(out.collect()) == 40  # collect() finalizes out's OWN adaptive plan
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


def test_plain_round_runs_two_python_passes(spark, tmp_path_factory):
    """A plain round with robots takes exactly two Python (ArrowEvalPython)
    passes: one in the extraction checkpoint (robots re-check, F2 strategy
    PSL lookups, page parse) and one in the pinned link-gating pass (robots
    verdict, normalize, PSL). Every other action of the round — the skipped
    write, prepare_fresh, the delta commits — runs in the JVM only. Each
    Python node costs a fixed per-task overhead, so a second evaluation of a
    UDF (a Filter over a UDF-derived column, or union branches re-planning
    the fetch join) is a visible regression here."""
    from crawlee_spark.operators.engine import CrawlEngine, CrawlOptions
    from crawlee_spark.sources.fixtures import make_pages, make_pages_rows, make_robots, make_seeds
    from tests.plan_capture import capture_actions

    store = FrontierStore(spark, str(tmp_path_factory.mktemp("plans-round")), num_partitions=4)
    engine = CrawlEngine(
        spark,
        store,
        make_pages(spark, 40),
        robots=make_robots(spark),
        policy=PolitenessPolicy(max_concurrency=50, per_host_cap=10, salt_buckets=4),
        options=CrawlOptions(),
    )
    engine.add_seeds(make_seeds(spark, make_pages_rows(40)))
    with capture_actions() as taken:
        metrics = engine.run_round()
    assert metrics["links_found"] > 0 and metrics["enqueued"] > 0
    passes = [(a, node) for a in taken for node in a.python]
    assert len(passes) == 2, [f"{a.kind} in {a.caller}: {n[:120]}" for a, n in passes]
    (extract, extract_node), (links, links_node) = passes
    for udf in ("robots_allowed_udf", "get_domain_udf", "extract_page_udf"):
        assert udf in extract_node
    for udf in ("robots_allowed_udf", "_normalize_or_raw_udf", "get_domain_udf"):
        assert udf in links_node
    assert "extract_page_udf" not in links_node and "_normalize_or_raw_udf" not in extract_node
    assert (extract.kind, links.kind) == ("localCheckpoint", "localCheckpoint")
    # one branch over the fetch join: no success/rest union re-planning it
    assert "Union" not in extract.plan


def test_plain_round_runs_as_named_phases(spark, tmp_path_factory):
    """``run_round`` drives one method per phase, in order: claim → lease
    commit → fetch + classify → extract → round aggregate → enqueue → side
    outputs → outcome commit (a plain round has no hooks phase actions, and
    fetch + classify is lazy: its plan runs in the extraction checkpoint).
    Every action a plain round with robots takes is pinned to its phase;
    the side outputs are staged table versions (``skipped/`` once per round:
    fetch-time and link-gate skips in one version) that the outcome commit
    publishes, and the round still runs exactly 2 Python passes."""
    from crawlee_spark.operators.engine import CrawlEngine, CrawlOptions
    from crawlee_spark.sources.fixtures import make_pages, make_pages_rows, make_robots, make_seeds
    from tests.plan_capture import capture_actions

    store = FrontierStore(spark, str(tmp_path_factory.mktemp("plans-phases")), num_partitions=4)
    engine = CrawlEngine(
        spark,
        store,
        make_pages(spark, 40),
        robots=make_robots(spark),
        policy=PolitenessPolicy(max_concurrency=50, per_host_cap=10, salt_buckets=4),
        options=CrawlOptions(),
    )
    engine.add_seeds(make_seeds(spark, make_pages_rows(40)))
    with capture_actions() as taken:
        metrics = engine.run_round()
    assert metrics["links_found"] > 0 and metrics["enqueued"] > 0
    assert [(a.kind, a.caller) for a in taken] == [
        ("localCheckpoint", "engine._claim"),
        ("collect", "engine._claim"),
        ("parquet", "frontier.commit_delta"),  # the lease delta
        ("localCheckpoint", "engine._extract"),
        ("collect", "engine._round_aggregate"),
        ("localCheckpoint", "engine._enqueue"),  # the link pin
        ("localCheckpoint", "frontier.prepare_fresh"),
        ("collect", "frontier.prepare_fresh"),
        ("parquet", "frontier.stage"),  # skipped
        ("parquet", "frontier.stage"),  # results
        ("parquet", "frontier.stage"),  # outcomes
        ("parquet", "frontier.commit_delta"),  # the outcome delta
    ]
    writes = [
        os.path.relpath(os.path.dirname(a.target), store.root)
        for a in taken
        if a.caller == "frontier.stage"
    ]
    assert writes == ["skipped", "results", "outcomes"]
    assert sum(len(a.python) for a in taken) == 2
