"""Crash-point fault matrix for the round commit.

A round's writes become visible only through the frontier manifest swap:
the side tables (results, outcomes, skipped, failed_handled, sessions and
the proxy state) are staged versions that the outcome commit publishes with
the frontier delta. So a crash at ANY write or commit call of a round must
leave a fresh engine seeing exactly the last committed round — never a mix
of it and the crashed round — and resuming must not log an attempt twice.

The fixture round 2 exercises every side table and compacts: robots (a
link-gate skip), a 503 retry (proxy_last), a 404 fail with a
failed_request_handler, a session pool and tiered proxies, compact_every=4
(seed snapshot, then the lease and outcome deltas of rounds 1 and 2).
"""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import types as T
from pyspark.sql.readwriter import DataFrameWriter

from crawlee_spark.operators.engine import PROXY_LAST_SCHEMA, CrawlEngine, CrawlOptions
from crawlee_spark.operators.enqueue import EnqueueOptions
from crawlee_spark.operators.frontier import FrontierStore
from crawlee_spark.operators.proxies import TRACKER_STATE_SCHEMA, ProxyConfiguration
from crawlee_spark.operators.scheduler import PolitenessPolicy
from crawlee_spark.operators.sessions import SessionPolicy

A, B = "https://a.example.com", "https://b.example.com"
PAGES = [
    # url, links, status
    (f"{A}/", [f"{A}/b", f"{A}/c", f"{A}/private", f"{B}/flaky", f"{B}/gone"], 200),
    (f"{A}/b", [f"{A}/d"], 200),
    (f"{A}/c", [f"{A}/private/x", f"{A}/d"], 200),
    (f"{A}/d", [], 200),
    (f"{B}/flaky", [], 503),
    (f"{B}/gone", [], 404),
]
FAILED_SCHEMA = T.StructType(
    [T.StructField("url", T.StringType()), T.StructField("last_error", T.StringType())]
)


class Crash(Exception):
    pass


def _failed_handler(pdf):
    return pd.DataFrame(
        {"url": pdf["url"], "last_error": pdf["error_messages"].map(lambda m: m[-1])}
    )


def _engine(spark, root):
    pages = spark.createDataFrame(
        [
            (url, "".join(f'<a href="{l}">x</a>' for l in links).encode(), status, "text/html")
            for url, links, status in PAGES
        ],
        "url string, html binary, status_code int, content_type string",
    )
    robots = spark.createDataFrame(
        [("a.example.com", "User-agent: *\nDisallow: /private")], "host string, robots_txt string"
    )
    return CrawlEngine(
        spark,
        FrontierStore(spark, root, num_partitions=2, compact_every=4),
        pages,
        robots=robots,
        policy=PolitenessPolicy(max_concurrency=50, per_host_cap=10, salt_buckets=2),
        options=CrawlOptions(
            enqueue=EnqueueOptions(strategy="all"),
            proxy_config=ProxyConfiguration(
                tiered_proxy_urls=(("http://t0",), ("http://t1a", "http://t1b"))
            ),
            failed_request_handler=_failed_handler,
            failed_handler_schema=FAILED_SCHEMA,
        ),
        session_policy=SessionPolicy(max_pool_size=3),
    )


def _view(engine) -> dict:
    """Everything a reader of the store sees, order-independently."""

    def rows(df):
        return sorted(repr(r) for r in df.collect())

    store = engine.store
    return {
        "results": rows(engine.results()),
        "outcomes": rows(engine.outcomes()),
        "skipped": rows(engine.skipped()),
        "sessions": rows(engine.session_pool()),
        "proxy_state": rows(store.table("proxy_state", TRACKER_STATE_SCHEMA)),
        "proxy_last": rows(store.table("proxy_last", PROXY_LAST_SCHEMA)),
        "failed_handled": rows(engine.failed_handled()),
        "info": store.info(),
    }


def _round_with_crash(monkeypatch, engine, k: int | None) -> list[str]:
    """Run one round with every parquet write and manifest write counted;
    the ``k``-th raises ``Crash``. Returns each call's target ("manifest"
    or the written directory relative to the store root)."""
    calls: list[str] = []
    root = engine.store.root

    def counted(fn, target):
        def call(self, *a, **kw):
            calls.append(target(self, *a, **kw))
            if len(calls) == k:
                raise Crash(calls[-1])
            return fn(self, *a, **kw)

        return call

    monkeypatch.setattr(
        DataFrameWriter,
        "parquet",
        counted(DataFrameWriter.parquet, lambda self, path, *a, **kw: os.path.relpath(path, root)),
    )
    monkeypatch.setattr(
        FrontierStore,
        "_write_manifest",
        counted(FrontierStore._write_manifest, lambda self: "manifest"),
    )
    try:
        engine.run_round()
    finally:
        monkeypatch.undo()
    return calls


@pytest.fixture(scope="module")
def matrix(spark, tmp_path_factory):
    """The store after round 1, the views before and after round 2, and
    round 2's write and commit calls."""
    base = tmp_path_factory.mktemp("crash-matrix")
    round1 = str(base / "round1")
    engine = _engine(spark, round1)
    engine.add_seeds(spark.createDataFrame([(f"{A}/",)], "url string"))
    assert engine.run_round()["claimed"] == 1
    before = _view(_engine(spark, round1))

    clean = str(base / "clean")
    shutil.copytree(round1, clean)
    mp = pytest.MonkeyPatch()
    calls = _round_with_crash(mp, _engine(spark, clean), None)
    after = _view(_engine(spark, clean))
    return round1, before, after, calls


def test_round_two_writes_every_side_table_and_compacts(matrix):
    _, before, after, calls = matrix
    staged = {os.path.dirname(c) for c in calls if c != "manifest"}
    for table in (
        "results", "outcomes", "skipped", "failed_handled", "sessions", "proxy_state", "proxy_last",
    ):
        assert table in staged, calls
    assert any(c.startswith("snapshots") for c in calls), calls  # the compaction
    # every part of the view moves in round 2, so a mix would show
    for key in before:
        assert before[key] != after[key], key


def test_crash_at_any_call_shows_one_committed_round(spark, matrix, tmp_path, monkeypatch):
    round1, before, after, calls = matrix
    for k in range(1, len(calls) + 1):
        root = str(tmp_path / f"k{k}")
        shutil.copytree(round1, root)
        with pytest.raises(Crash):
            _round_with_crash(monkeypatch, _engine(spark, root), k)
        seen = _view(_engine(spark, root))
        assert seen in (before, after), (
            f"crash at call {k} ({calls[k - 1]}): mixed view in "
            f"{[key for key in before if seen[key] not in (before[key], after[key])]}"
        )
        # resume: the crashed round's leases have expired and are re-claimed
        resumed = _engine(spark, root)
        resumed.run_round()
        n, ids = resumed.results().selectExpr("count(*)", "count(distinct request_id)").first()
        assert n == ids, f"crash at call {k} ({calls[k - 1]}): a result was written twice"
        n, attempts = resumed.outcomes().selectExpr(
            "count(*)", "count(distinct request_id, attempt)"
        ).first()
        assert n == attempts, f"crash at call {k} ({calls[k - 1]}): an attempt was logged twice"
        assert resumed.store.info() == resumed.store.info(exact=True)
