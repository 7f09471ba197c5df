"""Per-label user handler hooks (VERDICT r3 items 2-3): Router dispatch
(router.ts:315-329), requestHandler errors (basic-crawler.ts:1880-1941),
errorHandler mutations (basic-crawler.ts:1896-1906) and
failedRequestHandler finalization (basic-crawler.ts:1953-1965)."""

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawlee_spark.operators.engine import CrawlEngine, CrawlOptions
from crawlee_spark.operators.enqueue import EnqueueOptions
from crawlee_spark.operators.frontier import FrontierStore
from crawlee_spark.operators.handlers import (
    MissingRouteError,
    RequestHandler,
    apply_request_handlers,
)
from crawlee_spark.operators.scheduler import PolitenessPolicy

_TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


def _pages(spark, urls):
    rows = [
        {
            "url": u,
            "warc_ts": _TS,
            "html": f"<html><body><p>words for page {i}</p></body></html>".encode(),
            "text": None,
            "lang": "en",
            "status_code": 200,
            "content_type": "text/html; charset=utf-8",
        }
        for i, u in enumerate(urls)
    ]
    return spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string, "
        "status_code int, content_type string",
    )


def _engine(spark, tmp_store_dir, urls, seeds, options):
    store = FrontierStore(spark, tmp_store_dir, num_partitions=2)
    engine = CrawlEngine(
        spark=spark,
        store=store,
        pages=_pages(spark, urls),
        policy=PolitenessPolicy(max_concurrency=50, per_host_cap=50, salt_buckets=2),
        options=options,
    )
    engine.add_seeds(seeds)
    return engine


def test_router_dispatches_per_label_with_default(spark, tmp_store_dir):
    urls = [
        "https://h1.example.com/a",
        "https://h1.example.com/b",
        "https://h2.example.com/c",
        "https://h2.example.com/d",
    ]
    seeds = spark.createDataFrame(
        list(zip(urls, ["detail", "detail", "listing", None])), "url string, label string"
    )

    def detail(pdf):
        return pd.DataFrame({"kind": ["D"] * len(pdf), "title": pdf["url"].str.upper()})

    def listing(pdf):
        return pd.DataFrame({"kind": ["L"] * len(pdf)})

    def fallback(pdf):
        return pd.DataFrame({"kind": ["default"] * len(pdf)})

    extra = T.StructType(
        [T.StructField("kind", T.StringType()), T.StructField("title", T.StringType())]
    )
    kind_only = T.StructType([T.StructField("kind", T.StringType())])
    engine = _engine(
        spark, tmp_store_dir, urls, seeds,
        CrawlOptions(
            max_rounds=1,
            enqueue=EnqueueOptions(strategy="all"),
            handlers={
                "detail": RequestHandler(detail, extra),
                "listing": RequestHandler(listing, kind_only),
                None: RequestHandler(fallback, kind_only),
            },
        ),
    )
    engine.run_round()
    got = {r["url"]: (r["kind"], r["title"]) for r in engine.results().collect()}
    assert got == {
        "https://h1.example.com/a": ("D", "HTTPS://H1.EXAMPLE.COM/A"),
        "https://h1.example.com/b": ("D", "HTTPS://H1.EXAMPLE.COM/B"),
        "https://h2.example.com/c": ("L", None),
        "https://h2.example.com/d": ("default", None),
    }


def test_missing_route_aborts_the_crawl(spark, tmp_store_dir):
    urls = ["https://h1.example.com/a"]
    seeds = spark.createDataFrame([(urls[0], "unrouted")], "url string, label string")
    engine = _engine(
        spark, tmp_store_dir, urls, seeds,
        CrawlOptions(
            max_rounds=1,
            handlers={"detail": RequestHandler(lambda pdf: None, T.StructType([]))},
        ),
    )
    # MissingRouteError is a CriticalError in the reference: the run aborts
    # (basic-crawler.ts:1889) instead of retrying the request
    with pytest.raises(MissingRouteError, match="Route not found for label 'unrouted'"):
        engine.run_round()


def test_handler_throw_is_retryable_then_fails(spark, tmp_store_dir):
    urls = ["https://h1.example.com/a", "https://h1.example.com/b"]
    seeds = spark.createDataFrame([(u,) for u in urls], "url string")

    def flaky(pdf):
        if pdf["url"].str.endswith("/a").any():
            raise ValueError("boom on /a")
        return pd.DataFrame({"kind": ["ok"] * len(pdf)})

    engine = _engine(
        spark, tmp_store_dir, urls, seeds,
        CrawlOptions(
            max_rounds=4,
            max_request_retries=1,
            handlers={
                None: RequestHandler(flaky, T.StructType([T.StructField("kind", T.StringType())]))
            },
        ),
    )
    engine.run(None)
    rows = {r["url"]: r for r in engine.store.read().collect()}
    a, b = rows["https://h1.example.com/a"], rows["https://h1.example.com/b"]
    # /a: one retry consumed, then finalized failed with both errors recorded
    assert a["failed"] and a["retry_count"] == 1 and a["handled_at"] is not None
    assert len(a["error_messages"]) == 2
    assert all("boom on /a" in m for m in a["error_messages"])
    # /b succeeded (per-row isolation: /a's poison never touched it) and its
    # handler output reached the results dataset
    assert not b["failed"] and b["handled_at"] is not None
    got = {r["url"]: r["kind"] for r in engine.results().collect()}
    assert got == {"https://h1.example.com/b": "ok"}


def test_handler_batch_errors_are_row_isolated(spark):
    """One poisoned request in an Arrow batch must not fail its batchmates:
    the wrapper re-runs the batch row-by-row on a throw."""
    df = spark.createDataFrame(
        [(f"r{i}", f"https://h.com/{i}", None) for i in range(6)],
        "request_id string, url string, label string",
    ).coalesce(1)

    def fn(pdf):
        if pdf["url"].str.endswith("/3").any():
            raise RuntimeError("poison")
        return pd.DataFrame({"ok": pdf["url"].str.len()})

    out = apply_request_handlers(
        df,
        {None: RequestHandler(fn, T.StructType([T.StructField("ok", T.LongType())]))},
    ).collect()
    by_id = {r["request_id"]: r for r in out}
    assert len(by_id) == 6
    assert by_id["r3"]["_handler_error"] is not None
    assert "poison" in by_id["r3"]["_handler_error"] and by_id["r3"]["ok"] is None
    for i in (0, 1, 2, 4, 5):
        assert by_id[f"r{i}"]["_handler_error"] is None
        assert by_id[f"r{i}"]["ok"] == len(f"https://h.com/{i}")


def test_error_handler_mutates_request_before_reclaim(spark, tmp_store_dir):
    """basic_crawler.test.ts:663 semantics: errorHandler modifies the
    request; the reclaimed row carries the mutation into the next attempt."""
    urls = ["https://h1.example.com/a"]
    seeds = spark.createDataFrame([(urls[0],)], "url string")

    def always_throw(pdf):
        raise ValueError("handler exploded")

    seen = []

    def error_handler(pdf):
        # the hook sees the pushed error (reference pushes BEFORE the hook)
        assert pdf["error_messages"].iloc[0][-1].startswith("ValueError: handler exploded")
        pdf["user_data"] = "patched-by-errorHandler:" + pdf["retry_count"].astype(str)
        return pdf

    engine = _engine(
        spark, tmp_store_dir, urls, seeds,
        CrawlOptions(
            max_rounds=1,
            max_request_retries=3,
            handlers={None: RequestHandler(always_throw, T.StructType([]))},
            error_handler=error_handler,
        ),
    )
    engine.run_round()
    row = engine.store.read().collect()[0]
    # reclaimed (not failed), retry consumed AFTER the hook ran, mutation kept
    assert not row["failed"] and row["handled_at"] is None
    assert row["retry_count"] == 1
    assert row["user_data"] == "patched-by-errorHandler:0"


def test_error_handler_no_retry_finalizes_failure(spark, tmp_store_dir):
    """errorHandler setting noRetry converts the retry into a finalized
    failure (the reference re-checks request.noRetry after the hook,
    basic-crawler.ts:1904), and failedRequestHandler then sees the request
    with the final error pushed."""
    urls = ["https://h1.example.com/a", "https://h1.example.com/b"]
    seeds = spark.createDataFrame([(u,) for u in urls], "url string")

    def flaky(pdf):
        if pdf["url"].str.endswith("/a").any():
            raise ValueError("fatal-ish")
        return None

    def error_handler(pdf):
        pdf["no_retry"] = True
        return pdf

    def failed_handler(pdf):
        return pd.DataFrame(
            {
                "url": pdf["url"],
                "last_error": pdf["error_messages"].map(lambda m: m[-1]),
                "n_errors": pdf["error_messages"].map(len),
            }
        )

    engine = _engine(
        spark, tmp_store_dir, urls, seeds,
        CrawlOptions(
            max_rounds=2,
            max_request_retries=3,
            handlers={None: RequestHandler(flaky, T.StructType([]))},
            error_handler=error_handler,
            failed_request_handler=failed_handler,
            failed_handler_schema=T.StructType(
                [
                    T.StructField("url", T.StringType()),
                    T.StructField("last_error", T.StringType()),
                    T.StructField("n_errors", T.IntegerType()),
                ]
            ),
        ),
    )
    engine.run(None)
    row = {r["url"]: r for r in engine.store.read().collect()}["https://h1.example.com/a"]
    assert row["failed"] and row["retry_count"] == 0  # no retry ever consumed
    failed_out = engine.failed_handled().collect()
    assert len(failed_out) == 1
    assert failed_out[0]["url"] == "https://h1.example.com/a"
    assert failed_out[0]["n_errors"] == 1
    assert failed_out[0]["last_error"].startswith("ValueError: fatal-ish")


def test_enqueue_by_label_listing_detail(spark, tmp_store_dir):
    """Per-label enqueueLinks (the reference's canonical listing->detail
    routing: each route's handler calls enqueueLinks with its own globs +
    label): links from 'listing' pages pass the detail glob and get the
    detail label; links from unlabeled pages use the default options."""
    L, P = "https://h1.example.com/listing", "https://h1.example.com/plain"
    pages_rows = [
        (L, "<html><body><a href='/detail/1'>d</a><a href='/other/1'>o</a></body></html>"),
        (P, "<html><body><a href='/detail/2'>d</a><a href='/other/2'>o</a></body></html>"),
    ]
    pages = spark.createDataFrame(
        [
            {
                "url": u,
                "warc_ts": dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc),
                "html": h.encode(),
                "text": None,
                "lang": "en",
                "status_code": 200,
                "content_type": "text/html; charset=utf-8",
            }
            for u, h in pages_rows
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string, "
        "status_code int, content_type string",
    )
    store = FrontierStore(spark, tmp_store_dir, num_partitions=2)
    engine = CrawlEngine(
        spark=spark,
        store=store,
        pages=pages,
        policy=PolitenessPolicy(max_concurrency=50, per_host_cap=50, salt_buckets=2),
        options=CrawlOptions(
            max_rounds=1,
            enqueue_by_label={
                "listing": EnqueueOptions(
                    strategy="all", globs=("**/detail/*",), label="detail"
                ),
                None: EnqueueOptions(strategy="all", exclude_globs=("**/detail/*",)),
            },
        ),
    )
    engine.add_seeds(
        spark.createDataFrame([(L, "listing"), (P, None)], "url string, label string")
    )
    engine.run_round()
    fresh = {
        r["url"]: r["label"]
        for r in store.read().filter(F.col("crawl_depth") == 1).collect()
    }
    assert fresh == {
        # from the listing page: only the detail glob survives, stamped 'detail'
        "https://h1.example.com/detail/1": "detail",
        # from the plain page: default options exclude detail links
        "https://h1.example.com/other/2": None,
    }


def test_handler_emitted_requests_flow_to_frontier(spark, tmp_store_dir):
    """Handler-emitted requests (context.addRequests basic-crawler.ts:
    1651-1672 / enqueueLinks({urls}) enqueue_links.ts:244-294): a listing
    handler constructs page-N urls itself (the pagination/API idiom — no
    <a> tags involved); they flow through gate -> dedup -> enqueue exactly
    like extracted links, with the per-row enqueue_label / enqueue_user_data
    stamped on, and the seed itself deduped away on re-emission."""
    L = "https://h1.example.com/listing"
    P2, P3 = f"{L}?page=2", f"{L}?page=3"
    urls = [L, P2, P3]
    seeds = spark.createDataFrame([(L, "listing")], "url string, label string")

    def listing(pdf):
        # emit page-2/3 plus the seed itself (must dedup away)
        return pd.DataFrame(
            {
                "enqueue_urls": [[u + "?page=2", u + "?page=3", u] for u in pdf["url"]],
                "enqueue_label": ["detail"] * len(pdf),
                "enqueue_user_data": ['{"from":"pager"}'] * len(pdf),
            }
        )

    def detail(pdf):
        return pd.DataFrame({"kind": ["D"] * len(pdf)})

    emit_schema = T.StructType(
        [
            T.StructField("enqueue_urls", T.ArrayType(T.StringType())),
            T.StructField("enqueue_label", T.StringType()),
            T.StructField("enqueue_user_data", T.StringType()),
        ]
    )
    kind_only = T.StructType([T.StructField("kind", T.StringType())])
    engine = _engine(
        spark, tmp_store_dir, urls, seeds,
        CrawlOptions(
            enqueue=EnqueueOptions(strategy="same-hostname"),
            handlers={
                "listing": RequestHandler(listing, emit_schema),
                "detail": RequestHandler(detail, kind_only),
                None: RequestHandler(lambda pdf: None, T.StructType([])),
            },
        ),
    )
    engine.run_round()
    fresh = {
        r["url"]: (r["label"], r["user_data"], r["crawl_depth"])
        for r in engine.store.read().filter(F.col("crawl_depth") == 1).collect()
    }
    # both pager urls enqueued at depth 1 with the handler's label/userData;
    # the re-emitted seed is deduped (D5), not re-added
    assert fresh == {
        P2: ("detail", '{"from":"pager"}', 1),
        P3: ("detail", '{"from":"pager"}', 1),
    }
    assert engine.store.read().filter(F.col("url") == L).count() == 1
    # the emitted requests are crawlable: round 2 routes them to 'detail'
    engine.run_round()
    got = {r["url"]: r["kind"] for r in engine.results().collect()}
    assert got[P2] == "D" and got[P3] == "D"
    # engine-consumed columns never leak into the results dataset
    assert "enqueue_urls" not in engine.results().columns


def test_handler_emitted_requests_are_gated(spark, tmp_store_dir):
    """Emitted urls pass the SAME F1/F7 gates as extracted links: an
    off-host url fails same-hostname ('filters') and with max_crawl_depth=0
    every emitted url is depth-skipped — gate rejections land in the
    skipped side-output, nothing reaches the frontier."""
    L = "https://h1.example.com/listing"
    seeds = spark.createDataFrame([(L, "listing")], "url string, label string")

    def listing(pdf):
        return pd.DataFrame(
            {"enqueue_urls": [[u + "?page=2", "https://evil.example.org/x"] for u in pdf["url"]]}
        )

    emit_schema = T.StructType(
        [T.StructField("enqueue_urls", T.ArrayType(T.StringType()))]
    )
    engine = _engine(
        spark, tmp_store_dir, [L], seeds,
        CrawlOptions(
            max_rounds=1,
            max_crawl_depth=0,
            enqueue=EnqueueOptions(strategy="same-hostname"),
            handlers={"listing": RequestHandler(listing, emit_schema)},
        ),
    )
    engine.run_round()
    assert engine.store.read().filter(F.col("crawl_depth") > 0).count() == 0
    skipped = {
        (r["url"], r["reason"]) for r in engine.skipped().collect()
    }
    assert (L + "?page=2", "depth") in skipped
    # the cross-host url fails the strategy gate BEFORE depth (gates apply
    # in reference order: filters first)
    assert ("https://evil.example.org/x", "filters") in skipped


def test_enqueue_label_must_come_with_enqueue_urls():
    from crawlee_spark.operators.handlers import merged_extra_fields

    with pytest.raises(ValueError, match="nothing would be enqueued"):
        merged_extra_fields(
            {None: RequestHandler(lambda p: p, T.StructType([T.StructField("enqueue_label", T.StringType())]))}
        )


def test_enqueue_urls_type_is_validated():
    from crawlee_spark.operators.handlers import merged_extra_fields

    with pytest.raises(ValueError, match="engine-consumed"):
        merged_extra_fields(
            {None: RequestHandler(lambda p: p, T.StructType([T.StructField("enqueue_urls", T.StringType())]))}
        )


def test_handler_output_columns_cannot_shadow_engine_columns():
    """A handler declaring an extras column named like an engine/frontier
    column (label, url, ...) must fail fast at construction, not as an
    ambiguous-reference error mid-crawl."""
    from crawlee_spark.operators.handlers import merged_extra_fields

    with pytest.raises(ValueError, match="collides with an engine column"):
        merged_extra_fields(
            {None: RequestHandler(lambda p: p, T.StructType([T.StructField("label", T.StringType())]))}
        )
    # ADVICE r4: results-dataset-only columns (round_id/text/loaded_url) are
    # emitted by the round's final select, not carried on the round frame —
    # shadowing one would yield a duplicate column in the parquet append
    # mid-crawl, so the up-front check must reserve them too
    for name in ("round_id", "text", "loaded_url"):
        with pytest.raises(ValueError, match="collides with an engine column"):
            merged_extra_fields(
                {None: RequestHandler(lambda p: p, T.StructType([T.StructField(name, T.StringType())]))}
            )
