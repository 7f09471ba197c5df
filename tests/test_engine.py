"""End-to-end crawl-loop tests on the deterministic fixture universe.

Covers the reference crawl-loop contracts at model level:
- per-URL byte-identical extracted text (input_hint invariant);
- dedup: every URL handled at most once;
- robots gating at enqueue;
- retry policy: 5xx retried maxRequestRetries times then failed, other 4xx /
  bad MIME failed without retry (basic_crawler.test.ts:500-786 semantics);
- maxRequestsPerCrawl budget; maxCrawlDepth;
- checkpoint/resume: kill between rounds → resume → identical final state.
"""

import pytest
from pyspark.sql import functions as F

from crawlee_spark.operators.engine import CrawlEngine, CrawlOptions
from crawlee_spark.operators.enqueue import EnqueueOptions
from crawlee_spark.operators.frontier import FrontierStore
from crawlee_spark.operators.scheduler import PolitenessPolicy
from crawlee_spark.sources.fixtures import make_pages, make_pages_rows, make_robots, make_seeds


N_PAGES = 40


@pytest.fixture(scope="module")
def pages_rows():
    return make_pages_rows(N_PAGES)


@pytest.fixture(scope="module")
def pages(spark, pages_rows):
    return make_pages(spark, N_PAGES).cache()


def build_engine(spark, tmp_store_dir, pages, robots=None, options=None, policy=None):
    store = FrontierStore(spark, tmp_store_dir, num_partitions=4)
    return CrawlEngine(
        spark=spark,
        store=store,
        pages=pages,
        robots=robots,
        policy=policy or PolitenessPolicy(max_concurrency=50, per_host_cap=10, salt_buckets=4),
        options=options
        or CrawlOptions(max_rounds=6, enqueue=EnqueueOptions(strategy="all")),
    )


def test_crawl_end_to_end(spark, tmp_store_dir, pages, pages_rows):
    engine = build_engine(spark, tmp_store_dir, pages, robots=make_robots(spark))
    seeds = make_seeds(spark, pages_rows)
    stats = engine.run(seeds)

    results = engine.results().collect()
    assert len(results) > 0
    # byte-identical text per URL vs the expected column of the pages table
    expected = {r["url"]: r["text"] for r in pages_rows}
    for row in results:
        assert row["text"] == expected[row["url"]], f"text mismatch for {row['url']}"

    # dedup: no URL handled twice
    urls = [r["url"] for r in results]
    assert len(urls) == len(set(urls))

    # robots: blocked.example.io URLs never produce results
    assert not [u for u in urls if "blocked.example.io" in u]
    skipped = engine.skipped().collect()
    assert any(s["reason"] == "robotsTxt" for s in skipped)

    # statistics coherent
    assert stats["requestsFinished"] == len(urls)
    assert stats["requestsTotal"] == stats["requestsFinished"] + stats["requestsFailed"]
    assert sum(stats["retryHistogram"]) == stats["requestsTotal"]


def test_retry_then_fail_5xx(spark, tmp_store_dir):
    # one host, every page 503 → 1 initial + 3 retries, then final fail
    pages = spark.createDataFrame(
        [("https://bad.com/a", b"<p>x</p>", 503, "text/html")],
        "url string, html binary, status_code int, content_type string",
    )
    engine = build_engine(
        spark,
        tmp_store_dir,
        pages,
        options=CrawlOptions(max_rounds=10, max_request_retries=3, enqueue=EnqueueOptions()),
    )
    seeds = spark.createDataFrame([("https://bad.com/a",)], "url string")
    stats = engine.run(seeds)

    assert stats["requestsFinished"] == 0
    assert stats["requestsFailed"] == 1
    # 4 attempts total: attempts 0,1,2 → retry; attempt 3 → fail
    outcomes = engine.outcomes().orderBy("round_id").collect()
    assert [o["outcome"] for o in outcomes] == ["retry", "retry", "retry", "fail"]
    assert [o["attempt"] for o in outcomes] == [0, 1, 2, 3]
    # retry histogram: the one request consumed 3 retries
    assert stats["retryHistogram"] == [0, 0, 0, 1]
    # error messages accumulated on the frontier row (C5)
    row = engine.store.read().collect()[0]
    assert row["failed"] and row["handled_at"] is not None
    assert len(row["error_messages"]) == 4


def test_no_retry_4xx_and_bad_mime(spark, tmp_store_dir):
    pages = spark.createDataFrame(
        [
            ("https://x.com/404", b"<p>gone</p>", 404, "text/html"),
            ("https://x.com/bin", b"\x00\x01", 200, "application/octet-stream"),
            ("https://x.com/ok", b"<p>fine</p>", 200, "text/html"),
        ],
        "url string, html binary, status_code int, content_type string",
    )
    engine = build_engine(spark, tmp_store_dir, pages, options=CrawlOptions(max_rounds=4))
    seeds = spark.createDataFrame(
        [("https://x.com/404",), ("https://x.com/bin",), ("https://x.com/ok",)], "url string"
    )
    stats = engine.run(seeds)
    assert stats["requestsFinished"] == 1
    assert stats["requestsFailed"] == 2
    # non-retryable: exactly one attempt each
    assert stats["retryHistogram"] == [3]


def test_session_rotation_on_blocked_status(spark, tmp_store_dir):
    pages = spark.createDataFrame(
        [("https://x.com/blocked", b"<p>x</p>", 403, "text/html")],
        "url string, html binary, status_code int, content_type string",
    )
    engine = build_engine(
        spark,
        tmp_store_dir,
        pages,
        options=CrawlOptions(max_rounds=5, max_session_rotations=2),
    )
    stats = engine.run(spark.createDataFrame([("https://x.com/blocked",)], "url string"))
    # rotations don't consume retryCount (basic-crawler.ts:1870-1876):
    # 2 session_retry attempts (rotations), then the retry path takes over
    outcomes = engine.outcomes().orderBy("round_id").collect()
    assert [o["outcome"] for o in outcomes][:2] == ["session_retry", "session_retry"]
    row = engine.store.read().collect()[0]
    assert row["session_rotation_count"] == 2


def test_max_requests_per_crawl(spark, tmp_store_dir, pages):
    engine = build_engine(
        spark,
        tmp_store_dir,
        pages,
        options=CrawlOptions(
            max_rounds=8,
            max_requests_per_crawl=5,
            enqueue=EnqueueOptions(strategy="all"),
        ),
        policy=PolitenessPolicy(max_concurrency=3, per_host_cap=3, salt_buckets=4),
    )
    seeds = spark.createDataFrame([(u,) for u in [r["url"] for r in make_pages_rows(N_PAGES)[:3]]], "url string")
    stats = engine.run(seeds)
    assert stats["requestsTotal"] <= 5


def test_max_crawl_depth(spark, tmp_store_dir, pages):
    engine = build_engine(
        spark,
        tmp_store_dir,
        pages,
        options=CrawlOptions(max_rounds=6, max_crawl_depth=1, enqueue=EnqueueOptions(strategy="all")),
    )
    seeds = spark.createDataFrame([(make_pages_rows(N_PAGES)[0]["url"],)], "url string")
    engine.run(seeds)
    depths = [r["crawl_depth"] for r in engine.store.read().collect()]
    assert max(depths) <= 1
    skipped = engine.skipped().collect()
    assert any(s["reason"] == "depth" for s in skipped)


def test_resume_identical_final_state(spark, tmp_store_dir, pages, pages_rows, tmp_path):
    seeds = make_seeds(spark, pages_rows)
    opts = CrawlOptions(max_rounds=6, enqueue=EnqueueOptions(strategy="all"))
    pol = PolitenessPolicy(max_concurrency=20, per_host_cap=5, salt_buckets=4)

    # run A: straight through
    eng_a = CrawlEngine(spark, FrontierStore(spark, str(tmp_path / "a"), 4), pages, None, pol, opts)
    eng_a.run(seeds)

    # run B: 2 rounds, "crash", resume with a fresh engine over the same dir
    eng_b1 = CrawlEngine(
        spark, FrontierStore(spark, str(tmp_path / "b"), 4), pages, None, pol,
        CrawlOptions(max_rounds=2, enqueue=EnqueueOptions(strategy="all")),
    )
    eng_b1.run(seeds)
    eng_b2 = CrawlEngine(
        spark, FrontierStore(spark, str(tmp_path / "b"), 4), pages, None, pol,
        CrawlOptions(max_rounds=4, enqueue=EnqueueOptions(strategy="all")),  # 2+4 = A's 6
    )
    eng_b2.run()  # resume: no seeds, picks up from the manifest

    cols = ["request_id", "url", "order_no", "crawl_depth", "retry_count", "failed"]

    def state(engine):
        df = engine.store.read().withColumn("handled", F.col("handled_at").isNotNull())
        return sorted(tuple(r[c] for c in cols + ["handled"]) for r in df.select(cols + ["handled"]).collect())

    a, b = state(eng_a), state(eng_b2)
    assert a == b
    assert any(r[-1] for r in a)  # progress was made


def test_redirect_strategy_recheck(spark, tmp_store_dir):
    """F2: a link that redirects off-host is skipped (reason 'redirect',
    state SKIPPED, still handled) — basic-crawler.ts:2124-2168."""
    from crawlee_spark.operators.engine import CrawlEngine, CrawlOptions
    from crawlee_spark.operators.enqueue import EnqueueOptions
    from crawlee_spark.operators.frontier import STATE_SKIPPED, FrontierStore
    from crawlee_spark.operators.scheduler import PolitenessPolicy

    pages = spark.createDataFrame(
        [
            (
                "https://a.com/start",
                '<html><body><a href="/next">n</a></body></html>'.encode(),
                "https://a.com/start",
            ),
            (
                "https://a.com/next",
                b"<html><body>redirected</body></html>",
                "https://evil.example.net/landing",  # off-host redirect
            ),
        ],
        "url string, html binary, loaded_url string",
    )
    store = FrontierStore(spark, tmp_store_dir, num_partitions=2)
    engine = CrawlEngine(
        spark, store, pages,
        policy=PolitenessPolicy(max_concurrency=10, per_host_cap=10),
        options=CrawlOptions(enqueue=EnqueueOptions(strategy="same-hostname")),
    )
    engine.add_seeds(spark.createDataFrame([("https://a.com/start",)], "url string"))
    engine.run_round()  # fetch seed, discover /next (strategy recorded)
    engine.run_round()  # fetch /next → loaded_url violates same-hostname
    skipped = {(r["url"], r["reason"]) for r in engine.skipped().collect()}
    assert ("https://a.com/next", "redirect") in skipped
    row = store.read().filter("url = 'https://a.com/next'").collect()[0]
    assert row["state"] == STATE_SKIPPED
    assert row["handled_at"] is not None and not row["failed"]
    # seeds have no recorded strategy → never redirect-skipped
    seed = store.read().filter("url = 'https://a.com/start'").collect()[0]
    assert seed["state"] != STATE_SKIPPED


def test_enqueue_pattern_label_reaches_frontier(spark, tmp_store_dir):
    """F3 object patterns: a discovered link matching a pattern is enqueued
    with that pattern's label/userData (enqueue_links.test.ts:93-152)."""
    from crawlee_spark.operators.enqueue import UrlPattern

    pages = spark.createDataFrame(
        [
            (
                "https://a.com/start",
                (
                    '<html><body><a href="/detail/1">d</a>'
                    '<a href="/list/2">l</a></body></html>'
                ).encode(),
            ),
            ("https://a.com/detail/1", b"<p>d1</p>"),
            ("https://a.com/list/2", b"<p>l2</p>"),
        ],
        "url string, html binary",
    )
    engine = build_engine(
        spark,
        tmp_store_dir,
        pages,
        options=CrawlOptions(
            max_rounds=2,
            enqueue=EnqueueOptions(
                strategy="same-hostname",
                patterns=(
                    UrlPattern(glob="**/detail/**", label="DETAIL", user_data='{"kind":"d"}'),
                    UrlPattern(glob="**/list/**", label="LIST"),
                ),
            ),
        ),
    )
    engine.run(spark.createDataFrame([("https://a.com/start",)], "url string"))
    rows = {r["url"]: r for r in engine.store.read().collect()}
    assert rows["https://a.com/detail/1"]["label"] == "DETAIL"
    assert rows["https://a.com/detail/1"]["user_data"] == '{"kind":"d"}'
    assert rows["https://a.com/list/2"]["label"] == "LIST"
    assert rows["https://a.com/list/2"]["user_data"] is None
    # labels flow into the results dataset (Router input)
    res = {r["url"]: r["label"] for r in engine.results().collect()}
    assert res.get("https://a.com/detail/1") == "DETAIL"


def test_transform_hook_keys_follow_rewritten_url(spark, tmp_store_dir):
    """F4 transformRequestFunction (shared.ts:299-305) may rewrite the url:
    the enqueued rows' unique_key, request_id, host and registrable_domain
    are those of the REWRITTEN url, not of the discovered link (the round
    keys links before gating, so a transform must not reuse those keys)."""
    from urllib.parse import urlparse

    from crawlee_spark.functions.keying import (
        compute_unique_key_py,
        registrable_domain_py,
        request_id_py,
    )

    pages = spark.createDataFrame(
        [
            (
                "https://a.com/start",
                b'<html><body><a href="/detail/1">d</a><a href="/list/2">l</a></body></html>',
            ),
        ],
        "url string, html binary",
    )

    def rewrite(df):
        moved = F.regexp_replace("url", r"^https://a\.com", "https://News.B.org")
        return df.withColumn("url", F.concat(moved, F.lit("?utm_source=t")))

    engine = build_engine(
        spark,
        tmp_store_dir,
        pages,
        options=CrawlOptions(enqueue=EnqueueOptions(strategy="all", transform=rewrite)),
    )
    engine.add_seeds(spark.createDataFrame([("https://a.com/start",)], "url string"))
    assert engine.run_round()["enqueued"] == 2
    rows = [r for r in engine.store.read().collect() if r["url"] != "https://a.com/start"]
    assert sorted(r["url"] for r in rows) == [
        "https://News.B.org/detail/1?utm_source=t",
        "https://News.B.org/list/2?utm_source=t",
    ]
    for r in rows:
        uk = compute_unique_key_py(r["url"])
        assert uk.startswith("https://news.b.org/") and "utm_source" not in uk
        assert r["unique_key"] == uk
        assert r["request_id"] == request_id_py(uk)
        assert r["host"] == "news.b.org"
        assert r["registrable_domain"] == registrable_domain_py(urlparse(r["url"]).hostname)
        assert r["registrable_domain"] == "b.org"


def test_null_status_or_content_type_page_is_extracted(spark, tmp_store_dir):
    """A 200-shaped page with a NULL content_type, or a NULL status_code,
    never takes the non-retryable fail branch (status >= 400 or unsupported
    mime is NULL, not true), so it ends as a success — and its text and links
    are extracted like any other success, not replaced by an empty parse."""
    pages = spark.createDataFrame(
        [
            (
                "https://a.com/no-type",
                b'<html><body><p>typeless page</p><a href="/x">x</a></body></html>',
                200,
                None,
            ),
            (
                "https://a.com/no-status",
                b'<html><body><p>statusless page</p><a href="/y">y</a></body></html>',
                None,
                "text/html",
            ),
        ],
        "url string, html binary, status_code int, content_type string",
    )
    engine = build_engine(spark, tmp_store_dir, pages)
    engine.add_seeds(
        spark.createDataFrame([("https://a.com/no-type",), ("https://a.com/no-status",)], "url string")
    )
    metrics = engine.run_round()
    assert {r["url"]: r["outcome"] for r in engine.outcomes().collect()} == {
        "https://a.com/no-type": "success",
        "https://a.com/no-status": "success",
    }
    texts = {r["url"]: r["text"] for r in engine.results().collect()}
    assert "typeless page" in texts["https://a.com/no-type"]
    assert "statusless page" in texts["https://a.com/no-status"]
    assert metrics["links_found"] == 2 and metrics["enqueued"] == 2
    assert {"https://a.com/x", "https://a.com/y"} <= {r["url"] for r in engine.store.read().collect()}


def test_blocked_selector_page_rotates_session(spark, tmp_store_dir):
    """E9: a 200 response whose body carries a challenge-page selector is a
    session error (rotate, don't mark handled) — isRequestBlocked
    (http-crawler.ts:600-614) + RETRY_CSS_SELECTORS (blocked.ts:6-11)."""
    challenge = (
        '<html><body><div id="turnstile-wrapper">'
        '<iframe src="https://challenges.cloudflare.com/t"></iframe></div></body></html>'
    ).encode()
    pages = spark.createDataFrame(
        [("https://x.com/blocked", challenge, 200, "text/html")],
        "url string, html binary, status_code int, content_type string",
    )
    engine = build_engine(
        spark, tmp_store_dir, pages,
        options=CrawlOptions(max_rounds=4, max_session_rotations=2),
    )
    engine.run(spark.createDataFrame([("https://x.com/blocked",)], "url string"))
    outcomes = engine.outcomes().orderBy("round_id").collect()
    assert [o["outcome"] for o in outcomes][:2] == ["session_retry", "session_retry"]
    assert "Antibot protection detected" in outcomes[0]["error_message"]
    assert "challenges.cloudflare.com" in outcomes[0]["error_message"]
    # never recorded as a success result
    assert engine.results().count() == 0
    row = engine.store.read().collect()[0]
    assert row["session_rotation_count"] == 2


def test_charset_wired_into_round(spark, tmp_store_dir):
    """E6: a latin-1 page with a charset'd Content-Type extracts
    byte-identically (http-crawler.ts:843-885 encoding path)."""
    pages = spark.createDataFrame(
        [
            (
                "https://x.com/latin",
                "<p>café crème</p>".encode("iso-8859-1"),
                200,
                "text/html; charset=ISO-8859-1",
            )
        ],
        "url string, html binary, status_code int, content_type string",
    )
    engine = build_engine(spark, tmp_store_dir, pages, options=CrawlOptions(max_rounds=2))
    engine.run(spark.createDataFrame([("https://x.com/latin",)], "url string"))
    res = engine.results().collect()
    assert len(res) == 1 and res[0]["text"] == "café crème"


def test_force_response_encoding(spark, tmp_store_dir):
    """forceResponseEncoding overrides the header charset."""
    pages = spark.createDataFrame(
        [("https://x.com/f", "<p>café</p>".encode("iso-8859-1"), 200, "text/html")],
        "url string, html binary, status_code int, content_type string",
    )
    engine = build_engine(
        spark, tmp_store_dir, pages,
        options=CrawlOptions(max_rounds=2, force_response_encoding="iso-8859-1"),
    )
    engine.run(spark.createDataFrame([("https://x.com/f",)], "url string"))
    assert engine.results().collect()[0]["text"] == "café"


def test_request_handler_timeout(spark, tmp_store_dir):
    """C7: a handler over requestHandlerTimeoutSecs is a retryable
    TimeoutError — retried up to maxRequestRetries then failed with the
    reference's message (basic-crawler.ts:735-770)."""
    pages = spark.createDataFrame(
        [
            ("https://x.com/slow", b"<p>slow</p>", 200, "text/html", 5000),
            ("https://x.com/fast", b"<p>fast</p>", 200, "text/html", 100),
        ],
        "url string, html binary, status_code int, content_type string, handler_ms long",
    )
    engine = build_engine(
        spark, tmp_store_dir, pages,
        options=CrawlOptions(
            max_rounds=10, max_request_retries=2, request_handler_timeout_secs=1.0,
        ),
    )
    stats = engine.run(
        spark.createDataFrame([("https://x.com/slow",), ("https://x.com/fast",)], "url string")
    )
    assert stats["requestsFinished"] == 1 and stats["requestsFailed"] == 1
    slow = engine.outcomes().filter("url = 'https://x.com/slow'").orderBy("round_id").collect()
    assert [o["outcome"] for o in slow] == ["retry", "retry", "fail"]
    assert slow[0]["error_message"] == "requestHandler timed out after 1.0 seconds."
    # without the option the same pages all succeed
    engine2 = build_engine(
        spark, tmp_store_dir + "_off", pages, options=CrawlOptions(max_rounds=3)
    )
    stats2 = engine2.run(
        spark.createDataFrame([("https://x.com/slow",), ("https://x.com/fast",)], "url string")
    )
    assert stats2["requestsFinished"] == 2


def test_kitchen_sink_integration(spark, tmp_store_dir):
    """All engine features in ONE crawl: session pool + robots + per-pattern
    labels + budget + depth + blocked page + handler timeout + charset —
    features tested in isolation must compose without interference."""
    from crawlee_spark.operators.enqueue import UrlPattern
    from crawlee_spark.operators.sessions import SessionPolicy

    challenge = (
        '<html><body><div id="turnstile-wrapper">'
        '<iframe src="https://challenges.cloudflare.com/t"></iframe></div></body></html>'
    ).encode()
    link_page = (
        '<html><body><a href="/detail/1">d</a><a href="/blocked">b</a>'
        '<a href="/private/x">p</a><a href="/slow">s</a></body></html>'
    ).encode()
    pages = spark.createDataFrame(
        [
            ("https://a.com/start", link_page, 200, "text/html", 10),
            ("https://a.com/detail/1", "<p>détail</p>".encode("iso-8859-1"),
             200, "text/html; charset=ISO-8859-1", 10),
            ("https://a.com/blocked", challenge, 200, "text/html", 10),
            ("https://a.com/private/x", b"<p>private</p>", 200, "text/html", 10),
            ("https://a.com/slow", b"<p>slow</p>", 200, "text/html", 99_000),
        ],
        "url string, html binary, status_code int, content_type string, handler_ms long",
    )
    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /private\n")], "host string, robots_txt string"
    )
    store = FrontierStore(spark, tmp_store_dir, num_partitions=4)
    engine = CrawlEngine(
        spark, store, pages, robots=robots,
        policy=PolitenessPolicy(max_concurrency=10, per_host_cap=10, salt_buckets=4),
        options=CrawlOptions(
            max_rounds=8,
            max_request_retries=1,
            max_session_rotations=1,
            max_requests_per_crawl=10,
            max_crawl_depth=2,
            request_handler_timeout_secs=1.0,
            enqueue=EnqueueOptions(
                strategy="same-hostname",
                patterns=(
                    UrlPattern(glob="**/detail/**", label="DETAIL"),
                    UrlPattern(glob="**", label="OTHER"),
                ),
            ),
        ),
        session_policy=SessionPolicy(max_pool_size=4),
    )
    stats = engine.run(spark.createDataFrame([("https://a.com/start",)], "url string"))

    rows = {r["url"]: r for r in store.read().collect()}
    # pattern labels landed
    assert rows["https://a.com/detail/1"]["label"] == "DETAIL"
    assert rows["https://a.com/blocked"]["label"] == "OTHER"
    # robots kept /private out of the frontier entirely
    assert "https://a.com/private/x" not in rows
    # charset page extracted byte-identically
    res = {r["url"]: r["text"] for r in engine.results().collect()}
    assert res["https://a.com/detail/1"] == "détail"
    # blocked page rotated once then retried/failed, never a result
    assert "https://a.com/blocked" not in res
    outs = [r for r in engine.outcomes().collect() if r["url"] == "https://a.com/blocked"]
    assert any(o["outcome"] == "session_retry" for o in outs)
    # slow page timed out (retryable) and failed after 1 retry
    slow = sorted(
        (r for r in engine.outcomes().collect() if r["url"] == "https://a.com/slow"),
        key=lambda r: r["round_id"],
    )
    assert [o["outcome"] for o in slow] == ["retry", "fail"]
    assert "timed out" in slow[0]["error_message"]
    # sessions were assigned from the pool
    assert all(r["session_id"] for r in engine.outcomes().collect())
    # budget respected and counters consistent
    assert store._manifest["total_requests"] <= 10
    assert store.info() == store.info(exact=True)
    assert stats["requestsFinished"] >= 2  # start + detail


def test_link_gate_robots_keys_on_normalized_host(spark, tmp_store_dir):
    """A link whose host has a trailing dot (``www.example.com.``) falls under
    ``www.example.com``'s robots rules at the link gate, as it does at the
    seed gate and the fetch re-check: a disallowed one is skipped in the
    round that finds it and never enters the frontier (so it never counts
    against the request budget)."""
    blocked = "https://www.example.com./private/x"
    pages = spark.createDataFrame(
        [("https://www.example.com/a", f'<a href="{blocked}">x</a>'.encode(), 200, "text/html")],
        "url string, html binary, status_code int, content_type string",
    )
    robots = spark.createDataFrame(
        [("www.example.com", "User-agent: *\nDisallow: /private\n")],
        "host string, robots_txt string",
    )
    engine = build_engine(spark, tmp_store_dir, pages, robots=robots)
    engine.add_seeds(spark.createDataFrame([("https://www.example.com/a",)], "url string"))
    metrics = engine.run_round()
    assert metrics["links_found"] == 1 and metrics["enqueued"] == 0
    assert [(s["url"], s["reason"]) for s in engine.skipped().collect()] == [
        (blocked, "robotsTxt")
    ]
    assert [r["url"] for r in engine.store.read().collect()] == ["https://www.example.com/a"]


def test_robots_disallowed_seed_is_skipped(spark, tmp_store_dir):
    """The seed gate reports a robots-disallowed seed as a 'robotsTxt'
    skipped row, as the link gate and the fetch re-check do, and keeps it
    out of the frontier."""
    pages = spark.createDataFrame(
        [("https://x.com/a", b"<p>a</p>", 200, "text/html")],
        "url string, html binary, status_code int, content_type string",
    )
    robots = spark.createDataFrame(
        [("x.com", "User-agent: *\nDisallow: /private\n")], "host string, robots_txt string"
    )
    engine = build_engine(spark, tmp_store_dir, pages, robots=robots)
    engine.add_seeds(
        spark.createDataFrame([("https://x.com/a",), ("https://x.com/private/s",)], "url string")
    )
    assert [(s["url"], s["reason"], s["round_id"]) for s in engine.skipped().collect()] == [
        ("https://x.com/private/s", "robotsTxt", 0)
    ]
    assert [r["url"] for r in engine.store.read().collect()] == ["https://x.com/a"]


@pytest.mark.parametrize(
    "options, reason",
    [
        (dict(enqueue=EnqueueOptions(strategy="all", limit=2)), "limit"),
        (
            dict(max_requests_per_crawl=3, enqueue=EnqueueOptions(strategy="all", limit=4)),
            "enqueueLimit",
        ),
    ],
    ids=["enqueue-limit", "request-budget"],
)
def test_budget_cut_links_are_skipped(spark, tmp_store_dir, options, reason):
    """The enqueue budget keeps the first new links in page order; each new
    link it cuts is a skipped row of the round, under 'limit' when
    enqueueLinks' ``limit`` binds and 'enqueueLimit' when
    maxRequestsPerCrawl does."""
    links = "".join(f'<a href="https://x.com/p{i}">{i}</a>' for i in range(5))
    pages = spark.createDataFrame(
        [("https://x.com/", links.encode(), 200, "text/html")],
        "url string, html binary, status_code int, content_type string",
    )
    engine = build_engine(spark, tmp_store_dir, pages, options=CrawlOptions(**options))
    engine.add_seeds(spark.createDataFrame([("https://x.com/",)], "url string"))
    metrics = engine.run_round()
    assert metrics["links_found"] == 5 and metrics["enqueued"] == 2
    assert sorted((s["url"], s["reason"], s["round_id"]) for s in engine.skipped().collect()) == [
        (f"https://x.com/p{i}", reason, 1) for i in (2, 3, 4)
    ]
    assert sorted(r["url"] for r in engine.store.read().collect()) == [
        "https://x.com/", "https://x.com/p0", "https://x.com/p1"
    ]


def test_fetch_time_robots_skip_is_skipped_not_failed(spark, tmp_store_dir):
    """A URL that passed the enqueue gate but is disallowed at FETCH time
    (robots rules changed mid-crawl) finalizes as SKIPPED + handled with a
    'robotsTxt' skipped side-output row — NOT as a failed request, and it
    never reaches the Statistics outcome log (basic-crawler.ts:1626-1638:
    state SKIPPED, noRetry, markRequestHandled, handleSkippedRequest;
    stats.startJob is never called)."""
    from crawlee_spark.operators.frontier import STATE_SKIPPED

    pages = spark.createDataFrame(
        [
            ("https://x.com/allowed", b"<p>a</p>", 200, "text/html"),
            ("https://x.com/private/p", b"<p>b</p>", 200, "text/html"),
        ],
        "url string, html binary, status_code int, content_type string",
    )
    # enqueue with no robots rules in force, then "the rules change"
    engine0 = build_engine(spark, tmp_store_dir, pages)
    engine0.add_seeds(
        spark.createDataFrame(
            [("https://x.com/allowed",), ("https://x.com/private/p",)], "url string"
        )
    )

    robots = spark.createDataFrame(
        [("x.com", "User-agent: *\nDisallow: /private/")], "host string, robots_txt string"
    )
    store = FrontierStore(spark, tmp_store_dir, num_partitions=4)
    engine = CrawlEngine(
        spark=spark,
        store=store,
        pages=pages,
        robots=robots,
        policy=PolitenessPolicy(max_concurrency=50, per_host_cap=10, salt_buckets=4),
        options=CrawlOptions(max_rounds=4, enqueue=EnqueueOptions(strategy="all")),
    )
    stats = engine.run(None)

    rows = {r["url"]: r for r in store.read().collect()}
    skipped_row = rows["https://x.com/private/p"]
    assert skipped_row["state"] == STATE_SKIPPED
    assert skipped_row["handled_at"] is not None
    assert not skipped_row["failed"]
    assert skipped_row["no_retry"]
    assert not skipped_row["error_messages"]  # no pushErrorMessage for skips

    sk = [(s["url"], s["reason"]) for s in engine.skipped().collect()]
    assert sk == [("https://x.com/private/p", "robotsTxt")]

    # FinalStatistics: the skip is neither finished nor failed, and the
    # request never appears in the outcome log at all
    assert stats["requestsFailed"] == 0
    assert stats["requestsFinished"] == 1
    assert "https://x.com/private/p" not in [
        o["url"] for o in engine.outcomes().collect()
    ]
    # queue counters: markRequestHandled DID count it as handled
    assert store.info()["pendingRequestCount"] == 0
    assert store.info() == store.info(exact=True)
    assert store._manifest["failed_total"] == 0


def test_fetch_join_pruning_is_size_adaptive(spark, tmp_store_dir, tmp_path, monkeypatch):
    """The fetch-join picks its physical strategy from the pages source's
    file footprint: tiny corpora keep the plain join (a shuffle is cheaper
    than broadcast machinery), big file-backed corpora prune via the
    broadcast semi-join."""
    import crawlee_spark.operators.engine as engine_mod

    pages_dir = str(tmp_path / "pages")
    spark.createDataFrame(
        [("https://a.com/x", b"<p>x</p>", 200, "text/html")],
        "url string, html binary, status_code int, content_type string",
    ).write.parquet(pages_dir)
    small = spark.read.parquet(pages_dir)

    e1 = build_engine(spark, tmp_store_dir + "/1", small)
    assert e1._prune_fetch is False  # 1-row parquet: below the byte floor

    monkeypatch.setattr(engine_mod, "PAGES_PRUNE_MIN_BYTES", 1)
    e2 = CrawlEngine(
        spark,
        FrontierStore(spark, tmp_store_dir + "/2", num_partitions=2),
        small,
    )
    assert e2._prune_fetch is True  # auto flips on once the source is "big"
    # and the pruned engine still crawls correctly end to end
    e2.run(spark.createDataFrame([("https://a.com/x",)], "url string"))
    assert e2.results().count() == 1


def test_skip_navigation_requests_bypass_fetch(spark, tmp_store_dir, pages):
    """request.skipNavigation (userData.__crawlee.skipNavigation,
    request.ts:268-277; http-crawler.ts:519): the fetch outcome is ignored —
    a skip-nav request with NO page row is NOT a fetch error, one WITH a
    page row is not parsed — and the request finalizes handled with no
    loadedUrl and no extracted text or links."""
    from crawlee_spark.sources.fixtures import make_pages_rows

    real = make_pages_rows(N_PAGES)[0]["url"]
    ghost = "https://nowhere.example.com/not-in-source"
    skip_ud = '{"__crawlee":{"skipNavigation":true}}'
    seeds = spark.createDataFrame(
        [(real, skip_ud), (ghost, skip_ud)], "url string, user_data string"
    )
    engine = build_engine(
        spark, tmp_store_dir, pages,
        options=CrawlOptions(max_rounds=2, enqueue=EnqueueOptions(strategy="all")),
    )
    engine.add_seeds(seeds)
    engine.run(None)
    rows = {r["url"]: r for r in engine.store.read().collect()}
    assert set(rows) == {real, ghost}  # no links followed: nothing extracted
    for r in rows.values():
        assert r["handled_at"] is not None and not r["failed"]
        assert r["error_messages"] is None
    results = {r["url"]: r for r in engine.results().collect()}
    assert set(results) == {real, ghost}
    for r in results.values():
        assert r["text"] is None
        assert r["loaded_url"] is None  # no navigation -> no response url


def test_error_snapshots_saved_to_kv(spark, tmp_store_dir):
    """saveErrorSnapshots (error_snapshotter.ts, statisticsOptions): errored
    attempts with a body persist it under ERROR_SNAPSHOT_* KV keys; disabled
    by default; fetch-miss errors (no body) save nothing."""
    from crawlee_spark.operators.kvstore import KeyValueStore

    challenge = (
        '<html><body><div id="turnstile-wrapper">'
        '<iframe src="https://challenges.cloudflare.com/t"></iframe></div></body></html>'
    ).encode()
    pages = spark.createDataFrame(
        [("https://x.com/blocked", challenge, 200, "text/html")],
        "url string, html binary, status_code int, content_type string",
    )
    seeds = spark.createDataFrame(
        [("https://x.com/blocked",), ("https://x.com/ghost",)], "url string"
    )
    engine = build_engine(
        spark, tmp_store_dir, pages,
        options=CrawlOptions(
            max_rounds=2, max_session_rotations=0, save_error_snapshots=True
        ),
    )
    engine.run(seeds)
    import os

    kv = KeyValueStore(os.path.join(engine.store.root, "kv"))
    snaps = [k for k in kv.list_keys() if k.startswith("ERROR_SNAPSHOT_")]
    # the blocked page (has a body) snapshots once per distinct message;
    # the ghost url errors with NO body and must not appear
    assert snaps, "expected at least one snapshot"
    assert all("Fetch-failed" not in k for k in snaps)
    body = kv.get_value(snaps[0])
    assert b"turnstile-wrapper" in body


def test_additional_mime_types_accepted(spark, tmp_store_dir):
    """E5 extension (HttpCrawlerOptions.additionalMimeTypes,
    http-crawler.ts:146): a content type outside the built-in set fails by
    default but succeeds when declared additional."""
    pages = spark.createDataFrame(
        [("https://x.com/feed", b"<item>hello world</item>", 200, "application/rss+xml")],
        "url string, html binary, status_code int, content_type string",
    )
    seeds = spark.createDataFrame([("https://x.com/feed",)], "url string")

    def run(tag, extra):
        import os
        engine = build_engine(
            spark, os.path.join(tmp_store_dir, tag), pages,
            options=CrawlOptions(max_rounds=1, additional_mime_types=extra),
        )
        engine.run(seeds)
        return engine.outcomes().collect()[0]["outcome"]

    assert run("default", ()) == "fail"
    assert run("extended", ("application/rss+xml",)) == "success"
