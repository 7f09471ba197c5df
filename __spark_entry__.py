"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship end-to-end crawl (frontier → schedule →
fetch-join → extract → enqueue) over pages synthesized deterministically from
the sf0.001 ``documents`` table. ``queries()`` exposes every implemented
operator from SURVEY.md §2 plus the training-data-pipeline extensions
(dedup / similarity / text-analysis / multimodal); ``oracle_sql()`` gives the
DuckDB-equivalent SQL for each. All synthetic columns (URLs, outcomes, html)
derive deterministically from the driver tables so Spark and DuckDB compute
over identical inputs; every hash is md5/sha-256-based and every score uses
integer or bit-reproducible double arithmetic, so value hashes match exactly.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from crawlee_spark.functions.keying import host_col, registrable_domain_col, request_id_col, unique_key_col
from crawlee_spark.functions.html_text import extract_links_udf, html_to_text_udf
from crawlee_spark.functions.robots import robots_allowed_udf
from crawlee_spark.functions import text_analysis as TA
from crawlee_spark.operators import dedup as DD
from crawlee_spark.operators import similarity as SIM
from crawlee_spark.operators.multimodal import sniff_format_col
from crawlee_spark.operators.scheduler import per_key_topk
from crawlee_spark.operators.sizing import spread

# ---------------------------------------------------------------------------
# shared synthetic inputs (must match the oracle CTEs textually below)
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _url_universe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic URL per document, exercising each normalizeUrl rule:
    doc_id%4 = 0 upper-case scheme+host | 1 utm+unsorted query | 2 fragment |
    3 trailing slash. ``base_url`` is the canonical form."""
    d = _docs(spark, sf_dir)
    ds = F.col("doc_id").cast("string")
    base = F.concat(F.lit("https://www."), F.col("source"), F.lit(".example.com/docs/"), ds)
    url = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit("HTTPS://WWW."), F.upper("source"), F.lit(".EXAMPLE.COM/docs/"), ds))
        .when(F.col("doc_id") % 4 == 1, F.concat(base, F.lit("?b=2&utm_source=feed&a=1")))
        .when(F.col("doc_id") % 4 == 2, F.concat(base, F.lit("#section-2")))
        .otherwise(F.concat(base, F.lit("/")))
    )
    return d.select("doc_id", "source", "text", base.alias("base_url"), url.alias("url"))


# The same universe as a DuckDB CTE (views: documents, embeddings, ...).
_U_SQL = """
u AS (
  SELECT doc_id, source, text,
    'https://www.' || source || '.example.com/docs/' || doc_id AS base_url,
    CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN 'HTTPS://WWW.' || upper(source) || '.EXAMPLE.COM/docs/' || doc_id
      WHEN 1 THEN 'https://www.' || source || '.example.com/docs/' || doc_id || '?b=2&utm_source=feed&a=1'
      WHEN 2 THEN 'https://www.' || source || '.example.com/docs/' || doc_id || '#section-2'
      ELSE 'https://www.' || source || '.example.com/docs/' || doc_id || '/'
    END AS url,
    CASE WHEN doc_id % 4 = 1
      THEN 'https://www.' || source || '.example.com/docs/' || doc_id || '?a=1&b=2'
      ELSE 'https://www.' || source || '.example.com/docs/' || doc_id
    END AS unique_key,
    'www.' || source || '.example.com' AS host
  FROM documents
)
"""

# request_id = first 15 chars of base64(sha256(key)) stripped of '+/=' (D4).
_RID_SQL = "substr(replace(replace(replace(to_base64(unhex(sha256({k}))),'+',''),'/',''),'=',''),1,15)"

# Near-dup corpus: every 10th document gets a mutated twin (id + 1000000).
def _neardup_corpus(spark: SparkSession, sf_dir: str, mutate: bool) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "source", "text")
    twin_text = F.concat(F.col("text"), F.lit(" extra")) if mutate else F.col("text")
    twins = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "source", twin_text.alias("text"))
    )
    return d.unionByName(twins)


def _neardup_sql(mutate: bool) -> str:
    t = "text || ' extra'" if mutate else "text"
    return f"""
corpus AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, source, {t} AS text FROM documents WHERE doc_id % 10 = 0
)
"""


_SHINGLE_SQL = """
sh AS (
  SELECT doc_id, source,
    CASE WHEN len(w) >= 3
      THEN list_sort(list_distinct(list_transform(range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2])))
      ELSE [array_to_string(w, ' ')] END AS s
  FROM (SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS w FROM corpus)
)
"""


# ---------------------------------------------------------------------------
# flagship: end-to-end crawl over pages synthesized from sf0.001 documents
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Seed → schedule → fetch-join → extract → enqueue for 3 rounds over a
    page graph synthesized from /root/testdata/sf0.001/documents.parquet;
    returns the crawl results dataset (one row per successfully handled URL
    with its byte-exact extracted text)."""
    from crawlee_spark.operators.engine import CrawlEngine, CrawlOptions
    from crawlee_spark.operators.enqueue import EnqueueOptions
    from crawlee_spark.operators.frontier import FrontierStore
    from crawlee_spark.operators.scheduler import PolitenessPolicy

    sf_dir = "/root/testdata/sf0.001"
    uni = _url_universe(spark, sf_dir)
    n = uni.count()
    # page graph: each page links to the next two docs (mod n) on its host path
    html = F.concat(
        F.lit("<html><body><h1>Doc "), F.col("doc_id").cast("string"),
        F.lit('</h1><p>'), F.col("text"), F.lit("</p>"),
        F.lit('<a href="/docs/'), ((F.col("doc_id") + 20) % n).cast("string"), F.lit('">n1</a>'),
        F.lit('<a href="/docs/'), ((F.col("doc_id") + 1) % n).cast("string"), F.lit('">n2</a>'),
        F.lit("</body></html>"),
    )
    pages = uni.select(
        F.col("base_url").alias("url"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit("en").alias("lang"),
    )
    # crawl within each source host: links resolve to /docs/<id> on the same
    # host, which only exists in pages when that doc shares the source —
    # missing pages exercise the retry/fail path.
    seeds = uni.filter(F.col("doc_id") < 8).select(F.col("base_url").alias("url"))
    workdir = tempfile.mkdtemp(prefix="crawlee_spark_entry_")
    # flagship config = the scale path: merge-on-read deltas (default)
    store = FrontierStore(spark, os.path.join(workdir, "frontier"), num_partitions=8)
    engine = CrawlEngine(
        spark,
        store,
        pages,
        robots=None,
        policy=PolitenessPolicy(max_concurrency=64, per_host_cap=64),
        options=CrawlOptions(max_rounds=3, enqueue=EnqueueOptions(strategy="same-hostname")),
    )
    engine.add_seeds(seeds)
    for _ in range(3):
        m = engine.run_round()
        if m.get("done"):
            break
    return engine.results()


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------


def q_url_keying(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1-D4: normalizeUrl kernel (pandas UDF), request id, host columns."""
    # not spread: both UDFs are cheap-per-row (regex fast path, memoized
    # PSL) and the one-shot bench pays the extra exchange stage cold —
    # paired runs measured the spread flat-to-worse here
    uni = _url_universe(spark, sf_dir)
    uk = unique_key_col("url")
    # host materializes once and feeds the PSL lookup as an attribute (the
    # inline form ran the try_parse_url twice per row)
    hosted = uni.withColumn("host", host_col("url"))
    return hosted.select(
        "doc_id",
        "url",
        uk.alias("unique_key"),
        request_id_col(uk).alias("request_id"),
        "host",
        registrable_domain_col(F.col("host")).alias("registrable_domain"),
    )


def q_registrable_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/C3 registrable-domain kernel: full public-suffix-list semantics
    (tldts getDomain parity, url.ts:26-58, basic-crawler.ts:1565). The host
    universe exercises private suffixes (github.io, blogspot.com),
    multi-label ICANN suffixes (com.mx, co.za, co.uk), wildcard rules
    (*.kobe.jp), exception rules (!city.kobe.jp, !www.ck), punycode IDN
    suffixes (xn--55qx5d.cn = 公司.cn), IPs, single-label hosts and
    bare-suffix hosts (all → NULL). The DuckDB oracle recomputes the PSL
    longest-match algorithm independently from the same rule set."""
    d = _docs(spark, sf_dir)  # not spread: the PSL UDF is batch-memoized (~cheap)
    ds = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 13
    host = (
        F.when(m == 0, F.concat(F.lit("www."), F.col("source"), F.lit(".example.com")))
        .when(m == 1, F.concat(F.col("source"), F.lit("-"), ds, F.lit(".github.io")))
        .when(m == 2, F.concat(F.lit("shop."), F.col("source"), F.lit(".com.mx")))
        .when(m == 3, F.concat(F.lit("a."), F.col("source"), F.lit(".co.za")))
        .when(m == 4, F.concat(F.col("source"), F.lit(".blogspot.com")))
        .when(m == 5, F.lit("www.city.kobe.jp"))
        .when(m == 6, F.concat(F.lit("x"), ds, F.lit(".bar.kobe.jp")))
        .when(m == 7, F.concat(F.lit("b."), F.col("source"), F.lit(".xn--55qx5d.cn")))
        .when(m == 8, F.concat(F.lit("10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".1")))
        .when(m == 9, F.lit("localhost"))
        .when(m == 10, F.lit("github.io"))
        .when(m == 11, F.concat(F.lit("sub."), F.col("source"), F.lit(".example.co.uk")))
        .otherwise(F.lit("shop.www.ck"))
    )
    return d.select(
        "doc_id",
        host.alias("host"),
        registrable_domain_col(host).alias("registrable_domain"),
    )


def q_enqueue_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: seen-set dedup — first arrival wins per unique_key; fragment
    variants collapse onto their base key."""
    uni = _url_universe(spark, sf_dir)
    first = uni.select("url", (F.col("doc_id") * 2).alias("arrival"))
    dups = (
        uni.filter(F.col("doc_id") % 3 == 0)
        .select(F.concat(F.col("base_url"), F.lit("#dup")).alias("url"),
                (F.col("doc_id") * 2 + 1).alias("arrival"))
    )
    cand = spread(first.unionByName(dups))
    uk = unique_key_col("url")
    return (
        cand.withColumn("unique_key", uk)
        .groupBy("unique_key")
        .agg(F.min("arrival").alias("first_arrival"), F.count("*").alias("n_candidates"))
    )


def q_frontier_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2: signed order_no — forefront (negative, LIFO) drains before FIFO."""
    uni = _url_universe(spark, sf_dir).select("doc_id")
    w_arr = Window.orderBy("doc_id")
    with_no = uni.withColumn("_seq", F.row_number().over(w_arr).cast("long")).withColumn(
        "order_no",
        F.when(F.col("doc_id") % 7 == 0, -F.col("_seq")).otherwise(F.col("_seq")),
    )
    w_head = Window.orderBy("order_no")
    return with_no.select(
        "doc_id", "order_no", F.row_number().over(w_head).cast("long").alias("position")
    )


def q_scheduler_claim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2-O5 + C3: per-host budget (salted two-phase top-k) then the global
    concurrency cut — the set-wise fetchNextRequest."""
    uni = _url_universe(spark, sf_dir)
    w_arr = Window.orderBy("doc_id")
    frontier = uni.select("doc_id", host_col("url").alias("host")).withColumn(
        "order_no",
        F.when(F.col("doc_id") % 7 == 0, -F.row_number().over(w_arr).cast("long"))
        .otherwise(F.row_number().over(w_arr).cast("long")),
    )
    claimed = per_key_topk(
        frontier, key="host", order_col="order_no", k=3, salt_buckets=8, salt_on="doc_id"
    )
    return (
        claimed.orderBy("order_no").limit(40).drop("_rank")
        .select("doc_id", "host", "order_no")
    )


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: robots.txt longest-match gate joined (broadcast) on host."""
    uni = _url_universe(spark, sf_dir)
    srcnum = F.regexp_extract("source", r"(\d+)", 1).cast("int")
    robots = (
        uni.select("source").distinct()
        .withColumn("host", F.concat(F.lit("www."), F.col("source"), F.lit(".example.com")))
        .withColumn(
            "robots_txt",
            F.when(srcnum % 3 == 0, F.lit("User-agent: *\nDisallow: /private\n"))
            .when(srcnum % 3 == 1, F.lit("User-agent: *\nDisallow: /\n")),
        )
        .select("host", "robots_txt")
    )
    return (
        uni.withColumn("host", host_col("url"))
        .join(F.broadcast(robots), "host", "left")
        .withColumn("allowed", robots_allowed_udf("url", "robots_txt"))
        .select("doc_id", "allowed")
    )


def q_stats_outcomes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10: retry-histogram + duration aggregation over an outcome log
    synthesized from events."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    attempt = (F.col("event_id") % 4).cast("int")
    outcome = (
        F.when((F.col("event_type") == "error") & (attempt < 3), F.lit("retry"))
        .when(F.col("event_type") == "error", F.lit("fail"))
        .otherwise(F.lit("success"))
    )
    dur = F.floor(F.col("value") * 100).cast("long")
    log = ev.select(attempt.alias("attempt"), outcome.alias("outcome"), dur.alias("duration_ms"))
    return log.groupBy("attempt", "outcome").agg(
        F.count("*").alias("n"),
        F.sum("duration_ms").alias("total_duration_ms"),
        F.min("duration_ms").alias("min_duration_ms"),
        F.max("duration_ms").alias("max_duration_ms"),
    )


def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: byte-identical htmlToText over synthesized HTML (the oracle derives
    the expected text independently from the block/whitespace rules)."""
    uni = spread(_url_universe(spark, sf_dir))
    html = F.concat(
        F.lit("<html><body><h1>Doc "), F.col("doc_id").cast("string"),
        F.lit("</h1><p>"), F.col("text"), F.lit("</p></body></html>"),
    )
    return uni.select("doc_id", html_to_text_udf(html).alias("extracted_text"))


def q_extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: extractUrlsFromCheerio with relative-href resolution against the
    page URL."""
    uni = spread(_url_universe(spark, sf_dir))
    html = F.concat(
        F.lit('<html><body><a href="/docs/'), ((F.col("doc_id") + 1)).cast("string"),
        F.lit('">n</a><a href="https://other.example.net/x/'), (F.col("doc_id") % 97).cast("string"),
        F.lit('">x</a></body></html>'),
    )
    return (
        uni.select("doc_id", F.posexplode(extract_links_udf(html, F.col("base_url"))).alias("pos", "link"))
        .select("doc_id", F.col("pos").cast("int").alias("pos"), "link")
    )


def q_extract_urls_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/E8: URL_NO_COMMAS_REGEX scan over plain text (comma terminates)."""
    from crawlee_spark.sources.urls import extract_urls_col

    d = spread(_docs(spark, sf_dir))
    line = F.concat(
        F.lit("visit https://www."), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit(" and http://other.org/x"), (F.col("doc_id") % 7).cast("string"),
        F.lit(", end"),
    )
    return d.select(
        "doc_id", F.posexplode(extract_urls_col(line)).alias("pos", "url")
    ).select("doc_id", F.col("pos").cast("int").alias("pos"), "url")


def q_content_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: content-type header parse with extension fallback."""
    from crawlee_spark.sources.urls import parse_content_type_cols

    d = _docs(spark, sf_dir)
    header = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("text/html; charset=ISO-8859-1"))
        .when(F.col("doc_id") % 3 == 1, F.lit(""))
    )
    url = F.concat(
        F.lit("https://www."), F.col("source"), F.lit(".example.com/f"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(".json")).otherwise(F.lit(".bin")),
    )
    mime, charset = parse_content_type_cols(header, url)
    return d.select("doc_id", mime.alias("mime"), charset.alias("charset"))


def q_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S5: <urlset> XML parse — loc/lastmod/changefreq/priority rules."""
    from crawlee_spark.sources.sitemap import parse_sitemap_xml

    d = spread(_docs(spark, sf_dir))
    ds = F.col("doc_id").cast("string")
    xml = F.concat(
        F.lit("<urlset><url><loc>https://www."), F.col("source"), F.lit(".example.com/docs/"), ds,
        F.lit("</loc><lastmod>2026-01-02T03:04:05</lastmod><changefreq>daily</changefreq>"
              "<priority>0.5</priority></url>"
              "<url><loc>https://www."), F.col("source"), F.lit(".example.com/alt/"), ds,
        F.lit("</loc><changefreq>sometimes</changefreq><lastmod>junk</lastmod></url>"
              # spec-escaped multi-parameter loc: &amp; + a numeric char ref
              # (sitemap.ts:81-103 sax text events arrive entity-DECODED)
              "<url><loc>https://www."), F.col("source"), F.lit(".example.com/q&#63;id="), ds,
        F.lit("&amp;page=2&amp;tag=&quot;x&quot;</loc><priority>0.9</priority></url>"
              "<url><priority>0.1</priority></url></urlset>"),
    )
    src = d.select(xml.alias("value"), F.concat(F.lit("https://sitemap/"), ds).alias("src"))
    return parse_sitemap_xml(src, origin_col="src")


def q_session_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: one round of session-reputation updates (markGood/markBad/retire)
    over outcomes synthesized from events."""
    from crawlee_spark.operators.sessions import SessionPolicy, make_pool, update_pool

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    outcomes = ev.select(
        F.concat(F.lit("session_r0_"), (F.col("event_id") % 16).cast("string")).alias("session_id"),
        F.when(F.col("event_type") == "error", F.lit("fail"))
        .when(F.col("event_type") == "purchase", F.lit("session_retry"))
        .otherwise(F.lit("success"))
        .alias("outcome"),
    )
    pool = make_pool(spark, 16, 0)
    updated = update_pool(pool, outcomes, SessionPolicy(max_error_score=3.0, error_score_decrement=0.5))
    return updated.select(
        "session_id",
        "usage_count",
        F.floor(F.col("error_score") * 2).cast("long").alias("error_score_x2"),
        "retired",
    )


def q_json_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7: application/json bodies parsed into typed columns (context.json,
    http-crawler.ts:572-578) — from_json over the events props column."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    k = F.from_json(F.col("props"), "k int")["k"]
    return (
        ev.select("event_id", k.alias("k"))
        .groupBy((F.col("k") % 10).cast("long").alias("k_bucket"))
        .agg(F.count("*").alias("n"), F.sum("k").alias("k_sum"))
    )


def q_social_handles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10: email/phone/social-handle regexes (social.ts) over synthetic HTML."""
    from crawlee_spark.functions.social import (
        emails_from_text_col,
        phones_from_text_col,
        social_handles_cols,
    )

    d = spread(_docs(spark, sf_dir))
    ds = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<p>mail a"), ds, F.lit("@ex"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".com or call 1(413)555-00"), F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit(' </p><a href="https://www.linkedin.com/in/user-'), ds,
        F.lit('/recent-activity">li</a> <a href="https://twitter.com/u_'), ds,
        F.lit('">tw</a>'),
    )
    handles = social_handles_cols(html)
    return d.select(
        "doc_id",
        F.element_at(emails_from_text_col(html), 1).alias("email"),
        F.element_at(phones_from_text_col(html), 1).alias("phone"),
        F.element_at(handles["linkedIns"], 1).alias("linkedin"),
        F.element_at(handles["twitters"], 1).alias("twitter"),
    )


def q_blocked_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9: RETRY_CSS_SELECTORS probe (blocked.ts:1-11) over synthetic pages —
    doc_id%7: 0 cloudflare turnstile, 1 google sorry-page, 2 incapsula
    iframe, 3 a decoy (right id, wrong iframe src), else clean."""
    from crawlee_spark.functions.html_text import blocked_selectors_udf

    d = spread(_docs(spark, sf_dir))
    html = (
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit(
                '<html><body><div id="turnstile-wrapper">'
                '<iframe src="https://challenges.cloudflare.com/t"></iframe></div></body></html>'
            ),
        )
        .when(
            F.col("doc_id") % 7 == 1,
            F.lit('<div id="infoDiv0"><a href="https://www.google.com/policies/terms/x">t</a></div>'),
        )
        .when(F.col("doc_id") % 7 == 2, F.lit('<iframe src="/_Incapsula_Resource?S=1"></iframe>'))
        .when(
            F.col("doc_id") % 7 == 3,
            F.lit('<div id="turnstile-wrapper"><iframe src="https://example.com/ok"></iframe></div>'),
        )
        .otherwise(F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>")))
    )
    sels = blocked_selectors_udf(html)
    return d.select(
        "doc_id",
        (F.size(sels) > 0).alias("is_blocked"),
        F.try_element_at(sels, F.lit(1)).alias("matched_selector"),  # ANSI: empty array
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT spread: md5-per-row is ~1µs and the groupBy exchange already
    # parallelizes the aggregate — a round-robin repartition of the full
    # text measured 2× slower (spread only pays for heavy per-row work)
    corpus = _neardup_corpus(spark, sf_dir, mutate=False)
    return DD.exact_dedup_groups(corpus, id_col="doc_id", text_col="text")


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _neardup_corpus(spark, sf_dir, mutate=True)
    return DD.ngram_jaccard_pairs(
        corpus, id_col="doc_id", text_col="text", block_col="source", n=3, threshold_pct=80
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _neardup_corpus(spark, sf_dir, mutate=True)
    return DD.minhash_lsh_pairs(
        corpus, id_col="doc_id", text_col="text", n=3, num_perm=12, bands=4, threshold_pct=80
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _neardup_corpus(spark, sf_dir, mutate=True)
    return DD.simhash_pairs(
        corpus, id_col="doc_id", text_col="text", block_col="source", max_hamming=8
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    t = F.col("text")
    # Tokenize BELOW the spread exchange, extract features ABOVE it: the
    # inline kernels re-split the text per reference (the one-select form
    # pays ~21 regex splits/row — text_quality_before.txt), and
    # CollapseProject re-inlines adjacent projections, so only a real
    # distribution barrier keeps the token arrays materialized once.
    toked = spread(
        d.select("doc_id", t.alias("_t"), TA.tokens_col(t).alias("_toks"))
        .withColumn("_ltoks", TA.lower_tokens_from_tokens("_toks"))
    )
    feats = toked.select(
        "doc_id",
        "_t",
        "_toks",
        "_ltoks",
        F.size("_toks").cast("long").alias("n_tokens"),
        TA.stopword_count_from_lower_tokens("_ltoks").alias("stopword_cnt"),
        TA.mean_token_len_e3_from_tokens("_toks").alias("mean_token_len_e3"),
    )
    return feats.select(
        "doc_id",
        "n_tokens",
        TA.bpe_ish_token_count_col(F.col("_t")).alias("bpe_tokens"),
        TA.punct_count_col(F.col("_t")).alias("punct_cnt"),
        "stopword_cnt",
        "mean_token_len_e3",
        TA.quality_score_from_parts("n_tokens", "stopword_cnt", "mean_token_len_e3").alias("quality"),
        TA.doc_fingerprint_from_tokens("_toks").alias("fingerprint"),
        TA.lang_id_from_lower_tokens("_ltoks").alias("lang_pred"),
    )


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data pipeline: exact-dedup survivors → quality
    gate (score ≥ 40) → language ID → per-(source, predicted-lang) rollup.

    The shape every 100 TB curation job takes: each stage is one of the
    already-verified operators, composed in a single plan."""
    d = spread(_docs(spark, sf_dir))
    surv = DD.exact_dedup_groups(d).select(F.col("survivor_id").alias("doc_id"))
    kept = d.join(surv, "doc_id")
    # tokens once below a spread exchange, features above it (CollapseProject
    # re-inlines adjacent projections — see q_text_quality)
    toked = spread(
        kept.select("doc_id", "source", TA.tokens_col("text").alias("_toks"))
        .withColumn("_ltoks", TA.lower_tokens_from_tokens("_toks"))
    )
    parts = toked.select(
        "doc_id", "source", "_ltoks",
        F.size("_toks").cast("long").alias("_n"),
        TA.stopword_count_from_lower_tokens("_ltoks").alias("_stop"),
        TA.mean_token_len_e3_from_tokens("_toks").alias("_mtl"),
    )
    feats = parts.select(
        "doc_id", "source",
        TA.quality_score_from_parts("_n", "_stop", "_mtl").alias("quality"),
        TA.lang_id_from_lower_tokens("_ltoks").alias("lang_pred"),
    )
    return (
        feats.filter(F.col("quality") >= 40)
        .groupBy("source", "lang_pred")
        .agg(F.count("*").alias("n_docs"), F.sum("quality").alias("sum_quality"))
    )


def q_crawl_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl output feeding the curation pipeline in ONE plan: synthesized
    pages → byte-identical htmlToText (E2) → quality/lang features over the
    EXTRACTED text → per-(source, lang) rollup. The shape of a production
    crawl-to-training-data job; every stage is an already-verified operator
    composed without materialization boundaries."""
    uni = spread(_url_universe(spark, sf_dir))
    html = F.concat(
        F.lit("<html><body><h1>Doc "), F.col("doc_id").cast("string"),
        F.lit("</h1><p>"), F.col("text"), F.lit("</p></body></html>"),
    )
    extracted = uni.select("doc_id", "source", html_to_text_udf(html).alias("etext"))
    # tokenize below a spread exchange, features above (see q_text_quality)
    toked = spread(
        extracted.select("source", "etext", TA.tokens_col("etext").alias("_toks"))
        .withColumn("_ltoks", TA.lower_tokens_from_tokens("_toks"))
    )
    parts = toked.select(
        "source", "etext", "_ltoks",
        F.size("_toks").cast("long").alias("_n"),
        TA.stopword_count_from_lower_tokens("_ltoks").alias("_stop"),
        TA.mean_token_len_e3_from_tokens("_toks").alias("_mtl"),
    )
    feats = parts.select(
        "source",
        TA.quality_score_from_parts("_n", "_stop", "_mtl").alias("quality"),
        TA.lang_id_from_lower_tokens("_ltoks").alias("lang_pred"),
        TA.bpe_ish_token_count_col(F.col("etext")).alias("bpe_tokens"),
    )
    return feats.groupBy("source", "lang_pred").agg(
        F.count("*").alias("n_docs"),
        F.sum("quality").alias("sum_quality"),
        F.sum("bpe_tokens").alias("sum_bpe_tokens"),
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")
    return SIM.cosine_topk(queries, e, k=5)


def q_ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized retrieval (similarity.quantize_embeddings +
    quantized_topk): symmetric per-vector quantization q = floor(v·s),
    s = 127/max|v|, then exact INTEGER dot-product top-k — the compressed
    index layout (4× less corpus IO) with fully deterministic integer
    scores. Oracle: DuckDB requantizes and re-ranks from the raw floats."""
    e = _emb(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.quantized_topk(queries, e, k=5)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")
    return SIM.lsh_ann_topk(queries, e, k=5, dim=64, nbits=4)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")
    return SIM.ivf_topk(queries, e, k=5, n_centroids=8, nprobe=2)


def q_ann_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-IVF flavor of ann_ivf_topk: build the cell-partitioned
    index on disk, search with partition pruning — must produce exactly the
    in-memory result (same deterministic quantizer), so it shares the
    ann_ivf_topk oracle."""
    import tempfile

    e = _emb(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("query_id"), "embedding")
    idx = tempfile.mkdtemp(prefix="crawlee_spark_ivf_") + "/idx"
    SIM.ivf_write_index(e, idx, n_centroids=8, train_iters=2)
    return SIM.ivf_search_index(spark, idx, queries, k=5, nprobe=2)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    return SIM.embedding_neardup_pairs(e, dim=64, nbits=4, threshold_e6=400_000)


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing (mapInPandas, stubbed codec), projected to
    hashable scalars: the ``feature: array<float>`` column is posexploded to
    one (feat_idx, feat_byte) row per component so the driver's canonicalizer
    (pandas sort over all columns) never sees a list value. ``feat_byte``
    recovers the stub's source byte exactly: feature[i] = k/255 as float32,
    and round(float32(k/255)·255) == k for every k in 0..255."""
    from crawlee_spark.operators.multimodal import decode_image_features

    d = _docs(spark, sf_dir)
    png_magic = F.unhex(F.lit("89504E470D0A1A0A"))
    # doc_id % 5 == 1: a REAL 3x2 24-bpp bottom-up BMP whose stored pixel
    # byte k is (doc_id*7 + k) % 256 (k over 2 stride-12 rows = 24 bytes).
    # The real decoder flips rows to raster order and strips padding, so
    # feature[i] recovers stored byte 12+i — the oracle recomputes that
    # closed form. Header: BM + size 78 + offset 54 + BITMAPINFOHEADER(40,
    # w=3, h=2, planes=1, bpp=24, BI_RGB, size 24, 2835 ppm).
    bmp_header = (
        "424D4E0000000000000036000000"
        "280000000300000002000000010018000000000018000000"
        "330B0000330B00000000000000000000"
    )
    bmp_pixels = F.concat(
        *[
            F.lpad(F.hex((F.col("doc_id") * 7 + F.lit(k)) % 256), 2, "0")
            for k in range(24)
        ]
    )
    bmp = F.unhex(F.concat(F.lit(bmp_header), bmp_pixels))
    # doc_id % 5 == 2: a REAL 2x2 8-bit RGB PNG whose raster byte k is
    # (doc_id*7 + k) % 256 (12 pixel bytes over two filter-0 scanlines).
    # The IDAT deflate stream is a single STORED block (zlib level 0), so
    # the oracle recomputes raster bytes by closed form without inflating;
    # chunk CRCs come from F.crc32 and the adler32 is exact in closed form
    # (A = 1 + Σ bytes ≤ 3061, B = 14 + Σ (14-i)·byte_i ≤ 21434 — both
    # below the 65521 modulus, so plain sums suffice).
    import zlib as _z

    ihdr_data_hex = "0000000200000002" + "0802000000"  # w=2 h=2 d=8 ct=2
    ihdr_hex = (
        "0000000D49484452"
        + ihdr_data_hex
        + format(_z.crc32(bytes.fromhex("49484452" + ihdr_data_hex)), "08X")
    )
    pxv = lambda k: F.pmod(F.col("doc_id") * 7 + F.lit(k), F.lit(256))  # noqa: E731
    pxh = lambda k: F.lpad(F.hex(pxv(k)), 2, "0")  # noqa: E731
    raw_hex = F.concat(
        F.lit("00"), *[pxh(k) for k in range(6)],
        F.lit("00"), *[pxh(k) for k in range(6, 12)],
    )
    adler_a = sum([pxv(k) for k in range(12)], F.lit(1))
    adler_b = sum(
        [pxv(k) * (13 - k if k < 6 else 12 - k) for k in range(12)], F.lit(14)
    )
    idat_data_hex = F.concat(
        F.lit("7801010E00F1FF"),  # zlib hdr + final stored block len=14
        raw_hex,
        F.lpad(F.hex(adler_b), 4, "0"),
        F.lpad(F.hex(adler_a), 4, "0"),
    )
    idat_crc_hex = F.lpad(
        F.hex(F.crc32(F.unhex(F.concat(F.lit("49444154"), idat_data_hex)))), 8, "0"
    )
    png = F.unhex(
        F.concat(
            F.lit("89504E470D0A1A0A" + ihdr_hex + "0000001949444154"),
            idat_data_hex,
            idat_crc_hex,
            F.lit("0000000049454E44AE426082"),
        )
    )
    media = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.concat(png_magic, F.encode("text", "UTF-8")))
        .when(F.col("doc_id") % 5 == 1, bmp)
        .when(F.col("doc_id") % 5 == 2, png)
        .otherwise(F.encode("text", "UTF-8"))
        .alias("content"),
    )
    decoded = decode_image_features(media, feat_dim=8, batch_partitions=8)
    return decoded.select(
        "doc_id",
        "format",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.posexplode("feature").alias("feat_idx", "_fv"),
    ).select(
        "doc_id", "format", "width", "height",
        F.col("feat_idx").cast("long").alias("feat_idx"),
        F.round(F.col("_fv").cast("double") * 255).cast("long").alias("feat_byte"),
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    png_magic = F.unhex(F.lit("89504E470D0A1A0A"))
    content = F.when(
        F.col("doc_id") % 5 == 0, F.concat(png_magic, F.encode("text", "UTF-8"))
    ).otherwise(F.encode("text", "UTF-8"))
    return d.select(
        "doc_id",
        F.length(content).cast("long").alias("byte_size"),
        sniff_format_col(content).alias("format"),
        F.md5(F.hex(content)).alias("content_md5"),
    )


def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 aggregation crosswalk (q1-style; money in integer cents)."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_pct = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(cents).alias("sum_base_cents"),
            F.sum(cents * (100 - disc_pct)).alias("sum_disc_e4"),
            F.count("*").alias("count_order"),
        )
    )


def q_join_topn_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 join crosswalk: aggregate orders, broadcast-join the customer dim,
    deterministic top-10."""
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("revenue_cents")
    )
    return (
        rev.join(F.broadcast(c), rev["o_custkey"] == c["c_custkey"])
        .select("c_custkey", "c_name", "revenue_cents")
        .orderBy(F.col("revenue_cents").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


def q_anti_join_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 anti-join crosswalk (the seen-set dedup shape)."""
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select("c_custkey", "c_name")


def q_window_segment_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 window/top-k crosswalk (the head-selection shape)."""
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (
        c.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select(
            "c_mktsegment", "c_custkey", "rank",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
        )
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful/streaming crosswalk: sessionize by 30-min inactivity gap
    (batch form of the per-key timer the politeness scheduler uses)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag(micros).over(w)
    is_new = F.when(prev.isNull() | (micros - prev > 1800 * 1_000_000), 1).otherwise(0)
    return (
        ev.withColumn("_new", is_new)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("_new").cast("long").alias("n_sessions"))
    )


def q_sitemap_gz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 gzipped sitemaps (sitemap.ts:303-322): one gz-compressed
    ``<urlset>`` per document, gunzipped by the magic-sniff kernel before
    the XML parse. Constructive oracle: DuckDB cannot gunzip, so the SQL
    side rebuilds the expected rows from the same deterministic recipe —
    the Spark side exercises the real decompress + parse path."""
    import gzip

    from pyspark.sql import types as T

    from crawlee_spark.sources.sitemap import (
        decompress_sitemap_bodies,
        parse_sitemap_xml,
    )

    @F.pandas_udf(T.BinaryType())
    def gz_udf(xml: pd.Series) -> pd.Series:
        return xml.map(lambda s: gzip.compress(s.encode(), mtime=0))

    docs = spread(_docs(spark, sf_dir))
    xml = F.concat(
        F.lit("<urlset><url><loc>https://"), F.col("source"),
        F.lit(".example.com/docs/"), F.col("doc_id").cast("string"),
        F.lit("</loc><priority>"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("0.5")).otherwise(F.lit("1")),
        F.lit("</priority></url></urlset>"),
    )
    contents = docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/sitemap_"),
            F.col("doc_id").cast("string"), F.lit(".xml.gz"),
        ).alias("sitemap_url"),
        gz_udf(xml).alias("body"),
    )
    parsed = parse_sitemap_xml(
        decompress_sitemap_bodies(contents, body_col="body"),
        xml_col="body",
        origin_col="sitemap_url",
    )
    return parsed.select("loc", "priority", "origin_sitemap_url")


def q_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed global rank (scheduler.global_row_number — the engine's
    parent-rank kernel, VERDICT r2 item 5): range-partition + per-partition
    row_number + offsets, NO single-task window; ranks documents by a
    scrambled unique key."""
    from crawlee_spark.operators.scheduler import global_row_number

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("sort_key")
    )
    return global_row_number(docs, "sort_key", col_name="rank", partitions=16).select(
        "doc_id", "sort_key", "rank"
    )


def q_session_cookies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 cookie jars (session.ts:341-345 setCookiesFromResponse): raw
    Set-Cookie headers parsed, upserted per (session, name) with
    latest-response-wins, jar rendered as a canonical Cookie-header string.
    Headers are synthesized deterministically from events."""
    from crawlee_spark.operators.sessions import parse_set_cookie_entries

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    hdr = F.array(
        F.concat(
            F.lit("c"), (F.col("event_id") % 5).cast("string"),
            F.lit("=v"), (F.col("event_id") % 7).cast("string"),
            F.lit("; Path=/; HttpOnly"),
        )
    )
    rows = ev.select(
        (F.col("user_id") % 16).alias("session_id"),
        F.col("event_id").alias("ord"),
        hdr.alias("set_cookie"),
    )
    ent = rows.select(
        "session_id", "ord",
        F.posexplode(parse_set_cookie_entries("set_cookie")).alias("pos", "e"),
    )
    latest = ent.groupBy("session_id", F.col("e.name").alias("name")).agg(
        F.max_by(F.col("e.value"), F.struct("ord", "pos")).alias("value")
    )
    return latest.groupBy("session_id").agg(
        F.array_join(
            F.sort_array(F.collect_list(F.concat_ws("=", "name", "value"))), "; "
        ).alias("cookie_header"),
        F.count("*").alias("n_cookies"),
    )


def q_request_handlers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C13/Router per-label dispatch (router.ts:315-329, VERDICT r3 item 2):
    two explicit routes plus a default route over a synthesized success
    frame; each handler is an Arrow-batched user function emitting extra
    result columns. Deterministic handler bodies (upper-case title, token
    count) so DuckDB recomputes the dispatch + outputs exactly."""
    import pandas as pd

    from crawlee_spark.operators.handlers import RequestHandler, apply_request_handlers

    d = _docs(spark, sf_dir)
    ds = F.col("doc_id").cast("string")
    base = d.select(
        F.concat(F.lit("r"), ds).alias("request_id"),
        F.concat(
            F.lit("https://www."), F.col("source"), F.lit(".example.com/h/"), ds
        ).alias("url"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("detail"))
        .when(F.col("doc_id") % 3 == 1, F.lit("listing"))
        .alias("label"),  # % 3 == 2 -> NULL label -> default route
        F.col("text").alias("extracted_text"),
    )

    def detail(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "kind": ["D"] * len(pdf),
                "title": pdf["url"].str.upper(),
                "n_words": pdf["extracted_text"].fillna("").str.split().str.len(),
            }
        )

    def listing(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "kind": ["L"] * len(pdf),
                "n_words": pdf["extracted_text"].fillna("").str.split().str.len(),
            }
        )

    def fallback(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"kind": ["default"] * len(pdf)})

    extras = T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("title", T.StringType()),
            T.StructField("n_words", T.LongType()),
        ]
    )
    kind_words = T.StructType([f for f in extras.fields if f.name != "title"])
    kind_only = T.StructType([extras.fields[0]])
    out = apply_request_handlers(
        base,
        {
            "detail": RequestHandler(detail, extras),
            "listing": RequestHandler(listing, kind_words),
            None: RequestHandler(fallback, kind_only),
        },
    )
    return out.select("request_id", "kind", "title", "n_words")


def q_handler_enqueue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Handler-emitted requests (context.addRequests basic-crawler.ts:
    1651-1672; enqueueLinks({urls}) enqueue_links.ts:244-294): a 'listing'
    route handler constructs page-N urls from row data (the pagination/API
    idiom — no <a> tags), emitting ``enqueue_urls`` plus a per-row
    ``enqueue_label``. Candidates pass the same same-hostname gate as
    extracted links (every row also emits a cross-host url the gate must
    drop), per-row labels win over the route's base label via the
    coalesce fallback, and same-source emissions collapse on the seen-set
    key. Oracle: DuckDB regenerates the page urls constructively and never
    emits the cross-host url — a gate leak or label-precedence bug
    hash-mismatches."""
    import pandas as pd

    from crawlee_spark.operators.enqueue import EnqueueOptions, gate_candidates
    from crawlee_spark.operators.handlers import RequestHandler, apply_request_handlers

    d = _docs(spark, sf_dir)
    base = d.filter(F.col("doc_id") % 3 == 1).select(
        F.concat(F.lit("r"), F.col("doc_id").cast("string")).alias("request_id"),
        "doc_id",
        F.concat(
            F.lit("https://www."), F.col("source"), F.lit(".example.com/list")
        ).alias("url"),
        F.lit("listing").alias("label"),
        # k pages to emit + the per-row label override, packed in user_data
        # (a handler-input column) so the handler itself derives everything
        # from its own context, like the reference's userData idiom
        F.concat(
            (F.col("doc_id") % 4).cast("string"),
            F.lit(":"),
            F.when(F.col("doc_id") % 2 == 1, F.lit("detail")).otherwise(F.lit("")),
        ).alias("user_data"),
    )

    def listing(pdf: pd.DataFrame) -> pd.DataFrame:
        parts = pdf["user_data"].str.split(":", n=1)
        ks = parts.str[0].astype(int)
        lbls = parts.str[1].where(parts.str[1] != "", None)
        return pd.DataFrame(
            {
                "enqueue_urls": [
                    [f"{u}?page={p}" for p in range(2, 2 + k)]
                    + ["https://crosshost.example.org/x"]
                    for u, k in zip(pdf["url"], ks)
                ],
                "enqueue_label": lbls.values,
            }
        )

    emit_schema = T.StructType(
        [
            T.StructField("enqueue_urls", T.ArrayType(T.StringType())),
            T.StructField("enqueue_label", T.StringType()),
        ]
    )
    out = apply_request_handlers(base, {"listing": RequestHandler(listing, emit_schema)})
    cand = out.join(
        base.select("request_id", F.col("url").alias("origin_url"), "doc_id"),
        "request_id",
    ).select(
        "doc_id",
        "origin_url",
        F.lit(1).alias("crawl_depth"),
        F.col("enqueue_label").alias("label"),
        F.explode("enqueue_urls").alias("url"),
    )
    accepted, _ = gate_candidates(
        cand, EnqueueOptions(strategy="same-hostname", label="fallback")
    )
    uk = unique_key_col("url")
    return (
        accepted.select(uk.alias("unique_key"), "label", "doc_id")
        .groupBy("unique_key", "label")
        .agg(
            F.count("*").cast("long").alias("n_emitters"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .select(
            "unique_key",
            request_id_col(F.col("unique_key")).alias("request_id"),
            "label",
            "n_emitters",
            "first_doc",
        )
    )


def q_proxy_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sticky per-session proxy rotation (proxy_configuration.ts:400-415 via
    operators/proxies.rotate_proxies): sessions ranked by FIRST arrival take
    ``proxy_urls[(rank-1) % n]`` and keep it. Sessions are synthesized as
    (source, doc_id % 40) buckets arriving at their min doc_id — unique first
    arrivals, as the two-phase rank requires. Oracle: DuckDB recomputes the
    first-arrival rank with a window and indexes the same url list."""
    from crawlee_spark.operators.proxies import rotate_proxies

    d = _docs(spark, sf_dir)
    sessions = d.select(
        F.concat(
            F.col("source"), F.lit("#"), (F.col("doc_id") % 40).cast("string")
        ).alias("session_id"),
        F.col("doc_id").cast("long").alias("arrival"),
    )
    return rotate_proxies(
        sessions,
        ("http://p0.proxy", "http://p1.proxy", "http://p2.proxy"),
        session_col="session_id",
        order_col="arrival",
        num_partitions=8,
    ).select("session_id", "proxy_url")


def q_proxy_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiered proxy escalation (proxy_configuration.ts:117-173, :337-368 via
    operators/proxies.predict_proxy_tiers): per-domain ordered replay of the
    reference's ProxyTierTracker. The trace is CONSTRUCTIVE so the oracle has
    a closed form: each domain (= source) runs 30 attempts; attempt
    ``a+1`` (a = 1 + length(source) % 4) is a RETRY carrying last tier 0,
    which charges +10 onto tier 0 and escalates to tier 1; decay then returns
    the domain to tier 0 exactly at attempt a+11 (h[0] hits 0 → equality
    downshift, :149-151). Within-tier round-robin indexes by the per-domain
    draw counter. DuckDB regenerates tier and url from the closed form — any
    drift in charge/decay/downshift or rotation order hash-mismatches."""
    from crawlee_spark.operators.proxies import predict_proxy_tiers, split_assignments

    d = _docs(spark, sf_dir)
    tiers = (
        ("http://t0a.proxy", "http://t0b.proxy"),
        ("http://t1a.proxy", "http://t1b.proxy", "http://t1c.proxy"),
    )
    attempts = (
        d.select("source").distinct()
        .select(
            F.col("source").alias("domain"),
            F.explode(F.sequence(F.lit(1), F.lit(30))).alias("pos"),
        )
        .select(
            "domain",
            F.concat(F.col("domain"), F.lit("-"), F.col("pos").cast("string")).alias(
                "request_id"
            ),
            F.col("pos").cast("long").alias("order_no"),
            F.when(
                F.col("pos") == F.lit(2) + F.length("domain") % 4, F.lit(0)
            ).cast("int").alias("last_proxy_tier"),
        )
    )
    out = predict_proxy_tiers(
        attempts,
        tiers,
        domain_col="domain",
        order_col="order_no",
        request_col="request_id",
        last_tier_col="last_proxy_tier",
    )
    assignments, _state = split_assignments(out)
    return assignments.select(
        "domain",
        "request_id",
        F.col("order_no").alias("pos"),
        F.col("proxy_tier").cast("int").alias("proxy_tier"),
        "proxy_url",
    )


def q_error_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ErrorTracker message grouping (operators/stats.error_message_groups;
    error_tracker.ts:115-261): two synthetic error families — 'Expected
    boolean, got v<k>' and 'Timeout after <k> seconds elapsed', k = doc_id%7
    — must each collapse into ONE word-streak placeholder pattern while
    never cross-merging (disjoint vocab would be >= 50% placeholder). The
    DuckDB oracle states the closed form: the two pattern strings with the
    family row counts and distinct-variant counts (>= 2 variants per family
    at sf0.01, so the merge always fires)."""
    from crawlee_spark.operators.stats import error_message_groups

    d = _docs(spark, sf_dir)
    k = (F.col("doc_id") % 7).cast("string")
    outcomes = d.select(
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("Expected boolean, got v"), k),
        )
        .otherwise(F.concat(F.lit("Timeout after "), k, F.lit(" seconds elapsed")))
        .alias("error_message"),
        F.lit(1).alias("round_id"),
    )
    return error_message_groups(outcomes).select(
        "error_group", "occurrences", "n_messages", "first_round"
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/FineWeb repetition + format signals per document
    (text_analysis.gopher_repetition_signals, Rae et al. 2021 §A1.1):
    duplicate-line character mass, ellipsis/bullet line fractions,
    alpha-word fraction, symbol ratio, top-{2,3}-gram and duplicate-{5,10}-
    gram character fractions — every ratio an exact e6 fixed-point BIGINT.
    Oracle: DuckDB recomputes all signals from scratch with list lambdas +
    a gram unnest; the top-gram tie-break (max gram among max counts) is
    restated with an explicit max-count join."""
    from crawlee_spark.functions.text_analysis import gopher_repetition_signals

    return gopher_repetition_signals(
        _docs(spark, sf_dir), "text", top_ns=(2, 3), dup_ns=(5, 10)
    )


def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split + output shards
    (operators/curation.hash_split_col / shard_col): md5-bucket labels with
    98/1/1 weights, 16 shards — both pure functions of doc identity, so a
    recrawl never reshuffles prior assignments. Oracle: DuckDB recomputes
    the salted md5 buckets and the cumulative-threshold CASE."""
    from crawlee_spark.operators.curation import hash_split_col, shard_col

    d = _docs(spark, sf_dir)  # not spread: two md5s/row, cheaper than an exchange
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        hash_split_col("doc_id", {"train": 98, "val": 1, "test": 1}).alias("split"),
        shard_col("doc_id", 16).alias("shard"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (operators/curation.pack_sequences):
    documents concatenate in doc_id order and chunk into 2048-token windows
    via the two-phase exclusive prefix sum (range partition + offsets — no
    unpartitioned window, pinned by test_curation). Oracle: DuckDB restates
    the prefix with a ROWS window and integer division."""
    from crawlee_spark.functions.text_analysis import token_count_col
    from crawlee_spark.operators.curation import pack_sequences

    d = spread(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        token_count_col("text").alias("n_tokens"),
    )
    return pack_sequences(d, window_size=2048, partitions=8)


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a persisted LSH index (operators/dedup
    .build_lsh_index + incremental_lsh_matches): the corpus is indexed once
    (banded minhash signatures, hot buckets dropped at build); a NEW batch —
    every 10th document with ' extra' appended, ids +1,000,000 — bucket-joins
    the index and verifies by exact signature-position agreement (≥ 6 of 12),
    never rescanning corpus text. Oracle: DuckDB recomputes both sides'
    signatures, the band buckets, and the per-position agreement sum."""
    from crawlee_spark.operators.dedup import build_lsh_index, incremental_lsh_matches

    d = _docs(spark, sf_dir).select("doc_id", "text")
    index = build_lsh_index(d)
    new = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    return incremental_lsh_matches(new, index, min_agree=6).select(
        F.col("new_id").cast("long").alias("new_id"),
        F.col("old_id").cast("long").alias("old_id"),
        "agree_cnt",
    )


def q_recrawl_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed incremental-recrawl pipeline: a refresh batch (near-dup
    twins of every 10th corpus doc + brand-new docs) runs index-match →
    near-dup drop → quality gate (≥ 5 tokens) → deterministic split/shard —
    the full 'what do I do with a recrawl' path, each stage an
    already-oracle-proven operator, composed in ONE plan. Twins must come
    back matched (no split); fresh docs unmatched, split and sharded
    stably. Oracle: DuckDB composes the same recomputations."""
    from crawlee_spark.functions.text_analysis import token_count_col
    from crawlee_spark.operators.curation import hash_split_col, shard_col
    from crawlee_spark.operators.dedup import build_lsh_index, incremental_lsh_matches

    d = _docs(spark, sf_dir).select("doc_id", "text")
    index = build_lsh_index(d)
    twins = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    fresh = d.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(
            F.lit("fresh standalone document regarding topic number "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    new = twins.unionByName(fresh)
    matched = (
        incremental_lsh_matches(new, index, min_agree=6)
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
        .withColumn("_m", F.lit(True))
    )
    flagged = new.join(matched, "doc_id", "left").withColumn(
        "matched", F.coalesce(F.col("_m"), F.lit(False))
    )
    kept = ~F.col("matched") & (token_count_col("text") >= 5)
    return flagged.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "matched",
        F.when(kept, hash_split_col("doc_id", {"train": 98, "val": 1, "test": 1})).alias(
            "split"
        ),
        F.when(kept, shard_col("doc_id", 16)).alias("shard"),
    )


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data PII scrubbing (functions/pii.py): emails / IPv4 / card
    numbers / phones replaced by tokens in the documented pass order, plus
    stage-wise match counts. Fixture: digit-stripped document text + one
    synthesized instance of each PII type (digit-free prefix means the
    oracle can predict the redaction constructively; verified there are no
    ``@`` characters in the corpus text)."""
    from crawlee_spark.functions.pii import pii_count_cols, redact_pii_col

    d = spread(_docs(spark, sf_dir))
    ds = F.col("doc_id").cast("string")
    clean = F.regexp_replace(F.col("text"), "[0-9]", "")
    raw = F.concat(
        clean,
        F.lit(" contact a"), ds, F.lit("@ex"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".com or +1 (413) 555-00"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit(" ip 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit("."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(" card 4111 1111 1111 1111 end"),
    )
    counts = pii_count_cols(raw)
    return d.select(
        "doc_id",
        redact_pii_col(raw).alias("redacted"),
        *[v.alias(k) for k, v in counts.items()],
    )


def q_dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact duplication (dedup.repeated_span_stats): 8-token
    spans repeated across >= 2 distinct documents — the boilerplate-passage
    pass document-level dedup misses. Fixture injects a shared footer on
    every third document so repeated spans provably exist; the oracle
    recomputes the md5 span hashes byte-for-byte."""
    from crawlee_spark.operators.dedup import repeated_span_stats

    d = _docs(spark, sf_dir)
    footer = " copyright example corp all rights reserved contact support team"
    src = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(footer)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return repeated_span_stats(src, window=8, min_docs=2)


def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixing weights (α=0.5 via IEEE sqrt,
    quantized to e6 fixed-point BEFORE the cross-domain sum — the
    normalizer is an exact integer sum, no float-order contract, no
    window)."""
    from crawlee_spark.functions.text_analysis import domain_mixture_weights

    return domain_mixture_weights(_docs(spark, sf_dir), "source", alpha_pct=50)


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution (dedup.dup_clusters): iterative
    min-label connected components over a deterministic pair graph
    (chain edges + long bridges — multi-hop components, so the propagation
    loop genuinely iterates); DuckDB recomputes the components with a
    recursive CTE."""
    from crawlee_spark.operators.dedup import dup_clusters

    d = _docs(spark, sf_dir)
    chain = d.filter(F.col("doc_id") % 5 < 2).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    bridge = d.filter(F.col("doc_id") % 20 == 3).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 10).alias("id_b")
    )
    return dup_clusters(chain.unionByName(bridge))


def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data decontamination (dedup.benchmark_contamination — the
    GPT-3 appendix-C n-gram overlap check): the benchmark is a 12-token
    slice (tokens 3..14) of every 10th document, so contamination provably
    exists; the corpus-span side streams map-side against the broadcast
    benchmark spans."""
    from crawlee_spark.functions.text_analysis import tokens_col
    from crawlee_spark.operators.dedup import benchmark_contamination

    d = _docs(spark, sf_dir)
    toks = tokens_col(F.col("text"))
    bench = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select(
            F.col("doc_id").alias("bench_id"),
            F.array_join(F.slice(toks, 4, 12), " ").alias("text"),
        )
        .filter(F.col("text") != "")
    )
    return benchmark_contamination(d, bench, window=8)


def q_ngram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-100 word bigrams (text_analysis.ngram_vocab): the
    vocabulary-building pass — map-side-combinable count, TakeOrdered
    top-k with a deterministic tie-break."""
    from crawlee_spark.functions.text_analysis import ngram_vocab

    return ngram_vocab(_docs(spark, sf_dir), "text", n=2, top_k=100)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "url_keying": q_url_keying,
        "registrable_domain": q_registrable_domain,
        "enqueue_dedup": q_enqueue_dedup,
        "frontier_order": q_frontier_order,
        "scheduler_claim": q_scheduler_claim,
        "robots_gate": q_robots_gate,
        "stats_outcomes": q_stats_outcomes,
        "extract_text": q_extract_text,
        "extract_links": q_extract_links,
        "extract_urls_text": q_extract_urls_text,
        "content_type": q_content_type,
        "sitemap_parse": q_sitemap_parse,
        "social_handles": q_social_handles,
        "json_context": q_json_context,
        "session_pool": q_session_pool,
        "blocked_probe": q_blocked_probe,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "text_quality": q_text_quality,
        "corpus_curation": q_corpus_curation,
        "crawl_quality_rollup": q_crawl_quality_rollup,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_quantized_topk": q_ann_quantized_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_index": q_ann_ivf_index,
        "embedding_neardup": q_embedding_neardup,
        "multimodal_meta": q_multimodal_meta,
        "multimodal_decode": q_multimodal_decode,
        "agg_pricing_summary": q_agg_pricing_summary,
        "join_topn_customers": q_join_topn_customers,
        "anti_join_inactive": q_anti_join_inactive,
        "window_segment_head": q_window_segment_head,
        "events_sessionize": q_events_sessionize,
        "global_rank": q_global_rank,
        "session_cookies": q_session_cookies,
        "sitemap_gz": q_sitemap_gz,
        "request_handlers": q_request_handlers,
        "handler_enqueue": q_handler_enqueue,
        "proxy_rotation": q_proxy_rotation,
        "proxy_tiers": q_proxy_tiers,
        "error_groups": q_error_groups,
        "gopher_quality": q_gopher_quality,
        "corpus_split": q_corpus_split,
        "pack_sequences": q_pack_sequences,
        "incremental_dedup": q_incremental_dedup,
        "recrawl_refresh": q_recrawl_refresh,
        "pii_redaction": q_pii_redaction,
        "ngram_vocab": q_ngram_vocab,
        "dedup_repeated_spans": q_dedup_repeated_spans,
        "benchmark_contamination": q_benchmark_contamination,
        "dup_clusters": q_dup_clusters,
        "domain_mixture": q_domain_mixture,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------


def _lang_hits_sql() -> str:
    parts = []
    for lang in sorted(TA.LANG_MARKERS):
        markers = ", ".join(f"'{m}'" for m in TA.LANG_MARKERS[lang])
        parts.append(
            f"CAST(len(list_filter(toks, t -> lower(t) IN ({markers}))) AS BIGINT) AS h_{lang}"
        )
    return ",\n    ".join(parts)


def _lsh_weight_literals(nbits: int, dim: int) -> list[str]:
    ws = SIM.hyperplane_weights(nbits, dim)
    return ["[" + ", ".join(f"{w:.1f}" for w in row) + "]" for row in ws]


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a})+1), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (x, y) -> x + y)"
    )


def oracle_sql() -> dict[str, str]:
    stop = ", ".join(f"'{s}'" for s in TA.STOPWORDS)
    bpe = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    punct = r"[^A-Za-z0-9\s]"

    # ---- minhash oracle (programmatic: 12 perms, 4 bands of 3) ----
    # signatures are the datasketch affine scheme over ONE md5-derived
    # 32-bit base hash per shingle: sig_i = min (a_i·h + b_i) mod p — the
    # (a_i, b_i) constants regenerate from md5 on both sides
    from crawlee_spark.operators.dedup import MINHASH_PRIME, minhash_perm_consts

    num_perm, bands, rows = 12, 4, 3
    _consts = minhash_perm_consts(num_perm)
    _hash_sql = (
        "list_transform(s, x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT))"
    )
    sig_cols = ",\n    ".join(
        f"list_min(list_transform(h, x -> ({a} * x + {b}) % {MINHASH_PRIME})) AS sig_{i}"
        for i, (a, b) in enumerate(_consts)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, md5({key}) AS band_key FROM sigs".format(
            b=b,
            key=" || '|' || ".join(
                f"CAST(sig_{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    def _shingle_sql(name: str, src: str) -> str:
        return f"""{name} AS (
  SELECT doc_id,
    CASE WHEN len(w) >= 3
      THEN list_sort(list_distinct(list_transform(range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2])))
      ELSE [array_to_string(w, ' ')] END AS s
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM {src})
)"""

    def _band_sql(src: str) -> str:
        return "\n  UNION ALL\n".join(
            "  SELECT doc_id, {b} AS band, md5({key}) AS band_key FROM {src}".format(
                b=b,
                key=" || '|' || ".join(
                    f"CAST(sig_{b * 3 + r} AS VARCHAR)" for r in range(3)
                ),
                src=src,
            )
            for b in range(4)
        )

    agree_sum = " + ".join(
        f"CASE WHEN ns.sig_{i} = os.sig_{i} THEN 1 ELSE 0 END" for i in range(12)
    )
    incremental_sql = f"""
WITH newc AS (
  SELECT doc_id + 1000000 AS doc_id, text || ' extra' AS text
  FROM documents WHERE doc_id % 10 = 0
),
{_shingle_sql('osh', 'documents')},
{_shingle_sql('nsh', 'newc')},
osig AS (SELECT doc_id, {sig_cols.replace(chr(10) + '    ', ' ')}
         FROM (SELECT doc_id, {_hash_sql} AS h FROM osh)),
nsig AS (SELECT doc_id, {sig_cols.replace(chr(10) + '    ', ' ')}
         FROM (SELECT doc_id, {_hash_sql} AS h FROM nsh)),
obanded AS (
{_band_sql('osig')}
),
oguard AS (
  SELECT band, band_key, doc_id FROM (
    SELECT *, count(*) OVER (PARTITION BY band, band_key) AS bsz FROM obanded
  ) WHERE bsz <= 1000
),
nbanded AS (
{_band_sql('nsig')}
),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
  FROM nbanded n JOIN oguard o ON n.band = o.band AND n.band_key = o.band_key
)
SELECT c.new_id, c.old_id, CAST({agree_sum} AS BIGINT) AS agree_cnt
FROM cand c
JOIN nsig ns ON ns.doc_id = c.new_id
JOIN osig os ON os.doc_id = c.old_id
WHERE {agree_sum} >= 6
"""

    recrawl_sql = f"""
WITH newc AS (
  SELECT doc_id + 1000000 AS doc_id, text || ' extra' AS text
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
    'fresh standalone document regarding topic number ' || CAST(doc_id AS VARCHAR) AS text
  FROM documents WHERE doc_id % 10 = 5
),
{_shingle_sql('osh', 'documents')},
{_shingle_sql('nsh', 'newc')},
osig AS (SELECT doc_id, {sig_cols.replace(chr(10) + '    ', ' ')}
         FROM (SELECT doc_id, {_hash_sql} AS h FROM osh)),
nsig AS (SELECT doc_id, {sig_cols.replace(chr(10) + '    ', ' ')}
         FROM (SELECT doc_id, {_hash_sql} AS h FROM nsh)),
obanded AS (
{_band_sql('osig')}
),
oguard AS (
  SELECT band, band_key, doc_id FROM (
    SELECT *, count(*) OVER (PARTITION BY band, band_key) AS bsz FROM obanded
  ) WHERE bsz <= 1000
),
nbanded AS (
{_band_sql('nsig')}
),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
  FROM nbanded n JOIN oguard o ON n.band = o.band AND n.band_key = o.band_key
),
matched AS (
  SELECT DISTINCT c.new_id FROM cand c
  JOIN nsig ns ON ns.doc_id = c.new_id
  JOIN osig os ON os.doc_id = c.old_id
  WHERE {agree_sum} >= 6
),
tok AS (
  SELECT doc_id, CASE WHEN trim(text) = '' THEN 0
    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS ntok
  FROM newc
)
SELECT n.doc_id, (m.new_id IS NOT NULL) AS matched,
  CASE WHEN m.new_id IS NULL AND t.ntok >= 5 THEN
    CASE WHEN CAST(('0x' || substr(md5('split' || CAST(n.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 98 THEN 'train'
         WHEN CAST(('0x' || substr(md5('split' || CAST(n.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 99 THEN 'val'
         ELSE 'test' END
  END AS split,
  CASE WHEN m.new_id IS NULL AND t.ntok >= 5 THEN
    CAST(CAST(('0x' || substr(md5('shard' || CAST(n.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS INT)
  END AS shard
FROM newc n
LEFT JOIN matched m ON n.doc_id = m.new_id
JOIN tok t ON t.doc_id = n.doc_id
"""

    minhash_sql = f"""
WITH {_neardup_sql(True).strip()},
{_SHINGLE_SQL.strip().replace('sh AS', 'shing AS', 1)},
sigs AS (
  SELECT doc_id,
    {sig_cols}
  FROM (SELECT doc_id, {_hash_sql} AS h FROM shing)
),
banded AS (
{band_rows}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
  CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS inter_cnt,
  CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS BIGINT) AS union_cnt
FROM cand c
JOIN shing sa ON sa.doc_id = c.id_a
JOIN shing sb ON sb.doc_id = c.id_b
WHERE len(list_intersect(sa.s, sb.s)) * 100 >= 80 * (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
  AND len(list_intersect(sa.s, sb.s)) > 0
"""

    # ---- simhash oracle: 64-bit majority vote from md5 hex digits ----
    simhash_sql = f"""
WITH {_neardup_sql(True).strip()},
docs AS (
  SELECT doc_id, source,
    list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks
  FROM corpus
),
tok AS (SELECT doc_id, source, len(toks) AS ntok, unnest(toks) AS t FROM docs),
bits AS (
  SELECT doc_id, source, ntok, bb.b,
    ((strpos('0123456789abcdef', substr(md5(t), (bb.b // 4) + 1, 1)) - 1)
      // (CASE bb.b % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) % 2 AS bit
  FROM tok, (SELECT unnest(range(0, 64)) AS b) bb
),
maj AS (
  SELECT doc_id, source, b,
    CASE WHEN 2 * sum(bit) > max(ntok) THEN 1 ELSE 0 END AS mbit
  FROM bits GROUP BY doc_id, source, b
),
words AS (
  SELECT doc_id, source, b // 16 AS w,
    CAST(sum(mbit * CAST(2 ** (15 - (b % 16)) AS BIGINT)) AS BIGINT) AS wv
  FROM maj GROUP BY doc_id, source, b // 16
),
sim AS (
  SELECT doc_id, source,
    max(CASE WHEN w = 0 THEN wv END) AS h0, max(CASE WHEN w = 1 THEN wv END) AS h1,
    max(CASE WHEN w = 2 THEN wv END) AS h2, max(CASE WHEN w = 3 THEN wv END) AS h3
  FROM words GROUP BY doc_id, source
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
     + bit_count(xor(a.h2, b.h2)) + bit_count(xor(a.h3, b.h3)) AS BIGINT) AS hamming
FROM sim a JOIN sim b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
    + bit_count(xor(a.h2, b.h2)) + bit_count(xor(a.h3, b.h3)) <= 8
"""

    # ---- ANN oracles ----
    dot_qc = _dot_sql("qe", "ce")
    n_q = _dot_sql("qe", "qe")
    n_c = _dot_sql("ce", "ce")
    ann_sql = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id, embedding AS ce FROM embeddings),
scored AS (
  SELECT q.query_id, c.vec_id,
    CASE WHEN {n_q} > 0 AND {n_c} > 0
      THEN {dot_qc} / sqrt(({n_q}) * ({n_c})) END AS score
  FROM q, c
),
ranked AS (
  SELECT query_id, vec_id, score,
    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rk
  FROM scored
)
SELECT query_id, vec_id, CAST(rk AS BIGINT) AS rank,
  CAST(floor(score * 1000000) AS BIGINT) AS score_e6
FROM ranked WHERE rk <= 5
"""

    wlits = _lsh_weight_literals(4, 64)

    def bucket_sql(vec: str) -> str:
        terms = []
        for p, w in enumerate(wlits):
            proj = (
                f"list_reduce(list_transform(range(1, len({vec})+1), "
                f"i -> {vec}[i]::DOUBLE * ({w}::DOUBLE[])[i]), (x, y) -> x + y)"
            )
            terms.append(f"(CASE WHEN {proj} > 0 THEN 1 ELSE 0 END) * {2 ** (4 - 1 - p)}")
        return "CAST(" + " + ".join(terms) + " AS BIGINT)"

    lsh_ann_sql = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe, {bucket_sql('embedding')} AS bucket
           FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id, embedding AS ce, {bucket_sql('embedding')} AS bucket FROM embeddings),
scored AS (
  SELECT q.query_id, c.vec_id,
    CASE WHEN {n_q} > 0 AND {n_c} > 0
      THEN {dot_qc} / sqrt(({n_q}) * ({n_c})) END AS score
  FROM q JOIN c ON q.bucket = c.bucket
),
ranked AS (
  SELECT query_id, vec_id, score,
    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rk
  FROM scored
)
SELECT query_id, vec_id, CAST(rk AS BIGINT) AS rank,
  CAST(floor(score * 1000000) AS BIGINT) AS score_e6
FROM ranked WHERE rk <= 5
"""

    def cos_sql(a: str, b: str) -> str:
        d, na, nb = _dot_sql(a, b), _dot_sql(a, a), _dot_sql(b, b)
        return f"CASE WHEN {na} > 0 AND {nb} > 0 THEN {d} / sqrt(({na}) * ({nb})) END"

    # IVF oracle with the deterministic k-means unrolled: init = vec_id<8,
    # then TRAIN_ITERS Lloyd steps. Update sums are exact BIGINT over
    # round(v·10⁶) and centroid components (sum/count)/10⁶ in double —
    # bit-identical to kmeans_fit (similarity.py) by construction.
    TRAIN_ITERS = 2
    kmeans_ctes = [
        "c AS (SELECT vec_id, embedding AS cv FROM embeddings)",
        "cents0 AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8)",
    ]
    for t in range(1, TRAIN_ITERS + 1):
        prev = f"cents{t - 1}"
        kmeans_ctes.append(
            f"""assign{t} AS (
  SELECT vec_id, cv, cid AS cell FROM (
    SELECT c.vec_id, c.cv, {prev}.cid,
      row_number() OVER (PARTITION BY c.vec_id
        ORDER BY coalesce({cos_sql('cv', 'ce')}, -2.0) DESC, {prev}.cid ASC) AS rk
    FROM c, {prev}
  ) WHERE rk = 1
)"""
        )
        kmeans_ctes.append(
            f"""sums{t} AS (
  SELECT cell, unnest(range(1, len(cv)+1)) AS i,
         unnest(list_transform(cv, x -> CAST(round(x::DOUBLE * 1000000) AS BIGINT))) AS ve6
  FROM assign{t}
)"""
        )
        kmeans_ctes.append(
            f"""cents{t} AS (
  SELECT c0.cid, coalesce(u.ce, c0.ce::DOUBLE[]) AS ce
  FROM cents0 c0 LEFT JOIN (
    SELECT cid, list(comp ORDER BY i) AS ce FROM (
      SELECT cell AS cid, i, (CAST(sum(ve6) AS DOUBLE) / count(*)) / 1000000 AS comp
      FROM sums{t} GROUP BY cell, i
    ) GROUP BY cid
  ) u USING (cid)
)"""
        )
    kmeans_body = ",\n".join(kmeans_ctes)
    ivf_sql = f"""
WITH {kmeans_body},
cents AS (SELECT cid, ce FROM cents{TRAIN_ITERS}),
assign AS (
  SELECT vec_id, cv, cid AS ivf_cell FROM (
    SELECT c.vec_id, c.cv, cents.cid,
      row_number() OVER (PARTITION BY c.vec_id
        ORDER BY coalesce({cos_sql('cv', 'ce')}, -2.0) DESC, cents.cid ASC) AS rk
    FROM c, cents
  ) WHERE rk = 1
),
q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 8),
qcells AS (
  SELECT qid, qe, cid FROM (
    SELECT q.qid, q.qe, cents.cid,
      row_number() OVER (PARTITION BY q.qid
        ORDER BY coalesce({cos_sql('qe', 'ce')}, -2.0) DESC, cents.cid ASC) AS rk
    FROM q, cents
  ) WHERE rk <= 2
),
scored AS (
  SELECT qcells.qid AS query_id, assign.vec_id,
    ({cos_sql('qe', 'cv')}) AS score
  FROM qcells JOIN assign ON assign.ivf_cell = qcells.cid
),
ranked AS (
  SELECT query_id, vec_id, score,
    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rk
  FROM scored
)
SELECT query_id, vec_id, CAST(rk AS BIGINT) AS rank,
  CAST(floor(score * 1000000) AS BIGINT) AS score_e6
FROM ranked WHERE rk <= 5
"""

    # ---- multimodal decode oracle: the stub keys every output on
    # md5(hex(content)) (uppercase hex), so DuckDB recomputes digest bytes
    # from the md5 hex string: byte_j = 16*hv(2j+1) + hv(2j+2).
    def _md5_byte(h: str, j: int) -> str:
        hv1 = f"(strpos('0123456789abcdef', substr({h}, {2 * j + 1}, 1)) - 1)"
        hv2 = f"(strpos('0123456789abcdef', substr({h}, {2 * j + 2}, 1)) - 1)"
        return f"({hv1} * 16 + {hv2})"

    decode_sql = f"""
WITH m AS (
  SELECT doc_id,
    md5(hex(CASE WHEN doc_id % 5 = 0 THEN from_hex('89504E470D0A1A0A') || encode(text)
         ELSE encode(text) END)) AS h,
    CASE WHEN doc_id % 5 = 0 THEN 'png' ELSE 'unknown' END AS format
  FROM documents
  WHERE doc_id % 5 NOT IN (1, 2)
)
SELECT doc_id, format,
  CAST(64 + {_md5_byte('h', 0)} % 192 AS BIGINT) AS width,
  CAST(64 + {_md5_byte('h', 1)} % 192 AS BIGINT) AS height,
  CAST(i.i AS BIGINT) AS feat_idx,
  CAST((list_value({', '.join(_md5_byte('h', j) for j in range(8))})[i.i + 1] * 31 + i.i) % 256 AS BIGINT)
    AS feat_byte
FROM m, (SELECT unnest(range(0, 8)) AS i) i
UNION ALL
-- doc_id % 5 = 1: REAL BMP decode. Stored pixel byte k = (doc_id*7+k)%256
-- over two bottom-up stride-12 rows; raster flip => feature[i] is stored
-- byte 12+i (top row data), padding (bytes 9-11, 21-23) never surfaces.
SELECT doc_id, 'bmp' AS format, CAST(3 AS BIGINT) AS width, CAST(2 AS BIGINT) AS height,
  CAST(i.i AS BIGINT) AS feat_idx,
  CAST((doc_id * 7 + 12 + i.i) % 256 AS BIGINT) AS feat_byte
FROM documents, (SELECT unnest(range(0, 8)) AS i) i
WHERE doc_id % 5 = 1
UNION ALL
-- doc_id % 5 = 2: REAL PNG decode (zlib inflate + unfilter). The fixture's
-- IDAT is one STORED deflate block with filter-0 scanlines, so raster byte
-- k is exactly the stored pixel byte (doc_id*7+k)%256 — no inflate needed
-- to recompute feature[i] = raster byte i.
SELECT doc_id, 'png' AS format, CAST(2 AS BIGINT) AS width, CAST(2 AS BIGINT) AS height,
  CAST(i.i AS BIGINT) AS feat_idx,
  CAST((doc_id * 7 + i.i) % 256 AS BIGINT) AS feat_byte
FROM documents, (SELECT unnest(range(0, 8)) AS i) i
WHERE doc_id % 5 = 2
"""

    dot_ab = _dot_sql("va", "vb")
    n_a = _dot_sql("va", "va")
    n_b = _dot_sql("vb", "vb")
    neardup_sql = f"""
WITH b AS (SELECT vec_id, embedding, {bucket_sql('embedding')} AS bucket FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b2.vec_id AS id_b, a.embedding AS va, b2.embedding AS vb
  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
),
scored AS (
  SELECT id_a, id_b,
    CAST(floor((CASE WHEN {n_a} > 0 AND {n_b} > 0
      THEN {dot_ab} / sqrt(({n_a}) * ({n_b})) END) * 1000000) AS BIGINT) AS score_e6
  FROM pairs
)
SELECT id_a, id_b, score_e6 FROM scored WHERE score_e6 >= 400000
"""

    # PSL rule table for the registrable_domain oracle: the DATA is shared
    # (same .dat snapshot the Spark kernel compiles) but the longest-match
    # ALGORITHM below is an independent SQL recomputation — candidate
    # suffixes per depth joined against the rule table, exception >
    # longest-match > implicit '*' default, eTLD+1 slice.
    from crawlee_spark.functions.psl import _EXACT, _EXCEPTION, _WILDCARD

    psl_values = ",\n  ".join(
        [f"('exact', '{r}')" for r in sorted(_EXACT)]
        + [f"('wildcard', '{r}')" for r in sorted(_WILDCARD)]
        + [f"('exception', '{r}')" for r in sorted(_EXCEPTION)]
    )
    registrable_domain_sql = f"""
WITH rules(kind, rule) AS (VALUES
  {psl_values}),
hosts AS (
  SELECT doc_id, CASE CAST(doc_id % 13 AS INTEGER)
    WHEN 0 THEN 'www.' || source || '.example.com'
    WHEN 1 THEN source || '-' || CAST(doc_id AS VARCHAR) || '.github.io'
    WHEN 2 THEN 'shop.' || source || '.com.mx'
    WHEN 3 THEN 'a.' || source || '.co.za'
    WHEN 4 THEN source || '.blogspot.com'
    WHEN 5 THEN 'www.city.kobe.jp'
    WHEN 6 THEN 'x' || CAST(doc_id AS VARCHAR) || '.bar.kobe.jp'
    WHEN 7 THEN 'b.' || source || '.xn--55qx5d.cn'
    WHEN 8 THEN '10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
    WHEN 9 THEN 'localhost'
    WHEN 10 THEN 'github.io'
    WHEN 11 THEN 'sub.' || source || '.example.co.uk'
    ELSE 'shop.www.ck' END AS host
  FROM documents
),
lab AS (SELECT doc_id, host, string_split(host, '.') AS ls FROM hosts),
cand AS (
  SELECT doc_id, d,
    array_to_string(ls[len(ls)-d+1:len(ls)], '.') AS sfx,
    CASE WHEN d >= 2 THEN array_to_string(ls[len(ls)-d+2:len(ls)], '.')
         ELSE '' END AS parent
  FROM lab, (VALUES (1),(2),(3),(4),(5)) t(d)
  WHERE d <= len(ls)
),
m AS (
  SELECT c.doc_id, c.d,
    max(CASE WHEN r.kind = 'exception' AND r.rule = c.sfx THEN 1 ELSE 0 END) AS exc,
    max(CASE WHEN (r.kind = 'exact' AND r.rule = c.sfx)
               OR (r.kind = 'wildcard' AND r.rule = c.parent) THEN 1 ELSE 0 END) AS hit
  FROM cand c LEFT JOIN rules r ON r.rule = c.sfx OR r.rule = c.parent
  GROUP BY c.doc_id, c.d
),
ps AS (
  SELECT doc_id,
    CASE WHEN max(CASE WHEN exc = 1 THEN d END) IS NOT NULL
         THEN max(CASE WHEN exc = 1 THEN d END) - 1
         ELSE coalesce(max(CASE WHEN hit = 1 THEN d END), 1) END AS ps_len
  FROM m GROUP BY doc_id
)
SELECT l.doc_id, l.host,
  CASE WHEN regexp_matches(l.host, '^([0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}$') THEN NULL
       WHEN len(l.ls) <= p.ps_len THEN NULL
       ELSE array_to_string(l.ls[len(l.ls)-p.ps_len:len(l.ls)], '.')
  END AS registrable_domain
FROM lab l JOIN ps p USING (doc_id)
"""

    return {
        "url_keying": f"""
WITH {_U_SQL.strip()}
SELECT doc_id, url, unique_key,
  {_RID_SQL.format(k='unique_key')} AS request_id,
  host,
  'example.com' AS registrable_domain
FROM u
""",
        "registrable_domain": registrable_domain_sql,
        "enqueue_dedup": f"""
WITH {_U_SQL.strip()},
cand AS (
  SELECT unique_key, doc_id * 2 AS arrival FROM u
  UNION ALL
  SELECT base_url AS unique_key, doc_id * 2 + 1 AS arrival FROM u WHERE doc_id % 3 = 0
)
SELECT unique_key, CAST(min(arrival) AS BIGINT) AS first_arrival,
       CAST(count(*) AS BIGINT) AS n_candidates
FROM cand GROUP BY unique_key
""",
        "frontier_order": """
WITH seqd AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN -CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT)
         ELSE CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) END AS order_no
  FROM documents
)
SELECT doc_id, order_no,
  CAST(row_number() OVER (ORDER BY order_no) AS BIGINT) AS position
FROM seqd
""",
        "scheduler_claim": f"""
WITH {_U_SQL.strip()},
seqd AS (
  SELECT doc_id, host,
    CASE WHEN doc_id % 7 = 0 THEN -CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT)
         ELSE CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) END AS order_no
  FROM u
),
ranked AS (
  SELECT doc_id, host, order_no,
    row_number() OVER (PARTITION BY host ORDER BY order_no) AS rk
  FROM seqd
)
SELECT doc_id, host, order_no FROM ranked WHERE rk <= 3
ORDER BY order_no LIMIT 40
""",
        "robots_gate": f"""
WITH {_U_SQL.strip()}
SELECT doc_id,
  CASE WHEN CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 3 = 1 THEN false ELSE true END AS allowed
FROM u
""",
        "stats_outcomes": """
WITH log AS (
  SELECT CAST(event_id % 4 AS INT) AS attempt,
    CASE WHEN event_type = 'error' AND event_id % 4 < 3 THEN 'retry'
         WHEN event_type = 'error' THEN 'fail' ELSE 'success' END AS outcome,
    CAST(floor(value * 100) AS BIGINT) AS duration_ms
  FROM events
)
SELECT attempt, outcome, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(duration_ms) AS BIGINT) AS total_duration_ms,
  CAST(min(duration_ms) AS BIGINT) AS min_duration_ms,
  CAST(max(duration_ms) AS BIGINT) AS max_duration_ms
FROM log GROUP BY attempt, outcome
""",
        "extract_text": """
SELECT doc_id,
  'Doc ' || doc_id || chr(10) || trim(regexp_replace(text, '\\s+', ' ', 'g')) AS extracted_text
FROM documents
""",
        "extract_links": f"""
WITH {_U_SQL.strip()}
SELECT doc_id, 0 AS pos,
  'https://www.' || source || '.example.com/docs/' || (doc_id + 1) AS link FROM u
UNION ALL
SELECT doc_id, 1 AS pos,
  'https://other.example.net/x/' || (doc_id % 97) AS link FROM u
""",
        "extract_urls_text": """
SELECT doc_id, 0 AS pos,
  'https://www.' || source || '.example.com/docs/' || doc_id AS url FROM documents
UNION ALL
SELECT doc_id, 1 AS pos, 'http://other.org/x' || (doc_id % 7) AS url FROM documents
""",
        "content_type": """
SELECT doc_id,
  CASE WHEN doc_id % 3 = 0 THEN 'text/html'
       WHEN doc_id % 2 = 0 THEN 'application/json'
       ELSE 'application/octet-stream' END AS mime,
  CASE WHEN doc_id % 3 = 0 THEN 'iso-8859-1' ELSE 'utf-8' END AS charset
FROM documents
""",
        "sitemap_parse": """
SELECT 'https://www.' || source || '.example.com/docs/' || doc_id AS loc,
  TIMESTAMP '2026-01-02 03:04:05' AS lastmod,
  'daily' AS changefreq, 0.5 AS priority,
  'https://sitemap/' || doc_id AS origin_sitemap_url
FROM documents
UNION ALL
SELECT 'https://www.' || source || '.example.com/alt/' || doc_id AS loc,
  CAST(NULL AS TIMESTAMP) AS lastmod, CAST(NULL AS VARCHAR) AS changefreq,
  CAST(NULL AS DOUBLE) AS priority,
  'https://sitemap/' || doc_id AS origin_sitemap_url
FROM documents
UNION ALL
SELECT 'https://www.' || source || '.example.com/q?id=' || doc_id
    || '&page=2&tag="x"' AS loc,
  CAST(NULL AS TIMESTAMP) AS lastmod, CAST(NULL AS VARCHAR) AS changefreq,
  0.9 AS priority,
  'https://sitemap/' || doc_id AS origin_sitemap_url
FROM documents
""",
        "session_pool": """
WITH per AS (
  SELECT CAST(event_id % 16 AS INT) AS slot,
    count(*) AS uses,
    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS bad,
    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ret,
    sum(CASE WHEN event_type NOT IN ('error', 'purchase') THEN 1 ELSE 0 END) AS good
  FROM events GROUP BY 1
),
pool AS (SELECT unnest(range(0, 16)) AS slot)
SELECT 'session_r0_' || pool.slot AS session_id,
  CAST(coalesce(uses, 0) AS BIGINT) AS usage_count,
  CAST(floor(greatest(0.0, coalesce(bad, 0) + coalesce(ret, 0) * 3.0 - coalesce(good, 0) * 0.5) * 2) AS BIGINT) AS error_score_x2,
  coalesce(ret, 0) > 0 AS retired
FROM pool LEFT JOIN per ON pool.slot = per.slot
""",
        "json_context": """
SELECT CAST(CAST(json_extract(props, '$.k') AS INT) % 10 AS BIGINT) AS k_bucket,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS k_sum
FROM events GROUP BY 1
""",
        "social_handles": """
SELECT doc_id,
  'a' || doc_id || '@ex' || (doc_id % 7) || '.com' AS email,
  '1(413)555-00' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS phone,
  'https://www.linkedin.com/in/user-' || doc_id || '/' AS linkedin,
  'https://twitter.com/u_' || doc_id AS twitter
FROM documents
""",
        "blocked_probe": """
SELECT doc_id,
  CAST(doc_id % 7 AS INT) IN (0, 1, 2) AS is_blocked,
  CASE CAST(doc_id % 7 AS INT)
    WHEN 0 THEN '#turnstile-wrapper iframe[src^="https://challenges.cloudflare.com"]'
    WHEN 1 THEN 'div#infoDiv0 a[href*="//www.google.com/policies/terms/"]'
    WHEN 2 THEN 'iframe[src*="_Incapsula_Resource"]'
  END AS matched_selector
FROM documents
""",
        "dedup_exact": f"""
WITH {_neardup_sql(False).strip()}
SELECT md5(text) AS content_hash, CAST(min(doc_id) AS BIGINT) AS survivor_id,
  CAST(count(*) AS BIGINT) AS dup_count
FROM corpus GROUP BY md5(text)
""",
        "dedup_ngram_jaccard": f"""
WITH {_neardup_sql(True).strip()},
{_SHINGLE_SQL.strip()}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter_cnt,
  CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS BIGINT) AS union_cnt
FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s)) * 100 >= 80 * (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
  AND len(list_intersect(a.s, b.s)) > 0
""",
        "dedup_minhash_lsh": minhash_sql,
        "incremental_dedup": incremental_sql,
        "recrawl_refresh": recrawl_sql,
        "dedup_simhash": simhash_sql,
        "text_quality": f"""
WITH t AS (
  SELECT doc_id,
    CASE WHEN trim(text) = '' THEN [] ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks,
    text
  FROM documents
),
feat AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CAST(len(regexp_extract_all(text, '{bpe}')) AS BIGINT) AS bpe_tokens,
    CAST(len(regexp_extract_all(text, '{punct}')) AS BIGINT) AS punct_cnt,
    CAST(len(list_filter(toks, x -> lower(x) IN ({stop}))) AS BIGINT) AS stopword_cnt,
    CASE WHEN len(toks) > 0
      THEN CAST(floor(list_reduce(list_concat([0], list_transform(toks, x -> len(x))), (a, b) -> a + b) * 1000 / len(toks)) AS BIGINT)
      ELSE 0 END AS mean_token_len_e3,
    CAST(list_reduce(list_concat([CAST(0 AS BIGINT)],
        list_transform(toks, x -> CAST(ascii(substr(x, 1, 1)) * 65536 + len(x) AS BIGINT))),
        (a, b) -> (a * 1000003 + b) % 2147483647) AS BIGINT) AS fingerprint,
    {_lang_hits_sql()}
  FROM t
)
SELECT doc_id, n_tokens, bpe_tokens, punct_cnt, stopword_cnt, mean_token_len_e3,
  CAST(floor(least(n_tokens, 200) * 40 / 200)
     + floor(least(CASE WHEN n_tokens > 0 THEN floor(stopword_cnt * 100 / n_tokens) ELSE 0 END, 10) * 30 / 10)
     + CASE WHEN mean_token_len_e3 BETWEEN 3000 AND 10000 THEN 30 ELSE 0 END AS BIGINT) AS quality,
  fingerprint,
  CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
       WHEN h_de = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'de'
       WHEN h_en = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
       WHEN h_es = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
       WHEN h_fr = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
       ELSE 'zh' END AS lang_pred
FROM feat
""",
        "corpus_curation": f"""
WITH surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
t AS (
  SELECT d.doc_id, d.source,
    CASE WHEN trim(d.text) = '' THEN [] ELSE regexp_split_to_array(trim(d.text), '\\s+') END AS toks
  FROM documents d JOIN surv ON surv.doc_id = d.doc_id
),
feat AS (
  SELECT doc_id, source,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CAST(len(list_filter(toks, x -> lower(x) IN ({stop}))) AS BIGINT) AS stopword_cnt,
    CASE WHEN len(toks) > 0
      THEN CAST(floor(list_reduce(list_concat([0], list_transform(toks, x -> len(x))), (a, b) -> a + b) * 1000 / len(toks)) AS BIGINT)
      ELSE 0 END AS mean_token_len_e3,
    {_lang_hits_sql()}
  FROM t
),
scored AS (
  SELECT doc_id, source,
    CAST(floor(least(n_tokens, 200) * 40 / 200)
       + floor(least(CASE WHEN n_tokens > 0 THEN floor(stopword_cnt * 100 / n_tokens) ELSE 0 END, 10) * 30 / 10)
       + CASE WHEN mean_token_len_e3 BETWEEN 3000 AND 10000 THEN 30 ELSE 0 END AS BIGINT) AS quality,
    CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
         WHEN h_de = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'de'
         WHEN h_en = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
         WHEN h_es = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
         WHEN h_fr = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
         ELSE 'zh' END AS lang_pred
  FROM feat
)
SELECT source, lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(quality) AS BIGINT) AS sum_quality
FROM scored WHERE quality >= 40 GROUP BY source, lang_pred
""",
        "multimodal_decode": decode_sql,
        "crawl_quality_rollup": f"""
WITH ext AS (
  SELECT doc_id, source,
    'Doc ' || doc_id || chr(10) || trim(regexp_replace(text, '\\s+', ' ', 'g')) AS et
  FROM documents
),
t AS (
  SELECT source,
    CASE WHEN trim(et) = '' THEN [] ELSE regexp_split_to_array(trim(et), '\\s+') END AS toks,
    et
  FROM ext
),
feat AS (
  SELECT source,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CAST(len(regexp_extract_all(et, '{bpe}')) AS BIGINT) AS bpe_tokens,
    CAST(len(list_filter(toks, x -> lower(x) IN ({stop}))) AS BIGINT) AS stopword_cnt,
    CASE WHEN len(toks) > 0
      THEN CAST(floor(list_reduce(list_concat([0], list_transform(toks, x -> len(x))), (a, b) -> a + b) * 1000 / len(toks)) AS BIGINT)
      ELSE 0 END AS mean_token_len_e3,
    {_lang_hits_sql()}
  FROM t
),
scored AS (
  SELECT source, bpe_tokens,
    CAST(floor(least(n_tokens, 200) * 40 / 200)
       + floor(least(CASE WHEN n_tokens > 0 THEN floor(stopword_cnt * 100 / n_tokens) ELSE 0 END, 10) * 30 / 10)
       + CASE WHEN mean_token_len_e3 BETWEEN 3000 AND 10000 THEN 30 ELSE 0 END AS BIGINT) AS quality,
    CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
         WHEN h_de = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'de'
         WHEN h_en = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
         WHEN h_es = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
         WHEN h_fr = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
         ELSE 'zh' END AS lang_pred
  FROM feat
)
SELECT source, lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(quality) AS BIGINT) AS sum_quality,
  CAST(sum(bpe_tokens) AS BIGINT) AS sum_bpe_tokens
FROM scored GROUP BY source, lang_pred
""",
        "ann_cosine_topk": ann_sql,
        # requantize from the raw floats: identical IEEE double ops
        # (abs-max, 127/amax, x·s, floor) then pure-integer dot + rank
        "ann_quantized_topk": f"""
WITH qz AS (
  SELECT vec_id, embedding,
    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax
  FROM embeddings
),
qv AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(floor(x::DOUBLE *
      (CASE WHEN amax > 0 THEN 127.0 / amax ELSE 0.0 END)) AS BIGINT)) AS q
  FROM qz
),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id,
    list_reduce(list_transform(range(1, len(a.q) + 1), i -> a.q[i] * b.q[i]),
                (x, y) -> x + y) AS qdot
  FROM qv a, qv b WHERE a.vec_id < 8
),
ranked AS (
  SELECT query_id, vec_id, qdot,
    row_number() OVER (PARTITION BY query_id ORDER BY qdot DESC, vec_id ASC) AS rk
  FROM scored
)
SELECT query_id, vec_id, CAST(rk AS BIGINT) AS rank, CAST(qdot AS BIGINT) AS qdot
FROM ranked WHERE rk <= 5
""",
        "ann_lsh_topk": lsh_ann_sql,
        "ann_ivf_topk": ivf_sql,
        "ann_ivf_index": ivf_sql,  # identical result by construction
        "embedding_neardup": neardup_sql,
        "multimodal_meta": """
WITH m AS (
  SELECT doc_id,
    CASE WHEN doc_id % 5 = 0 THEN from_hex('89504E470D0A1A0A') || encode(text)
         ELSE encode(text) END AS content
  FROM documents
)
SELECT doc_id, CAST(octet_length(content) AS BIGINT) AS byte_size,
  CASE WHEN doc_id % 5 = 0 THEN 'png' ELSE 'unknown' END AS format,
  md5(hex(content)) AS content_md5
FROM m
""",
        "agg_pricing_summary": """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
         * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_e4,
  CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
        "join_topn_customers": """
WITH rev AS (
  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
  FROM orders GROUP BY o_custkey
)
SELECT c_custkey, c_name, revenue_cents
FROM rev JOIN customer ON o_custkey = c_custkey
ORDER BY revenue_cents DESC, c_custkey ASC
LIMIT 10
""",
        "anti_join_inactive": """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
        "window_segment_head": """
WITH ranked AS (
  SELECT c_mktsegment, c_custkey,
    CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS rank,
    CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
  FROM customer
)
SELECT c_mktsegment, c_custkey, rank, acctbal_cents FROM ranked WHERE rank <= 3
""",
        "events_sessionize": """
WITH flagged AS (
  SELECT user_id,
    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, CAST(sum(is_new) AS BIGINT) AS n_sessions
FROM flagged GROUP BY user_id
""",
        "global_rank": """
SELECT doc_id,
  md5(CAST(doc_id AS VARCHAR)) AS sort_key,
  CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))) AS BIGINT) AS rank
FROM documents
""",
        # constructive oracle: the SQL side builds (name, value) directly from
        # the same deterministic recipe instead of re-parsing the Set-Cookie
        # header text (the Spark side exercises the real parse kernel,
        # attributes like Path/HttpOnly stripped)
        "session_cookies": """
WITH raw AS (
  SELECT user_id % 16 AS session_id, event_id AS ord,
    'c' || CAST(event_id % 5 AS VARCHAR) AS name,
    'v' || CAST(event_id % 7 AS VARCHAR) AS value
  FROM events
),
latest AS (
  SELECT session_id, name, value FROM (
    SELECT *, row_number() OVER (PARTITION BY session_id, name ORDER BY ord DESC) AS rn
    FROM raw
  ) WHERE rn = 1
)
SELECT session_id,
  string_agg(name || '=' || value, '; ' ORDER BY name || '=' || value) AS cookie_header,
  CAST(count(*) AS BIGINT) AS n_cookies
FROM latest GROUP BY session_id
""",
        # constructive: DuckDB cannot gunzip, so the expected parse output is
        # rebuilt from the same deterministic recipe the Spark side compresses
        "sitemap_gz": """
SELECT
  'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR) AS loc,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 0.5 ELSE 1.0 END AS DOUBLE) AS priority,
  'https://' || source || '.example.com/sitemap_' || CAST(doc_id AS VARCHAR) || '.xml.gz'
    AS origin_sitemap_url
FROM documents
""",
        # Router dispatch (C13): DuckDB recomputes the label routing and the
        # deterministic handler bodies (upper-case title; whitespace token
        # count matching pandas str.split())
        "request_handlers": r"""
SELECT 'r' || doc_id AS request_id,
  CASE WHEN doc_id % 3 = 0 THEN 'D'
       WHEN doc_id % 3 = 1 THEN 'L'
       ELSE 'default' END AS kind,
  CASE WHEN doc_id % 3 = 0
       THEN upper('https://www.' || source || '.example.com/h/' || doc_id) END AS title,
  CASE WHEN doc_id % 3 IN (0, 1) THEN
    CAST(CASE WHEN trim(text) = '' THEN 0
         ELSE array_length(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
  END AS n_words
FROM documents
""",
        # constructive: regenerate the handler's page urls from the same row
        # data; the cross-host emission is NEVER generated here, so a
        # same-hostname gate leak on the Spark side hash-mismatches, and the
        # label CASE mirrors per-row-override-wins-over-route-fallback
        "handler_enqueue": f"""
WITH lst AS (
  SELECT doc_id,
    'https://www.' || source || '.example.com/list' AS url,
    CAST(doc_id % 4 AS INT) AS k,
    CASE WHEN doc_id % 2 = 1 THEN 'detail' ELSE 'fallback' END AS label
  FROM documents WHERE doc_id % 3 = 1
),
em AS (
  SELECT doc_id, label, url || '?page=' || CAST(p AS VARCHAR) AS unique_key
  FROM lst, (VALUES (2),(3),(4)) t(p)
  WHERE p < 2 + k
)
SELECT unique_key, {_RID_SQL.format(k='unique_key')} AS request_id, label,
  CAST(count(*) AS BIGINT) AS n_emitters,
  CAST(min(doc_id) AS BIGINT) AS first_doc
FROM em GROUP BY unique_key, label
""",
        # first-arrival rank recomputed with a window; same url list indexed
        # 1-based — a rotation-offset or rank drift hash-mismatches
        "proxy_rotation": """
WITH s AS (
  SELECT source || '#' || CAST(doc_id % 40 AS VARCHAR) AS session_id,
         min(doc_id) AS f
  FROM documents GROUP BY 1
),
r AS (SELECT session_id, row_number() OVER (ORDER BY f) AS rk FROM s)
SELECT session_id,
  ['http://p0.proxy','http://p1.proxy','http://p2.proxy'][CAST((rk - 1) % 3 AS INT) + 1]
    AS proxy_url
FROM r
""",
        # closed form of the tracker replay: tier 0 until the retry at
        # a+1 (a = 1 + length(source)%4) charges +10 and escalates to tier 1;
        # decay returns the domain to tier 0 exactly at a+11; the per-domain
        # draw counter (pos-1) indexes the tier's url list
        "proxy_tiers": """
WITH dom AS (SELECT DISTINCT source FROM documents),
att AS (
  SELECT source AS domain, g.pos, 1 + length(source) % 4 AS a
  FROM dom, generate_series(1, 30) AS g(pos)
),
t AS (
  SELECT domain, pos,
    CASE WHEN pos <= a THEN 0 WHEN pos <= a + 10 THEN 1 ELSE 0 END AS proxy_tier
  FROM att
)
SELECT domain,
  domain || '-' || CAST(pos AS VARCHAR) AS request_id,
  CAST(pos AS BIGINT) AS pos,
  CAST(proxy_tier AS INT) AS proxy_tier,
  CASE WHEN proxy_tier = 0
    THEN ['http://t0a.proxy','http://t0b.proxy'][CAST((pos - 1) % 2 AS INT) + 1]
    ELSE ['http://t1a.proxy','http://t1b.proxy','http://t1c.proxy'][CAST((pos - 1) % 3 AS INT) + 1]
  END AS proxy_url
FROM t
""",
        # closed form of the word-streak merge: each family folds into one
        # placeholder pattern (variants differ in exactly one word, 1/4 and
        # 1/5 placeholder ratios pass the <50% cap), families never
        # cross-merge (disjoint vocab)
        "error_groups": """
SELECT 'Expected boolean, got _' AS error_group,
       CAST(count(*) AS BIGINT) AS occurrences,
       CAST(count(DISTINCT doc_id % 7) AS BIGINT) AS n_messages,
       CAST(1 AS BIGINT) AS first_round
FROM documents WHERE doc_id % 2 = 0
UNION ALL
SELECT 'Timeout after _ seconds elapsed' AS error_group,
       CAST(count(*) AS BIGINT) AS occurrences,
       CAST(count(DISTINCT doc_id % 7) AS BIGINT) AS n_messages,
       CAST(1 AS BIGINT) AS first_round
FROM documents WHERE doc_id % 2 = 1
""",
        # full from-scratch recompute: list lambdas for the line/word
        # signals, gram unnest + max-count join for the n-gram signals;
        # integer // division mirrors the exact pmod-floor fixed-point
        "gopher_quality": r"""
WITH t AS (
  SELECT doc_id, text,
    CASE WHEN trim(text) = '' THEN []
         ELSE regexp_split_to_array(trim(text), '\s+') END AS w,
    string_split(text, chr(10)) AS lines
  FROM documents
),
flat AS (
  SELECT doc_id,
    CAST(len(w) AS BIGINT) AS n_words,
    CAST(len(lines) AS BIGINT) AS n_lines,
    CAST(coalesce(list_sum(list_transform(lines, l -> length(l))), 0) AS BIGINT) AS total_lc,
    CAST(coalesce(list_sum(list_transform(list_distinct(lines), l -> length(l))), 0) AS BIGINT) AS dist_lc,
    CAST(len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) AS BIGINT) AS ell,
    CAST(len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[-*•]'))) AS BIGINT) AS bul,
    CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha,
    CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS BIGINT) AS sym
  FROM t
),
ns AS (SELECT unnest([2, 3, 5, 10]) AS n),
idx AS (
  SELECT doc_id, n, w, unnest(range(0, greatest(len(w) - n + 1, 0))) AS i
  FROM t, ns
),
g AS (SELECT doc_id, n, array_to_string(w[i + 1 : i + n], ' ') AS gram FROM idx),
c AS (SELECT doc_id, n, gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY ALL),
m AS (SELECT doc_id, n, max(cnt) AS mc FROM c GROUP BY ALL),
topg AS (
  SELECT c.doc_id, c.n, max(c.gram) AS tg, any_value(m.mc) AS mc
  FROM c JOIN m ON c.doc_id = m.doc_id AND c.n = m.n AND c.cnt = m.mc
  GROUP BY c.doc_id, c.n
),
agg AS (
  SELECT doc_id, n,
    CAST(sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS BIGINT) AS dup_chars,
    CAST(sum(cnt * length(gram)) AS BIGINT) AS tot_chars
  FROM c GROUP BY ALL
),
pern AS (
  SELECT agg.doc_id, agg.n, topg.mc * length(topg.tg) AS top_chars,
         agg.dup_chars, agg.tot_chars
  FROM agg JOIN topg ON agg.doc_id = topg.doc_id AND agg.n = topg.n
),
gsig AS (
  SELECT doc_id,
    max(CASE WHEN n = 2 THEN top_chars * 1000000 // tot_chars END) AS t2,
    max(CASE WHEN n = 3 THEN top_chars * 1000000 // tot_chars END) AS t3,
    max(CASE WHEN n = 5 THEN dup_chars * 1000000 // tot_chars END) AS d5,
    max(CASE WHEN n = 10 THEN dup_chars * 1000000 // tot_chars END) AS d10
  FROM pern GROUP BY doc_id
)
SELECT f.doc_id, f.n_words, f.n_lines,
  CASE WHEN total_lc > 0 THEN (total_lc - dist_lc) * 1000000 // total_lc ELSE 0 END AS dup_line_char_frac_e6,
  CASE WHEN n_lines > 0 THEN ell * 1000000 // n_lines ELSE 0 END AS ellipsis_line_frac_e6,
  CASE WHEN n_lines > 0 THEN bul * 1000000 // n_lines ELSE 0 END AS bullet_line_frac_e6,
  CASE WHEN n_words > 0 THEN alpha * 1000000 // n_words ELSE 0 END AS alpha_word_frac_e6,
  CASE WHEN n_words > 0 THEN sym * 1000000 // n_words ELSE 0 END AS symbol_word_ratio_e6,
  coalesce(g.t2, 0) AS top2_char_frac_e6,
  coalesce(g.t3, 0) AS top3_char_frac_e6,
  coalesce(g.d5, 0) AS dup5_char_frac_e6,
  coalesce(g.d10, 0) AS dup10_char_frac_e6
FROM flat f LEFT JOIN gsig g ON f.doc_id = g.doc_id
""",
        # salted md5 buckets recomputed via hex-string cast; thresholds
        # 98/99 mirror the insertion-order cumulative CASE
        "corpus_split": """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  CASE
    WHEN CAST(('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 98 THEN 'train'
    WHEN CAST(('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 99 THEN 'val'
    ELSE 'test'
  END AS split,
  CAST(CAST(('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS INT) AS shard
FROM documents
""",
        # exclusive prefix restated with a ROWS window (fine in DuckDB — the
        # single-task constraint is a Spark executor concern, not the
        # oracle's); integer // mirrors the exact pmod-floor division
        "pack_sequences": r"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
    CAST(CASE WHEN trim(text) = '' THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
  FROM documents
),
p AS (
  SELECT doc_id, n_tokens,
    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
  FROM t
)
SELECT doc_id, n_tokens, start_tok,
  start_tok // 2048 AS window_id,
  start_tok % 2048 AS offset_in_window,
  (start_tok + greatest(n_tokens, 1) - 1) // 2048 AS end_window_id
FROM p
""",
        # constructive: the corpus text is digit-free after the strip (and
        # carries no '@'), so the appended PII instances are the only
        # possible matches — the expected redaction is a closed form
        "pii_redaction": """
SELECT doc_id,
  regexp_replace(text, '[0-9]', '', 'g')
    || ' contact [EMAIL] or [PHONE] ip [IP] card [CC] end' AS redacted,
  CAST(1 AS BIGINT) AS n_emails, CAST(1 AS BIGINT) AS n_ips,
  CAST(1 AS BIGINT) AS n_cards, CAST(1 AS BIGINT) AS n_phones
FROM documents
""",
        "ngram_vocab": r"""
WITH t AS (
  SELECT CASE WHEN trim(text) = '' THEN []
         ELSE regexp_split_to_array(trim(text), '\s+') END AS w
  FROM documents
),
idx AS (
  SELECT w, unnest(range(0, greatest(len(w) - 1, 0))) AS i FROM t
),
g AS (SELECT w[i + 1] || ' ' || w[i + 2] AS ngram FROM idx)
SELECT ngram, CAST(count(*) AS BIGINT) AS cnt
FROM g GROUP BY ngram
ORDER BY cnt DESC, ngram LIMIT 100
""",
        "dedup_repeated_spans": r"""
WITH src AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0
      THEN text || ' copyright example corp all rights reserved contact support team'
      ELSE text END AS text
  FROM documents
),
t AS (
  SELECT doc_id, CASE WHEN trim(text) = '' THEN []
         ELSE regexp_split_to_array(trim(text), '\s+') END AS w
  FROM src
),
idx AS (
  SELECT doc_id, w, unnest(range(0, greatest(len(w) - 7, 0))) AS i FROM t
),
s AS (
  SELECT doc_id, md5(array_to_string(w[i + 1 : i + 8], ' ')) AS span_hash FROM idx
)
SELECT span_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(count(*) AS BIGINT) AS n_occurrences,
  CAST(min(doc_id) AS BIGINT) AS first_doc_id
FROM s GROUP BY span_hash HAVING count(DISTINCT doc_id) >= 2
""",
        "benchmark_contamination": r"""
WITH t AS (
  SELECT doc_id, CASE WHEN trim(text) = '' THEN []
         ELSE regexp_split_to_array(trim(text), '\s+') END AS w
  FROM documents
),
bench AS (
  SELECT doc_id AS bench_id, w[4:15] AS bw FROM t
  WHERE doc_id % 10 = 0 AND len(w) >= 4
),
bidx AS (SELECT bench_id, bw, unnest(range(0, greatest(len(bw) - 7, 0))) AS i FROM bench),
bspan AS (
  SELECT DISTINCT bench_id, md5(array_to_string(bw[i + 1 : i + 8], ' ')) AS span_hash
  FROM bidx
),
didx AS (SELECT doc_id, w, unnest(range(0, greatest(len(w) - 7, 0))) AS i FROM t),
dspan AS (SELECT doc_id, md5(array_to_string(w[i + 1 : i + 8], ' ')) AS span_hash FROM didx)
SELECT d.doc_id, CAST(count(DISTINCT d.span_hash) AS BIGINT) AS contaminated_spans,
  CAST(count(DISTINCT b.bench_id) AS BIGINT) AS bench_docs_hit
FROM dspan d JOIN bspan b USING (span_hash)
GROUP BY d.doc_id
""",
        # connected components as a recursive transitive closure: node ->
        # every reachable node, then min(reachable) = the cluster id
        "dup_clusters": """
WITH RECURSIVE e0 AS (
  SELECT doc_id AS a, doc_id + 1 AS b FROM documents WHERE doc_id % 5 < 2
  UNION ALL
  SELECT doc_id AS a, doc_id + 10 AS b FROM documents WHERE doc_id % 20 = 3
),
und AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
reach(src, dst) AS (
  SELECT a AS src, a AS dst FROM und
  UNION
  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a
)
SELECT CAST(src AS BIGINT) AS doc_id, CAST(min(dst) AS BIGINT) AS cluster_id
FROM reach GROUP BY src
""",
        # count^alpha quantized to fixed-point BEFORE the cross-domain sum:
        # the normalizer is an exact integer sum (associative, no
        # float-order contract); round(sqrt(n)*1e6) is bit-identical in
        # both engines (sqrt and *1e6 are correctly-rounded IEEE)
        "domain_mixture": """
WITH counts AS (
  SELECT source AS domain, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
scored AS (
  SELECT domain, n_docs,
    CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS raw_e6
  FROM counts
),
tot AS (SELECT CAST(sum(raw_e6) AS BIGINT) AS t FROM scored)
SELECT domain, n_docs, CAST((raw_e6 * 1000000) // t AS BIGINT) AS weight_e6
FROM scored, tot
""",
    }
