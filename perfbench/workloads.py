"""The three closed-loop workloads: ``crawl``, ``churn`` and ``corpus``.

Each workload generates its inputs from the seed, sets up and warms the
program, then runs closed-loop steps (one driver; the next step starts only
after the previous one committed) until ``seconds`` of step time have been
measured. Steps are ``CrawlEngine.run_round`` calls (crawl), enqueue + claim
cycles against ``FrontierStore`` (churn) and passes over a list of
``__spark_entry__.queries()`` (corpus). Outputs are checked after the timed
steps; the checks feed ``failed``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import functions as F

from crawlee_spark.functions.html_text import html_to_text_py
from crawlee_spark.functions.keying import keying_udf
from crawlee_spark.operators.engine import CrawlEngine, CrawlOptions
from crawlee_spark.operators.enqueue import EnqueueOptions
from crawlee_spark.operators.frontier import FRONTIER_SCHEMA, STATE_BEFORE_NAV, FrontierStore
from crawlee_spark.operators.scheduler import PolitenessPolicy, claim_round
from perfbench import gen
from perfbench.spans import Tracer

AFTER = -2  # tracer iteration of a once-per-run call made after the timed steps

# Sizes: see the size sweep in README.md (sweep.py); a run (JVM start,
# warm-up, two steps, checks) stays near one minute on 4 cores.
CRAWL = gen.CrawlShape()
CRAWL_POLICY = PolitenessPolicy(max_concurrency=1000, per_host_cap=25)
# two deltas per round (leases, then results + fresh rows): a compaction
# every second round, so every run (an even number of rounds) compacts
CRAWL_COMPACT_EVERY = 4
CHURN = gen.ChurnShape()
CHURN_POLICY = PolitenessPolicy(max_concurrency=5000, per_host_cap=50)
# two deltas per cycle (fresh rows, then leases): a compaction every cycle
CHURN_COMPACT_EVERY = 2
CORPUS = gen.CorpusShape()
# (rows, hash) of each corpus query's output per seed, for the committed shape
CORPUS_DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus_digests.json")
# query name in __spark_entry__.queries() -> span name
CORPUS_QUERIES = {
    "extract_text": "html_text.extract_text",
    "extract_links": "html_text.extract_links",
    "dedup_exact": "dedup.exact",
    "dedup_minhash_lsh": "dedup.minhash_lsh",
    "text_quality": "text_analysis.text_quality",
    "corpus_curation": "curation.corpus_curation",
    "ann_cosine_topk": "similarity.ann_cosine_topk",
}


@dataclass
class Result:
    workload: str
    setup_s: float  # input generation, program set-up and warm-up
    steps: list[float]  # wall time of each timed closed-loop step
    items: int  # pages handled / candidate urls / documents passed
    busy_s: float  # time the items took
    attempted: int
    failed: int
    named: dict = field(default_factory=dict)  # name -> (value, unit), workload-specific
    layers: dict = field(default_factory=dict)  # per-layer values the workload computes itself


class TracedStore(FrontierStore):
    """``FrontierStore`` whose public calls open spans; ``tracer`` is set
    after construction. A ``commit`` made inside ``commit_delta`` is the
    compaction. ``candidates`` is the last frame passed to ``prepare_fresh``."""

    tracer: Tracer
    candidates = None

    def read(self, columns=None):
        with self.tracer.span("frontier.read"):
            return super().read(columns)

    def prepare_fresh(self, candidates, **kw):
        self.candidates = candidates
        with self.tracer.span("frontier.prepare_fresh"):
            return super().prepare_fresh(candidates, **kw)

    def commit_delta(self, changed, **kw):
        with self.tracer.span("frontier.commit_delta"):
            return super().commit_delta(changed, **kw)

    def commit(self, df, **kw):
        name = "frontier.compact" if self.tracer.inside("frontier.commit_delta") else "frontier.commit"
        with self.tracer.span(name):
            return super().commit(df, **kw)


def open_store(spark, tracer: Tracer, root: str, **kw) -> FrontierStore:
    if not tracer.on:
        return FrontierStore(spark, root, **kw)
    store = TracedStore(spark, root, **kw)
    store.tracer = tracer
    return store


def closed_loop(tracer: Tracer, seconds: float, step, period: int = 1) -> tuple[list[float], int]:
    """Run ``step(i)`` (which returns its own timed seconds) until ``seconds``
    are measured and the step count is a multiple of ``period``. Stops at
    the first step that raises; returns (step times, steps that raised)."""
    times: list[float] = []
    failed = 0
    while sum(times) < seconds or len(times) % period:
        tracer.iteration = len(times)
        try:
            times.append(step(len(times)))
        except Exception:
            traceback.print_exc()
            failed = 1
            break
    tracer.iteration = AFTER
    return times, failed


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    )


def _lease(claimed, round_id: int):
    """The claimed rows as the engine's lease delta (lease_until = round)."""
    return (
        claimed.withColumn("lease_until", F.lit(round_id).cast("long"))
        .withColumn("state", F.lit(STATE_BEFORE_NAV))
        .withColumn("round_id", F.lit(round_id))
        .select(*[f.name for f in FRONTIER_SCHEMA.fields])
    )


def _eager_claim(frontier, round_id: int, policy: PolitenessPolicy):
    """``claim_round`` made eager the way ``CrawlEngine.run_round`` does it:
    pinned, then one aggregate. Returns (claimed frame, claimed rows)."""
    claimed = claim_round(frontier, round_id, policy).localCheckpoint(eager=True)
    return claimed, claimed.agg(F.count("*"), F.sum(F.octet_length("url"))).first()[0]


def _keying_pass(tracer: Tracer, urls) -> None:
    """A noop-sink pass of ``keying_udf`` over a candidate batch."""
    with tracer.span("keying.batch"):
        urls.select(keying_udf("url")).write.format("noop").mode("overwrite").save()


def _check(ok: bool, what: str) -> bool:
    if not ok:
        print(f"output check failed: {what}", file=sys.stderr)
    return ok


# ---------------------------------------------------------------------------
# crawl
# ---------------------------------------------------------------------------


def crawl(spark, tracer: Tracer, seed: int, seconds: float, work: str) -> Result:
    t0 = time.perf_counter()
    inputs = gen.crawl_inputs(seed, CRAWL)
    gen.write_parquet(inputs.pages, f"{work}/pages", files=8)
    gen.write_parquet(inputs.robots, f"{work}/robots.parquet")
    gen.write_parquet(pa.table({"url": inputs.seeds}), f"{work}/seeds.parquet")
    store = open_store(spark, tracer, f"{work}/store", compact_every=CRAWL_COMPACT_EVERY)
    engine = CrawlEngine(
        spark,
        store,
        spark.read.parquet(f"{work}/pages"),
        robots=spark.read.parquet(f"{work}/robots.parquet"),
        policy=CRAWL_POLICY,
        options=CrawlOptions(enqueue=EnqueueOptions(strategy="all")),
    )
    engine.add_seeds(spark.read.parquet(f"{work}/seeds.parquet"))  # also the warm-up
    setup_s = time.perf_counter() - t0

    handled0 = store.info()["handledRequestCount"]
    snap0 = store._manifest["snapshot"]
    sums = dict.fromkeys(("claimed", "links_found", "enqueued", "candidates"), 0)

    def step(i: int) -> float:
        t = time.perf_counter()
        with tracer.span("engine.run_round"):
            r = engine.run_round()
        dt = time.perf_counter() - t
        if r["done"]:
            raise RuntimeError("frontier exhausted: the page graph is too small for the run")
        for k in ("claimed", "links_found", "enqueued"):
            sums[k] += r[k]
        if tracer.on:  # untimed: the round's candidates keyed alone, and the
            # claim the next round will make, made eager alone
            urls = store.candidates.select("url").localCheckpoint(eager=True)
            sums["candidates"] += urls.count()
            _keying_pass(tracer, urls)
            with tracer.span("scheduler.claim"):
                _eager_claim(store.read(), store.round + 1, CRAWL_POLICY)
        return dt

    # rounds come in pairs: a round costs more than --seconds on small boxes,
    # one sample per run would leave the median to chance, and every second
    # round compacts
    times, failed = closed_loop(tracer, seconds, step, period=CRAWL_COMPACT_EVERY // 2)
    t = time.perf_counter()
    with tracer.span("stats.final_statistics"):
        stats = engine.final_statistics()
    stats_s = time.perf_counter() - t
    handled = store.info()["handledRequestCount"] - handled0

    # output checks
    n_rows, n_ids = engine.results().agg(F.count("*"), F.countDistinct("request_id")).first()
    outcomes = {
        r["outcome"]: r["n"]
        for r in engine.outcomes().groupBy("outcome").agg(F.count("*").alias("n")).collect()
    }
    html = dict(zip(inputs.pages.column("url").to_pylist(), inputs.pages.column("html").to_pylist()))
    sample = engine.results().orderBy("request_id").limit(25).select("url", "text").collect()
    ok = all(
        [
            _check(n_rows == n_ids, "request_id repeats in results()"),
            _check(store.info() == store.info(exact=True), "manifest counters != info(exact=True)"),
            _check(
                (stats["requestsFinished"], stats["requestsFailed"], stats["requestsRetries"])
                == (outcomes.get("success", 0), outcomes.get("fail", 0), outcomes.get("retry", 0)),
                "final_statistics() totals != outcome-log counts",
            ),
            _check(
                all(r["text"] == html_to_text_py(html[r["url"]].decode()) for r in sample),
                "result text != html_to_text_py of the page",
            ),
            _check(handled > 0, "no page handled"),
            _check(store._manifest["snapshot"] > snap0, "no compaction in the run"),
        ]
    )
    attempted = len(times) + failed
    bytes_per_url = dir_bytes(store.root) / max(store.info()["totalRequestCount"], 1)
    return Result(
        workload="crawl",
        setup_s=setup_s,
        steps=times,
        items=handled,
        busy_s=sum(times) + stats_s,
        attempted=attempted,
        failed=failed if ok else attempted,
        named={
            "pages_per_s": (handled / (sum(times) + stats_s), "pages/s"),
            "round_s_p50": (statistics.median(times) if times else 0.0, "s"),
            "store_bytes_per_url": (bytes_per_url, "B/URL"),
        },
        layers={
            "enqueue.fresh_per_link": (sums["enqueued"] / max(sums["links_found"], 1), "ratio"),
            "frontier.fresh_ratio": (sums["enqueued"] / max(sums["candidates"], 1), "ratio"),
            "scheduler.claimed_rows": (sums["claimed"] / max(len(times), 1), "count"),
            "frontier.store_bytes_per_url": (bytes_per_url, "B/URL"),
        },
    )


# ---------------------------------------------------------------------------
# churn
# ---------------------------------------------------------------------------


def churn(spark, tracer: Tracer, seed: int, seconds: float, work: str) -> Result:
    t0 = time.perf_counter()
    stream = gen.ChurnStream(seed, CHURN)
    gen.write_parquet(stream.preload(), f"{work}/preload", files=8)
    store = open_store(spark, tracer, f"{work}/store", compact_every=CHURN_COMPACT_EVERY)
    store.add_requests(spark.read.parquet(f"{work}/preload"))  # also the warm-up
    setup_s = time.perf_counter() - t0

    snap0 = store._manifest["snapshot"]
    sums = dict.fromkeys(("candidates", "fresh", "claimed", "bad"), 0)

    def step(i: int) -> float:
        batch, n_new = stream.next_batch()
        path = f"{work}/batch{i}"
        gen.write_parquet(batch, path, files=8)
        candidates = spark.read.parquet(path)
        total0 = store.info()["totalRequestCount"]

        t = time.perf_counter()
        fresh = store.prepare_fresh(candidates)
        n_fresh = store.info()["totalRequestCount"] - total0
        store.commit_delta(fresh)
        round_id = store.round + 1
        with tracer.span("scheduler.claim"):
            claimed, n_claimed = _eager_claim(store.read(), round_id, CHURN_POLICY)
        store.commit_delta(_lease(claimed, round_id), round_increment=True)
        dt = time.perf_counter() - t

        per_host = (
            claimed.groupBy(F.coalesce("registrable_domain", "request_id"))
            .count()
            .agg(F.max("count"))
            .first()[0]
        )
        ok = _check(n_fresh == n_new, f"fresh rows {n_fresh} != new urls {n_new}") and _check(
            n_claimed <= CHURN_POLICY.max_concurrency and (per_host or 0) <= CHURN_POLICY.host_budget,
            "claim breaks max_concurrency or per_host_cap",
        )
        if tracer.on:
            _keying_pass(tracer, candidates)
        shutil.rmtree(path)
        sums["candidates"] += batch.num_rows
        sums["fresh"] += n_fresh
        sums["claimed"] += n_claimed
        sums["bad"] += not ok
        return dt

    times, failed = closed_loop(tracer, seconds, step, period=CHURN_COMPACT_EVERY // 2)
    compactions = store._manifest["snapshot"] - snap0
    bad = sums["bad"] + (not _check(compactions >= 1, "no compaction in the run"))
    bytes_per_url = dir_bytes(store.root) / max(store.info()["totalRequestCount"], 1)
    return Result(
        workload="churn",
        setup_s=setup_s,
        steps=times,
        items=sums["candidates"],
        busy_s=sum(times),
        attempted=len(times) + failed,
        failed=min(failed + bad, len(times) + failed),
        named={
            "urls_per_s": (sums["candidates"] / max(sum(times), 1e-9), "URLs/s"),
            "cycle_s_p50": (statistics.median(times) if times else 0.0, "s"),
            "store_bytes_per_url": (bytes_per_url, "B/URL"),
        },
        layers={
            "frontier.fresh_ratio": (sums["fresh"] / max(sums["candidates"], 1), "ratio"),
            "scheduler.claimed_rows": (sums["claimed"] / max(len(times), 1), "count"),
            "frontier.store_bytes_per_url": (bytes_per_url, "B/URL"),
        },
    )


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------


def digest(df) -> tuple[int, int]:
    """(row count, order-independent content hash) of a query's output."""
    row = df.agg(
        F.count("*"), F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(1_000_000_007)))
    ).first()
    return int(row[0]), int(row[1] or 0)


def write_corpus(seed: int, data: str) -> gen.CorpusInputs:
    """Generate the seed's corpus inputs as ``documents``/``embeddings``
    parquet under ``data`` (the sf-dir layout the queries read)."""
    inputs = gen.corpus_inputs(seed, CORPUS)
    os.makedirs(data, exist_ok=True)
    gen.write_parquet(inputs.documents, f"{data}/documents.parquet")
    gen.write_parquet(inputs.embeddings, f"{data}/embeddings.parquet")
    return inputs


def corpus_digests(spark, data: str) -> dict[str, tuple[int, int]]:
    import __spark_entry__ as entry

    queries = entry.queries()
    return {q: digest(queries[q](spark, data)) for q in CORPUS_QUERIES}


def expected_digests(seed: int) -> dict[str, tuple[int, int]]:
    """The committed digests of ``seed`` at the committed corpus shape;
    empty for other seeds and shapes."""
    with open(CORPUS_DIGESTS) as f:
        known = json.load(f)
    if known["shape"] != repr(CORPUS):
        return {}
    return {q: tuple(d) for q, d in known["seeds"].get(str(seed), {}).items()}


def corpus(spark, tracer: Tracer, seed: int, seconds: float, work: str) -> Result:
    import __spark_entry__ as entry

    t0 = time.perf_counter()
    data = f"{work}/corpus"
    inputs = write_corpus(seed, data)
    queries = entry.queries()
    # the warm-up pass is also the output check
    digests = corpus_digests(spark, data)
    setup_s = time.perf_counter() - t0
    expected_rows = {
        "extract_text": CORPUS.docs,
        "extract_links": 2 * CORPUS.docs,
        "dedup_exact": inputs.distinct_texts,
        "text_quality": CORPUS.docs,
        "ann_cosine_topk": 8 * 5,  # 8 query vectors, k = 5
    }
    expected = expected_digests(seed)
    wrong = [
        q
        for q, (rows, h) in digests.items()
        if not _check(rows == expected_rows.get(q, rows) and rows > 0, f"{q}: {rows} rows")
        or not _check(expected.get(q, (rows, h)) == (rows, h), f"{q}: digest {(rows, h)} != {expected.get(q)}")
    ]

    def step(i: int) -> float:
        t = time.perf_counter()
        for q, span in CORPUS_QUERIES.items():
            with tracer.span(span):
                queries[q](spark, data).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    # passes come in pairs, so a run whose first pass outlasts --seconds
    # still reports the median of two
    times, failed = closed_loop(tracer, seconds, step, period=2)
    n_q = len(CORPUS_QUERIES)
    attempted = (len(times) + failed) * n_q
    return Result(
        workload="corpus",
        setup_s=setup_s,
        steps=times,
        items=CORPUS.docs * len(times),
        busy_s=sum(times),
        attempted=attempted,
        failed=min(failed + len(wrong) * len(times), attempted),
        named={
            "pass_s": (statistics.median(times) if times else 0.0, "s"),
            "digests": (digests, "rows,hash per query"),
        },
    )


WORKLOADS = {"crawl": crawl, "churn": churn, "corpus": corpus}
