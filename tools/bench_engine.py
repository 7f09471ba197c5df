"""End-to-end crawl-loop throughput: full rounds over a synthetic page graph.

Measures the REAL per-round cycle (claim → fetch-join → extract UDFs → gate
→ enqueue → outcome merge → commit) rather than the enqueue/claim microbench
in bench.py.

    python tools/bench_engine.py [--pages 50000] [--rounds 3] [--cpus 16]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F


def make_pages(spark, n: int):
    """Page graph: ~1000 hosts, each page links to 2 same-host neighbors."""
    host = F.concat(F.lit("h.ex"), (F.col("id") % 1000).cast("string"), F.lit(".org"))
    url = F.concat(F.lit("https://"), host, F.lit("/p"), F.col("id").cast("string"))
    nxt = (F.col("id") + 1000) % n  # same host (id % 1000 preserved)
    nxt2 = (F.col("id") + 2000) % n
    html = F.concat(
        F.lit("<html><body><h1>Page "), F.col("id").cast("string"),
        F.lit('</h1><p>deterministic body text for page '), F.col("id").cast("string"),
        F.lit(' with several words</p><a href="/p'), nxt.cast("string"),
        F.lit('">n1</a><a href="/p'), nxt2.cast("string"), F.lit('">n2</a></body></html>'),
    )
    return spark.range(n).select(url.alias("url"), F.encode(html, "UTF-8").alias("html"))


def run(
    pages_n: int, rounds: int, cpus: int, concurrency: int = 2_000, with_handler: bool = False
) -> dict:
    from crawlee_spark.operators.engine import CrawlEngine, CrawlOptions
    from crawlee_spark.operators.enqueue import EnqueueOptions
    from crawlee_spark.operators.frontier import FrontierStore
    from crawlee_spark.operators.scheduler import PolitenessPolicy
    from crawlee_spark.session import get_spark

    spark = get_spark("bench-engine", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="bench-engine-", dir=os.environ.get("SPARK_GRAFT_LOCAL_DIR"))
    store = FrontierStore(spark, root, num_partitions=32, compact_every=16)
    pages = make_pages(spark, pages_n)
    pages_dir = os.path.join(root, "pages")
    pages.write.parquet(pages_dir)  # fixed source table, like a WARC store
    handlers = None
    if with_handler:
        # measure the user-hook stage's cost: a real (but cheap) pandas
        # handler on the default route — Arrow round-trip + dispatch join +
        # the second checkpoint, i.e. everything the hook machinery adds
        from pyspark.sql import types as T

        from crawlee_spark.operators.handlers import RequestHandler

        def wc(pdf):
            import pandas as pd

            return pd.DataFrame(
                {"n_words": pdf["extracted_text"].fillna("").str.split().str.len()}
            )

        handlers = {
            None: RequestHandler(wc, T.StructType([T.StructField("n_words", T.LongType())]))
        }
    engine = CrawlEngine(
        spark,
        store,
        spark.read.parquet(pages_dir),
        # small claim vs large frontier: each round touches ~2k of pages_n rows
        policy=PolitenessPolicy(max_concurrency=concurrency, per_host_cap=max(2, concurrency // 1000)),
        options=CrawlOptions(
            enqueue=EnqueueOptions(strategy="same-hostname"), max_rounds=rounds,
            handlers=handlers,
        ),
    )
    seeds = spark.range(pages_n).select(
        F.concat(
            F.lit("https://h.ex"), (F.col("id") % 1000).cast("string"), F.lit(".org/p"),
            F.col("id").cast("string"),
        ).alias("url")
    )
    engine.add_seeds(seeds)  # full frontier up front: rounds churn the whole set
    t0 = time.time()
    per_round = []
    handled = 0
    for _ in range(rounds):
        r0 = time.time()
        m = engine.run_round()
        per_round.append(round(time.time() - r0, 2))
        handled += m.get("claimed", 0)
        if m.get("done"):
            break
    wall = time.time() - t0
    spark.stop()
    return {
        "pages": pages_n,
        "rounds": len(per_round),
        "round_secs": per_round,
        "handled": handled,
        "handled_per_sec": round(handled / wall, 1),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=50_000)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=16)
    ap.add_argument("--concurrency", type=int, default=2_000)
    ap.add_argument("--with-handler", action="store_true", help="attach a pandas requestHandler")
    args = ap.parse_args()
    out = run(args.pages, args.rounds, args.cpus, args.concurrency, args.with_handler)
    out["with_handler"] = args.with_handler
    print(json.dumps(out))


if __name__ == "__main__":
    main()
