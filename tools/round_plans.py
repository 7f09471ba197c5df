"""Plan dumps for crawl rounds.

    python tools/round_plans.py OUT_DIR [--seed 1] [--rounds 2]

Sets up the perfbench ``crawl`` workload at ``--seed`` (its generated pages
and robots table, ``CRAWL_POLICY``, enqueue strategy ``all``,
``compact_every=CRAWL_COMPACT_EVERY``) and runs ``--rounds``
``CrawlEngine.run_round`` calls. Every Spark action a round takes
(``localCheckpoint``, ``collect``, ``count``, parquet write) is recorded
with the caller that took it, the directory a write writes, and its
physical plan (``tests/plan_capture.py``):

- ``crawl_round<R>_actions.txt``: each action's formatted plan, in order;
- ``crawl_round<R>_python.txt``: each action's ``ArrowEvalPython`` nodes
  (the Python passes) and the round's total;
- ``crawl_outputs.txt``: after the last round, the row count and an
  order-independent sha-256 of ``results()``, ``outcomes()``, ``skipped()``
  and ``store.read()``, and ``final_statistics()``.

Run from the repository root; the program and the capture helper are
imported from the working directory, so the same script dumps any checkout
it is run in.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile

from pyspark.sql import DataFrame


def _digest(df: DataFrame) -> tuple[int, str]:
    rows = sorted(repr(r) for r in df.collect())
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def dump_crawl(spark, out: str, seed: int, rounds: int) -> None:
    import pyarrow as pa

    from crawlee_spark.operators.engine import CrawlEngine, CrawlOptions
    from crawlee_spark.operators.enqueue import EnqueueOptions
    from crawlee_spark.operators.frontier import FrontierStore
    from perfbench import gen
    from perfbench.workloads import CRAWL, CRAWL_COMPACT_EVERY, CRAWL_POLICY
    from tests.plan_capture import capture_actions

    work = tempfile.mkdtemp(prefix="round-plans-")
    try:
        inputs = gen.crawl_inputs(seed, CRAWL)
        gen.write_parquet(inputs.pages, f"{work}/pages", files=8)
        gen.write_parquet(inputs.robots, f"{work}/robots.parquet")
        gen.write_parquet(pa.table({"url": inputs.seeds}), f"{work}/seeds.parquet")
        store = FrontierStore(spark, f"{work}/store", compact_every=CRAWL_COMPACT_EVERY)
        engine = CrawlEngine(
            spark,
            store,
            spark.read.parquet(f"{work}/pages"),
            robots=spark.read.parquet(f"{work}/robots.parquet"),
            policy=CRAWL_POLICY,
            options=CrawlOptions(enqueue=EnqueueOptions(strategy="all")),
        )
        engine.add_seeds(spark.read.parquet(f"{work}/seeds.parquet"))
        for r in range(1, rounds + 1):
            with capture_actions() as taken:
                metrics = engine.run_round()
            plans, python = [], []
            total = 0
            for i, a in enumerate(taken):
                head = f"## {i:02d} {a.kind} in {a.caller}" + (f" -> {a.target}" if a.target else "")
                plans.append(f"{head}\n{a.plan}")
                total += len(a.python)
                python.append("\n".join([f"{head}: {len(a.python)}", *a.python]))
            python.append(f"total ArrowEvalPython nodes: {total}\nmetrics: {json.dumps(metrics)}")
            with open(f"{out}/crawl_round{r}_actions.txt", "w") as f:
                f.write("\n".join(plans).replace(work, "$WORK"))
            with open(f"{out}/crawl_round{r}_python.txt", "w") as f:
                f.write("\n".join(python).replace(work, "$WORK") + "\n")
            print(f"round {r}: {len(taken)} actions, {total} ArrowEvalPython nodes")
        lines = [
            f"{name}: {_digest(df)}"
            for name, df in (
                ("results", engine.results()),
                ("outcomes", engine.outcomes()),
                ("skipped", engine.skipped()),
                ("store.read", store.read()),
            )
        ]
        lines.append(f"final_statistics: {json.dumps(engine.final_statistics(), sort_keys=True)}")
        with open(f"{out}/crawl_outputs.txt", "w") as f:
            f.write("\n".join(lines) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("out")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--rounds", type=int, default=2)
    args = p.parse_args()

    # the program and the capture helper come from the working directory
    sys.path.insert(0, os.getcwd())
    from crawlee_spark import get_spark

    os.makedirs(args.out, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [os.getcwd(), os.environ.get("PYTHONPATH")]))
    spark = get_spark("round-plans", master="local[4]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        dump_crawl(spark, args.out, args.seed, args.rounds)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
