"""Record the corpus workload's expected output digests.

    python3 perfbench/digests.py --seeds 1-10

For each seed, generates the corpus inputs at the committed shape and writes
each query's ``(rows, hash)`` to ``corpus_digests.json``, which the corpus
workload checks its warm-up outputs against. Run it again only when the
corpus shape, the generator or the queries' intended output change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import run  # noqa: E402
from perfbench.drift import seeds  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", default="1-10")
    args = p.parse_args(argv)

    run.prepare_work()
    from perfbench import workloads

    spark = run.start_spark(False)
    try:
        known = {}
        for seed in seeds(args.seeds):
            data = os.path.join(run.WORK, f"corpus{seed}")
            workloads.write_corpus(seed, data)
            known[str(seed)] = workloads.corpus_digests(spark, data)
            print(seed, known[str(seed)], flush=True)
    finally:
        run.stop_spark(spark)
    shutil.rmtree(run.WORK, ignore_errors=True)
    with open(workloads.CORPUS_DIGESTS, "w") as f:
        json.dump({"shape": repr(workloads.CORPUS), "seeds": known}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
