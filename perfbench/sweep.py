"""Size sweep: step time of each workload at several input sizes.

    python3 perfbench/sweep.py --out perfbench/sweep.json

Runs ``run.py`` (seed 1, ``run_seconds`` of BENCHMARK.json, untraced) with
every input size and per-step row count of a workload multiplied by each
factor in ``--factors``: crawl pages, seeds and claim caps; churn preload and
batch; corpus documents and vectors. A straight line through the step times,
``step = fixed + per_row * rows``, gives the share of a committed-size step
that scales with rows.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
# run.main with the sizes of perfbench.workloads multiplied by argv[1]
RESCALED_RUN = """
import dataclasses as dc, sys
from perfbench import run, workloads as w
f = float(sys.argv.pop(1))
n = lambda x: max(1, round(x * f))
w.CRAWL = dc.replace(w.CRAWL, pages=n(w.CRAWL.pages), seeds=n(w.CRAWL.seeds))
w.CRAWL_POLICY = dc.replace(
    w.CRAWL_POLICY, max_concurrency=n(w.CRAWL_POLICY.max_concurrency), per_host_cap=n(w.CRAWL_POLICY.per_host_cap)
)
w.CHURN = dc.replace(w.CHURN, preload=n(w.CHURN.preload), batch=n(w.CHURN.batch))
w.CHURN_POLICY = dc.replace(w.CHURN_POLICY, max_concurrency=n(w.CHURN_POLICY.max_concurrency))
w.CORPUS = dc.replace(w.CORPUS, docs=n(w.CORPUS.docs), vectors=n(w.CORPUS.vectors))
sys.exit(run.main(sys.argv[1:]))
"""


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", default="crawl,corpus,churn")
    p.add_argument("--factors", default="0.25,1,4")
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)

    with open(BENCHMARK) as f:
        seconds = json.load(f)["run_seconds"]
    factors = [float(x) for x in args.factors.split(",")]
    rows = []
    for w in args.workloads.split(","):
        for f in factors:
            cmd = [sys.executable, "-c", RESCALED_RUN, str(f), "--workload", w, "--seed", "1",
                   "--seconds", str(seconds), "--trace", "0"]
            out = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=900)
            if out.returncode != 0:
                sys.stderr.write(out.stderr[-4000:])
                raise SystemExit(f"{w} x{f}: exit {out.returncode}")
            m = json.loads(out.stdout.strip().splitlines()[-1])["metrics"]
            step, rate = m["step_s_p50"]["value"], m["items_per_s"]["value"]
            rows.append({"workload": w, "factor": f, "setup_s": m["setup_s"]["value"], "step_s_p50": step,
                         "items_per_s": rate, "items_per_step": rate * step})
            print(json.dumps(rows[-1]), flush=True)

    report = {"runs": rows, "fit": {}}
    for w in args.workloads.split(","):
        mine = [r for r in rows if r["workload"] == w]
        xs, ys = [r["factor"] for r in mine], [r["step_s_p50"] for r in mine]
        mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
        slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum((x - mx) ** 2 for x in xs)
        fixed = my - slope * mx
        # at factor 1: the per-row part of a step over the whole step
        report["fit"][w] = {"fixed_s": fixed, "per_factor_s": slope, "row_share_at_1": slope / (fixed + slope)}
        print(f"{w}: step = {fixed:.2f} s + {slope:.2f} s x factor; row share at 1x {slope / (fixed + slope):.2f}")
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
