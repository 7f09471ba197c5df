"""Run the benchmark over many seeds and summarize each metric's spread.

    python3 perfbench/drift.py --seeds 1-10 --sets 2 --out perfbench/drift_null.json

Runs ``run.py`` once per (set, seed, workload), one run at a time, with the
workloads and ``run_seconds`` of BENCHMARK.json, and
records per set, workload and metric the median, the quartiles
(``statistics.quantiles(n=4)``) and the inter-quartile range as a share of
the median; with two sets, also the second median over the first. Two sets
of unchanged code are the drift null the bounds in BENCHMARK.json are set
against.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)  # med is the median
    return {"median": med, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / med if med else 0.0}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)

    with open(BENCHMARK) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    runs = []
    for s in range(args.sets):
        for seed in seeds(args.seeds):
            for w in workloads:
                t = time.perf_counter()
                cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                       "--seconds", str(bench["run_seconds"]), "--trace", "0"]
                out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
                wall = time.perf_counter() - t
                if out.returncode != 0:
                    sys.stderr.write(out.stderr[-4000:])
                    raise SystemExit(f"{w} seed {seed}: exit {out.returncode}")
                result = json.loads(out.stdout.strip().splitlines()[-1])
                runs.append({"set": s, "workload": w, "seed": seed, "wall_s": wall, **result})
                print(json.dumps(runs[-1]), flush=True)

    report = {"runs": runs, "summary": {}}
    for w in workloads:
        per_set = []
        for s in range(args.sets):
            mine = [r for r in runs if r["workload"] == w and r["set"] == s]
            names = mine[0]["metrics"]
            per_set.append({m: summary([r["metrics"][m]["value"] for r in mine]) for m in names})
        row = {"sets": per_set}
        if args.sets == 2:
            row["second_over_first"] = {
                m: per_set[1][m]["median"] / per_set[0][m]["median"] if per_set[0][m]["median"] else None
                for m in per_set[0]
            }
        report["summary"][w] = row
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    for w, row in report["summary"].items():
        for i, st in enumerate(row["sets"]):
            for m, v in st.items():
                print(f"{w} set{i} {m}: median {v['median']:.4g} iqr/median {v['iqr_share']:.4f}")
        for m, r in row.get("second_over_first", {}).items():
            print(f"{w} {m}: second/first median {r:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
