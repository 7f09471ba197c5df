"""A tiny-scale run of each workload completes, passes its output checks and
prints every named metric, untraced and traced. Each run is a subprocess
with its own local Spark JVM, so this module takes a few minutes."""

import json
import os
import re
import subprocess
import sys

import pytest

from perfbench import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# run.main with the workload sizes swapped for tiny ones
TINY_RUN = """
import sys
from perfbench import gen, run, workloads
workloads.CRAWL = gen.CrawlShape(pages=600, domains=8, seeds=40)
workloads.CHURN = gen.ChurnShape(preload=3000, batch=1000, domains=20)
workloads.CORPUS = gen.CorpusShape(docs=300, vectors=100)
sys.exit(run.main(sys.argv[1:]))
"""
NAMED = {
    "crawl": ("pages_per_s", "round_s_p50", "store_bytes_per_url"),
    "churn": ("urls_per_s", "cycle_s_p50", "store_bytes_per_url"),
    "corpus": ("pass_s", "digests"),
}
E2E = ("setup_s", "step_s_p50", "items_per_s", "peak_rss_mb")
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    args = ["--workload", workload, "--seed", "3", "--seconds", "0.1", "--trace", str(trace)]
    out = subprocess.run(
        [sys.executable, "-c", TINY_RUN, *args], cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    named = dict(re.match(rf"{workload}\.(\S+) = (.*)", line).groups() for line in lines[:-1])
    return named, json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["crawl", "churn", "corpus"])
def test_tiny_run_prints_every_metric(workload):
    named, result = _run(workload, 0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(E2E) == {m["name"] for m in BENCHMARK["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert set(NAMED[workload]) | {"failed_ratio"} <= set(named)

    traced_named, traced = _run(workload, 1)
    assert traced["correct"]
    layers = set(traced["metrics"])
    assert layers == {m["name"] for m in BENCHMARK["per_layer"]}
    for metric, _ in run.LAYER_TIMES.values():
        assert metric in layers
    for span in run.LAYER_TIMES:
        assert {f"{span}.{c}" for c in run.SPAN_COUNTS} <= layers
    assert set(run.WORKLOAD_LAYERS) | {"frontier.bytes_written", "traced.step_s_p50"} <= layers
    exercised = {
        "crawl": (
            "engine.round_self_s", "frontier.prepare_fresh_s", "frontier.compact_s", "keying.batch_s",
            "frontier.fresh_ratio", "scheduler.claim_s", "stats.final_statistics_s",
        ),
        "churn": (
            "frontier.prepare_fresh_s", "frontier.compact_s", "keying.batch_s", "frontier.fresh_ratio",
            "scheduler.claim_s",
        ),
        "corpus": ("html_text.extract_text_s", "dedup.minhash_lsh_s", "similarity.ann_cosine_topk_s"),
    }[workload]
    assert all(traced["metrics"][m]["value"] > 0 for m in exercised)
    if workload == "corpus":  # outputs are stable for the seed
        assert named["digests"] == traced_named["digests"]


def test_committed_digests_cover_the_drift_seeds():
    from perfbench import workloads

    for seed in range(1, 11):
        assert set(workloads.expected_digests(seed)) == set(workloads.CORPUS_QUERIES)
    assert workloads.expected_digests(11) == {}
