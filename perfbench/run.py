"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Run from the repository root. The program runs in a local SparkSession at
``local[<usable cores>]``; every file the run writes goes under
``.perfbench_work/`` in the repository root, and only the span dump of a
traced run is left there. Earlier lines of standard output
name each metric with its unit; the last line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics of a traced run with
``--trace 1``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench_work")  # span dumps of traced runs stay here
WORK = os.path.join(OUT, "run")  # removed when the run ends

# span name -> the per-layer time metric it gives, and whether that metric is
# the span's self time (duration minus its child spans) or its whole duration
LAYER_TIMES = {
    "engine.run_round": ("engine.round_self_s", "self_s"),
    "frontier.read": ("frontier.read_s", "total_s"),
    "frontier.prepare_fresh": ("frontier.prepare_fresh_s", "total_s"),
    "frontier.commit_delta": ("frontier.commit_delta_s", "self_s"),
    "frontier.compact": ("frontier.compact_s", "total_s"),
    "keying.batch": ("keying.batch_s", "total_s"),
    "scheduler.claim": ("scheduler.claim_s", "total_s"),
    "stats.final_statistics": ("stats.final_statistics_s", "total_s"),
    "html_text.extract_text": ("html_text.extract_text_s", "total_s"),
    "html_text.extract_links": ("html_text.extract_links_s", "total_s"),
    "dedup.exact": ("dedup.exact_s", "total_s"),
    "dedup.minhash_lsh": ("dedup.minhash_lsh_s", "total_s"),
    "text_analysis.text_quality": ("text_analysis.text_quality_s", "total_s"),
    "curation.corpus_curation": ("curation.corpus_curation_s", "total_s"),
    "similarity.ann_cosine_topk": ("similarity.ann_cosine_topk_s", "total_s"),
}
SPAN_COUNTS = {
    "spark_jobs": "count",
    "spark_stages": "count",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
}
# per-layer values a workload computes itself; 0 on workloads that skip the layer
WORKLOAD_LAYERS = {
    "frontier.fresh_ratio": "ratio",
    "frontier.store_bytes_per_url": "B/URL",
    "enqueue.fresh_per_link": "ratio",
    "scheduler.claimed_rows": "count",
}


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def tree_pids(jvm_pid: int) -> list[int]:
    """This process, the driver JVM and the JVM's descendants (the Python
    workers)."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    pids, todo = [os.getpid()], [jvm_pid]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, []))
    return pids


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of the peak resident sizes (VmHWM) of the tree's processes."""
    kb = 0
    for pid in tree_pids(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024


def prepare_work() -> None:
    """Empty ``WORK`` and point this process and its Spark workers at it and
    at the repository root."""
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    # Python workers import the program from the repository root too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    sys.path.insert(0, ROOT)


def start_spark(trace: bool):
    from crawlee_spark import get_spark

    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.driver.memory": "3g",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(WORK, "eventlog"))
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = get_spark(
        "perfbench", master=f"local[{usable_cores()}]", shuffle_partitions=32, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def layer_metrics(tracer, result) -> dict[str, tuple[float, str]]:
    from perfbench.spans import attribute_event_log, summarize

    (log,) = glob.glob(os.path.join(WORK, "eventlog", "*"))
    with open(log) as f:
        outside = attribute_event_log(f, tracer.spans)
    tracer.dump(os.path.join(OUT, f"spans-{result.workload}.json"))
    summary = summarize(tracer.spans, len(result.steps))
    out: dict[str, tuple[float, str]] = {}
    for span, (metric, kind) in LAYER_TIMES.items():
        row = summary.get(span, {})
        out[metric] = (row.get(kind, 0.0), "s")
        for count, unit in SPAN_COUNTS.items():
            out[f"{span}.{count}"] = (row.get(count, 0.0), unit)
    out["frontier.bytes_written"] = (summary.get("frontier.commit_delta", {}).get("output_bytes", 0.0), "B")
    for name, unit in WORKLOAD_LAYERS.items():
        out[name] = (result.layers.get(name, (0.0, unit))[0], unit)
    out["trace.jobs_outside_spans"] = (float(outside), "count")
    return out


def end_to_end(result, setup_s: float, rss_mb: float) -> dict[str, tuple[float, str]]:
    return {
        "setup_s": (setup_s, "s"),
        "step_s_p50": (statistics.median(result.steps) if result.steps else 0.0, "s"),
        "items_per_s": (result.items / result.busy_s if result.busy_s else 0.0, "1/s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("crawl", "churn", "corpus"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    t0 = time.perf_counter()
    prepare_work()
    from perfbench import workloads
    from perfbench.spans import Tracer

    spark = start_spark(bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark.sparkContext if args.trace else None)
        result = workloads.WORKLOADS[args.workload](spark, tracer, args.seed, args.seconds, WORK)
        rss = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        stop_spark(spark)

    e2e = end_to_end(result, session_s + result.setup_s, rss)
    named = {**result.named, "failed_ratio": (result.failed / max(result.attempted, 1), "ratio")}
    for name, (value, unit) in named.items():
        print(f"{args.workload}.{name} = {value} {unit}")
    if args.trace:
        metrics = layer_metrics(tracer, result)
        # the traced run's end-to-end values: over the untraced ones, the tracing overhead
        metrics |= {f"traced.{name}": value for name, value in e2e.items()}
    else:
        metrics = e2e
    for name, (value, unit) in metrics.items():
        print(f"{args.workload}.{name} = {value} {unit}")
    shutil.rmtree(WORK, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": result.failed == 0,
                "attempted": result.attempted,
                "failed": result.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
