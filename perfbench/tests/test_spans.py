"""Self-time arithmetic and event-log attribution on a hand-built span tree."""

import json

from perfbench.spans import GROUP_PREFIX, Span, attribute_event_log, self_time, summarize


def _tree():
    # round [0, 10] with children read [1, 3], prepare [2, 4] (overlapping the
    # read) and commit [8, 12] (running past the round's end); the commit has
    # a compaction child [9, 11]
    return [
        Span(0, "engine.run_round", None, 0, 0.0, 10.0),
        Span(1, "frontier.read", 0, 0, 1.0, 3.0),
        Span(2, "frontier.prepare_fresh", 0, 0, 2.0, 4.0),
        Span(3, "frontier.commit_delta", 0, 0, 8.0, 12.0),
        Span(4, "frontier.compact", 3, 0, 9.0, 11.0),
        Span(5, "engine.run_round", None, 1, 20.0, 26.0),
        Span(6, "frontier.read", None, -1, 30.0, 31.0),  # set-up: left out
        Span(7, "stats.final_statistics", None, -2, 40.0, 41.5),  # once per run
    ]


def _events():
    def job(jid, group):
        props = {"spark.jobGroup.id": f"{GROUP_PREFIX}{group}"} if group is not None else {}
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Properties": props}

    def stage(sid, group, shuffle=0, spill=0, out=0):
        acc = [
            {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": shuffle},
            {"Name": "internal.metrics.diskBytesSpilled", "Value": spill},
            {"Name": "internal.metrics.output.bytesWritten", "Value": out},
        ]
        return [
            {
                "Event": "SparkListenerStageSubmitted",
                "Stage Info": {"Stage ID": sid},
                "Properties": {"spark.jobGroup.id": f"{GROUP_PREFIX}{group}"},
            },
            {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": sid, "Accumulables": acc}},
        ]

    events = [job(0, 0), *stage(0, 0, shuffle=100), job(1, 2), *stage(1, 2, shuffle=50, spill=7)]
    events += [job(2, 4), *stage(2, 4, out=1000), *stage(3, 4, shuffle=5), job(3, None)]
    events += [job(4, 5), *stage(4, 5, shuffle=1)]
    return [json.dumps(e) for e in events]


def test_self_time_subtracts_the_union_of_children_clipped_to_the_span():
    spans = _tree()
    assert self_time(spans[0], spans[1:4]) == 10.0 - (3.0 + 2.0)  # [1,4] and [8,10]
    assert self_time(spans[3], [spans[4]]) == 2.0
    assert self_time(spans[1], []) == 2.0


def test_event_log_attribution_and_summary():
    spans = _tree()
    assert attribute_event_log(_events(), spans) == 1  # job 3 ran outside spans
    assert spans[0].counts["spark_jobs"] == 1 and spans[0].counts["shuffle_write_bytes"] == 100
    assert spans[2].counts == {
        "spark_jobs": 1, "spark_stages": 1, "shuffle_write_bytes": 50, "spill_bytes": 7, "output_bytes": 0,
    }
    assert spans[4].counts["spark_stages"] == 2 and spans[4].counts["output_bytes"] == 1000

    s = summarize(spans, iterations=2)
    rnd = s["engine.run_round"]
    # two rounds: (10 + 6) / 2 total; self (5 + 6) / 2; counts include descendants
    assert rnd["total_s"] == 8.0 and rnd["self_s"] == 5.5
    assert rnd["spark_jobs"] == (3 + 1) / 2
    assert rnd["spark_stages"] == (4 + 1) / 2
    assert rnd["shuffle_write_bytes"] == (100 + 50 + 5 + 1) / 2
    assert s["frontier.commit_delta"]["self_s"] == 1.0 and s["frontier.commit_delta"]["output_bytes"] == 500
    assert s["frontier.read"]["total_s"] == 1.0  # the set-up read is not counted
    assert s["stats.final_statistics"]["total_s"] == 1.5  # per call, not per round
