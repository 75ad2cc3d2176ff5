"""Span figures: interval arithmetic on a synthetic log, and job
attribution on a tiny two-span Spark run with the JSON event log on."""

import json

import pytest

from perfbench import tracing


def _events(group_jobs):
    """Minimal event-log lines: per job one stage with `tasks` tasks."""
    out, stage = [], 0
    for group, job, t0, t1, tasks in group_jobs:
        out.append({"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": t0,
                    "Stage IDs": [stage], "Properties": {"spark.jobGroup.id": group}})
        for _ in range(tasks):
            out.append({"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                        "Task Metrics": {"Executor Run Time": 100,
                                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 1000}}})
        out.append({"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": t1})
        stage += 1
    return [json.dumps(e) for e in out]


def test_driver_time_from_a_synthetic_log():
    spans = [
        {"name": "one", "group": "g0", "start": 0.0, "end": 4.0, "jobs": [0]},
        {"name": "two", "group": "g1", "start": 4.0, "end": 10.0, "jobs": [1, 2]},
    ]
    groups = tracing.parse_event_log(_events([
        ("g0", 0, 1000, 2000, 2),   # one's job: 1 s -> 2 s
        ("g1", 1, 5000, 6000, 3),   # two's jobs overlap: 5-6 s and 5.5-8 s
        ("g1", 2, 5500, 8000, 1),
    ]))
    one, two = tracing.span_figures(spans, groups)
    assert one["wall_s"] == 4.0 and one["driver_s"] == 3.0
    assert (one["jobs"], one["tasks"]) == (1, 2)
    assert two["wall_s"] == 6.0 and two["driver_s"] == 6.0 - 3.0
    assert (two["jobs"], two["tasks"]) == (2, 4)
    assert abs(two["busy_s"] - 0.4) < 1e-9 and abs(two["shuffle_mb"] - 0.004) < 1e-12


def test_spans_do_not_nest():
    tr = tracing.Tracer(True)
    with tr.span("outer"):
        with pytest.raises(RuntimeError):
            with tr.span("inner"):
                pass
    with tr.span("next"):
        pass
    assert [s["name"] for s in tr.dump()] == ["outer", "next"]


def test_layer_metrics_report_every_layer():
    figs = [{"name": "ivf.search_all", **{f: float(i) for f in tracing.SPAN_FIGURES}}
            for i in (1, 2, 9)]
    m = tracing.layer_metrics(figs, {"curate.kept_ratio": [0.5, 0.7]})
    assert len(m) == len(tracing.LAYERS) * len(tracing.SPAN_FIGURES) + len(tracing.LAYER_EXTRAS)
    assert m["ivf.search_all.wall_s"] == 2.0 and m["curate.wall_s"] == 0.0
    assert m["curate.kept_ratio"] == 0.6


def test_jobs_land_in_their_span_on_a_real_two_span_run(tmp_path):
    from vector_search_test_spark.session import get_session

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = get_session("perfbench-test", cpus=2, shuffle_partitions=3, extra_conf={
        "spark.ui.showConsoleProgress": "false", **tracing.event_log_conf(str(log_dir))})
    try:
        tr = tracing.Tracer(True)
        tr.bind(spark.sparkContext)
        with tr.span("one"):
            spark.range(100, numPartitions=2).collect()
        with tr.span("two"):
            spark.range(50, numPartitions=3).collect()
            spark.range(40, numPartitions=2).selectExpr("id % 3 as k").groupBy("k").count().collect()
        spark.range(5).count()  # outside any span
    finally:
        spark.stop()
    spans = tr.dump()
    groups = tracing.parse_event_log(tracing.read_event_log(str(log_dir)))
    one, two = tracing.span_figures(spans, groups)
    # the status tracker and the event log agree on each span's jobs
    assert one["jobs"] == len(groups[spans[0]["group"]]["jobs"]) == 1
    assert two["jobs"] == len(groups[spans[1]["group"]]["jobs"]) >= 2
    assert one["tasks"] == 2 and two["tasks"] >= 3
    assert two["shuffle_mb"] > 0 and one["shuffle_mb"] == 0
    assert 0 <= one["driver_s"] <= one["wall_s"]
    # the job outside every span is attributed to no span
    assert sum(len(g["jobs"]) for g in groups.values()) > one["jobs"] + two["jobs"]
