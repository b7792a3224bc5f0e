"""Tests of the benchmark's own logic on tiny inputs.

    python3 -m pytest perfbench -q

They need no Spark session: statistics, event-log parsing and job
attribution, function spans, the seed-to-inputs mapping, the fixed pass
count, that the benchmark lake is the engine's reference lake, and that
BENCHMARK.json names exactly what run.py reports.
"""

from __future__ import annotations

import filecmp
import json
import math
import os

import pytest

import run
import stats
import tracing
from workloads import NOMINAL_PASS_S, WORKLOADS, make_inputs, timed_passes

HERE = os.path.dirname(os.path.abspath(__file__))


# -- statistics ---------------------------------------------------------
@pytest.mark.parametrize(
    "n, p",
    [(1, 50), (10, 50), (19, 50), (20, 50), (21, 52), (50, 80), (100, 90), (1000, 99)],
)
def test_tail_percentile_leaves_ten_samples_above(n, p):
    assert stats.tail_percentile(n) == p
    if p > 50:
        # at least ten samples lie above the chosen percentile's rank
        assert n - math.ceil(n * p / 100) >= stats.TAIL_MIN_ABOVE


def test_percentile_interpolates_linearly():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(list(range(101)), 90) == 90


def test_geomean_weights_ratios_not_sizes():
    assert stats.geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert stats.geomean([0.2, 0.2, 0.2]) == pytest.approx(0.2)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_summary_of_latencies():
    lat = [float(i) for i in range(1, 101)]
    s = stats.summarize_latencies(lat)
    assert s["samples"] == 100
    assert s["tail_percentile"] == 90
    assert s["op_p50_s"] == 50.5
    assert s["op_tail_s"] == pytest.approx(90.1)


# -- event log ----------------------------------------------------------
def _job_start(job_id, group, t_ms, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": t_ms, "Stage IDs": stages, "Properties": props}


def _task_end(stage, launch, run_ms, failed=False):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": launch + run_ms, "Failed": failed},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 1,
            "Input Metrics": {"Bytes Read": 100},
            "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 7},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
            "Output Metrics": {"Bytes Written": 13},
            "Peak Execution Memory": 64,
        },
    }


EVENTS = [
    _job_start(0, "0:query:a:build", 1_000_000, [0]),
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Submission Time": 1_000_010}},
    _task_end(0, 1_000_030, 50),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_000_100},
    # a streaming micro-batch job: the query's own group, inside op 1's window
    _job_start(1, "f3c1-run-id", 1_002_500, [1]),
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1, "Submission Time": 1_002_500}},
    _task_end(1, 1_002_500, 20, failed=True),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_002_700},
    # a job of the warm pass: no benchmark group, outside every window
    _job_start(2, None, 900_000, [2]),
    {
        "Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
        "progress": {
            "timestamp": "1970-01-01T00:16:42.600Z",
            "durationMs": {"triggerExecution": 300, "addBatch": 200, "walCommit": 20, "queryPlanning": 30},
            "sources": [{"numInputRows": 7}, {"numInputRows": 3}],
        },
    },
]


def _log():
    return tracing.parse_events(json.dumps(e) + "\n" for e in EVENTS)


def test_jobs_attributed_by_group_then_by_window():
    log = _log()
    groups = {"0:query:a:build": "0:query:a:build"}
    windows = [(1000.0, 1001.0, "0:query:a:build"), (1002.0, 1003.0, "1:catchup:run")]
    got = tracing.attribute_jobs(log.jobs, groups, windows)
    assert got == {0: "0:query:a:build", 1: "1:catchup:run"}


def test_group_wins_over_window():
    log = _log()
    got = tracing.attribute_jobs(log.jobs, {"0:query:a:build": "A"}, [(0.0, 2000.0, "B")])
    assert got[0] == "A" and got[1] == "B" and got[2] == "B"


def test_spark_metrics_sum_the_attributed_jobs_only():
    log = _log()
    m = tracing.spark_metrics(log, [j for j in log.jobs if j.job_id in (0, 1)], wall_s=1.0, cores=4)
    assert m["spark.jobs"] == 2
    assert m["spark.stages"] == 2
    assert m["spark.tasks"] == 2
    assert m["spark.job_s"] == pytest.approx(0.3)
    assert m["spark.task_wait_s"] == pytest.approx(0.02)
    assert m["spark.executor_run_s"] == pytest.approx(0.07)
    assert m["spark.core_busy_frac"] == pytest.approx(0.07 / 4)
    assert m["spark.shuffle_read_bytes"] == 24
    assert m["spark.failed_tasks"] == 1


def test_streaming_metrics_from_progress_events():
    log = _log()
    m = tracing.streaming_metrics(log.progress, 1002.0, 1003.0)
    assert m["streaming.batches"] == 1
    assert m["streaming.rows_in"] == 10
    assert m["streaming.batch_p50_ms"] == 300
    assert tracing.streaming_metrics(log.progress, 0.0, 1.0)["streaming.batches"] == 0


def test_event_log_files_in_rolling_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for n in (10, 2, 1):
        (d / f"events_{n}_local-1").write_text("")
    names = [os.path.basename(p) for p in tracing.event_log_files(str(tmp_path))]
    assert names == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]


# -- function spans -----------------------------------------------------
def test_spans_nest_and_self_time_excludes_children():
    tr = tracing.FunctionTracer()
    outer = tr.begin("plans.build")
    inner = tr.begin("operators.graph")
    assert tr.begin("operators.graph") is None  # re-entry records nothing
    tr.end(inner)
    tr.end(outer)
    b, g = tr.spans
    assert g.parent == 0
    assert b.self_seconds == pytest.approx(b.seconds - g.seconds)


def test_stored_index_hit_is_a_call_that_skips_the_build():
    tr = tracing.FunctionTracer()

    def stored_index(spark, sf_dir, table, name, filename, build):
        return build() if name == "cold" else "cached"

    wrapped = tr.wrap_stored_index(stored_index)
    assert wrapped(None, "d", "t", "cold", "f", lambda: "built") == "built"
    assert wrapped(None, "d", "t", "warm", "f", build=lambda: "built") == "cached"
    assert [s.hit for s in tr.spans] == [False, True]


# -- inputs -------------------------------------------------------------
@pytest.mark.parametrize("workload", WORKLOADS)
def test_inputs_are_a_function_of_the_seed(workload):
    assert make_inputs(workload, 7) == make_inputs(workload, 7)
    orders = {make_inputs(workload, s).ops for s in range(20)}
    assert len(orders) > 1
    # every seed times the same operations, in its own order
    bags = {tuple(sorted(op.name for op in make_inputs(workload, s).ops)) for s in range(20)}
    if workload != "daily_etl":
        assert len(bags) == 1
    for s in range(20):
        inp = make_inputs(workload, s)
        assert {op for op in inp.ops if op.kind == "query"} <= set(inp.warm)


def test_daily_backfills_are_earlier_days_after_the_run():
    for s in range(20):
        inp = make_inputs("daily_etl", s)
        days = [op.arg for op in inp.ops if op.kind == "day"]
        n = len(days) - len(inp.backfill)
        assert days[:n] == sorted(days[:n])
        assert all(b < days[n - 1] for b in inp.backfill)


def test_pass_count_depends_only_on_workload_and_seconds():
    for w in WORKLOADS:
        assert timed_passes(w, 0.1) == 1
        assert timed_passes(w, 2 * NOMINAL_PASS_S[w]) == 2
        assert timed_passes(w, 20) == timed_passes(w, 20)


# -- the lake -------------------------------------------------------------
def test_lake_is_the_reference_lake():
    """The lake in perfbench/lake/ is a byte copy of the engine's
    reference sf0.1 lake (catalog.DEFAULT_SF_DIR), where that exists."""
    from data_pipeline_postgres_spark.catalog import DEFAULT_SF_DIR, TABLES

    if not os.path.isdir(DEFAULT_SF_DIR):
        pytest.skip(f"reference lake {DEFAULT_SF_DIR} not present")
    names = [f"{t}.parquet" for t in TABLES]
    match, mismatch, errors = filecmp.cmpfiles(run.LAKE, DEFAULT_SF_DIR, names, shallow=False)
    assert (mismatch, errors) == ([], [])
    assert sorted(match) == sorted(names)


# -- the benchmark's declaration -----------------------------------------
def test_benchmark_json_names_what_run_reports():
    with open(os.path.join(HERE, "..", "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
