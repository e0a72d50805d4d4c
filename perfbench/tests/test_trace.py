"""The event-log aggregator and the streaming job metrics, against a tiny
synthetic event log and progress stream."""

import json

import pytest

from perfbench.trace import EventLog, Span, Spans, job_metrics, union_seconds
from perfbench.workloads import Checks, Run, _batch_layers

CORES = 2


def _task(stage, run_ms, cpu_ns, accums=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Accumulables": [
            {"ID": i, "Name": n, "Update": v, "Value": str(int(v) * 10)}
            for i, (n, v) in enumerate(accums)]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": 5, "Disk Bytes Spilled": 1 << 20,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1 << 20,
                                     "Local Bytes Read": 1 << 20,
                                     "Fetch Wait Time": 3},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2 << 20},
            "Input Metrics": {"Records Read": 100},
        },
    }


def _events():
    props = {"spark.jobGroup.id": "q1", "spark.job.description": "execute:0",
             "spark.sql.execution.id": "7"}
    build = {"spark.jobGroup.id": "q1", "spark.job.description": "build:0"}
    other = {"spark.jobGroup.id": "q2", "spark.job.description": "execute:0",
             "spark.sql.execution.id": "8"}
    # the event log writes SQL-metric updates as strings
    py = [("time to run Python workers", "800"),
          ("time to initialize Python workers", "50"),
          ("time to start Python workers", "10"),
          ("data sent to Python workers", str(3 << 20)),
          ("data returned from Python workers", str(1 << 20)),
          ("scan time", "40")]
    return [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": build},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": props},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Properties": props},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Properties": other},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 7, "time": 1000, "sparkPlanInfo": {
             "nodeName": "WriteToDataSourceV2", "metrics": [], "children": [{
                 "nodeName": "Scan parquet", "children": [],
                 "metrics": [{"name": "size of files read", "accumulatorId": 41},
                             {"name": "number of files read", "accumulatorId": 42}],
             }]}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 7, "accumUpdates": [[41, 12 << 20], [42, 3]]},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 7, "sparkPlanInfo": {
             "nodeName": "AdaptiveSparkPlan", "metrics": [], "children": [{
                 "nodeName": "Scan parquet", "children": [],
                 "metrics": [{"name": "size of files read", "accumulatorId": 43}],
             }]}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 7, "accumUpdates": [[43, 2 << 20]]},
        {"Event": "SparkListenerStageSubmitted", "Properties": props,
         "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0,
                        "Submission Time": 1100}},
        {"Event": "SparkListenerStageSubmitted", "Properties": props,
         "Stage Info": {"Stage ID": 2, "Stage Attempt ID": 0,
                        "Submission Time": 1500}},
        {"Event": "SparkListenerStageSubmitted", "Properties": other,
         "Stage Info": {"Stage ID": 3, "Stage Attempt ID": 0,
                        "Submission Time": 1500}},
        _task(1, 900, 100_000_000, py),
        _task(1, 700, 600_000_000),
        _task(2, 400, 300_000_000),
        _task(3, 9999, 9),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0,
                        "Submission Time": 1100, "Completion Time": 1600}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 2, "Stage Attempt ID": 0,
                        "Submission Time": 1500, "Completion Time": 1900}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 3, "Stage Attempt ID": 0,
                        "Submission Time": 1500, "Completion Time": 9000}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
         "executionId": 7, "time": 2000},
    ]


def test_union_seconds_merges_overlaps():
    assert union_seconds([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0
    assert union_seconds([]) == 0.0


def test_tagged_sums_only_the_group_and_phase():
    m = EventLog(_events()).tagged("q1", "execute:0", CORES)
    assert m["spark.jobs"] == 2
    assert m["spark.stages"] == 2
    assert m["spark.tasks"] == 3
    assert m["spark.stage_s"] == pytest.approx(0.8)  # 1100..1900
    assert m["spark.driver_s"] == pytest.approx(0.2)  # 1000..2000 minus stages
    assert m["spark.executor_run_s"] == pytest.approx(2.0)
    assert m["spark.executor_cpu_s"] == pytest.approx(1.0)
    assert m["spark.gc_s"] == pytest.approx(0.015)
    assert m["spark.shuffle_read_mb"] == pytest.approx(6.0)
    assert m["spark.shuffle_write_mb"] == pytest.approx(6.0)
    assert m["spark.fetch_wait_s"] == pytest.approx(0.009)
    assert m["spark.spill_mb"] == pytest.approx(3.0)
    assert m["spark.core_util"] == pytest.approx(2.0 / (0.8 * CORES))
    # driver-side scan metric, including a scan added by an AQE re-plan
    assert m["catalog.input_mb"] == pytest.approx(14.0)
    assert m["catalog.input_rows"] == 300
    assert m["catalog.scan_s"] == pytest.approx(0.04)


def test_python_worker_metrics_are_task_updates_in_ms_and_bytes():
    m = EventLog(_events()).tagged("q1", "execute:0", CORES)
    # per-task "Update", not the running "Value" (10x here), so a
    # stage's many tasks are not summed cumulatively
    assert m["operators.python_run_s"] == pytest.approx(0.8)
    assert m["operators.python_init_s"] == pytest.approx(0.05)
    assert m["operators.python_start_s"] == pytest.approx(0.01)
    assert m["operators.python_sent_mb"] == pytest.approx(3.0)
    assert m["operators.python_returned_mb"] == pytest.approx(1.0)
    assert m["operators.python_run_s"] <= m["spark.executor_run_s"]


def test_build_phase_jobs_are_counted_apart():
    elog = EventLog(_events())
    assert elog.job_ids("q1", "build:0") == [0]
    assert elog.tagged("q1", "build:0", CORES)["spark.stages"] == 0


def test_window_charges_everything_that_started_inside_it():
    m = EventLog(_events()).window(1000, 2000, CORES)
    assert m["spark.stages"] == 3
    assert m["spark.stage_s"] == pytest.approx(7.9)  # 1100..9000
    assert m["spark.driver_s"] == 0.0  # never negative


def test_read_walks_a_rolling_log_directory(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    ev = _events()
    (d / "events_1_app").write_text("\n".join(json.dumps(e) for e in ev[:8]) + "\n")
    (d / "events_2_app").write_text("\n".join(json.dumps(e) for e in ev[8:]) + "\n")
    m = EventLog.read(str(tmp_path)).tagged("q1", "execute:0", CORES)
    assert m["spark.tasks"] == 3


def _reconcile(tmp_path, write_s):
    """Traced batch layers of one query, q1, whose noop write took
    ``write_s`` by its span; its SQL execution ran 1.0 s by the log."""
    (tmp_path / "eventlog").mkdir()
    (tmp_path / "eventlog" / "events").write_text(
        "\n".join(json.dumps(e) for e in _events()) + "\n")
    spans = Spans()
    spans.records += [Span("session.start", "", "", 0.0, 1.0),
                      Span("plans.build", "q1", "build:0", 1.0, 0.1),
                      Span("noop.write", "q1", "execute:0", 1.1, write_s)]
    checks = Checks()
    run = Run(str(tmp_path), 1.0, True, CORES, None)
    _, reconcile = _batch_layers(run, spans, {"q1": [0.1 + write_s]}, 1, checks)
    return reconcile["q1"], checks.failures


def test_reconciliation_passes_when_the_log_matches_the_span(tmp_path):
    # build 0.1 + driver 0.2 + stage 0.8 against the traced 0.1 + 1.0
    error, failures = _reconcile(tmp_path, 1.0)
    assert error == pytest.approx(0.0, abs=1e-9)
    assert failures == []


def test_reconciliation_fails_the_run_when_the_log_diverges(tmp_path):
    error, failures = _reconcile(tmp_path, 2.0)
    assert error == pytest.approx(1.0 / 2.1)
    assert len(failures) == 1 and failures[0].startswith("q1:")


def _trigger(job, start_ms, trigger_ms, add_ms, rows, state_rows=0.0, late=0.0):
    return {"job": job, "start_ms": start_ms, "batch_ms": trigger_ms,
            "trigger_ms": trigger_ms, "add_batch_ms": add_ms, "rows_in": rows,
            "state_rows": state_rows, "state_bytes": state_rows * 1024,
            "late_dropped": late}


def test_job_metrics_from_a_progress_stream():
    started = {"a": 1000.0, "b": 5000.0}
    triggers = [
        _trigger("a", 1200, 300, 200, 10, state_rows=4, late=1),
        _trigger("b", 5100, 100, 50, 7),
        _trigger("a", 1600, 400, 100, 5, state_rows=6, late=2),
    ]
    m = job_metrics(started, triggers, ["a", "b"])
    assert m["streaming.a.wall_s"] == pytest.approx(1.0)  # 1000 -> 1600+400
    assert m["streaming.a.triggers"] == 2
    assert m["streaming.a.add_batch_ms"] == 300
    assert m["streaming.a.fixed_ms"] == 400
    assert m["streaming.a.rows_in"] == 15
    assert m["streaming.a.state_rows"] == 6  # after the last trigger
    assert m["streaming.a.state_mb"] == pytest.approx(6 / 1024)
    assert m["streaming.a.late_dropped"] == 3
    assert m["streaming.b.wall_s"] == pytest.approx(0.2)


def test_job_metrics_rejects_a_job_without_progress():
    with pytest.raises(ValueError, match="'c'"):
        job_metrics({"a": 0.0}, [_trigger("a", 0, 1, 1, 1)], ["a", "c"])
