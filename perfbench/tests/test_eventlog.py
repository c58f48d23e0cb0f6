"""Event-log parser: synthetic events, then a real tiny traced run."""

import json
import os

import pytest

import eventlog

SQL = "org.apache.spark.sql.execution.ui."


def _plan():
    # MapInPandas over a join: the join's output rows are the map's input
    return {"nodeName": "MapInPandas", "metrics": [
        {"name": "number of output rows", "accumulatorId": 1, "metricType": "sum"},
        {"name": "time to run Python workers", "accumulatorId": 2,
         "metricType": "timing"},
    ], "children": [{"nodeName": "WholeStageCodegen (1)", "metrics": [
        {"name": "duration", "accumulatorId": 3, "metricType": "timing"}],
        "children": [{"nodeName": "BroadcastHashJoin", "metrics": [
            {"name": "number of output rows", "accumulatorId": 4,
             "metricType": "sum"}], "children": []}]}]}


def _task(stage, ok, updates, cpu_ns=0, gc_ms=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
            "Task Info": {"Accumulables": [
                {"ID": i, "Name": "m", "Update": str(v), "Value": str(v),
                 "Internal": True, "Metadata": "sql"} for i, v in updates.items()]},
            "Task Metrics": {"Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
                             "Disk Bytes Spilled": spill,
                             "Memory Bytes Spilled": 0}}


def test_parse_synthetic_log(tmp_path):
    events = [
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 7,
         "description": "w/u0/q", "sparkPlanInfo": _plan()},
        {"Event": "SparkListenerJobStart", "Stage IDs": [3],
         "Properties": {"spark.job.description": "w/u0/q"}},
        _task(3, True, {1: 10, 2: 1500, 4: 10}, cpu_ns=2_000_000_000, gc_ms=250),
        _task(3, True, {1: 5, 2: 500, 4: 5}, spill=64),
        # a failed attempt: counted as a failed task, its updates dropped
        _task(3, False, {1: 99, 2: 99_000, 4: 99}),
        {"Event": SQL + "SparkListenerDriverAccumUpdates", "executionId": 7,
         "accumUpdates": [[4, 1]]},
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 8,
         "description": "other", "sparkPlanInfo": _plan() | {"metrics": [
             {"name": "number of output rows", "accumulatorId": 11,
              "metricType": "sum"}], "children": []}},
        _task(9, True, {11: 1000}),
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = eventlog.parse(str(path))

    mine = lambda d: d.startswith("w/u")  # noqa: E731
    assert log.sql_metric(mine, "MapInPandas", "number of output rows") == 15
    assert log.sql_metric(mine, "MapInPandas", "time to run Python workers") == 2.0
    assert log.sql_metric(mine, "MapInPandas", "", inputs=True) == 16
    assert log.sql_metric(mine, "BroadcastHashJoin", "number of output rows") == 16
    assert log.sql_metric(lambda d: True, "MapInPandas",
                          "number of output rows") == 1015
    totals = log.task_totals(mine)
    assert totals == {"tasks": 3.0, "tasks_failed": 1.0, "task_cpu_s": 2.0,
                      "gc_s": 0.25, "spill_bytes": 64.0}
    assert log.task_totals(lambda d: d == "nothing")["tasks"] == 0


def test_parse_real_tiny_run(tiny_replica, session_factory, tmp_path):
    """pip_zones at sf0.001 with the event log on: the map's input rows are
    the candidate pairs, and the fallback path emits every candidate."""
    from osm_coverage_spark import registry

    elog = tmp_path / "elog"
    elog.mkdir()
    spark = session_factory({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{elog}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    spark.sparkContext.setJobDescription("t/u0/pip_zones")
    df = registry.QUERIES["pip_zones"](spark, tiny_replica)
    n_points = df.count()
    spark.sparkContext.setJobDescription("t/u0/coverage_district_stats")
    registry.QUERIES["coverage_district_stats"](spark, tiny_replica).collect()
    spark.stop()

    (name,) = os.listdir(elog)
    log = eventlog.parse(str(elog / name))
    pip = lambda d: d == "t/u0/pip_zones"  # noqa: E731
    cand = log.sql_metric(pip, "MapInPandas", "", inputs=True)
    assert cand >= n_points > 0
    assert log.sql_metric(pip, "MapInPandas", "number of output rows") == cand
    assert log.sql_metric(pip, "MapInPandas", "time to run Python workers") > 0
    assert log.sql_metric(pip, "MapInPandas", "data sent to Python workers") > 0
    cov = lambda d: d == "t/u0/coverage_district_stats"  # noqa: E731
    assert log.sql_metric(cov, "Exchange", "shuffle bytes written") > 0
    assert log.sql_metric(cov, "Scan", "size of files read") > 0
    assert log.sql_metric(cov, "MapInPandas", "number of output rows") == 0
    totals = log.task_totals(cov)
    assert totals["tasks"] > 0 and totals["tasks_failed"] == 0
    assert totals["task_cpu_s"] > 0
    with pytest.raises(KeyError):
        log.task_totals(cov)["no such metric"]
