import json
import os

import pyarrow as pa

from perfbench import eventlog

SQL = "org.apache.spark.sql.execution.ui."


def _plan(name, metrics, children=()):
    return {
        "nodeName": name,
        "metrics": [{"name": n, "accumulatorId": a, "metricType": "sum"} for n, a in metrics],
        "children": list(children),
    }


def _task(stage, run_ms, cpu_ns, gc_ms, shuffle, accums):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [{"ID": i, "Name": n, "Update": str(u)} for i, n, u in accums]},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def _write(path, events, compress):
    data = "".join(json.dumps(e) + "\n" for e in events).encode()
    if compress:
        with pa.CompressedOutputStream(pa.OSFile(path, "wb"), "zstd") as s:
            s.write(data)
    else:
        with open(path, "wb") as f:
            f.write(data)


def make_log(root):
    app = os.path.join(root, "eventlog_v2_local-1")
    os.makedirs(app)
    plan = _plan("HashAggregate", [("number of output rows", 1)], [
        _plan("BroadcastHashJoin", [("number of output rows", 2)], [
            _plan("FileScan parquet", [("number of files read", 3)]),
        ]),
        _plan("ArrowEvalPython", [
            ("time to start Python workers", 4),
            ("data sent to Python workers", 5),
            ("data returned from Python workers", 6),
        ]),
    ])
    first = [
        {"Event": "SparkListenerLogStart"},
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 0,
         "jobGroupId": "7", "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "7"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        _task(0, 100, 2_000_000, 5, 64, [(2, "number of output rows", 40),
                                         (4, "time to start Python workers", 30),
                                         (5, "data sent to Python workers", 1000),
                                         (6, "data returned from Python workers", 10)]),
    ]
    second = [
        _task(1, 50, 1_000_000, 0, 36, [(2, "number of output rows", 2),
                                        (5, "data sent to Python workers", 24)]),
        _task(2, 999, 999, 999, 999, [(1, "number of output rows", 9)]),  # untagged job
        {"Event": SQL + "SparkListenerDriverAccumUpdates", "executionId": 0, "accumUpdates": [[3, 12]]},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "8"}},
    ]
    _write(os.path.join(app, "events_1_local-1.zstd"), first, compress=True)
    _write(os.path.join(app, "events_2_local-1.zstd"), second, compress=True)
    _write(os.path.join(app, "appstatus_local-1"), [], compress=False)
    return root


def test_reader_groups_task_python_and_plan_metrics(tmp_path):
    groups = eventlog.read_groups(make_log(str(tmp_path)))
    g = groups["7"]
    assert g["jobs"] == 1 and g["tasks"] == 2
    assert g["executor_run_ms"] == 150 and g["executor_cpu_ns"] == 3_000_000
    assert g["gc_ms"] == 5 and g["shuffle_write_bytes"] == 100
    assert g["python_boot_ms"] == 30
    assert g["python_in_bytes"] == 1024 and g["python_out_bytes"] == 10
    assert eventlog.node_metric(g, "HashJoin", "number of output rows") == 42
    assert eventlog.node_metric(g, "Scan", "number of files read") == 12
    assert groups["8"] == {"jobs": 1}


def test_event_files_in_rolling_order(tmp_path):
    files = eventlog.event_files(make_log(str(tmp_path)))
    assert [os.path.basename(f) for f in files] == ["events_1_local-1.zstd", "events_2_local-1.zstd"]
