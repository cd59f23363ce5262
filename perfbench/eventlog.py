"""Reader for Spark's own event log, grouped by Spark job group.

Spark 4 writes a rolling event-log directory (``eventlog_v2_<app>/``) of
``events_<n>_<app>[.zstd]`` files, one JSON event per line. pyarrow's zstd
``CompressedInputStream`` decompresses it, so no extra package is needed.

``read_groups`` sums, per job group: task metrics (executor run and CPU time,
GC, task count, shuffle bytes written), the Python-worker SQL metrics that
PySpark's Arrow nodes carry, the number of jobs, and every SQL plan metric
keyed by ``(node name, metric name)`` (e.g. a join's output rows, a scan's
files read).
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

import pyarrow as pa

PYTHON_METRICS = {
    "time to start Python workers": "python_boot_ms",
    "data sent to Python workers": "python_in_bytes",
    "data returned from Python workers": "python_out_bytes",
}

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


def event_files(log_dir: str) -> list[str]:
    """Event files of every application under ``log_dir``, in write order."""
    out = []
    for app in sorted(os.listdir(log_dir)):
        d = os.path.join(log_dir, app)
        if not os.path.isdir(d):
            continue
        parts = []
        for f in os.listdir(d):
            m = re.match(r"events_(\d+)_", f)
            if m:
                parts.append((int(m.group(1)), os.path.join(d, f)))
        out.extend(p for _, p in sorted(parts))
    return out


def iter_events(path: str):
    if path.endswith(".zstd"):
        with pa.CompressedInputStream(pa.OSFile(path), "zstd") as s:
            data = s.read()
    else:
        with open(path, "rb") as f:
            data = f.read()
    for line in data.decode("utf-8").splitlines():
        if line.strip():
            yield json.loads(line)


def _plan_metrics(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for ch in node.get("children", []):
        _plan_metrics(ch, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_groups(log_dir: str) -> dict[str, dict]:
    """Job group id -> summed metrics (see module docstring)."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    acc_node: dict[int, tuple[int, str, str]] = {}  # acc id -> (exec id, node, metric)
    acc_value: dict[int, float] = defaultdict(float)
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in event_files(log_dir):
        for e in iter_events(path):
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if g is None:
                    continue
                groups[g]["jobs"] += 1
                for sid in e.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == _SQL_START:
                g = e.get("jobGroupId")
                if g is not None:
                    exec_group[e["executionId"]] = g
                found: dict[int, tuple[str, str]] = {}
                _plan_metrics(e["sparkPlanInfo"], found)
                for acc, (node, name) in found.items():
                    acc_node[acc] = (e["executionId"], node, name)
            elif kind == _SQL_AQE:
                found = {}
                _plan_metrics(e["sparkPlanInfo"], found)
                for acc, (node, name) in found.items():
                    acc_node[acc] = (e["executionId"], node, name)
            elif kind == _DRIVER_ACCUM:
                for acc, val in e.get("accumUpdates", []):
                    acc_value[acc] += _num(val)
            elif kind == "SparkListenerTaskEnd":
                for a in (e.get("Task Info") or {}).get("Accumulables", []):
                    if "ID" in a and "Update" in a:
                        acc_value[a["ID"]] += _num(a["Update"])
                g = stage_group.get(e["Stage ID"])
                if g is None:
                    continue
                gm = groups[g]
                tm = e.get("Task Metrics") or {}
                gm["tasks"] += 1
                gm["executor_run_ms"] += tm.get("Executor Run Time", 0)
                gm["executor_cpu_ns"] += tm.get("Executor CPU Time", 0)
                gm["gc_ms"] += tm.get("JVM GC Time", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                gm["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                for a in (e.get("Task Info") or {}).get("Accumulables", []):
                    key = PYTHON_METRICS.get(a.get("Name"))
                    if key is not None:
                        gm[key] += _num(a.get("Update"))
    for acc, (exec_id, node, name) in acc_node.items():
        g = exec_group.get(exec_id)
        if g is not None and acc in acc_value:
            groups[g][(node, name)] += acc_value[acc]
    return {g: dict(m) for g, m in groups.items()}


def node_metric(group: dict, node_substr: str, metric: str) -> float:
    """Sum of ``metric`` over plan nodes whose name contains ``node_substr``."""
    return sum(
        v
        for k, v in group.items()
        if isinstance(k, tuple) and node_substr in k[0] and k[1] == metric
    )
