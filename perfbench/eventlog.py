"""Offline parser for a Spark event log (``spark.eventLog.enabled``).

Groups what the executors did by job group: every job started under
``SparkContext.setJobGroup(group, ...)`` carries the group in its
properties, its stages carry its tasks, and each task end carries the
task metrics and the SQL metric updates of the plan nodes it ran.
"""

from __future__ import annotations

import json
from collections import defaultdict

_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)
_JOIN_NODES = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct")
_PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                 "FlatMapGroupsInPandas", "PythonMapInArrow")


def _walk_plan(info: dict, out: dict):
    node = info.get("nodeName", "")
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (node, m["name"])
    for child in info.get("children", []):
        _walk_plan(child, out)


def new_counters() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0,
        "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
        "py_bytes_in": 0, "py_bytes_out": 0, "py_rows_out": 0, "py_run_s": 0.0, "py_start_s": 0.0,
        "join_rows_max": 0,
    }


def parse(lines) -> dict[str, dict]:
    """Event-log lines -> {job group: counters}. Jobs without a group
    are skipped."""
    group_of_stage: dict[int, str] = {}
    accum_meta: dict[int, tuple[str, str]] = {}
    stages_seen: set[int] = set()
    out: dict[str, dict] = defaultdict(new_counters)
    join_rows: dict[tuple[str, int], int] = defaultdict(int)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                group_of_stage.setdefault(sid, group)
        elif kind in _PLAN_EVENTS:
            _walk_plan(ev.get("sparkPlanInfo", {}), accum_meta)
        elif kind == "SparkListenerTaskEnd":
            group = group_of_stage.get(ev.get("Stage ID"))
            if group is None:
                continue
            c = out[group]
            sid = ev["Stage ID"]
            if sid not in stages_seen:
                stages_seen.add(sid)
                c["stages"] += 1
            c["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            c["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            c["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            c["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                meta = accum_meta.get(acc.get("ID"))
                if meta is None:
                    continue
                node, metric = meta
                try:
                    upd = int(acc.get("Update", 0))
                except (TypeError, ValueError):
                    continue
                if node.startswith(_PYTHON_NODES):
                    if metric == "data sent to Python workers":
                        c["py_bytes_in"] += upd
                    elif metric == "data returned from Python workers":
                        c["py_bytes_out"] += upd
                    elif metric == "number of output rows":
                        c["py_rows_out"] += upd
                    elif metric == "time to run Python workers":  # timing metrics are in ms
                        c["py_run_s"] += upd / 1e3
                    elif metric in ("time to start Python workers", "time to initialize Python workers"):
                        c["py_start_s"] += upd / 1e3
                elif node.startswith(_JOIN_NODES) and metric == "number of output rows":
                    join_rows[(group, acc["ID"])] += upd
    for (group, _), rows in join_rows.items():
        out[group]["join_rows_max"] = max(out[group]["join_rows_max"], rows)
    return dict(out)


def parse_file(path: str) -> dict[str, dict]:
    with open(path) as f:
        return parse(f)
