"""Fold a Spark event log into one layer record per job group.

Standard library only. The log is the uncompressed, non-rolling JSON
lines file Spark writes with ``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``.

* ``SparkListenerJobStart`` maps each job, and through it each stage,
  to the job group that was set when the job was submitted.
* ``SparkListenerTaskEnd`` supplies the task metrics (run, CPU and GC
  time, input and shuffle bytes, spill) and the per-task updates of the
  SQL operator metrics (scan time, aggregation build, Python workers).
* ``SparkListenerStageSubmitted`` / ``SparkListenerStageCompleted``
  supply stage submission times, for the time tasks waited to launch,
  and which stages ran.
* ``SparkListenerSQLExecutionStart`` and the adaptive plan updates name
  the operator and unit of every SQL metric accumulator, so times are
  converted by their declared unit and Python rows are counted only on
  Python operators. A cached plan's operators can be described after
  the tasks that ran them, so plans are collected before tasks are
  folded. Rows that file-source scans (``Scan parquet`` and the like)
  output are counted as ``file_rows``.

Operators fused into one task overlap in time: aggregation build time
includes the scan feeding it, and a Python operator's run time includes
the Python operator upstream of it. Per task, the pipeline's time is
therefore the largest of scan, aggregation build and Python run time,
and Python times are the largest over the task's Python operators.
Spark's "time to initialize Python workers" is not task-scoped (it
exceeds the task's run time many times over) and is not used.

The reconciliation check compares the time the layers explain — the
pipeline, shuffle write and shuffle fetch wait — with the executors'
run time: the parts must not exceed the whole, and the rest is
reported as the unexplained share.
"""

from __future__ import annotations

import json
from collections import defaultdict

#: SQL metric name -> layer field (seconds after unit conversion)
_SQL_TIMES = {
    "scan time": "scan_s",
    "time in aggregation build": "agg_build_s",
    "time to start Python workers": "python_start_s",
    "time to run Python workers": "python_run_s",
}
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}
FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "job_wall_s",
    "run_s",
    "cpu_s",
    "gc_s",
    "scan_s",
    "scan_bytes",
    "file_rows",
    "agg_build_s",
    "spill_bytes",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "shuffle_write_s",
    "shuffle_fetch_wait_s",
    "task_wait_s",
    "python_start_s",
    "python_run_s",
    "python_rows",
    "explained_s",
)


def _walk_plan(node: dict, out: dict[int, tuple[str, str, str]]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"], m["metricType"])
    for child in node.get("children", []):
        _walk_plan(child, out)


def _is_python_node(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


def _union_seconds(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] millisecond intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def fold(lines) -> dict[str, dict[str, float]]:
    """Fold event-log lines into ``{job group: {field: value}}``.

    Jobs submitted with no job group are folded under ``""``."""
    accs: dict[int, tuple[str, str, str]] = {}
    job_group: dict[int, str] = {}
    job_span: dict[int, list[int]] = {}
    stage_group: dict[int, str] = {}
    stage_submit: dict[int, int] = {}
    ran_stages: set[int] = set()
    rec: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    events = [json.loads(line) for line in lines if line.strip()]
    for ev in events:
        if "sparkPlanInfo" in ev:
            _walk_plan(ev["sparkPlanInfo"], accs)
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_group[ev["Job ID"]] = group
            job_span[ev["Job ID"]] = [ev["Submission Time"], ev["Submission Time"]]
            rec[group]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_span:
                job_span[ev["Job ID"]][1] = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_submit[info["Stage ID"]] = info.get("Submission Time", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            stage_submit.setdefault(sid, info.get("Submission Time", 0))
            if info.get("Number of Tasks", 0) and sid not in ran_stages:
                ran_stages.add(sid)
                rec[stage_group.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            _fold_task(ev, rec[stage_group.get(ev["Stage ID"], "")], accs, stage_submit)
    spans: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for job, group in job_group.items():
        spans[group].append(tuple(job_span[job]))
    for group, intervals in spans.items():
        rec[group]["job_wall_s"] = _union_seconds(intervals)
    return dict(rec)


def _fold_task(ev: dict, r: dict, accs: dict, stage_submit: dict) -> None:
    info = ev["Task Info"]
    r["tasks"] += 1
    if info.get("Failed") or info.get("Killed"):
        r["failed_tasks"] += 1
    submit = stage_submit.get(ev["Stage ID"])
    if submit:
        r["task_wait_s"] += max(0, info["Launch Time"] - submit) / 1000.0
    m = ev.get("Task Metrics") or {}
    r["run_s"] += m.get("Executor Run Time", 0) / 1000.0
    r["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    r["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    r["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    r["scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    r["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
    sw = m.get("Shuffle Write Metrics") or {}
    r["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    r["shuffle_write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
    task = dict.fromkeys(_SQL_TIMES.values(), 0.0)
    for acc in info.get("Accumulables", []):
        node, name, mtype = accs.get(acc["ID"], ("", acc.get("Name", ""), ""))
        try:  # SQL metric updates are logged as strings
            update = float(acc.get("Update"))
        except (TypeError, ValueError):
            continue
        if name in _SQL_TIMES and mtype in _TIME_SCALE:
            field = _SQL_TIMES[name]
            value = update * _TIME_SCALE[mtype]
            if field.startswith("python"):  # pipelined Python operators nest
                task[field] = max(task[field], value)
            else:
                task[field] += value
        elif name == "number of output rows" and _is_python_node(node):
            r["python_rows"] += update
        elif name == "number of output rows" and node.startswith("Scan "):
            r["file_rows"] += update
    for field, value in task.items():
        r[field] += value
    r["explained_s"] += (
        max(task["scan_s"], task["agg_build_s"], task["python_run_s"])
        + sw.get("Shuffle Write Time", 0) / 1e9
        + sr.get("Fetch Wait Time", 0) / 1000.0
    )


def fold_file(path: str) -> dict[str, dict[str, float]]:
    with open(path) as f:
        return fold(f)


def merge(records) -> dict[str, float]:
    """Field-wise sum of several group records."""
    out = dict.fromkeys(FIELDS, 0.0)
    for r in records:
        for k in FIELDS:
            out[k] += r.get(k, 0.0)
    return out


def reconcile(r: dict[str, float], slack: float = 0.10) -> tuple[bool, float]:
    """``(ok, unexplained share)``: the explained time must not exceed
    executor run time by more than ``slack`` (plus 10 ms of rounding
    per task); the unexplained share is the rest of run time."""
    explained = r["explained_s"]
    run = r["run_s"]
    ok = explained <= run * (1 + slack) + 0.01 * r["tasks"]
    share = max(0.0, run - explained) / run if run > 0 else 0.0
    return ok, share
