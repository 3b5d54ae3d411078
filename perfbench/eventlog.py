"""Per-task and per-stage figures from Spark's own event log.

The traced run starts its session with ``spark.eventLog.enabled`` and a
single uncompressed, non-rolling log file; after ``spark.stop()`` this module
reads it back.  Nothing here starts a Spark job.
"""

from __future__ import annotations

import json
import os
import statistics

from perfbench.stats import union_length, weight_at

MB = float(1 << 20)

#: physical operators that run a Python worker per task
PYTHON_OPERATORS = (
    "MapInArrow",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
    "ArrowEvalPython",
    "BatchEvalPython",
)

#: job group of the benchmark's output checks; the parser leaves them out
CHECK_GROUP = "perfbench.check"

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def event_log_conf(log_dir: str) -> dict:
    """Session settings that make Spark write one plain JSON-lines log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def find_log(log_dir: str) -> str:
    files = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.endswith(".inprogress") and not f.startswith(".")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return files[0]


def _scope_names(stage_info: dict) -> set[str]:
    names = set()
    for rdd in stage_info.get("RDD Info", ()):
        scope = rdd.get("Scope")
        if scope:
            try:
                names.add(json.loads(scope).get("name", ""))
            except ValueError:
                pass
    return names


def _group(job_start: dict) -> str | None:
    return (job_start.get("Properties") or {}).get("spark.jobGroup.id")


def parse(lines, windows=None) -> dict:
    """Reduce event-log lines to the benchmark's ``spark.*`` metrics.

    Jobs of the ``CHECK_GROUP`` job group (the benchmark's output checks)
    never count.  ``windows`` = [(start, end, weight)] in epoch milliseconds
    restricts the figures to jobs submitted inside a window; each such job,
    and every task of its stages, counts with that window's weight.  The
    driver gap is the weighted part of each window in which no counted job
    was running.  Without ``windows`` the whole application counts once.
    """
    jobs: dict[int, list] = {}  # job id -> [submitted, completed, weight]
    stage_w: dict[int, float] = {}  # stage id -> weight of its counted job
    task_dur: dict[int, list[float]] = {}
    stage_ops: dict[int, set[str]] = {}
    m = {
        "spark.jobs": 0.0,
        "spark.tasks": 0.0,
        "spark.executor_run_s": 0.0,
        "spark.executor_cpu_s": 0.0,
        "spark.gc_s": 0.0,
        "spark.shuffle_write_mb": 0.0,
        "spark.spill_mb": 0.0,
        "spark.python_sent_mb": 0.0,
        "spark.python_recv_mb": 0.0,
    }
    app = [None, None]
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerApplicationStart":
            app[0] = e["Timestamp"]
        elif kind == "SparkListenerApplicationEnd":
            app[1] = e["Timestamp"]
        elif kind == "SparkListenerJobStart":
            w = 1.0 if windows is None else weight_at(e["Submission Time"], windows)
            if w and _group(e) != CHECK_GROUP:
                jobs[e["Job ID"]] = [e["Submission Time"], None, w]
                for sid in e.get("Stage IDs", ()):
                    stage_w.setdefault(sid, w)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]][1] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stage_ops[info["Stage ID"]] = _scope_names(info)
        elif kind == "SparkListenerTaskEnd":
            w = stage_w.get(e["Stage ID"])
            if w is None:
                continue
            info = e["Task Info"]
            m["spark.tasks"] += w
            task_dur.setdefault(e["Stage ID"], []).append(info["Finish Time"] - info["Launch Time"])
            tm = e.get("Task Metrics") or {}
            m["spark.executor_run_s"] += w * tm.get("Executor Run Time", 0) / 1e3
            m["spark.executor_cpu_s"] += w * tm.get("Executor CPU Time", 0) / 1e9
            m["spark.gc_s"] += w * tm.get("JVM GC Time", 0) / 1e3
            m["spark.shuffle_write_mb"] += (
                w * tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
            )
            m["spark.spill_mb"] += w * tm.get("Disk Bytes Spilled", 0) / MB
            for acc in info.get("Accumulables", ()):
                name = acc.get("Name")
                if name == PY_SENT:
                    m["spark.python_sent_mb"] += w * int(acc.get("Update") or 0) / MB
                elif name == PY_RECV:
                    m["spark.python_recv_mb"] += w * int(acc.get("Update") or 0) / MB
    m["spark.jobs"] = sum(w for _, _, w in jobs.values())
    m["spark.task_skew"] = worst_python_skew(task_dur, stage_ops)
    if windows is None:
        windows = [(app[0], app[1], 1.0)] if None not in app else []
    gap = 0.0
    for lo, hi, w in windows:
        busy = union_length(
            (max(s, lo), min(e if e is not None else hi, hi))
            for s, e, _ in jobs.values()
            if s <= hi and (e is None or e >= lo)
        )
        gap += w * max(0.0, (hi - lo) - busy)
    m["spark.driver_gap_s"] = gap / 1e3
    return m


def worst_python_skew(task_dur: dict[int, list[float]], stage_ops: dict[int, set[str]]) -> float:
    """max/median task time of the worst stage that runs a Python operator
    (stages with fewer than two tasks have no skew); 0.0 when none ran."""
    worst = 0.0
    for sid, durs in task_dur.items():
        if len(durs) < 2 or not stage_ops.get(sid, set()) & set(PYTHON_OPERATORS):
            continue
        med = statistics.median(durs)
        if med > 0:
            worst = max(worst, max(durs) / med)
    return worst


def parse_file(path: str, windows=None) -> dict:
    with open(path) as f:
        return parse(f, windows)
