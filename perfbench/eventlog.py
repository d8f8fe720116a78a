"""Spark event-log parsing for the ``job`` and ``lane`` layers.

The benchmark tags every job it starts with the local property
``perfbench.op`` (e.g. ``sparc:3`` or ``ref:3``); this module folds the
log's task, stage, job and SQL events into per-op figures.

Spark 4.1 writes a rolling log, ``eventlog_v2_<app>/events_<n>_<app>.zstd``;
``zstandard`` is not installed, but pyarrow's zstd input stream reads it.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

OP_PROPERTY = "perfbench.op"

# task accumulables (SQL metrics of MapInArrow and the file write, in ms
# or bytes) -> per-layer metric
_TASK_SQL = {
    "time to start Python workers": "lane.py_start_s",
    "time to initialize Python workers": "lane.py_init_s",
    "time to run Python workers": "lane.py_run_s",
    "data sent to Python workers": "lane.bytes_to_py",
    "data returned from Python workers": "lane.bytes_from_py",
    "task commit time": "job.commit_s",
}
_DRIVER_SQL = {"job commit time": "job.commit_s"}


def read_lines(path: str) -> list[dict]:
    """Events of one log file (plain or zstd)."""
    if path.endswith(".zstd"):
        import pyarrow as pa

        with pa.input_stream(path, compression="zstd") as f:
            text = f.read().decode()
    else:
        with open(path) as f:
            text = f.read()
    return [json.loads(line) for line in text.splitlines() if line.strip()]


def find_logs(log_dir: str) -> list[str]:
    """Event files under ``log_dir``, rolling (v2) or single-file."""
    rolling = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    single = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    return sorted(rolling + single)


def _plan_metric_names(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in node.get("children", []):
        _plan_metric_names(child, out)


def _is_timing(metric: str) -> bool:
    return metric.endswith("_s")


def parse(events: list[dict]) -> dict[str, dict[str, float]]:
    """Per-op figures keyed by the ``perfbench.op`` tag:

    - ``job.jobs``, ``job.stages``, ``job.tasks``: counts;
    - ``job.scheduler_delay_s``, ``job.deserialize_s``,
      ``job.executor_run_s``, ``job.gc_s``: sums over the op's tasks;
    - ``job.plan_s``: SQL execution start to the op's first task launch;
    - ``job.commit_s``: task commit plus job commit;
    - ``lane.*``: the MapInArrow Python-worker metrics, summed.
    """
    job_op: dict[int, str] = {}
    stage_op: dict[int, str] = {}
    job_exec: dict[int, int] = {}
    exec_start: dict[int, int] = {}
    accum_names: dict[int, str] = {}
    first_launch: dict[str, int] = {}
    ops: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    driver_updates: list[tuple[int, list]] = []

    for ev in events:
        kind = ev["Event"]
        if kind.endswith("SQLExecutionStart"):
            exec_start[ev["executionId"]] = ev["time"]
            _plan_metric_names(ev["sparkPlanInfo"], accum_names)
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metric_names(ev["sparkPlanInfo"], accum_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            driver_updates.append((ev["executionId"], ev["accumUpdates"]))
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            op = props.get(OP_PROPERTY)
            if op is None:
                continue
            job_op[ev["Job ID"]] = op
            if "spark.sql.execution.id" in props:
                job_exec[ev["Job ID"]] = int(props["spark.sql.execution.id"])
            ops[op]["job.jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_op[sid] = op
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            op = stage_op.get(info["Stage ID"])
            if op is not None and "Completion Time" in info and info.get("Number of Tasks"):
                ops[op]["job.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(ev["Stage ID"])
            if op is None:
                continue
            info = ev["Task Info"]
            acc = {a["Name"]: a.get("Update") for a in info.get("Accumulables", [])}
            m = ops[op]
            m["job.tasks"] += 1
            launch = info["Launch Time"]
            first_launch[op] = min(first_launch.get(op, launch), launch)
            tm = ev.get("Task Metrics") or {}
            run_ms = tm.get("Executor Run Time", 0)
            deser_ms = tm.get("Executor Deserialize Time", 0)
            ser_ms = tm.get("Result Serialization Time", 0)
            get_ms = info.get("Getting Result Time", 0) or 0
            total_ms = info["Finish Time"] - launch
            m["job.executor_run_s"] += run_ms / 1e3
            m["job.deserialize_s"] += deser_ms / 1e3
            m["job.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            # the Spark UI's definition of scheduler delay
            m["job.scheduler_delay_s"] += max(0, total_ms - run_ms - deser_ms - ser_ms - get_ms) / 1e3
            for name, metric in _TASK_SQL.items():
                if name in acc and acc[name] is not None:
                    v = float(acc[name])
                    m[metric] += v / 1e3 if _is_timing(metric) else v

    exec_op: dict[int, str] = {}
    for job, op in job_op.items():
        if job in job_exec:
            exec_op.setdefault(job_exec[job], op)
    for exec_id, updates in driver_updates:
        op = exec_op.get(exec_id)
        if op is None:
            continue
        for acc_id, value in updates:
            metric = _DRIVER_SQL.get(accum_names.get(acc_id, ""))
            if metric is not None:
                ops[op][metric] += float(value) / 1e3
    for op, launch in first_launch.items():
        starts = [exec_start[e] for e, o in exec_op.items() if o == op and e in exec_start]
        if starts:
            ops[op]["job.plan_s"] = max(0, launch - min(starts)) / 1e3
    return {op: dict(m) for op, m in ops.items()}


def per_op_mean(ops: dict[str, dict[str, float]], leg: str) -> dict[str, float]:
    """Mean of each figure over the ops of one leg (``sparc`` or ``ref``)."""
    mine = [m for op, m in ops.items() if op.split(":")[0] == leg]
    if not mine:
        return {}
    keys = sorted({k for m in mine for k in m})
    return {k: sum(m.get(k, 0.0) for m in mine) / len(mine) for k in keys}
