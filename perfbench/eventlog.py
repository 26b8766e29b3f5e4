"""Reader for one Spark event log: uncompressed, non-rolling, local.

Spark writes the log as JSON lines when a session is started with
``spark.eventLog.enabled=true``, ``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``. The benchmark wraps every call it
times in ``setJobDescription(label)``; this module groups the log's jobs,
stages, tasks and SQL executions by that label. The label is needed
because every PySpark call site reads ``NativeMethodAccessorImpl.java:0``.

SQL plan-node metrics (scan rows and bytes, filter output rows, MapInPandas
Python time and Arrow bytes, write files, bytes and commit times) are
mapped from accumulator ids through the plan info of
``SparkListenerSQLExecutionStart`` and its adaptive-execution updates.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."

# SQL metric types -> factor to the unit the readers report (s, bytes, count)
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0}


@dataclass
class Execution:
    """One SQL execution (one DataFrame action) and its plan-node metrics."""

    id: int
    label: str
    start_ms: int
    end_ms: int = 0
    # (node name, metric name) -> value summed over the plan's nodes
    nodes: dict = field(default_factory=lambda: defaultdict(float))

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1e3

    def node(self, node_prefix: str, metric: str) -> float:
        return sum(
            v for (n, m), v in self.nodes.items()
            if n.startswith(node_prefix) and m == metric
        )


@dataclass
class LabelStats:
    """Everything the log recorded under one job-description label."""

    executions: list = field(default_factory=list)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    shuffle_write_bytes: int = 0
    # summed wall seconds of the stages that read shuffle output
    shuffle_read_stage_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return sum(e.wall_s for e in self.executions)

    def node(self, node_prefix: str, metric: str) -> float:
        return sum(e.node(node_prefix, metric) for e in self.executions)


def _plan_metrics(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"], m["metricType"])
    for child in plan.get("children", ()):
        _plan_metrics(child, out)


def read(path: str) -> dict[str, LabelStats]:
    """Parse the log at ``path`` into ``{label: LabelStats}``.

    Work that ran without a description is grouped under ``""``.
    """
    with open(path, encoding="utf-8") as fh:
        events = [json.loads(line) for line in fh if line.strip()]

    execs: dict[int, Execution] = {}
    accum_meta: dict[int, tuple] = {}  # accumulator id -> (exec id, node, metric, type)
    accum_sum: dict[int, float] = defaultdict(float)
    stage_label: dict[int, str] = {}
    stage_task_stats: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    stage_wall: dict[int, float] = {}
    job_label: dict[int, str] = {}

    def add_plan(exec_id: int, plan: dict) -> None:
        ids: dict[int, tuple] = {}
        _plan_metrics(plan, ids)
        for acc, (node, metric, mtype) in ids.items():
            accum_meta[acc] = (exec_id, node, metric, mtype)

    for e in events:
        kind = e["Event"]
        if kind == _SQL + "SparkListenerSQLExecutionStart":
            ex = Execution(e["executionId"], e.get("description") or "", e["time"])
            execs[ex.id] = ex
            add_plan(ex.id, e["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            add_plan(e["executionId"], e["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerSQLExecutionEnd":
            if e["executionId"] in execs:
                execs[e["executionId"]].end_ms = e["time"]
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc, value in e["accumUpdates"]:
                accum_sum[acc] += float(value)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            label = props.get("spark.job.description") or ""
            job_label[e["Job ID"]] = label
            for sid in e.get("Stage IDs", ()):
                stage_label[sid] = label
        elif kind == "SparkListenerTaskEnd":
            info = e.get("Task Info") or {}
            st = stage_task_stats[e["Stage ID"]]
            st["tasks"] += 1
            for a in info.get("Accumulables", ()):
                if a.get("Metadata") == "sql" and a.get("Update") is not None:
                    accum_sum[a["ID"]] += float(a["Update"])
            tm = e.get("Task Metrics") or {}
            st["run_ms"] += tm.get("Executor Run Time", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            st["shuffle_records_read"] += sr.get("Total Records Read", 0)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Completion Time" in info and "Submission Time" in info:
                stage_wall[info["Stage ID"]] = (
                    info["Completion Time"] - info["Submission Time"]
                ) / 1e3

    for acc, value in accum_sum.items():
        meta = accum_meta.get(acc)
        if meta is None or meta[0] not in execs:
            continue
        exec_id, node, metric, mtype = meta
        execs[exec_id].nodes[(node, metric)] += value * _SCALE.get(mtype, 1.0)

    out: dict[str, LabelStats] = defaultdict(LabelStats)
    for ex in sorted(execs.values(), key=lambda x: x.id):
        out[ex.label].executions.append(ex)
    for label in job_label.values():
        out[label].jobs += 1
    for sid, label in stage_label.items():
        st = stage_task_stats.get(sid)
        if st is None:  # skipped stage: its shuffle output was reused
            continue
        ls = out[label]
        ls.stages += 1
        ls.tasks += int(st["tasks"])
        ls.exec_run_s += st["run_ms"] / 1e3
        ls.shuffle_write_bytes += int(st["shuffle_write"])
        if st["shuffle_records_read"] > 0:
            ls.shuffle_read_stage_s += stage_wall.get(sid, 0.0)
    return dict(out)
