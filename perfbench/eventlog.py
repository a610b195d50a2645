"""Per-span Spark engine metrics read from Spark's own event log.

Every traced action runs under a job group named after its span
(``sc.setJobGroup(label, label)``). Jobs are mapped to spans by that
group id, falling back to the job's submission time for jobs Spark
starts under its own description (file listings). Stage and task
metrics are summed per span. A SQL plan-node metric counts in the span
whose stages (or driver updates) reported it, once per accumulator: a
cached frame's plan repeats inside every plan that reads it, but its
nodes ran only once.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

# engine metric names, as printed under ``spark.`` and ``spark.<layer>.``
SPARK_METRICS = (
    "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "cpu_over_run",
    "gc_s", "scheduler_delay_s", "fetch_wait_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_disk_bytes", "peak_exec_mem_bytes",
    "python_udf_s", "exchanges", "codegen_fallbacks",
)

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_SQL_DRIVER_ACC = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
_PY_TIME = "time to run Python workers"


def read_events(log_dir: str) -> list[dict]:
    """All events of every (finished) application log under ``log_dir``."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _walk(node: dict, depth: int = 0):
    yield depth, node
    for child in node.get("children", []):
        yield from _walk(child, depth + 1)


def _metric_value(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def span_metrics(events: list[dict], spans: list[dict]) -> dict[str, dict]:
    """Engine metrics per span label.

    ``spans``: ``{"label", "start_ms", "end_ms", "fallbacks"}`` records;
    ``fallbacks`` is the number of ``Failed to compile`` driver-log lines
    written while the span ran. Returns ``{label: {metric: value}}`` with
    every name in :data:`SPARK_METRICS`, plus ``deepest_join_rows``: the
    output rows of the deepest join in the span's plans (the candidate
    pairs of a filter-after-join operator).
    """
    labels = {s["label"] for s in spans}
    by_time = sorted(spans, key=lambda s: s["start_ms"])

    def span_at(t_ms: float) -> str | None:
        for s in by_time:
            if s["start_ms"] <= t_ms <= s["end_ms"]:
                return s["label"]
        return None

    stage_span: dict[int, str] = {}
    exec_span: dict[int, str] = {}
    plans: dict[int, list[dict]] = defaultdict(list)
    # span -> accumulator id -> value reported by that span's stages
    span_acc: dict[str, dict[int, float]] = defaultdict(dict)
    out = {label: defaultdict(float) for label in labels}
    task_peak: dict[str, float] = defaultdict(float)

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            label = props.get("spark.jobGroup.id")
            if label not in labels:
                label = span_at(e.get("Submission Time", 0))
            if label is None:
                continue
            out[label]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_span.setdefault(sid, label)
        elif kind == _SQL_START:
            label = e.get("jobGroupId")
            if label not in labels:
                label = e.get("description") if e.get("description") in labels else span_at(e.get("time", 0))
            if label is not None:
                exec_span[e["executionId"]] = label
                plans[e["executionId"]].append(e["sparkPlanInfo"])
        elif kind == _SQL_AQE:
            if e["executionId"] in exec_span:
                plans[e["executionId"]].append(e["sparkPlanInfo"])
        elif kind == _SQL_DRIVER_ACC:
            label = exec_span.get(e.get("executionId"))
            if label is not None:
                accs = span_acc[label]
                for acc_id, value in e.get("accumUpdates", []):
                    accs[acc_id] = accs.get(acc_id, 0.0) + _metric_value(value)
        elif kind == "SparkListenerTaskEnd":
            label = stage_span.get(e["Stage ID"])
            if label is None:
                continue
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            duration = info["Finish Time"] - info["Launch Time"]
            delay = (
                duration
                - tm.get("Executor Run Time", 0)
                - tm.get("Executor Deserialize Time", 0)
                - tm.get("Result Serialization Time", 0)
                - info.get("Getting Result Time", 0)
            )
            o = out[label]
            o["tasks"] += 1
            o["scheduler_delay_s"] += max(delay, 0) / 1e3
            task_peak[label] = max(task_peak[label], tm.get("Peak Execution Memory", 0))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            label = stage_span.get(info["Stage ID"])
            if label is None:
                continue
            o = out[label]
            o["stages"] += 1
            accs = span_acc[label]
            for a in info.get("Accumulables", []):
                name, value = a.get("Name", ""), _metric_value(a.get("Value"))
                # a stage reports each accumulator's running total
                accs[a["ID"]] = max(accs.get(a["ID"], 0.0), value)
                if name == "internal.metrics.executorRunTime":
                    o["exec_run_s"] += value / 1e3
                elif name == "internal.metrics.executorCpuTime":
                    o["exec_cpu_s"] += value / 1e9
                elif name == "internal.metrics.jvmGCTime":
                    o["gc_s"] += value / 1e3
                elif name == "internal.metrics.shuffle.read.fetchWaitTime":
                    o["fetch_wait_s"] += value / 1e3
                elif name == "internal.metrics.shuffle.write.bytesWritten":
                    o["shuffle_write_bytes"] += value
                elif name in (
                    "internal.metrics.shuffle.read.remoteBytesRead",
                    "internal.metrics.shuffle.read.localBytesRead",
                ):
                    o["shuffle_read_bytes"] += value
                elif name == "internal.metrics.diskBytesSpilled":
                    o["spill_disk_bytes"] += value

    deepest = defaultdict(float)
    for exec_id, exec_plans in plans.items():
        label = exec_span[exec_id]
        accs, o = span_acc[label], out[label]
        seen: set[int] = set()
        best_depth, best_rows = -1, 0.0
        for plan in exec_plans:
            for depth, node in _walk(plan):
                ran = [m for m in node.get("metrics", []) if m["accumulatorId"] in accs]
                ids = {m["accumulatorId"] for m in ran}
                if not ran or ids & seen:
                    continue  # not run in this span, or already counted
                seen |= ids
                name = node.get("nodeName", "")
                if name == "Exchange":
                    o["exchanges"] += 1
                for m in ran:
                    if m["name"] == _PY_TIME:
                        scale = 1e9 if m.get("metricType") == "nsTiming" else 1e3
                        o["python_udf_s"] += accs[m["accumulatorId"]] / scale
                    elif m["name"] == "number of output rows" and "Join" in name and depth > best_depth:
                        best_depth, best_rows = depth, accs[m["accumulatorId"]]
        deepest[label] += best_rows

    result = {}
    for s in spans:
        label = s["label"]
        o = dict(out[label])
        vals = {name: float(o.get(name, 0.0)) for name in SPARK_METRICS}
        vals["peak_exec_mem_bytes"] = float(task_peak.get(label, 0.0))
        vals["codegen_fallbacks"] = float(s.get("fallbacks", 0))
        run = vals["exec_run_s"]
        vals["cpu_over_run"] = vals["exec_cpu_s"] / run if run > 0 else 0.0
        vals["deepest_join_rows"] = deepest.get(label, 0.0)
        result[label] = vals
    return result
