"""Fold a Spark event log into per-layer counters, keyed by job group.

The traced run tags every Spark job a library call starts with the job
group ``<call index>:<span name>``. Spark's event log then carries, per
job, stage and task:

* the group (job and stage ``Properties``),
* per-node SQL metrics: the plan trees of ``SQLExecutionStart`` /
  ``SQLAdaptiveExecutionUpdate`` map accumulator ids to (node, metric),
  and ``TaskEnd`` / ``DriverAccumUpdates`` carry the values,
* task run, CPU and GC time, and block writes (``BlockUpdated``).

``fold`` sums all of it per group into flat counter dicts; the caller
decides which groups make up a measured call.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

# (node name, metric name) -> counter name; times in ms, sizes in bytes
NODE_METRICS = {
    ("Scan", "scan time"): "spark.scan.ms",
    ("Scan", "size of files read"): "spark.scan.bytes",
    ("Exchange", "shuffle bytes written"): "spark.exchange.bytes",
    ("Exchange", "shuffle write time"): "spark.exchange.write_ms",
    ("Exchange", "fetch wait time"): "spark.exchange.fetch_wait_ms",
    ("WholeStageCodegen", "duration"): "spark.codegen.ms",
    ("Sort", "sort time"): "spark.sort.ms",
    ("Sort", "spill size"): "spark.sort.spill_bytes",
}
PY_METRICS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_out",
    "data returned from Python workers": "py_bytes_in",
}
ARROW_NODES = ("FlatMapGroupsInArrow", "MapInArrow", "PythonMapInArrow")


def arrow_layer(simple: str) -> str:
    """Owning library layer of an Arrow node, from its UDF name (and, for
    the two kernels both named ``run``, from the backtest's output
    columns)."""
    udf = re.search(r"\], (\w+)\(", simple) or re.search(r"(\w+)\(", simple)
    name = udf.group(1) if udf else ""
    if name == "run_arrow":
        return "operators.segmented"
    if name == "part":
        return "operators.similarity"
    if "position#" in simple:
        return "backtest"
    return "operators.recurrence"


def _family(node_name: str) -> str:
    for fam in ("WholeStageCodegen", "Scan", "Exchange", "Sort"):
        if node_name.startswith(fam):
            return fam
    return node_name


def _walk(node, out):
    out.append(node)
    for child in node["children"]:
        _walk(child, out)
    return out


def load(path: str) -> list[dict]:
    """Events of the single (non-rolling) log file under ``path``."""
    files = [os.path.join(path, f) for f in os.listdir(path) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {path}, found {files}")
    with open(files[0]) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def fold(events: list[dict]) -> dict[str, dict[str, float]]:
    """Counters per job group. Node counts (Exchange / Arrow nodes) come
    from each SQL execution's final plan; everything else is summed over
    tasks, jobs and driver-side metric updates."""
    acc: dict[int, tuple[str, str]] = {}
    final_plan: dict[int, dict] = {}
    exec_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    current = None

    def add(group, key, value):
        if group is not None:
            out[group][key] += value

    # pass 1: plan trees and group ownership (driver-side metric updates
    # can precede the first job of their execution)
    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if "spark.sql.execution.id" in props:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), props.get("spark.jobGroup.id"))
        elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            final_plan[e["executionId"]] = e["sparkPlanInfo"]
            for node in _walk(e["sparkPlanInfo"], []):
                name = node["nodeName"]
                fam = _family(name)
                layer = arrow_layer(node["simpleString"]) if name in ARROW_NODES else None
                for m in node["metrics"]:
                    if layer and m["name"] in PY_METRICS:
                        key = f"{layer}.{PY_METRICS[m['name']]}"
                    else:
                        key = NODE_METRICS.get((fam, m["name"]))
                    if key:
                        acc[m["accumulatorId"]] = (key, m["metricType"])

    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            job_group[e["Job ID"]] = group
            job_start[e["Job ID"]] = e["Submission Time"]
            current = group
            add(group, "spark.jobs", 1)
        elif kind == "SparkListenerJobEnd":
            group = job_group.get(e["Job ID"])
            add(group, "job_ms", e["Completion Time"] - job_start.get(e["Job ID"], e["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            stage_group[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e["Stage ID"])
            info, metrics = e["Task Info"], e.get("Task Metrics") or {}
            add(group, "spark.tasks", 1)
            if e["Task End Reason"]["Reason"] != "Success" or info.get("Failed"):
                add(group, "spark.tasks.failed", 1)
            run_ms = metrics.get("Executor Run Time", 0)
            add(group, "spark.executor.run_ms", run_ms)
            add(group, "spark.executor.cpu_ms", metrics.get("Executor CPU Time", 0) / 1e6)
            add(group, "spark.executor.gc_ms", metrics.get("JVM GC Time", 0))
            span = info["Finish Time"] - info["Launch Time"]
            overhead = (
                run_ms
                + metrics.get("Executor Deserialize Time", 0)
                + metrics.get("Result Serialization Time", 0)
            )
            add(group, "spark.tasks.sched_delay_ms", max(0, span - overhead))
            for a in info.get("Accumulables", []):
                key = acc.get(a["ID"])
                if key and "Update" in a:
                    value = float(a["Update"])
                    add(group, key[0], value / 1e6 if key[1] == "nsTiming" else value)
        elif kind == "SparkListenerDriverAccumUpdates":
            group = exec_group.get(e["executionId"])
            for aid, value in e["accumUpdates"]:
                key = acc.get(aid)
                if key:
                    add(group, key[0], value / 1e6 if key[1] == "nsTiming" else value)
        elif kind == "SparkListenerBlockUpdated":
            info = e["Block Updated Info"]
            if info["Block ID"].startswith("rdd_"):
                add(current, "spark.checkpoint.bytes", info["Memory Size"] + info["Disk Size"])

    for eid, plan in final_plan.items():
        group = exec_group.get(eid)
        for node in _walk(plan, []):
            if node["nodeName"] == "Exchange":
                add(group, "spark.exchange.count", 1)
            elif node["nodeName"] in ARROW_NODES:
                add(group, "spark.arrow.count", 1)
    return out
