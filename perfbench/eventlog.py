"""Spark event-log reader: jobs, stages, task metrics and SQL-operator
metrics, rolled up per job group.

The benchmark turns the event log on through
``session.get_spark(extra_conf=EVENTLOG_CONF | {"spark.eventLog.dir": ...})``
and wraps every call into a layer in ``sparkContext.setJobGroup(<layer>,
...)``. Every Spark job carries its group in its properties, so each
stage, task and SQL-metric update can be charged to the layer that
caused it. Jobs started with no group (the HTTP server's own threads)
roll up under ``None``.

Spark 4 writes zstd-compressed rolling logs by default; both are turned
off here because the reader is plain JSON lines.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

_SQL = "org.apache.spark.sql.execution.ui."


class Rollup:
    """Totals for one job group."""

    def __init__(self):
        self.jobs = 0
        self.tasks = 0
        self.run_ms = 0  # executor run time, summed over tasks
        self.shuffle_write_bytes = 0
        self.spill_bytes = 0  # memory + disk spill
        self.output_bytes = 0
        # stage id -> successful task durations (ms)
        self.task_ms: dict[int, list[int]] = defaultdict(list)
        # (operator name, metric name) -> summed value
        self.sql: dict[tuple[str, str], int] = defaultdict(int)
        # operator name -> instances in the final (post-AQE) plans
        self.nodes: dict[str, int] = defaultdict(int)

    def sql_metric(self, node_prefix: str, metric: str) -> int:
        return sum(
            v for (n, m), v in self.sql.items()
            if n.startswith(node_prefix) and m == metric
        )


def _walk_plan(info: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info["nodeName"], m["name"])
    for child in info.get("children", []):
        _walk_plan(child, out)


def _count_nodes(info: dict, out: dict[str, int]) -> None:
    out[info["nodeName"]] += 1
    for child in info.get("children", []):
        _count_nodes(child, out)


def read(log_dir: str) -> dict[str | None, Rollup]:
    """Parse every event log under ``log_dir`` into per-group rollups."""
    exec_group: dict[int, str | None] = {}
    stage_group: dict[int, str | None] = {}
    accum_node: dict[int, tuple[str, str]] = {}
    accum_exec: dict[int, int] = {}
    accum_val: dict[int, int] = defaultdict(int)
    last_plan: dict[int, dict] = {}
    groups: dict[str | None, Rollup] = defaultdict(Rollup)

    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    ex = props.get("spark.sql.execution.id")
                    if ex is not None:
                        exec_group.setdefault(int(ex), g)
                    for s in e["Stage IDs"]:
                        stage_group.setdefault(s, g)
                    groups[g].jobs += 1
                elif ev in (
                    _SQL + "SparkListenerSQLExecutionStart",
                    _SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
                ):
                    found: dict[int, tuple[str, str]] = {}
                    _walk_plan(e["sparkPlanInfo"], found)
                    last_plan[e["executionId"]] = e["sparkPlanInfo"]
                    accum_node.update(found)
                    for a in found:
                        accum_exec[a] = e["executionId"]
                elif ev == _SQL + "SparkListenerDriverAccumUpdates":
                    for a, v in e["accumUpdates"]:
                        accum_val[a] += v
                elif ev == "SparkListenerTaskEnd":
                    if e["Task End Reason"]["Reason"] != "Success":
                        continue
                    r = groups[stage_group.get(e["Stage ID"])]
                    tm = e.get("Task Metrics") or {}
                    info = e["Task Info"]
                    r.tasks += 1
                    r.run_ms += tm.get("Executor Run Time", 0)
                    r.shuffle_write_bytes += tm.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    r.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    r.output_bytes += tm.get("Output Metrics", {}).get(
                        "Bytes Written", 0
                    )
                    r.task_ms[e["Stage ID"]].append(
                        info["Finish Time"] - info["Launch Time"]
                    )
                    for a in info.get("Accumulables", []):
                        if a["ID"] in accum_node and a.get("Update") is not None:
                            accum_val[a["ID"]] += int(a["Update"])

    for ex, plan in last_plan.items():
        _count_nodes(plan, groups[exec_group.get(ex)].nodes)
    for a, v in accum_val.items():
        if a in accum_node:
            g = exec_group.get(accum_exec.get(a))
            groups[g].sql[accum_node[a]] += v
    return dict(groups)
