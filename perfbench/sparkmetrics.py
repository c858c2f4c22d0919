"""Spark's own instruments, read from the event log the benchmark's
session writes (``spark.eventLog.enabled``).

Everything is attributed by time window: a task counts when it
finished inside [start_ms, end_ms]; an SQL plan node's metrics count
when its execution started inside the window.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


def read_events(eventlog_dir: str) -> list[dict]:
    """Every event of every application log under ``eventlog_dir``
    (single-file logs and rolling ``eventlog_v2_*`` directories)."""
    paths = sorted(
        p
        for p in glob.glob(os.path.join(eventlog_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
        and not os.path.basename(p).startswith((".", "appstatus"))
    )
    events = []
    for path in paths:
        with open(path, encoding="utf-8") as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def _metric_value(metric_type: str, raw) -> float:
    """SQL metric update in base units: seconds for timings, bytes for
    sizes, a plain number otherwise."""
    v = float(raw)
    if metric_type == "timing":
        return v / 1e3
    if metric_type == "nsTiming":
        return v / 1e9
    return v


class Window:
    """Aggregates over the events that fall inside one time window."""

    def __init__(self, events: list[dict], start_ms: float, end_ms: float):
        self.tasks = [
            e
            for e in events
            if e["Event"] == "SparkListenerTaskEnd"
            and start_ms <= e["Task Info"]["Finish Time"] <= end_ms
        ]
        self.jobs = [
            e
            for e in events
            if e["Event"] == "SparkListenerJobStart"
            and start_ms <= e["Submission Time"] <= end_ms
        ]
        # accumulator id -> (node name, node string, metric name, metric
        # type) for every plan (initial and AQE re-plans) of executions
        # started inside the window
        executions = {
            e["executionId"]
            for e in events
            if e["Event"] == SQL_START and start_ms <= e["time"] <= end_ms
        }
        self.metric_of: dict[int, tuple[str, str, str, str]] = {}
        for e in events:
            if e["Event"] in (SQL_START, SQL_AQE_UPDATE) and e["executionId"] in executions:
                for node in _plan_nodes(e["sparkPlanInfo"]):
                    for m in node["metrics"]:
                        self.metric_of[m["accumulatorId"]] = (
                            node["nodeName"], node.get("simpleString", ""), m["name"], m["metricType"],
                        )
        self.driver_updates = [
            (acc, val)
            for e in events
            if e["Event"] == SQL_DRIVER_ACCUM and e["executionId"] in executions
            for acc, val in e["accumUpdates"]
        ]

    def task_sum(self, *path: str) -> float:
        """Sum of one ``Task Metrics`` field over the window's tasks,
        e.g. ``task_sum("Shuffle Write Metrics", "Shuffle Bytes Written")``."""
        total = 0.0
        for e in self.tasks:
            v = e.get("Task Metrics") or {}
            for key in path:
                v = v.get(key, 0) if isinstance(v, dict) else 0
            total += float(v or 0)
        return total

    def sql_metric(self, node_prefix: str, metric: str, detail: str = "") -> float:
        """Sum of one SQL metric over every plan node whose name starts
        with ``node_prefix`` and whose plan string contains ``detail``
        (task updates plus driver updates)."""
        total = 0.0
        wanted = {
            acc
            for acc, (node, text, name, _) in self.metric_of.items()
            if node.startswith(node_prefix) and detail in text and name == metric
        }
        for e in self.tasks:
            for a in e["Task Info"].get("Accumulables", []):
                if a["ID"] in wanted and "Update" in a:
                    total += _metric_value(self.metric_of[a["ID"]][3], a["Update"])
        for acc, val in self.driver_updates:
            if acc in wanted:
                total += _metric_value(self.metric_of[acc][3], val)
        return total

    def band_join_rows(self) -> float:
        """Rows out of the banded self-joins: every join node keyed
        first on a ``band`` column (the simhash and afp pigeonhole
        joins, the minhash LSH join)."""
        return sum(
            self.sql_metric(join, "number of output rows", f"{join} [band#")
            for join in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        )

    def max_over_median_task_records(self) -> float:
        """Largest max/median ratio of shuffle records read per task
        over the window's stages that read shuffle data with at least
        two tasks; 1.0 when no stage qualifies."""
        per_stage = defaultdict(list)
        for e in self.tasks:
            sr = (e.get("Task Metrics") or {}).get("Shuffle Read Metrics") or {}
            per_stage[e["Stage ID"]].append(float(sr.get("Total Records Read", 0)))
        ratios = [
            max(rows) / statistics.median(rows)
            for rows in per_stage.values()
            if len(rows) >= 2 and statistics.median(rows) > 0
        ]
        return max(ratios, default=1.0)

    def shuffle_read_bytes(self) -> float:
        return self.task_sum(
            "Shuffle Read Metrics", "Remote Bytes Read"
        ) + self.task_sum("Shuffle Read Metrics", "Local Bytes Read")

    def common(self, wall_s: float, cores: int) -> dict[str, float]:
        """Stage metrics every workload reports."""
        cpu_s = self.task_sum("Executor CPU Time") / 1e9
        return {
            "jvm.gc_s": self.task_sum("JVM GC Time") / 1e3,
            "jvm.cpu_utilization": cpu_s / (wall_s * cores) if wall_s > 0 else 0.0,
            "sources.bytes_read": self.task_sum("Input Metrics", "Bytes Read"),
        }
