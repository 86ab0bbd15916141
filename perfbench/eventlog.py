"""Fold a Spark event log (uncompressed, not rolled) into per-label counters.

A label is the job group the benchmark set around a public call. Every job
carries its group in its properties; tasks reach their job through their stage
and SQL executions through ``spark.sql.execution.id``.
"""

from __future__ import annotations

import json
import re
import statistics
from collections import defaultdict

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
MB = 1e6
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_SORT_ORDER = re.compile(r" (ASC|DESC) NULLS (FIRST|LAST)")
_WANTED = (
    b'{"Event":"SparkListenerJobStart"',
    b'{"Event":"SparkListenerTaskEnd"',
    ('{"Event":"%s"' % _SQL_START).encode(),
    ('{"Event":"%s"' % _SQL_UPDATE).encode(),
)


def _top_level_items(s: str) -> list[str]:
    """Split ``[a], [b, c], [d]`` into its top-level bracketed items."""
    items, depth, start = [], 0, None
    for i, ch in enumerate(s):
        if ch in "([{":
            if depth == 0 and ch == "[":
                start = i
            depth += 1
        elif ch in ")]}":
            depth -= 1
            if depth == 0 and ch == "]" and start is not None:
                items.append(s[start + 1 : i])
                start = None
    return items


def global_windows(plan: dict) -> int:
    """Window operators with no partition key in a ``sparkPlanInfo`` tree.
    A Window node prints ``Window [exprs], [partitionSpec], [orderSpec]``,
    leaving out an empty list; the order spec is the list of sort orders."""
    n = 0
    todo = [plan]
    while todo:
        node = todo.pop()
        todo.extend(node.get("children", []))
        if node.get("nodeName") == "Window":
            lists = _top_level_items(node.get("simpleString", "")[len("Window") :])[1:]
            if not lists or (len(lists) == 1 and _SORT_ORDER.search(lists[0])):
                n += 1
    return n


class Counters:
    __slots__ = ("jobs", "cpu_ns", "shuffle_bytes", "spill_bytes", "py_bytes", "stage_runs", "global_windows")

    def __init__(self):
        self.jobs = self.cpu_ns = self.global_windows = 0
        self.shuffle_bytes = self.spill_bytes = self.py_bytes = 0
        self.stage_runs: dict[int, list[int]] = defaultdict(list)

    def skew(self) -> float:
        """max / median task run time of the label's busiest stage."""
        if not self.stage_runs:
            return 1.0
        runs = max(self.stage_runs.values(), key=sum)
        return max(runs) / max(statistics.median(runs), 1.0)

    def as_dict(self) -> dict[str, float]:
        return {
            "jobs": self.jobs,
            "cpu_s": self.cpu_ns / 1e9,
            "shuffle_mb": self.shuffle_bytes / MB,
            "spill_mb": self.spill_bytes / MB,
            "skew": self.skew(),
            "py_mb": self.py_bytes / MB,
            "global_windows": self.global_windows,
        }


def fold(path: str) -> dict[str, Counters]:
    """Counters per job group. Jobs outside any group fold under ``""``."""
    out: dict[str, Counters] = defaultdict(Counters)
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}
    with open(path, "rb") as fh:
        for line in fh:
            if not line.startswith(_WANTED):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                out[group].jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_group.setdefault(int(eid), group)
            elif kind == "SparkListenerTaskEnd":
                c = out[stage_group.get(ev["Stage ID"], "")]
                m = ev.get("Task Metrics") or {}
                c.cpu_ns += m.get("Executor CPU Time", 0)
                c.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                c.spill_bytes += m.get("Disk Bytes Spilled", 0)
                c.stage_runs[ev["Stage ID"]].append(m.get("Executor Run Time", 0))
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc.get("Name") in (PY_SENT, PY_RETURNED):
                        c.py_bytes += int(acc.get("Update") or 0)
            else:  # SQL execution start or adaptive re-plan: keep the latest plan
                exec_plan[ev["executionId"]] = ev["sparkPlanInfo"]
    for eid, plan in exec_plan.items():
        if eid in exec_group:
            out[exec_group[eid]].global_windows += global_windows(plan)
    return dict(out)
