"""Task, shuffle, output and plan numbers from a Spark event log.

The benchmark's session writes an uncompressed event log. Each timed pass
runs under its own job group, which links its jobs, stages, tasks and SQL
executions back to the pass.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

_SQL = "org.apache.spark.sql.execution.ui."


def _count(plan: dict, node: str) -> int:
    return (plan.get("nodeName") == node) + sum(
        _count(c, node) for c in plan.get("children", ()))


class EventLog:
    def __init__(self, path: str):
        self.job_group: dict[int, str] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.exec_group: dict[int, str] = {}
        self.plans: dict[int, dict] = {}  # executionId -> latest plan
        self.tasks: dict[int, list[dict]] = defaultdict(list)  # by stage
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    self.job_group[ev["Job ID"]] = group
                    self.job_stages[ev["Job ID"]] = ev["Stage IDs"]
                    if "spark.sql.execution.id" in props and group:
                        self.exec_group[int(props["spark.sql.execution.id"])] = group
                elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                              _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    self.plans[ev["executionId"]] = ev["sparkPlanInfo"]
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    m = ev["Task Metrics"]
                    self.tasks[ev["Stage ID"]].append({
                        "run_ms": m["Executor Run Time"],
                        "shuffle_write": m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                        "output": m["Output Metrics"]["Bytes Written"],
                    })

    def group_stats(self, group: str) -> dict:
        """Totals over every task of the jobs run under ``group``."""
        stages = {s for j, g in self.job_group.items() if g == group
                  for s in self.job_stages[j]}
        per_stage = [self.tasks[s] for s in sorted(stages) if self.tasks.get(s)]
        tasks = [t for ts in per_stage for t in ts]
        # straggler ratio over the stage holding most task time
        heavy = max(per_stage, key=lambda ts: sum(t["run_ms"] for t in ts),
                    default=[])
        run = [t["run_ms"] for t in heavy]
        return {
            "tasks": len(tasks),
            "task_ms": sum(t["run_ms"] for t in tasks),
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "output_bytes": sum(t["output"] for t in tasks),
            "task_max_over_median": (max(run) / max(1e-9, statistics.median(run))
                                     if run else 0.0),
            "exchanges": sum(_count(p, "Exchange") for e, p in self.plans.items()
                             if self.exec_group.get(e) == group),
        }
