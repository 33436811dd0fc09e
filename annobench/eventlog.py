"""Reader for the Spark event log the traced run enables.

Jobs are attributed to a layer by the job group the traced run sets
around each layer call. Per group it gives the engine counters (shuffle,
spill, GC, CPU, tasks, skew), the tasks of stages that run a Python scan,
the bytes read by file scans, and node counts of the final (adaptive)
physical plan of the group's main SQL execution."""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

MB = float(1 << 20)
PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "PythonMapInArrow")
# SparkPlanInfo repeats the reused or cached subtree under these nodes
NO_DESCEND = ("ReusedExchange", "InMemoryTableScan", "TableCacheQueryStage")

_KEEP = ("SparkListenerJobStart", "SparkListenerStageCompleted", "SparkListenerTaskEnd",
         "SQLExecutionStart", "SQLAdaptiveExecutionUpdate")


class EventLog:
    def __init__(self, directory: str):
        self.job_group: dict = {}  # job id -> group
        self.job_exec: dict = {}  # job id -> sql execution id
        self.stage_group: dict = {}  # stage id -> group
        self.stage_scopes: dict = defaultdict(set)
        self.stage_span: dict = {}  # stage id -> (submit ms, complete ms)
        self.tasks: dict = defaultdict(list)  # stage id -> [task end event]
        self.final_plan: dict = {}  # execution id -> sparkPlanInfo
        # rolling logs: <app dir>/events_<n>_<app id>, read in n order
        files = sorted(
            glob.glob(os.path.join(directory, "*", "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        ) or sorted(glob.glob(os.path.join(directory, "*")))
        for path in files:
            with open(path) as f:
                for line in f:
                    if any(k in line[:120] for k in _KEEP):
                        self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            self.job_group[e["Job ID"]] = group
            if props.get("spark.sql.execution.id") is not None:
                self.job_exec[e["Job ID"]] = int(props["spark.sql.execution.id"])
            for s in e["Stage IDs"]:
                self.stage_group[s] = group
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            for rdd in info["RDD Info"]:
                if rdd.get("Scope"):
                    self.stage_scopes[sid].add(json.loads(rdd["Scope"])["name"])
            self.stage_span[sid] = (info.get("Submission Time"), info.get("Completion Time"))
        elif kind == "SparkListenerTaskEnd":
            self.tasks[e["Stage ID"]].append(e)
        elif kind.endswith("SQLExecutionStart"):
            self.final_plan[e["executionId"]] = e["sparkPlanInfo"]
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            self.final_plan[e["executionId"]] = e["sparkPlanInfo"]

    # -- per group ---------------------------------------------------------

    def stages(self, group: str) -> list:
        return sorted(s for s, g in self.stage_group.items() if g == group and s in self.tasks)

    def engine(self, group: str) -> dict:
        """Spark engine counters over every task the group's jobs ran,
        as name -> (value, unit)."""
        tasks = [t for s in self.stages(group) for t in self.tasks[s]]
        m = [t.get("Task Metrics") or {} for t in tasks]

        def total(*path):
            out = 0
            for x in m:
                for p in path:
                    x = x.get(p, {}) if isinstance(x, dict) else 0
                out += x or 0
            return out

        longest = max(
            self.stages(group),
            key=lambda s: (self.stage_span[s][1] or 0) - (self.stage_span[s][0] or 0),
            default=None,
        )
        skew = 0.0
        if longest is not None:
            d = [t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]
                 for t in self.tasks[longest]]
            med = statistics.median(d)
            skew = max(d) / med if med > 0 else 1.0
        return {
            "shuffle.write_mb": (total("Shuffle Write Metrics", "Shuffle Bytes Written") / MB, "MB"),
            "shuffle.read_mb": ((total("Shuffle Read Metrics", "Remote Bytes Read")
                                 + total("Shuffle Read Metrics", "Local Bytes Read")) / MB, "MB"),
            "spill.mb": (total("Disk Bytes Spilled") / MB, "MB"),
            "gc.s": (total("JVM GC Time") / 1e3, "s"),
            "exec.cpu_s": (total("Executor CPU Time") / 1e9, "s"),
            "tasks.count": (len(tasks), "count"),
            "tasks.failed": (sum(t["Task End Reason"]["Reason"] != "Success" for t in tasks), "count"),
            "tasks.skew": (skew, "ratio"),
        }

    def python_tasks(self, group: str) -> int:
        """Tasks in the group's stages that run a Python scan."""
        return sum(
            len(self.tasks[s]) for s in self.stages(group)
            if self.stage_scopes[s] & set(PYTHON_NODES)
        )

    def file_bytes_read(self, group: str) -> int:
        """Input bytes of stages that scan files (cached-table reads
        excluded)."""
        return sum(
            (t.get("Task Metrics") or {}).get("Input Metrics", {}).get("Bytes Read", 0)
            for s in self.stages(group)
            if "Scan parquet " in self.stage_scopes[s]
            and "InMemoryTableScan" not in self.stage_scopes[s]
            for t in self.tasks[s]
        )

    def plan_counts(self, group: str) -> dict:
        """Node counts of the final plan of the group's main execution
        (the one that ran the most jobs), as name -> (value, unit)."""
        jobs_per_exec: dict = defaultdict(int)
        for job, ex in self.job_exec.items():
            if self.job_group.get(job) == group:
                jobs_per_exec[ex] += 1
        names: dict = defaultdict(int)
        main = max(jobs_per_exec, key=jobs_per_exec.get, default=None)
        todo = [self.final_plan[main]] if main in self.final_plan else []
        while todo:
            node = todo.pop()
            names[node["nodeName"]] += 1
            if node["nodeName"] not in NO_DESCEND:
                todo.extend(node.get("children", ()))
        counts = {
            "plan.exchanges": names["Exchange"],
            "plan.reused_exchanges": names["ReusedExchange"],
            "plan.python_nodes": sum(names[n] for n in PYTHON_NODES),
            "plan.broadcast_joins": names["BroadcastHashJoin"] + names["BroadcastNestedLoopJoin"],
            "plan.smj_joins": names["SortMergeJoin"],
        }
        return {k: (v, "count") for k, v in counts.items()}
