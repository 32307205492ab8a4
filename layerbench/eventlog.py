"""Offline reader for an uncompressed, non-rolling Spark event log.

Turns the JSON-lines log that ``spark.eventLog.enabled`` writes into
per-job-label Spark metrics. Jobs are grouped by the description set
with ``SparkContext.setJobDescription``; one action may run several
jobs (adaptive execution submits each query stage as its own job), and
all of them count under its label.

Each stage gets one role, from the plan operators whose SQL metrics its
tasks updated, tried in this order:

- ``python``: runs a Python operator (``MapInArrow`` and kin);
- ``sink``: writes files (``InsertIntoHadoopFsRelationCommand``);
- ``scan``: reads input files (``Scan parquet`` and kin);
- ``exchange``: everything else, i.e. stages fed by shuffles or caches.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

ROLES = ("scan", "exchange", "python", "sink")

_PY_METRICS = {
    "data sent to Python workers": "sent_bytes",
    "data returned from Python workers": "returned_bytes",
    "time to run Python workers": "run_ms",
    "time to start Python workers": "start_ms",
    "time to initialize Python workers": "init_ms",
}


def _role_of(node_names: set[str]) -> str:
    if any("Arrow" in n or "Python" in n or "Pandas" in n for n in node_names):
        return "python"
    if any("InsertInto" in n or n == "WriteFiles" for n in node_names):
        return "sink"
    if any(n.startswith("Scan ") or n.startswith("FileScan") for n in node_names):
        return "scan"
    return "exchange"


class _Stage:
    __slots__ = ("accums", "tasks")

    def __init__(self):
        self.accums: dict[int, int] = {}
        self.tasks: list[dict] = []


class EventLog:
    def __init__(self, path: str):
        self.accum_node: dict[int, str] = {}
        self.accum_name: dict[int, str] = {}
        self.accum_type: dict[int, str] = {}
        self.job_label: dict[int, str] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.job_start: dict[int, int] = {}
        self.job_end: dict[int, int] = {}
        self.stages: dict[int, _Stage] = defaultdict(_Stage)
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan(self, node: dict) -> None:
        for m in node.get("metrics", ()):
            aid = m["accumulatorId"]
            self.accum_node[aid] = node["nodeName"]
            self.accum_name[aid] = m["name"]
            self.accum_type[aid] = m["metricType"]
        for child in node.get("children", ()):
            self._plan(child)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._plan(e["sparkPlanInfo"])
        elif kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            self.job_label[jid] = props.get("spark.job.description") or ""
            self.job_stages[jid] = list(e["Stage IDs"])
            self.job_start[jid] = e["Submission Time"]
        elif kind == "SparkListenerJobEnd":
            self.job_end[e["Job ID"]] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self.stages[info["Stage ID"]]
            for a in info.get("Accumulables", ()):
                try:
                    st.accums[a["ID"]] = int(a["Value"])
                except (TypeError, ValueError):
                    continue
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics")
            if tm is None:
                return
            ti = e["Task Info"]
            self.stages[e["Stage ID"]].tasks.append({
                "run_ms": tm["Executor Run Time"],
                "cpu_ns": tm["Executor CPU Time"],
                "gc_ms": tm["JVM GC Time"],
                "peak_mem": tm["Peak Execution Memory"],
                "spill": tm["Disk Bytes Spilled"],
                "write_bytes": tm["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                "read_bytes": (tm["Shuffle Read Metrics"]["Remote Bytes Read"]
                               + tm["Shuffle Read Metrics"]["Local Bytes Read"]),
                "fetch_wait_ms": tm["Shuffle Read Metrics"]["Fetch Wait Time"],
                "busy_ms": ti["Finish Time"] - ti["Launch Time"],
            })

    def stage_role(self, sid: int) -> str:
        return _role_of({self.accum_node[a] for a in self.stages[sid].accums
                         if a in self.accum_node})

    def metrics(self, label: str, slots: int) -> dict[str, float]:
        """``spark.*`` metrics over every job labelled ``label``."""
        jobs = [j for j, lab in self.job_label.items() if lab == label]
        if not jobs:
            raise KeyError(f"no Spark job labelled {label!r} in the event log")
        sids = sorted({s for j in jobs for s in self.job_stages[j]
                       if self.stages[s].tasks})
        out: dict[str, float] = {}
        for role in ROLES:
            tasks = [t for s in sids if self.stage_role(s) == role
                     for t in self.stages[s].tasks]
            out[f"spark.{role}.task_ms"] = sum(t["run_ms"] for t in tasks)
            out[f"spark.{role}.cpu_ms"] = sum(t["cpu_ns"] for t in tasks) / 1e6
            out[f"spark.{role}.gc_ms"] = sum(t["gc_ms"] for t in tasks)
        tasks = [t for s in sids for t in self.stages[s].tasks]
        out["spark.exchange.write_bytes"] = sum(t["write_bytes"] for t in tasks)
        out["spark.exchange.read_bytes"] = sum(t["read_bytes"] for t in tasks)
        out["spark.exchange.fetch_wait_ms"] = sum(t["fetch_wait_ms"] for t in tasks)
        out["spark.spill_bytes"] = sum(t["spill"] for t in tasks)
        out["spark.peak_exec_mem_bytes"] = max(t["peak_mem"] for t in tasks)
        # Skew: the stage with the most summed run time sets the pace.
        heavy = max(sids, key=lambda s: sum(t["run_ms"] for t in self.stages[s].tasks))
        runs = [t["run_ms"] for t in self.stages[heavy].tasks]
        out["spark.task.max_over_median"] = max(runs) / max(statistics.median(runs), 1)
        wall = (max(self.job_end[j] for j in jobs)
                - min(self.job_start[j] for j in jobs))
        out["spark.slot_busy_share"] = (sum(t["busy_ms"] for t in tasks)
                                        / max(slots * wall, 1))
        py: dict[str, float] = defaultdict(float)
        for s in sids:
            for aid, value in self.stages[s].accums.items():
                key = _PY_METRICS.get(self.accum_name.get(aid, ""))
                if key is None or self.stage_role(s) != "python":
                    continue
                if self.accum_type.get(aid) == "nsTiming":
                    value = value / 1e6
                py[key] += value
        for key in _PY_METRICS.values():
            out[f"spark.python.{key}"] = py[key]
        return out
