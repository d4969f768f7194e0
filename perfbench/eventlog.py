"""Parser for Spark's JSON event log.

Jobs are attributed to benchmark spans through the job group the span
set (``spark.jobGroup.id`` in the job's properties); a stage belongs to
the first job that lists it. Stage metrics are summed from task-end
events. Python-worker metrics are the SQL metrics of the Python nodes
(MapInPandas, ArrowEvalPython, FlatMapGroupsInPandas, ...), resolved
from the plan info of each SQL execution and its adaptive updates.
"""

from __future__ import annotations

import glob
import json
import os
from collections import Counter, defaultdict

PYTHON_NODE_PREFIXES = (
    "MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow",
)
PYTHON_METRICS = {
    "data sent to Python workers": "python.bytes_to_worker",
    "data returned from Python workers": "python.bytes_from_worker",
    "number of output rows": "python.rows_from_worker",
    "time to run Python workers": "python.exec_s",
}

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


class EventLog:
    def __init__(self) -> None:
        self.job_group: dict[int, str | None] = {}
        self.job_ok: dict[int, bool] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_tasks: Counter = Counter()
        self.stage_metrics: dict[int, Counter] = defaultdict(Counter)
        # accumulator id -> (python metric key, metric type)
        self.python_acc: dict[int, tuple[str, str]] = {}

    # --- parsing ------------------------------------------------------------
    def feed(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            self.job_group[jid] = props.get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                self.stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            res = ev.get("Job Result", {}).get("Result")
            self.job_ok[ev["Job ID"]] = res == "JobSucceeded"
        elif kind == "SparkListenerTaskEnd":
            self._task_end(ev)
        elif kind in (_SQL_START, _SQL_AQE):
            self._plan(ev.get("sparkPlanInfo") or {})

    def _plan(self, node: dict) -> None:
        name = node.get("nodeName", "")
        if name.startswith(PYTHON_NODE_PREFIXES):
            for m in node.get("metrics", []):
                key = PYTHON_METRICS.get(m.get("name"))
                if key:
                    self.python_acc[m["accumulatorId"]] = (key, m.get("metricType", ""))
        for child in node.get("children", []):
            self._plan(child)

    def _task_end(self, ev: dict) -> None:
        sid = ev["Stage ID"]
        c = self.stage_metrics[sid]
        self.stage_tasks[sid] += 1
        tm = ev.get("Task Metrics") or {}
        c["exec.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
        c["exec.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        c["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        sr = tm.get("Shuffle Read Metrics") or {}
        c["exec.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        sw = tm.get("Shuffle Write Metrics") or {}
        c["exec.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        c["exec.spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        out = tm.get("Output Metrics") or {}
        c["sink.bytes_written"] += out.get("Bytes Written", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            hit = self.python_acc.get(acc.get("ID"))
            if hit is None or acc.get("Update") is None:
                continue
            key, mtype = hit
            val = float(acc["Update"])
            if key == "python.exec_s":
                val /= 1e9 if mtype == "nsTiming" else 1e3
            c[key] += val

    # --- queries ------------------------------------------------------------
    def jobs_by_group(self) -> dict[str | None, list[int]]:
        out: dict[str | None, list[int]] = defaultdict(list)
        for jid, group in self.job_group.items():
            out[group].append(jid)
        return out

    def totals(self, jobs: list[int]) -> Counter:
        """Jobs, stages, tasks and summed stage metrics of ``jobs``."""
        jobset = set(jobs)
        out: Counter = Counter()
        out["exec.jobs"] = len(jobset)
        for sid, jid in self.stage_job.items():
            if jid in jobset and sid in self.stage_metrics:
                out["exec.stages"] += 1
                out["exec.tasks"] += self.stage_tasks[sid]
                out.update(self.stage_metrics[sid])
        return out


def parse_lines(lines, log: EventLog | None = None) -> EventLog:
    log = log or EventLog()
    for line in lines:
        line = line.strip()
        if line:
            log.feed(json.loads(line))
    return log


def parse_dir(path: str) -> EventLog:
    """Parse every event-log file Spark wrote under ``path``."""
    files = sorted(f for f in glob.glob(os.path.join(path, "**"), recursive=True)
                   if os.path.isfile(f))
    if not files:
        raise FileNotFoundError(f"no event log under {path}")
    log = EventLog()
    for fn in files:
        with open(fn) as f:
            parse_lines(f, log)
    return log
