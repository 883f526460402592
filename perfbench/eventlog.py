"""Fold a Spark event log into per-layer rows.

The benchmark tags every layer call with ``setJobGroup("<workload>:<layer>")``
and records its own wall-clock spans around the calls.  This module reads
the uncompressed, non-rolling JSON event log Spark writes with
``spark.eventLog.enabled=true`` and sums, per layer, what the tasks of
that layer's jobs did: task time, task skew, GC, shuffle read and write,
spill, bytes sent to and returned from Python workers, and the exact job
count.

A job belongs to the layer named by its job group.  Where a workload
passes ``spans`` (layer -> list of (start, end) epoch seconds), a job of
that layer submitted outside every span of the layer is moved to
``plans.checkpoint``: the checkpoint runner's bookkeeping jobs (read-back,
``count()``, manifest appends) run under the group the stage function set,
and the spans separate them from the stage's own work.

The module also gives the wall-clock spans of every Spark execution (SQL
executions and jobs), so a workload can time what ran outside its layer
calls, and small helpers over span lists.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

#: the columns every folded row carries
FIELDS = ("jobs", "tasks", "task_s", "task_skew", "gc_s",
          "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
          "python_bytes_sent", "python_bytes_recv")

#: where jobs submitted outside their layer's spans are folded
CHECKPOINT = "plans.checkpoint"

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


class EventLog:
    """The parts of one application's event log the fold needs."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.sql: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            self.jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                              "submit": e["Submission Time"] / 1000.0,
                              "end": None}
            for sid in e["Stage IDs"]:
                self.stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            acc = {a.get("Name"): a.get("Update", 0)
                   for a in e["Task Info"].get("Accumulables", ())}
            srm = m.get("Shuffle Read Metrics", {})
            self.tasks[e["Stage ID"]].append({
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_read": srm.get("Remote Bytes Read", 0)
                + srm.get("Local Bytes Read", 0),
                "shuffle_write": m.get("Shuffle Write Metrics", {})
                .get("Shuffle Bytes Written", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "py_sent": int(acc.get(_PY_SENT) or 0),
                "py_recv": int(acc.get(_PY_RECV) or 0),
            })
        elif kind.endswith("SQLExecutionStart"):
            self.sql[e["executionId"]] = {
                "start": e["time"] / 1000.0, "end": None,
                "plan": e.get("physicalPlanDescription", "")}
        elif kind.endswith("SQLExecutionEnd"):
            if e["executionId"] in self.sql:
                self.sql[e["executionId"]]["end"] = e["time"] / 1000.0

    def write_spans(self, path_fragment: str) -> list[tuple[float, float]]:
        """(start, end) of every SQL execution that writes files to a
        path containing ``path_fragment``."""
        return [(x["start"], x["end"]) for x in self.sql.values()
                if x["end"] is not None
                and "InsertIntoHadoopFsRelationCommand" in x["plan"]
                and path_fragment in x["plan"]]

    def exec_spans(self) -> list[tuple[float, float]]:
        """(start, end) of every finished SQL execution and job."""
        return [(x["start"], x["end"]) for x in self.sql.values()
                if x["end"] is not None] + \
            [(j["submit"], j["end"]) for j in self.jobs.values()
             if j["end"] is not None]


def union(spans) -> list[tuple[float, float]]:
    """Sorted, disjoint spans covering the same instants as ``spans``."""
    out: list[list[float]] = []
    for a, b in sorted(spans):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def length(spans) -> float:
    """Seconds covered by ``spans``, overlaps counted once."""
    return sum(b - a for a, b in union(spans))


def clip(spans, lo: float, hi: float) -> list[tuple[float, float]]:
    """The parts of ``spans`` inside [lo, hi]."""
    return [(max(a, lo), min(b, hi)) for a, b in spans
            if min(b, hi) > max(a, lo)]


def _inside(t: float, spans) -> bool:
    return any(a <= t <= b for a, b in spans)


def fold(log: EventLog, workload: str,
         spans: dict[str, list[tuple[float, float]]] | None = None
         ) -> dict[str, dict]:
    """layer -> row of FIELDS, over the jobs tagged ``<workload>:<layer>``."""
    prefix = workload + ":"
    spans = spans or {}
    job_layer: dict[int, str] = {}
    for jid, j in log.jobs.items():
        g = j["group"] or ""
        if not g.startswith(prefix):
            continue
        layer = g[len(prefix):]
        if layer in spans and not _inside(j["submit"], spans[layer]):
            layer = CHECKPOINT
        job_layer[jid] = layer

    rows: dict[str, dict] = {}
    per_stage: dict[str, list[list[float]]] = defaultdict(list)
    for layer in set(job_layer.values()):
        rows[layer] = {k: 0 for k in FIELDS}
    for jid, layer in job_layer.items():
        rows[layer]["jobs"] += 1
    for sid, tasks in log.tasks.items():
        layer = job_layer.get(log.stage_job.get(sid))
        if layer is None:
            continue
        r = rows[layer]
        r["tasks"] += len(tasks)
        r["task_s"] += sum(t["run_ms"] for t in tasks) / 1000.0
        r["gc_s"] += sum(t["gc_ms"] for t in tasks) / 1000.0
        r["shuffle_read_bytes"] += sum(t["shuffle_read"] for t in tasks)
        r["shuffle_write_bytes"] += sum(t["shuffle_write"] for t in tasks)
        r["spill_bytes"] += sum(t["spill"] for t in tasks)
        r["python_bytes_sent"] += sum(t["py_sent"] for t in tasks)
        r["python_bytes_recv"] += sum(t["py_recv"] for t in tasks)
        if len(tasks) > 1:
            per_stage[layer].append([t["run_ms"] for t in tasks])
    for layer, r in rows.items():
        # slowest task over the median task, summed over the layer's
        # multi-task stages: 1.0 means evenly spread work
        mx = sum(max(s) for s in per_stage[layer])
        med = sum(statistics.median(s) for s in per_stage[layer])
        r["task_skew"] = mx / med if med > 0 else 1.0
    return rows
