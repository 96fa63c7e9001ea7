"""Spans around the engine's public calls, and Spark's own event log.

A span is (id, name, layer, parent, start, end). Spans are kept in
memory and written out when the run ends. In a traced run every call
span also becomes the Spark job group of the jobs it starts, so each
job, stage and task in the event log is attributed to the call that
caused it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}


class Tracer:
    def __init__(self, spark=None, traced: bool = False):
        self.spark = spark
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        sid = len(self.spans)
        s = {"id": sid, "name": name, "layer": layer,
             "parent": self._stack[-1] if self._stack else None,
             "epoch_start": time.time(), "start": time.perf_counter(), **attrs}
        self.spans.append(s)
        self._stack.append(sid)
        if self.traced and self.spark is not None:
            self.spark.sparkContext.setJobGroup(str(sid), name)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            s["epoch_end"] = time.time()
            s["wall_s"] = s["end"] - s["start"]
            self._stack.pop()
            if self.traced and self.spark is not None:
                parent = self._stack[-1] if self._stack else None
                if parent is None:
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.spark.sparkContext.setJobGroup(str(parent), self.spans[parent]["name"])

    def self_times(self) -> dict[int, float]:
        """Span wall minus the part of it its children cover."""
        out = {}
        for s in self.spans:
            kids = sorted((c["start"], c["end"]) for c in self.spans if c["parent"] == s["id"])
            out[s["id"]] = s["wall_s"] - _union_length(kids, s["start"], s["end"])
        return out

    def write(self, path: str, extra: dict) -> None:
        selft = self.self_times()
        with open(path, "w") as f:
            json.dump({"spans": [dict(s, self_s=selft[s["id"]]) for s in self.spans], **extra},
                      f, indent=1, default=str)


def _union_length(intervals, lo, hi) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _walk(node):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


class EventLog:
    """Per-job-group totals from an uncompressed Spark event log."""

    def __init__(self, log_dir: str):
        files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
        files += [p for p in glob.glob(os.path.join(log_dir, "*"))
                  if os.path.isfile(p) and not os.path.basename(p).startswith(".")]
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        exec_plans: dict[int, list] = {}
        self.tasks: list[tuple[int, dict, dict]] = []
        for path in files:
            with open(path) as f:
                for line in f:
                    e = json.loads(line)
                    kind = e["Event"]
                    if kind == "SparkListenerJobStart":
                        p = e.get("Properties") or {}
                        self.jobs[e["Job ID"]] = {
                            "group": p.get("spark.jobGroup.id"),
                            "exec": p.get("spark.sql.execution.id"),
                            "start": e["Submission Time"] / 1000.0, "end": None,
                            "stages": e["Stage IDs"]}
                        for sid in e["Stage IDs"]:
                            stage_job[sid] = e["Job ID"]
                    elif kind == "SparkListenerJobEnd":
                        self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                    elif kind == "SparkListenerTaskEnd":
                        self.tasks.append((e["Stage ID"], e.get("Task Metrics") or {},
                                           e["Task Info"].get("Accumulables", [])))
                    elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                        exec_plans.setdefault(e["executionId"], []).append(e["sparkPlanInfo"])
        self.stage_job = stage_job
        # accumulator ids of the cover equi-join's output rows (joins on
        # the engine's __cell key), over every plan version of each query
        self.cover_join_accs: dict[str, set] = {}
        for ex, plans in exec_plans.items():
            ids = set()
            for plan in plans:
                for n in _walk(plan):
                    if "Join" in n["nodeName"] and "[__cell" in n.get("simpleString", ""):
                        ids |= {m["accumulatorId"] for m in n["metrics"]
                                if m["name"] == "number of output rows"}
            self.cover_join_accs[str(ex)] = ids

    def totals(self, groups: set) -> dict:
        jobs = [j for j in self.jobs.values() if j["group"] in groups]
        job_ids = {jid for jid, j in self.jobs.items() if j["group"] in groups}
        stages = {sid for sid, jid in self.stage_job.items() if jid in job_ids}
        cover_ids = set()
        for j in jobs:
            if j["exec"] is not None:
                cover_ids |= self.cover_join_accs.get(j["exec"], set())
        t = {"jobs": len(jobs), "stages": len(stages), "tasks": 0,
             "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "input_bytes": 0,
             "output_bytes": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0, "jvm_gc_s": 0.0,
             "python_run_s": 0.0, "python_init_s": 0.0, "python_bytes_sent": 0,
             "python_bytes_returned": 0, "cover_join_rows": 0}
        for sid, m, accs in self.tasks:
            if sid not in stages:
                continue
            t["tasks"] += 1
            t["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics", {})
            t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            t["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            t["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            t["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            for a in accs:
                key = PY_METRICS.get(a.get("Name"))
                if key:  # SQL timing metrics are in ms
                    v = float(a.get("Update", 0))
                    t[key] += v / 1e3 if key.endswith("_s") else v
                elif a.get("ID") in cover_ids:
                    t["cover_join_rows"] += int(float(a.get("Update", 0)))
        t["job_intervals"] = sorted((j["start"], j["end"] or j["start"]) for j in jobs)
        return t

    def outside_jobs_s(self, spans: list[dict], groups: set) -> float:
        """Wall of ``spans`` during which no job of ``groups`` ran."""
        iv = self.totals(groups)["job_intervals"]
        total = 0.0
        for s in spans:
            total += (s["epoch_end"] - s["epoch_start"]) - _union_length(
                iv, s["epoch_start"], s["epoch_end"])
        return total
