"""In-memory spans around the benchmark's calls into each layer, plus a
parser for Spark's JSON event log.

Spans are kept in memory and written out once, together with the parsed
event log, when the run ends. Spark jobs are attributed to the innermost
span whose interval contains the job's submission time; a span's self time
is its duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Records spans when enabled; a disabled tracer only runs the body."""

    def __init__(self, enabled: bool, workload: str, seed: int) -> None:
        self.enabled = enabled
        self.workload = workload
        self.seed = seed
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, parent: dict | None = None):
        """Span around the body. The parent is the enclosing span of this
        thread, or ``parent`` for the first span of a new thread."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        if stack:
            parent = stack[-1]
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent["id"] if parent else None,
               "workload": self.workload, "seed": self.seed}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"]]

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            if not s["end"]:
                continue
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def attribute_jobs(self, jobs: list[dict]) -> None:
        """Set ``job['span']`` to the id of the innermost (latest-starting)
        span containing the job's submission time, or None."""
        done = [s for s in self.spans if s["end"]]
        for j in jobs:
            t = j["submit"]
            inside = [s for s in done if s["start"] <= t <= s["end"]]
            j["span"] = max(inside, key=lambda s: s["start"])["id"] if inside else None

    def descendants(self, span_id: int) -> set[int]:
        out, frontier = {span_id}, [span_id]
        while frontier:
            p = frontier.pop()
            for s in self.spans:
                if s["parent"] == p and s["id"] not in out:
                    out.add(s["id"])
                    frontier.append(s["id"])
        return out

    def dump(self, path: str, extra: dict) -> None:
        self_s = self.self_times()
        spans = [{**s, "self_s": self_s.get(s["id"])} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f)


def _scope_names(stage_info: dict) -> list[str]:
    names = []
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            try:
                names.append(json.loads(scope).get("name", ""))
            except ValueError:
                pass
    return names


def _event_lines(path: str):
    """Lines of a single-file event log, or of a rolling one (a directory of
    ``events_<n>_<appId>`` files)."""
    if os.path.isdir(path):
        files = sorted((f for f in os.listdir(path) if f.startswith("events_")),
                       key=lambda f: int(f.split("_")[1]))
        paths = [os.path.join(path, f) for f in files]
    else:
        paths = [path]
    for p in paths:
        with open(p) as f:
            yield from f


def _plan_metric_ids(node: dict, op: str, metric: str, out: set[int]) -> None:
    if op in node.get("nodeName", ""):
        out.update(m["accumulatorId"] for m in node.get("metrics", [])
                   if m.get("name") == metric)
    for child in node.get("children", []):
        _plan_metric_ids(child, op, metric, out)


def parse_eventlog(path: str) -> dict:
    """Jobs, stages and tasks of one application's event log, times in
    epoch seconds. ``python_rows_ids`` are the accumulator ids of the
    MapInPandas operators' output-row counters, read from the SQL plans."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    tasks: list[dict] = []
    py_rows: set[int] = set()
    for line in _event_lines(path):
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind.endswith(("SparkListenerSQLExecutionStart",
                          "SparkListenerSQLAdaptiveExecutionUpdate")):
            _plan_metric_ids(ev.get("sparkPlanInfo", {}), "MapInPandas",
                             "number of output rows", py_rows)
        elif kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"], "submit": ev["Submission Time"] / 1e3,
                "end": None, "stages": ev.get("Stage IDs", []),
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            accs: dict[str, float] = {}
            by_id: dict[int, float] = {}
            for a in si.get("Accumulables", []):
                try:
                    v = float(a["Value"])
                except (KeyError, TypeError, ValueError):
                    continue
                accs[a["Name"]] = accs.get(a["Name"], 0) + v
                by_id[a["ID"]] = v
            stages[(si["Stage ID"], si["Stage Attempt ID"])] = {
                "id": si["Stage ID"], "name": si.get("Stage Name", ""),
                "n_tasks": si.get("Number of Tasks", 0),
                "scopes": _scope_names(si), "accumulables": accs,
                "by_id": by_id,
            }
        elif kind == "SparkListenerTaskEnd":
            ti, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics", {})
            sw = tm.get("Shuffle Write Metrics", {})
            tasks.append({
                "stage": ev["Stage ID"],
                "launch": ti.get("Launch Time", 0) / 1e3,
                "finish": ti.get("Finish Time", 0) / 1e3,
                "run_s": tm.get("Executor Run Time", 0) / 1e3,
                "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                "gc_s": tm.get("JVM GC Time", 0) / 1e3,
                "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
                "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                "spill_bytes": tm.get("Memory Bytes Spilled", 0)
                + tm.get("Disk Bytes Spilled", 0),
            })
    return {"jobs": sorted(jobs.values(), key=lambda j: j["id"]),
            "stages": list(stages.values()), "tasks": tasks,
            "python_rows_ids": sorted(py_rows)}


def stages_of(jobs: list[dict]) -> set[int]:
    return {s for j in jobs for s in j["stages"]}


def session_metrics(log: dict, jobs: list[dict], wall_s: float,
                    cores: int) -> dict[str, float]:
    """``session.*`` counters over the given jobs (their stages' tasks)."""
    sids = stages_of(jobs)
    tasks = [t for t in log["tasks"] if t["stage"] in sids]
    run_s = sum(t["run_s"] for t in tasks)
    return {
        "session.jobs": len(jobs),
        "session.stages": sum(1 for s in log["stages"] if s["id"] in sids),
        "session.tasks": len(tasks),
        "session.executor_cpu_s": sum(t["cpu_s"] for t in tasks),
        "session.executor_run_s": run_s,
        "session.gc_s": sum(t["gc_s"] for t in tasks),
        "session.shuffle_read_bytes": sum(t["shuffle_read_bytes"] for t in tasks),
        "session.shuffle_fetch_wait_s": sum(t["fetch_wait_s"] for t in tasks),
        "session.spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "session.core_busy_frac": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
    }


def python_rows(log: dict, sids: set[int]) -> float:
    """Rows returned by Python workers: the MapInPandas operators' output
    row counters, summed over the given stages."""
    ids = set(log["python_rows_ids"])
    return sum(v for s in log["stages"] if s["id"] in sids
               for i, v in s["by_id"].items() if i in ids)


def accumulable_sum(log: dict, sids: set[int], names: tuple[str, ...]) -> float:
    return sum(v for s in log["stages"] if s["id"] in sids
               for k, v in s["accumulables"].items() if k in names)


def task_skew(log: dict, sids: set[int], scope: str) -> float:
    """Max over median task run time, worst stage whose plan scope names
    ``scope`` (e.g. MapInPandas); 0 when no such stage ran."""
    worst = 0.0
    for s in log["stages"]:
        if s["id"] in sids and any(scope in n for n in s["scopes"]):
            runs = [t["run_s"] for t in log["tasks"] if t["stage"] == s["id"]]
            med = statistics.median(runs) if runs else 0.0
            if med > 0:
                worst = max(worst, max(runs) / med)
    return worst
