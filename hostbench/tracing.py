"""Spans around the benchmark's calls into the package, and the fold of
Spark's JSON event log onto those spans.

A span is ``<module>.<function>`` for a call into a package module and
``runner.<step>`` for the benchmark's own work; ``phase.<name>`` spans
group a run into set-up, measure, check and probe. Each span sets a
Spark job group, so jobs submitted from the calling thread carry the
span id. Jobs submitted from the package's own threads (the build's
overlap pool, the streaming micro-batch thread) carry no group of ours;
the fold gives them to the innermost span whose interval contains their
submit time.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager

import helpers

#: package modules the ledger is keyed by, longest match wins
MODULES = (
    "session", "functions.analyze", "index.builder", "index.codec",
    "snapshots", "streaming.incremental", "index.arrow_serve", "index.wand",
    "index.querystring", "index.query",
)


def module_of(span_name: str) -> str:
    for m in sorted(MODULES, key=len, reverse=True):
        if span_name == m or span_name.startswith(m + "."):
            return m
    return span_name.split(".", 1)[0]  # runner, phase


class Tracer:
    """In-memory spans; a disabled tracer is a no-op context manager."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        #: SparkContext whose job group each span sets; None until Spark is up
        self.sc = None
        self.run_id = uuid.uuid4().hex[:8]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    def group_id(self, span_id: int) -> str:
        return f"hb-{self.run_id}-{span_id}"

    def _set_group(self, span_id: int | None) -> None:
        if self.sc is None:
            return
        if span_id is None:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                self.sc.setLocalProperty(key, None)
        else:
            self.sc.setJobGroup(self.group_id(span_id),
                                self.spans[span_id]["name"])

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.overhead_s += time.perf_counter() - t1

    def spans_named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def uncovered_share(self) -> float:
        """Largest share, over the ``phase.*`` spans, of a phase's wall
        time that no direct child span covers."""
        worst = 0.0
        for ph in self.spans:
            if not ph["name"].startswith("phase.") or ph["end"] is None:
                continue
            wall = ph["end"] - ph["start"]
            if wall <= 0:
                continue
            covered = _union_length(
                [(c["start"], c["end"]) for c in self.children(ph["id"])
                 if c["end"] is not None])
            worst = max(worst, 1.0 - covered / wall)
        return worst


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every (uncompressed) log file under ``log_dir``."""
    events = []
    for dp, _, fns in os.walk(log_dir):
        for fn in sorted(fns):
            if fn.startswith(".") or fn.endswith(".crc"):
                continue
            with open(os.path.join(dp, fn)) as f:
                for line in f:
                    line = line.strip()
                    if line:
                        events.append(json.loads(line))
    return events


def _acc_value(accumulables, name: str) -> float:
    total = 0.0
    for a in accumulables or []:
        if a.get("Name") == name:
            v = a.get("Update", a.get("Value"))
            try:
                total += float(v)
            except (TypeError, ValueError):
                pass
    return total


#: SQL metric the Python exec nodes (MapInPandas, ArrowEvalPython,
#: FlatMapGroupsInPandas) record per task
PYTHON_EVAL_METRIC = "time to run Python workers"


def fold(events: list[dict], spans: list[dict], run_id: str) -> dict:
    """Assign every job of the log to a span and sum its task metrics.

    Returns ``{"spans": {span_id: totals}, "unattributed": totals}``;
    totals hold jobs, stages, tasks,
    executor run/CPU time, GC, shuffle read/write bytes, spill, Python
    eval time and every task's duration (for straggler ratios)."""
    prefix = f"hb-{run_id}-"
    closed = [s for s in spans if s.get("end") is not None]

    def innermost(t: float) -> int | None:
        best = None
        for s in closed:
            if s["start"] <= t <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return None if best is None else best["id"]

    stage_job: dict[int, int] = {}
    job_span: dict[int, int | None] = {}
    stages: dict[int, dict] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if group.startswith(prefix):
                sid = int(group[len(prefix):])
            else:
                sid = innermost(ev.get("Submission Time", 0) / 1000.0)
            job_span[jid] = sid
            for st in ev.get("Stage IDs", []):
                stage_job.setdefault(st, jid)
        elif kind == "SparkListenerTaskEnd":
            st = ev.get("Stage ID")
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            rec = stages.setdefault(st, {"tasks": 0, "durations_ms": [],
                                         "metrics": _zero()})
            rec["tasks"] += 1
            rec["durations_ms"].append(
                info.get("Finish Time", 0) - info.get("Launch Time", 0))
            tm = rec["metrics"]
            tm["executor_run_ms"] += m.get("Executor Run Time", 0)
            tm["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            tm["gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            tm["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                         + sr.get("Local Bytes Read", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            tm["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            tm["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            tm["python_eval_ms"] += _acc_value(info.get("Accumulables"),
                                               PYTHON_EVAL_METRIC)

    out_spans: dict[int, dict] = {}
    unattributed = _totals()
    for jid, sid in job_span.items():
        tot = unattributed if sid is None else out_spans.setdefault(sid, _totals())
        tot["jobs"] += 1
    for st, rec in stages.items():
        jid = stage_job.get(st)
        sid = job_span.get(jid) if jid is not None else None
        tot = unattributed if sid is None else out_spans.setdefault(sid, _totals())
        tot["stages"] += 1
        tot["tasks"] += rec["tasks"]
        for key, v in rec["metrics"].items():
            tot[key] += v
        tot["stage_durations_ms"].append(sorted(rec["durations_ms"]))
    return {"spans": out_spans, "unattributed": unattributed}


def _zero() -> dict:
    return {"executor_run_ms": 0.0, "executor_cpu_ms": 0.0, "gc_ms": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "python_eval_ms": 0.0}


def _totals() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, **_zero(),
            "stage_durations_ms": []}


def merge(totals: list[dict]) -> dict:
    out = _totals()
    for t in totals:
        for k, v in t.items():
            out[k] = out[k] + v
    return out


def task_skew(tot: dict) -> float:
    """max ÷ median task time in the stage with the most tasks."""
    widest = max(tot["stage_durations_ms"], key=len, default=[])
    if not widest:
        return 0.0
    med = helpers.median(widest)
    return max(widest) / med if med > 0 else 0.0


def ledger(tracer: Tracer, folded: dict) -> dict:
    """Per-module ledger: span count, wall, self time and the folded
    Spark totals of every span of the module."""
    child_cover: dict[int, list] = {}
    for s in tracer.spans:
        if s["parent"] is not None and s["end"] is not None:
            child_cover.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, dict] = {}
    for s in tracer.spans:
        if s["end"] is None:
            continue
        mod = module_of(s["name"])
        row = out.setdefault(mod, {"spans": 0, "wall_s": 0.0, "self_s": 0.0,
                                   "spark": _totals()})
        wall = s["end"] - s["start"]
        row["spans"] += 1
        row["wall_s"] += wall
        row["self_s"] += wall - _union_length(child_cover.get(s["id"], []))
        if s["id"] in folded["spans"]:
            row["spark"] = merge([row["spark"], folded["spans"][s["id"]]])
    for row in out.values():
        sp = row["spark"]
        sp["task_skew"] = task_skew(sp)
        del sp["stage_durations_ms"]
    out["unattributed"] = {k: v for k, v in folded["unattributed"].items()
                           if k != "stage_durations_ms"}
    return out
