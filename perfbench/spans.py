"""Spans recorded around public calls, and the Spark event-log reader.

Spans are kept in memory (name, start, end, parent span, attributes) and
written out once, when the run ends. Each span sets the Spark job
description ``perfbench:<span id>:<name>``, so jobs submitted from the
calling thread carry the span they ran under. Jobs submitted elsewhere
(Structured Streaming runs ``foreachBatch`` on its own thread) are matched
to the innermost span whose time window holds their submission time. Stage
call-sites are not used: under AQE most read ``withThreadLocalCaptured`` or
``NativeMethodAccessorImpl``, not a file of the package.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

DESC_PREFIX = "perfbench:"


class Tracer:
    """In-memory span recorder. ``sc`` (a SparkContext) is optional: without
    it spans still time the calls but set no job description."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _describe(self, sid: int | None) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(
                None if sid is None else f"{DESC_PREFIX}{sid}:{self.spans[sid]['name']}"
            )

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent,
               "start": time.time(), "end": None, "attrs": dict(attrs)}
        self.spans.append(rec)
        self._stack.append(sid)
        self._describe(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._describe(parent)

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> dict:
        """Record a span measured by someone else (a streaming trigger, from
        the query's progress reports)."""
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "start": start, "end": end, "attrs": dict(attrs)}
        self.spans.append(rec)
        return rec

    def dur(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def find(self, name: str, under: int | None = None) -> list[dict]:
        out = [s for s in self.spans if s["name"] == name]
        if under is not None:
            out = [s for s in out if self.is_within(s["id"], under)]
        return out

    def is_within(self, sid: int, ancestor: int) -> bool:
        while sid is not None:
            if sid == ancestor:
                return True
            sid = self.spans[sid]["parent"]
        return False

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ----- event log ---------------------------------------------------------------


def _task_record(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    out = m.get("Output Metrics") or {}
    return {
        "run_ms": m.get("Executor Run Time", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "spill": m.get("Disk Bytes Spilled", 0),
        "rows_in": inp.get("Records Read", 0),
        "rows_out": out.get("Records Written", 0),
        "bytes_out": out.get("Bytes Written", 0),
    }


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Parse the (uncompressed) event log under ``log_dir``.

    Returns ``(jobs, stages)``: ``jobs[id] = {submit, end, desc, stages}``
    with times in epoch seconds, and ``stages[id] = {job, tasks}`` where a
    stage belongs to the first job that lists it (later jobs list it as
    skipped when they reuse its shuffle output)."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    paths = sorted(os.path.join(root, fn) for root, _dirs, files in os.walk(log_dir)
                   for fn in files if not fn.startswith("appstatus"))
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "desc": props.get("spark.job.description"),
                        "stages": list(ev.get("Stage IDs") or []),
                    }
                    for st in jobs[jid]["stages"]:
                        stages.setdefault(st, {"job": jid, "tasks": []})
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], {"job": None, "tasks": []})
                    st["tasks"].append(_task_record(ev))
    return jobs, stages


def attribute_jobs(tracer: Tracer, jobs: dict) -> dict[int, list[int]]:
    """Map span id -> ids of the jobs that ran directly under it. A job goes
    to the span named in its description (or, without one, the outermost
    span holding its submission time), then down to the innermost child span
    whose window holds that time."""
    children: dict[int | None, list[dict]] = {}
    for s in tracer.spans:
        children.setdefault(s["parent"], []).append(s)

    def descend(sid: int | None, t: float) -> int | None:
        while True:
            nxt = [c for c in children.get(sid, [])
                   if c["end"] is not None and c["start"] <= t <= c["end"]]
            if not nxt:
                return sid
            sid = max(nxt, key=lambda c: c["start"])["id"]

    owner: dict[int, list[int]] = {}
    for jid, j in jobs.items():
        sid = None
        desc = j.get("desc") or ""
        if desc.startswith(DESC_PREFIX):
            try:
                sid = int(desc[len(DESC_PREFIX):].split(":", 1)[0])
            except ValueError:
                sid = None
        sid = descend(sid, j["submit"])
        if sid is not None:
            owner.setdefault(sid, []).append(jid)
    return owner


class SpanStats:
    """Stage metrics of the jobs under a set of spans."""

    def __init__(self, tracer: Tracer, log_dir: str):
        self.tracer = tracer
        self.jobs, self.stages = read_event_log(log_dir)
        self.owner = attribute_jobs(tracer, self.jobs)
        self.job_stages: dict[int, list[int]] = {}
        for st_id, st in self.stages.items():
            if st["job"] is not None:
                self.job_stages.setdefault(st["job"], []).append(st_id)

    def jobs_under(self, sid: int) -> list[int]:
        return [j for s, js in self.owner.items() if self.tracer.is_within(s, sid) for j in js]

    def jobs_of(self, sids: list[int]) -> list[int]:
        out: list[int] = []
        for sid in sids:
            out.extend(self.jobs_under(sid))
        return out

    def tasks(self, job_ids: list[int]) -> list[dict]:
        return [t for j in job_ids for st in self.job_stages.get(j, [])
                for t in self.stages[st]["tasks"]]

    def totals(self, job_ids: list[int]) -> dict:
        tot = {"task_s": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
               "spill_mb": 0.0, "rows_in": 0, "rows_out": 0, "output_mb": 0.0}
        for t in self.tasks(job_ids):
            tot["task_s"] += t["run_ms"] / 1000.0
            tot["shuffle_read_mb"] += t["shuffle_read"] / 2**20
            tot["shuffle_write_mb"] += t["shuffle_write"] / 2**20
            tot["spill_mb"] += t["spill"] / 2**20
            tot["rows_in"] += t["rows_in"]
            tot["rows_out"] += t["rows_out"]
            tot["output_mb"] += t["bytes_out"] / 2**20
        return tot

    def skew(self, job_ids: list[int]) -> float:
        """max/median task time of the widest stage (most tasks; ties go to
        the stage with the most task time)."""
        cands = [self.stages[st]["tasks"] for j in job_ids
                 for st in self.job_stages.get(j, []) if self.stages[st]["tasks"]]
        if not cands:
            return 0.0
        widest = max(cands, key=lambda ts: (len(ts), sum(t["run_ms"] for t in ts)))
        times = [t["run_ms"] for t in widest]
        med = statistics.median(times)
        return max(times) / med if med > 0 else float(max(times) > 0)

    def driver_s(self, sid: int) -> float:
        """Wall time of span ``sid`` covered by none of its jobs: planning,
        footer reads, manifests and commit on the driver."""
        span = self.tracer.spans[sid]
        ivs = sorted(
            (max(self.jobs[j]["submit"], span["start"]),
             min(self.jobs[j]["end"] or span["end"], span["end"]))
            for j in self.jobs_under(sid)
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return max(0.0, (span["end"] - span["start"]) - covered)
