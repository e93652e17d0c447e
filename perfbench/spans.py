"""Spans around the benchmark's calls into the library, and the Spark
event-log counters attributed to them.

A span is (id, name, parent, workload, start, end), kept in memory and
written out when the run ends. Entering a span sets the Spark job
description (and a ``perfbench.span`` local property) through the public
``SparkContext`` API, so every job, stage and task in the event log can
be charged to the innermost span that was open when its job started.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

SPAN_PROP = "perfbench.span"


class Tracer:
    """In-memory span recorder. Disabled tracers cost one branch per span."""

    def __init__(self, workload: str, enabled: bool) -> None:
        self.workload = workload
        self.enabled = enabled
        self.sc = None  # set once the session exists; earlier spans tag nothing
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._tag(sid)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setJobDescription(None)
            self.sc.setLocalProperty(SPAN_PROP, None)
            return
        rec = self.spans[sid]
        self.sc.setJobDescription(f"{rec['workload']}:{rec['name']}#{sid}")
        self.sc.setLocalProperty(SPAN_PROP, f"{rec['workload']}#{sid}")

    # -- queries over the recorded tree ---------------------------------------
    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def named(self, name: str, under: int | None = None) -> list[dict]:
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

    def subtree(self, sid: int) -> set[int]:
        return {s["id"] for s in self.spans if self.is_within(s["id"], sid)}

    @staticmethod
    def duration(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, sid: int) -> float:
        """Duration minus the time its (sequential) children cover."""
        rec = self.spans[sid]
        return self.duration(rec) - sum(self.duration(c) for c in self.children(sid))

    def dump(self, path: Path) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


class EventLog:
    """Per-job and per-stage counters parsed from one Spark event log."""

    def __init__(self, path: Path) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    self.jobs[jid] = {
                        "span": props.get(SPAN_PROP),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": [],
                    }
                    for st in ev.get("Stage IDs", []):
                        stage_job[st] = jid
                elif kind == "SparkListenerJobEnd":
                    job = self.jobs.get(ev["Job ID"])
                    if job is not None:
                        job["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = self._stage(ev["Stage ID"], stage_job)
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["tasks"] += 1
                    st["task_run_ms"].append(m.get("Executor Run Time", 0))
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["result_bytes"] += m.get("Result Size", 0)
                    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    st["sw_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    st["sw_ns"] += sw.get("Shuffle Write Time", 0)
                    st["sr_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    st["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
        for sid, st in self.stages.items():
            jid = stage_job.get(sid)
            st["job"] = jid
            if jid in self.jobs:
                self.jobs[jid]["stages"].append(sid)

    def _stage(self, sid: int, stage_job: dict[int, int]) -> dict:
        st = self.stages.get(sid)
        if st is None:
            st = self.stages[sid] = {
                "tasks": 0, "task_run_ms": [], "run_ms": 0, "cpu_ns": 0,
                "gc_ms": 0, "result_bytes": 0, "spill_bytes": 0,
                "sw_bytes": 0, "sw_ns": 0, "sr_bytes": 0, "fetch_wait_ms": 0,
                "job": stage_job.get(sid),
            }
        return st

    @staticmethod
    def find(directory: Path) -> "EventLog":
        files = [p for p in directory.iterdir() if p.is_file()]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {directory}, got {files}")
        return EventLog(files[0])

    # -- attribution -----------------------------------------------------------
    def jobs_of(self, workload: str, span_ids: set[int]) -> list[dict]:
        tags = {f"{workload}#{sid}" for sid in span_ids}
        return [j for j in self.jobs.values() if j["span"] in tags]

    def unattributed_jobs(self) -> int:
        return sum(1 for j in self.jobs.values() if j["span"] is None)

    def totals(self, jobs: list[dict]) -> dict:
        """Summed counters over the stages of ``jobs``."""
        keys = ("tasks", "run_ms", "cpu_ns", "gc_ms", "result_bytes",
                "spill_bytes", "sw_bytes", "sw_ns", "sr_bytes", "fetch_wait_ms")
        out = dict.fromkeys(keys, 0)
        out["jobs"] = len(jobs)
        out["stages"] = 0
        for j in jobs:
            for sid in j["stages"]:
                st = self.stages[sid]
                if st["tasks"] == 0:
                    continue  # skipped (reused) stage
                out["stages"] += 1
                for k in keys:
                    out[k] += st[k]
        return out

    def stages_of(self, jobs: list[dict]) -> list[dict]:
        return [
            self.stages[sid] for j in jobs for sid in j["stages"]
            if self.stages[sid]["tasks"]
        ]

    @staticmethod
    def busy_seconds(jobs: list[dict], lo: float, hi: float) -> float:
        """Wall time within [lo, hi] covered by at least one job."""
        iv = sorted(
            (max(lo, j["start"]), min(hi, j["end"] or hi)) for j in jobs
        )
        total, cur_lo, cur_hi = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    total += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            total += cur_hi - cur_lo
        return total


def task_skew(stage: dict) -> float:
    """Slowest task over the median task of one stage (1.0 = even)."""
    times = stage["task_run_ms"]
    med = statistics.median(times) if times else 0
    return max(times) / med if med else 1.0
