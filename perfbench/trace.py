"""Spans recorded around the benchmark's calls into each layer, and the
Spark event log folded into per-operation task, shuffle and spill
numbers.

Spans stay in memory (name, start, end, parent id) and are written out
once when the run ends. A Spark job is attributed to the operation span
whose interval contains the job's submission time: the benchmark is a
single closed-loop client, so no two operations overlap, and jobs the
engine submits from its own helper threads are attributed too (a job
group set on the calling thread would miss them).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time


class Tracer:
    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Time a call as a span nested in the innermost open one."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# event log


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single, finished) application log in log_dir."""
    events = []
    for p in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(p) or os.path.basename(p).startswith("."):
            continue
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def fold_jobs(events: list[dict], op_spans: list[dict]) -> dict[int, dict]:
    """Per operation span id: jobs, stages, tasks, task seconds,
    shuffle-write and spill bytes, and the max/median task time of its
    busiest stage, over the jobs submitted inside that span."""
    stage_span: dict[int, int] = {}
    out: dict[int, dict] = {}

    def owner(ts_ms: float):
        t = ts_ms / 1000.0
        return next((s for s in op_spans if s["start"] <= t <= s["end"]), None)

    def acc(sid: int) -> dict:
        return out.setdefault(sid, {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0,
                                    "shuffle_write_b": 0, "spill_b": 0,
                                    "_stage_tasks": {}})

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            s = owner(ev["Submission Time"])
            if s is None:
                continue
            acc(s["id"])["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_span[sid] = s["id"]
        elif kind == "SparkListenerStageSubmitted":
            sid = stage_span.get(ev["Stage Info"]["Stage ID"])
            if sid is not None:
                acc(sid)["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev["Stage ID"])
            if sid is None:
                continue
            a = acc(sid)
            m = ev.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1000.0
            a["tasks"] += 1
            a["task_s"] += run_s
            a["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            a["spill_b"] += m.get("Disk Bytes Spilled", 0)
            a["_stage_tasks"].setdefault(ev["Stage ID"], []).append(run_s)
    for a in out.values():
        stages = a.pop("_stage_tasks")
        busiest = max(stages.values(), key=sum, default=[])
        med = statistics.median(busiest) if busiest else 0.0
        a["task_skew"] = (max(busiest) / med) if med > 0 else 1.0
    return out
