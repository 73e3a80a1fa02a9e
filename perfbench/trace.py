"""Spans around calls into the product's layers, and the Spark event-log
reducer that turns each layer's job group into Spark counters.

A span records name, start, end, parent span and run id.  Entering a
span also sets the Spark job group (the `spark.jobGroup.id` local
property) to the span's name, so every job the layer submits is
labelled with it in the event log; leaving restores the enclosing
group.  Spans stay in memory until `write` at the end of the run.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
import uuid
from collections import defaultdict
from pathlib import Path

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, name)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, prev)

    def wall(self, s: dict) -> float:
        return s["end"] - s["start"]

    def self_times(self) -> dict[str, float]:
        """Per name: span durations minus the time their child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += self.wall(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += self.wall(s) - child[s["id"]]
        return dict(out)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [{**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans]
        path.write_text(json.dumps({"run_id": self.run_id, "spans": rows}, indent=1))


def reduce_event_log(log_dir: Path) -> dict[str, dict[str, float]]:
    """Event log -> {job group: {jobs, tasks, cpu_s, shuffle_read_mb,
    shuffle_write_mb, spill_mb, task_skew}}.  Read it after the
    SparkContext stopped, when the log is complete.  Jobs submitted
    outside any span fall in the group "untraced"."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    tasks: dict[str, list] = defaultdict(list)
    # Spark writes a rolling log: a directory of events_<n>_<app> files
    files = sorted(log_dir.rglob("events_*"), key=lambda p: int(p.name.split("_")[1]))
    for f in files:
        with f.open() as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(_GROUP) or "untraced"
                    jobs[group] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "untraced")
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    tasks[group].append((
                        info.get("Finish Time", 0) - info.get("Launch Time", 0),
                        m.get("Executor CPU Time", 0) / 1e9,
                        (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 1e6,
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6,
                        m.get("Disk Bytes Spilled", 0) / 1e6,
                    ))
    out = {}
    for group in set(jobs) | set(tasks):
        t = tasks.get(group, [])
        durations = [x[0] for x in t]
        median = statistics.median(durations) if durations else 0
        out[group] = {
            "jobs": jobs.get(group, 0),
            "tasks": len(t),
            "cpu_s": sum(x[1] for x in t),
            "shuffle_read_mb": sum(x[2] for x in t),
            "shuffle_write_mb": sum(x[3] for x in t),
            "spill_mb": sum(x[4] for x in t),
            "task_skew": max(durations) / median if median > 0 else 1.0,
        }
    return out
