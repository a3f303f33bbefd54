"""Spans around calls into the engine's public API, Spark job-group
labels, and the event-log parser that turns task metrics into per-layer
numbers.

A traced run enables the Spark event log (only there) and labels every
call with `setJobGroup(<span id>)`; jobs started from threads the
benchmark does not own (the query batcher's wave threads) carry no group
and are attributed by submission time to the enclosing window span.
Spans are kept in memory and written out when the run ends. An untraced
run uses the same calls with a `Tracer(enabled=False)`, which only keeps
the wall-clock durations the end-to-end metrics need.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

#: task-metric sums kept per span (event-log key path -> output name, scale)
_TASK_SUMS = {
    "run_s": (("Executor Run Time",), 1e-3),
    "cpu_s": (("Executor CPU Time",), 1e-9),
    "gc_s": (("JVM GC Time",), 1e-3),
    "spill_mb": (("Disk Bytes Spilled",), 1e-6),
    "shuffle_write_mb": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 1e-6),
    "shuffle_read_mb": (
        ("Shuffle Read Metrics", "Remote Bytes Read"),
        ("Shuffle Read Metrics", "Local Bytes Read"),
        1e-6,
    ),
    "fetch_wait_s": (("Shuffle Read Metrics", "Fetch Wait Time"), 1e-3),
}


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end")

    def __init__(self, sid: int, name: str, parent: int | None):
        self.sid = sid
        self.name = name
        self.parent = parent
        self.start = time.time()
        self.end = self.start

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.sid, "name": self.name, "parent": self.parent,
            "start": self.start, "end": self.end,
        }


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, label: bool = True):
        """Time a block; in a traced run also label the Spark jobs it
        starts from this thread with the span's id. Spans nest per
        thread; the innermost labelled span owns the jobs."""
        stack = self._local.__dict__.setdefault("stack", [])
        labelled = self._local.__dict__.setdefault("labelled", [])
        with self._lock:
            sp = Span(len(self.spans), name, stack[-1].sid if stack else None)
            self.spans.append(sp)
        stack.append(sp)
        label = self.enabled and label
        if label:
            labelled.append(sp)
            self.sc.setJobGroup(f"span-{sp.sid}", name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if label:
                labelled.pop()
                if labelled:
                    outer = labelled[-1]
                    self.sc.setJobGroup(f"span-{outer.sid}", outer.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.as_dict() for s in self.spans], f)


class JobTable:
    """Jobs and their task-metric sums, read from a Spark event log."""

    def __init__(self, eventlog_dir: str):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        # Spark writes either one file or a rolling dir of events_<n>_* files
        files = sorted(
            glob.glob(eventlog_dir + "/*/events_*") + glob.glob(eventlog_dir + "/*[!c]")
        )
        for path in (p for p in files if os.path.isfile(p)):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        group = props.get("spark.jobGroup.id")
                        job = {
                            "group": group,
                            "submit": ev["Submission Time"] / 1e3,
                            "tasks": 0,
                            **{k: 0.0 for k in _TASK_SUMS},
                        }
                        self.jobs[ev["Job ID"]] = job
                        for sid in ev.get("Stage IDs", []):
                            stage_job.setdefault(sid, ev["Job ID"])
                    elif kind == "SparkListenerTaskEnd":
                        jid = stage_job.get(ev["Stage ID"])
                        tm = ev.get("Task Metrics")
                        if jid is None or not tm:
                            continue
                        job = self.jobs[jid]
                        job["tasks"] += 1
                        for name, spec in _TASK_SUMS.items():
                            *paths, scale = spec
                            for keys in paths:
                                v = tm
                                for k in keys:
                                    v = v.get(k, 0) if isinstance(v, dict) else 0
                                job[name] += float(v) * scale

    def for_spans(self, spans: list[Span]) -> list[dict]:
        """Jobs labelled with any of `spans` (the innermost labelled span
        around a call owns its jobs)."""
        groups = {f"span-{s.sid}" for s in spans}
        return [j for j in self.jobs.values() if j["group"] in groups]

    def submitted_in(self, start: float, end: float) -> list[dict]:
        """Jobs submitted inside [start, end], labelled or not: the window
        attribution for jobs started by threads the benchmark does not
        own (the query batcher's wave threads)."""
        return [j for j in self.jobs.values() if start <= j["submit"] <= end]

    @staticmethod
    def sums(jobs: list[dict]) -> dict:
        out = {k: sum(j[k] for j in jobs) for k in _TASK_SUMS}
        out["tasks"] = sum(j["tasks"] for j in jobs)
        out["jobs"] = len(jobs)
        return out
