"""Tracing helpers: an in-memory span recorder that tags Spark jobs with
the enclosing span, and a parser for Spark's JSON event log.

Spans are recorded from the benchmark's side of each public call; nothing
inside the program is instrumented.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class NullSpans:
    """Recorder used with tracing off: records nothing, tags nothing."""

    @contextmanager
    def span(self, name: str):
        yield


class Spans:
    """Records (name, start, end, parent, run id) for every span, and sets
    the Spark job group to the innermost span's name while it is open, so
    the event log attributes each job to the call that ran it."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.sc = None
        self.records: list[dict] = []
        self._stack: list[str] = []

    def _tag(self) -> None:
        if self.sc is None:
            return
        if self._stack:
            self.sc.setJobGroup(self._stack[-1], self._stack[-1])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._tag()
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self._tag()
            self.records.append(
                {"name": name, "start": start, "end": end, "parent": parent, "run_id": self.run_id}
            )

    def write(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.records, **extra}, f, indent=1, sort_keys=True)


_GROUP_FIELDS = (
    "jobs", "tasks", "executor_cpu_s", "executor_run_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def _events(paths: list[str]):
    for p in paths:
        with open(p) as f:
            yield from (json.loads(line) for line in f if line.strip())


def parse_event_log(paths: list[str]) -> dict[str, dict]:
    """Per-job-group totals from a Spark JSON event log (one event per line,
    possibly rolled over several files, given in order).

    A job belongs to the group in its ``spark.jobGroup.id`` property, and a
    task to the group of the first job that listed its stage. Jobs without a
    group are reported under ``""``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def acc(g: str) -> dict:
        return groups.setdefault(g, dict.fromkeys(_GROUP_FIELDS, 0))

    for ev in _events(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            acc(g)["jobs"] += 1
            for s in ev.get("Stage IDs", []):
                stage_group.setdefault(s, g)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            a = acc(stage_group.get(ev.get("Stage ID"), ""))
            a["tasks"] += 1
            a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return groups


def event_log_files(directory: str) -> list[str]:
    """The ``events_<n>_*`` parts, in order, of the one rolling application
    log (Spark's ``eventlog_v2_*`` layout) in ``directory``."""
    logs = [n for n in os.listdir(directory) if not n.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {logs}")
    path = os.path.join(directory, logs[0])
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n) for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]
