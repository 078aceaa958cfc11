"""Spans around the benchmark's calls into the engine's layers, and the
event-log parser that attributes Spark task metrics to them.

A span is recorded at each layer boundary: name, start, end, parent span,
run id. Spans stay in memory and are written out when the run ends. Each
span sets the Spark job group to its own id, so every task Spark runs
inside it can be attributed back through `spark.jobGroup.id` in the event
log; a task belongs to the innermost open span (its self cost).
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# Spark counters reported per span: name → (unit, better).
COUNTERS = {
    "tasks": ("count", "lower"),
    "tasks_failed": ("count", "lower"),
    "executor_run_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "shuffle_write_bytes": ("B", "lower"),
    "shuffle_read_bytes": ("B", "lower"),
    "spill_bytes": ("B", "lower"),
    "busy_ratio": ("ratio", "higher"),
}


SETUP = "setup"  # pass of the session spans: start-up and warm-up


class Tracer:
    """Times layer calls. In the traced run (`record=True`) it also keeps
    one span per call made at set-up or in a measured pass, and tags the
    call's Spark jobs with the span id once a SparkContext is attached."""

    def __init__(self, run_id: str, record: bool):
        self.run_id = run_id
        self.record = record
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.calls = 0   # layer calls made at set-up and in measured passes
        self.errors = 0  # of which raised

    def attach(self, sc) -> None:
        self.sc = sc

    @contextmanager
    def span(self, name: str, pass_no):
        """Times one layer call; `pass_no` is a pass number, SETUP, or None
        for calls inside the warm-up pass, which are neither counted nor
        recorded."""
        rec = {"name": name, "pass": pass_no}
        if pass_no is not None:
            self.calls += 1
        recorded = self.record and pass_no is not None
        if recorded:
            rec.update(id=len(self.spans), run=self.run_id,
                       parent=self._stack[-1]["id"] if self._stack else None)
            self.spans.append(rec)
            self._stack.append(rec)
            self._set_group()
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        except Exception:
            if pass_no is not None:
                self.errors += 1
            raise
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            if recorded:
                self._stack.pop()
                self._set_group()

    def _set_group(self) -> None:
        """Spark job group := the innermost open span."""
        if self.sc is None:
            return
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(f"{self.run_id}/{top['id']}", top["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def event_log_counters(event_log: str) -> dict[str, dict]:
    """job group → summed task counters, from an uncompressed, non-rolling
    Spark event log (one JSON event per line)."""
    stage_group: dict[tuple[int, int], str | None] = {}
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    with open(event_log) as fh:
        for line in fh:
            if line.startswith('{"Event":"SparkListenerStageSubmitted"'):
                e = json.loads(line)
                info = e["Stage Info"]
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = (
                    e.get("Properties") or {}).get("spark.jobGroup.id")
            elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                e = json.loads(line)
                group = stage_group.get((e["Stage ID"], e["Stage Attempt ID"]))
                if group is None:
                    continue
                c = out[group]
                c["tasks"] += 1
                if e["Task End Reason"]["Reason"] != "Success":
                    c["tasks_failed"] += 1
                m = e.get("Task Metrics") or {}
                c["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                rd = m.get("Shuffle Read Metrics") or {}
                c["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0)
                c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return dict(out)


def attribute(spans: list[dict], groups: dict[str, dict], nproc: int) -> None:
    """Adds to every span its self counters (tasks in its own job group)
    and self wall time (its wall minus the time its child spans cover);
    busy_ratio = executor run time ÷ (self wall × nproc)."""
    child_wall: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_wall[s["parent"]] += s["wall_s"]
    for s in spans:
        c = dict(groups.get(f"{s['run']}/{s['id']}", dict.fromkeys(COUNTERS, 0.0)))
        s["self_wall_s"] = max(s["wall_s"] - child_wall[s["id"]], 0.0)
        c["busy_ratio"] = (c["executor_run_s"] / (s["self_wall_s"] * nproc)
                           if s["self_wall_s"] > 0 else 0.0)
        s["counters"] = c


def find_event_log(directory: str) -> str:
    logs = [f for f in os.listdir(directory) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {logs}")
    return os.path.join(directory, logs[0])
