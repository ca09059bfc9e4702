"""Spans recorded by the benchmark around its calls into the program, and
Spark engine counters attributed to them.

A span is (id, name, start, end, parent). Spans stay in memory and are
written out once, at the end of a traced run. A layer's self time is the
sum over its spans of duration minus the part covered by child spans.

Engine counters come from the Spark event log (enabled through the
session's config when tracing). A Spark job belongs to the innermost span
open when the job was submitted: the traced passes run one call at a
time, and this also catches jobs that Structured Streaming or the HTTP
server submit from their own threads, which a thread-local job group
would miss.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Layer name → summed self time (s)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - child[s["id"]]
            )
        return out

    def innermost(self, t: float) -> str | None:
        """Name of the innermost span open at wall time t."""
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or float("inf")):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best["name"] if best else None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def engine_counters(event_log_dir: str, tracer: Tracer, cores: int) -> dict[str, dict]:
    """Per-layer Spark counters from the event log of a stopped session:
    shuffle bytes written/read, spilled bytes, GC share of executor run
    time, CPU utilization and task-time skew, keyed by the span each job was submitted under."""
    stage_layer: dict[int, str] = {}
    acc: dict[str, dict] = {}
    paths = sorted(glob.glob(f"{event_log_dir}/**/events_*", recursive=True))
    for path in paths or glob.glob(f"{event_log_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    layer = tracer.innermost(ev["Submission Time"] / 1000.0)
                    for sid in ev.get("Stage IDs", []):
                        stage_layer.setdefault(sid, layer)
                elif kind == "SparkListenerTaskEnd":
                    layer = stage_layer.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if layer is None or not m:
                        continue
                    a = acc.setdefault(
                        layer,
                        {"shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                         "spill_bytes": 0, "gc_ms": 0, "run_ms": 0, "tasks": []},
                    )
                    sr = m.get("Shuffle Read Metrics", {})
                    a["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    a["gc_ms"] += m.get("JVM GC Time", 0)
                    a["run_ms"] += m.get("Executor Run Time", 0)
                    info = ev["Task Info"]
                    a["tasks"].append(info["Finish Time"] - info["Launch Time"])
    self_s = tracer.self_times()
    out = {}
    for layer, a in acc.items():
        tasks = a.pop("tasks")
        med = statistics.median(tasks) if tasks else 0
        wall = self_s.get(layer, 0.0)
        out[layer] = {
            "shuffle_write_bytes": a["shuffle_write_bytes"],
            "shuffle_read_bytes": a["shuffle_read_bytes"],
            "spill_bytes": a["spill_bytes"],
            "gc_share": a["gc_ms"] / a["run_ms"] if a["run_ms"] else 0.0,
            "cpu_util": a["run_ms"] / 1000.0 / (wall * cores) if wall > 0 else 0.0,
            "task_skew": max(tasks) / med if med > 0 else 1.0,
        }
    return out
