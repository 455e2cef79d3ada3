"""Spans, Spark event-log statistics and peak memory for the traced run.

Spans are recorded around the benchmark's calls into each layer and kept
in memory until :meth:`Tracer.write`.  While a span is open its id is set
as the Spark local property ``perfbench.span``, so the jobs it starts can
be found again in the event log.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"


class Tracer:
    def __init__(self, run_id: str, sc=None, enabled: bool = True):
        self.run_id = run_id
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, str(rec["id"]))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(
                    SPAN_PROP, str(self._stack[-1]) if self._stack else None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its children cover."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


# --- Spark event log ---------------------------------------------------

def read_event_logs(log_dir: str) -> list[list[dict]]:
    """The events of each finished application log under ``log_dir``."""
    apps = []
    for dirpath, _, names in sorted(os.walk(log_dir)):
        for name in sorted(names):
            if name.startswith((".", "appstatus")) or name.endswith(".inprogress"):
                continue
            with open(os.path.join(dirpath, name)) as f:
                apps.append([json.loads(line) for line in f if line.strip()])
    return apps


def task_stats(events: list[dict]) -> dict[str, dict]:
    """Per span id, over one application's events: tasks, tasks that read
    input records, shuffle bytes written, and the max/median task-time
    ratio of the span's longest stage."""
    stage_span: dict[int, str] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            span = (ev.get("Properties") or {}).get(SPAN_PROP)
            if span is not None:
                for sid in ev.get("Stage IDs", []):
                    stage_span[sid] = span
    stages: dict[tuple[str, int], list[dict]] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        span = stage_span.get(ev.get("Stage ID"))
        if span is None:
            continue
        info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
        stages.setdefault((span, ev["Stage ID"]), []).append({
            "ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
            "records_in": (m.get("Input Metrics") or {}).get("Records Read", 0),
            "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        })
    out: dict[str, dict] = {}
    for (span, _), tasks in stages.items():
        agg = out.setdefault(span, {"tasks": 0, "nonempty_tasks": 0, "shuffle_bytes": 0,
                                    "_longest": (-1, 0.0)})
        agg["tasks"] += len(tasks)
        agg["nonempty_tasks"] += sum(1 for t in tasks if t["records_in"] > 0)
        agg["shuffle_bytes"] += sum(t["shuffle_w"] for t in tasks)
        total = sum(t["ms"] for t in tasks)
        if total > agg["_longest"][0]:
            ms = [t["ms"] for t in tasks]
            agg["_longest"] = (total, max(ms) / max(statistics.median(ms), 1))
    for agg in out.values():
        agg["task_max_over_median"] = agg.pop("_longest")[1]
    return out


def sql_plans(events: list[dict]) -> list[str]:
    return [ev.get("physicalPlanDescription", "") for ev in events
            if ev.get("Event", "").endswith("SparkListenerSQLExecutionStart")]


# --- memory --------------------------------------------------------------

def _tree_rss_kb(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{name}/statm") as f:
                rss[int(name)] = int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


class RssSampler:
    """Peak resident memory of a process tree (the JVM and its Python
    workers), sampled from /proc on a background thread."""

    def __init__(self, root_pid: int, every_s: float = 0.25):
        self.root_pid, self.every_s = root_pid, every_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(self.root_pid))
            self._stop.wait(self.every_s)

    def __enter__(self):
        if os.path.isdir("/proc"):
            self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()
