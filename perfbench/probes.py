"""Measurement probes the benchmark attaches from outside the program.

* ``MemSampler``   — peak summed PSS of the processes descended from
  this one (the driver JVM, the Python worker daemon and its forks),
  read from ``/proc`` on a background thread.
* ``Tracer``       — spans (name, start, end, parent, run id) kept in
  memory and written to JSONL when the run ends.
* ``ProgressLog``  — ``streaming.metrics.MetricsListener`` plus each
  trigger's ``durationMs`` breakdown.
* ``spark_layer``  — stage-level task metrics of a time window, from
  ``tools/profile_stages.parse_event_log`` over Spark's event log.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
from contextlib import contextmanager

from bigdata_event_stream_detection_spark.streaming.metrics import (
    MetricsListener,
)
from tools.profile_stages import parse_event_log


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    among the processes sharing it, so the forked Python workers do not
    count the daemon's preloaded modules once each. 0 once it exited."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


class MemSampler:
    """Peak summed PSS of this process's descendants (but ``exclude``)
    while active:
    ``peak`` over all of them (the JVM and the Python workers),
    ``peak_workers`` over the Python workers alone. The JVM's share
    follows its collector's heap sizing more than the program's data."""

    def __init__(self, exclude: set[int] = frozenset(),
                 interval_s: float = 0.25):
        self.exclude = exclude
        self.interval_s = interval_s
        self.peak = 0
        self.peak_workers = 0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            if self._active.wait(0.2):
                # each read of smaps_rollup walks the process's memory
                # map, so every process is read once per sample
                pss = {p: pss_bytes(p) for p in descendants(me)
                       if p not in self.exclude}
                self.peak = max(self.peak, sum(pss.values()))
                self.peak_workers = max(self.peak_workers, sum(
                    v for p, v in pss.items() if _is_python(p)))
                time.sleep(self.interval_s)

    @contextmanager
    def active(self):
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()

    def close(self):
        self._stop.set()
        self._thread.join(timeout=5)


class Tracer:
    """In-memory spans of one run, written out as JSONL at the end."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1] if self._stack
               else None, "run_id": self.run_id, "start": time.time()}
        self._stack.append(name)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def write(self, path: str):
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class ProgressLog(MetricsListener):
    """``MetricsListener`` that also keeps each trigger's ``durationMs``."""

    def __init__(self):
        super().__init__()
        self.durations: list[dict] = []

    def onQueryProgress(self, event):
        super().onQueryProgress(event)
        with self._lock:
            self.durations.append(json.loads(event.progress.json)
                                  .get("durationMs") or {})

    def reset(self):
        with self._lock:
            self.progress.clear()
            self.durations.clear()

    def wait_for(self, n: int, timeout_s: float = 10.0) -> bool:
        """Listener events arrive asynchronously; wait for ``n`` of them."""
        end = time.time() + timeout_s
        while time.time() < end:
            with self._lock:
                if len(self.progress) >= n:
                    return True
            time.sleep(0.05)
        return False


# Spark plan nodes that run Python: their stages' task time is Python
# worker time (plus the Arrow transfer that feeds it).
_PYTHON_NODE = re.compile(r"Pandas|Python|InArrow")


def _python_stage_ids(evlog_dir: str) -> set[int]:
    """Stage ids whose RDD scopes name a Python exec node (the one field
    ``parse_event_log`` does not keep)."""
    ids = set()
    for path in glob.glob(os.path.join(evlog_dir, "**", "*"), recursive=True):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                if '"SparkListenerStageCompleted"' not in line:
                    continue
                si = json.loads(line)["Stage Info"]
                for rdd in si.get("RDD Info", []):
                    scope = json.loads(rdd.get("Scope") or "{}")
                    if _PYTHON_NODE.search(scope.get("name", "")):
                        ids.add(si["Stage ID"])
                        break
    return ids


def spark_layer(evlog_dir: str, t0: float, t1: float) -> dict:
    """Engine metrics of the stages submitted in wall window [t0, t1]."""
    rows = [r for r in parse_event_log(evlog_dir, int(t0 * 1000))
            if 0 <= r["start_s"] <= t1 - t0]
    py = _python_stage_ids(evlog_dir)
    # union of stage intervals: what the window spent with no stage running
    covered, end = 0.0, 0.0
    for s, e in sorted((r["start_s"], r["start_s"] + r["wall_s"])
                       for r in rows):
        s = max(s, end)
        if e > s:
            covered += e - s
            end = e
    return {
        "spark.stages": len(rows),
        "spark.tasks": sum(r["tasks"] for r in rows),
        "spark.task_run_s": sum(r["task_time_s"] for r in rows),
        "spark.gc_s": sum(r["gc_s"] for r in rows),
        "spark.deser_s": sum(r["deser_s"] for r in rows),
        "spark.fetch_wait_s": sum(r["fetch_wait_s"] for r in rows),
        "spark.shuffle_write_mb": sum(r["sh_w_mb"] for r in rows),
        "spark.shuffle_read_mb": sum(r["sh_r_mb"] for r in rows),
        "spark.python_s": sum(r["task_time_s"] for r in rows
                              if r["stage"] in py),
        "spark.driver_gap_s": max(0.0, (t1 - t0) - covered),
    }
