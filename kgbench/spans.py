# -*- coding: utf-8 -*-
"""Spans, Spark event-log attribution and process-tree RSS sampling.

Spans are recorded by the benchmark around calls into the engine's
public functions; nothing inside ``knowledge_graph_spark`` is touched
except that, in a traced run, the eager ``LakeTable`` commit methods
are wrapped (see :func:`wrap_lake`). Spans stay in memory and are
written out by the caller when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder: (id, name, start, end, parent, attrs).

    The parent is the innermost open span of the calling thread, or the
    innermost span of the thread that opened the current operation when
    the calling thread has none (the engine commits nodes, edges and
    dropped rows on worker threads)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._root: list[int] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        """Yields the span record; callers may add to ``rec["attrs"]``.
        A disabled tracer yields a detached record and keeps nothing."""
        if not self.enabled:
            yield {"id": None, "name": name, "attrs": attrs}
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._root[-1] if self._root else None)
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "start": time.time(), "end": None,
                   "parent": parent, "attrs": attrs}
            self.spans.append(rec)
        stack.append(sid)
        if parent is None:
            self._root.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if parent is None:
                self._root.pop()

    def under(self, sid: int, prefix: str) -> list[dict]:
        """Every span below ``sid`` (any depth) whose name starts with prefix."""
        below = {sid}
        out = []
        for s in self.spans:  # a parent is always recorded before its children
            if s["parent"] in below:
                below.add(s["id"])
                if s["name"].startswith(prefix):
                    out.append(s)
        return out


def _snapshot_size(table_dir: str, snapshot: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(os.path.join(table_dir, snapshot)):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def wrap_lake(tracer: Tracer):
    """Wrap LakeTable's eager commit methods in spans; returns an undo
    callable. ``files``/``bytes`` count the parquet files of the
    snapshot a commit wrote; ``stage`` is the batch id's last segment
    (``graph@batch/nodes`` -> ``nodes``)."""
    from knowledge_graph_spark.sources.lake import LakeTable

    saved = {}

    def wrap(name):
        orig = getattr(LakeTable, name)

        def wrapped(self, *args, **kwargs):
            bid = kwargs.get("batch_id") or ""
            with tracer.span(f"lake.{name}", table=os.path.basename(self.dir),
                             stage=bid.rsplit("/", 1)[-1]) as rec:
                out = orig(self, *args, **kwargs)
                if isinstance(out, dict) and out.get("snapshot"):
                    rec["attrs"]["files"], rec["attrs"]["bytes"] = _snapshot_size(
                        self.dir, out["snapshot"])
                return out

        saved[name] = orig
        setattr(LakeTable, name, wrapped)

    for name in ("merge_into", "overwrite_partitions", "vacuum"):
        wrap(name)

    def undo():
        for name, orig in saved.items():
            setattr(LakeTable, name, orig)

    return undo


# ---- process-tree RSS ------------------------------------------------


def process_tree(root_pid: int) -> set[int]:
    """root_pid and every live descendant, from /proc."""
    parent_of: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces or parens: ppid is the 2nd field after ')'
        parent_of[int(d)] = int(stat[stat.rfind(b")") + 2:].split()[1])
    tree = {root_pid}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent_of.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss_kib(root_pid: int) -> int:
    """Summed VmRSS of root_pid and all its descendants: the Python
    driver, the driver JVM it launched, and the JVM's Python workers.

    A JVM child that still runs the java binary is between spawn and
    exec (the JVM starts helpers such as the Python daemon that way); it
    shares the JVM's memory and would count it twice, so it is skipped."""
    total = 0
    for pid in process_tree(root_pid):
        if pid != root_pid and os.path.basename(_exe(pid)) == "java":
            try:
                with open(f"/proc/{pid}/stat", "rb") as f:
                    stat = f.read()
                ppid = int(stat[stat.rfind(b")") + 2:].split()[1])
            except OSError:
                continue
            if os.path.basename(_exe(ppid)) == "java":
                continue
        try:
            with open(f"/proc/{pid}/status", "rb") as f:
                for line in f:
                    if line.startswith(b"VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's summed RSS every ``period`` seconds on
    a daemon thread inside a ``with`` block; ``peak_mib`` is the
    maximum seen."""

    def __init__(self, period: float = 0.05):
        self.period = period
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self):
        self.peak_kib = tree_rss_kib(os.getpid())
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self):
        while not self._stop.wait(self.period):
            self.peak_kib = max(self.peak_kib, tree_rss_kib(os.getpid()))

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kib = max(self.peak_kib, tree_rss_kib(os.getpid()))

    @property
    def peak_mib(self) -> float:
        return self.peak_kib / 1024.0


# ---- Spark event log ---------------------------------------------------


def _event_files(log_dir: str) -> list[str]:
    """Event-log files under log_dir in write order: a plain log is one
    file; a rolling log is a directory of ``events_<n>_<app>`` parts
    beside an ``appstatus`` marker."""
    out = []
    for root, _dirs, names in os.walk(log_dir):
        for n in names:
            if n.startswith(("appstatus", ".")):  # status marker, checksums
                continue
            part = n.split("_")[1] if n.startswith("events_") else "0"
            out.append((root, int(part) if part.isdigit() else 0, n))
    return [os.path.join(r, n) for r, _p, n in sorted(out)]


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Parse the uncompressed JSON-lines event log(s) in log_dir into
    jobs ``{job_id: {"submit": epoch_s, "stages": [...]}}`` and tasks
    ``{stage_id: [per-task metrics]}``."""
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    for path in _event_files(log_dir):
        with open(path, "r", encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append({
                        "run_s": (info.get("Finish Time", 0)
                                  - info.get("Launch Time", 0)) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_read": (sr.get("Remote Bytes Read", 0)
                                         + sr.get("Local Bytes Read", 0)),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0)),
                    })
    return jobs, tasks


def jobs_in(jobs: dict, start: float, end: float) -> list[int]:
    """Jobs submitted inside [start, end]; event-log times are whole
    milliseconds, so the window is widened by one."""
    return [j for j, v in jobs.items()
            if start - 0.001 <= v["submit"] <= end + 0.001]


def attribute_jobs(spans: list[dict], jobs: dict) -> dict[int, dict]:
    """Each job -> the innermost of ``spans`` open at its submission."""
    out = {}
    for jid, j in jobs.items():
        best = None
        for s in spans:
            if s["start"] - 0.001 <= j["submit"] <= s["end"] + 0.001:
                if best is None or s["start"] >= best["start"]:
                    best = s
        if best is not None:
            out[jid] = best
    return out


def job_stats(jobs: dict, tasks: dict, job_ids: list[int]) -> dict:
    """Spark counters summed over a set of jobs. ``task_skew`` is max /
    median task run time in the stage holding the most task time among
    those jobs (the stage that sets the layer's wall time)."""
    stages = sorted({st for j in job_ids for st in jobs[j]["stages"]
                     if st in tasks})
    ts = [t for st in stages for t in tasks[st]]
    mib = 1024.0 * 1024.0
    skew = 1.0
    heavy = max(stages, key=lambda st: sum(t["run_s"] for t in tasks[st]),
                default=None)
    if heavy is not None and len(tasks[heavy]) >= 2:
        runs = [t["run_s"] for t in tasks[heavy]]
        med = statistics.median(runs)
        skew = max(runs) / med if med > 0 else 1.0
    return {
        "jobs": len(job_ids),
        "tasks": len(ts),
        "task_cpu_s": sum(t["cpu_s"] for t in ts),
        "shuffle_read_mb": sum(t["shuffle_read"] for t in ts) / mib,
        "shuffle_write_mb": sum(t["shuffle_write"] for t in ts) / mib,
        "spill_mb": sum(t["spill"] for t in ts) / mib,
        "gc_s": sum(t["gc_s"] for t in ts),
        "task_skew": skew,
    }
