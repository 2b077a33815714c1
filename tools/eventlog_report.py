# -*- coding: utf-8 -*-
"""Per-job timeline of a Spark event log.

Usage: python tools/eventlog_report.py <event-log file or directory>

Reads an uncompressed JSON-lines event log (run Spark with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``;
Spark 4 compresses with zstd by default) and prints one row per job.
Spark 4.1's default log is a rolling directory, ``eventlog_v2_<app>``,
of ``events_<n>_<app>`` parts beside an ``appstatus_<app>`` marker;
pass the directory and its parts are read in ``<n>`` order. A plain
single-file log works too. Each row shows the job's
start offset from the first job's submission, duration, stages, tasks
and the job description. LakeTable commits describe their write jobs
with the commit's batch id (``g1/nodes``, ``g1/same_as``), so a
timeline of overlapping pipeline stages still says which job served
which commit. The last line is the idle time: the part of the span
from the first job's start to the last job's end in which no job ran.
"""

from __future__ import annotations

import json
import os
import sys


def event_files(path: str) -> list[str]:
    """The files of the event log at ``path`` in write order: a plain
    log is the file itself; a rolling log's directory holds its
    ``events_<n>_<app>`` parts, taken in ``<n>`` order (numeric, so
    part 10 follows part 9), and its ``appstatus`` marker is skipped."""
    if not os.path.isdir(path):
        return [path]
    parts = []
    for name in os.listdir(path):
        n = name.split("_")[1] if name.startswith("events_") else ""
        if n.isdigit():
            parts.append((int(n), name))
    return [os.path.join(path, name) for _, name in sorted(parts)]


def _events(path: str):
    for part in event_files(path):
        with open(part, "r", encoding="utf-8") as f:
            for line in f:
                yield json.loads(line)


def read_jobs(path: str) -> list[dict]:
    """Jobs of the event log at ``path`` (a file or a rolling-log
    directory), by submission time: ``id``, ``start`` and ``end``
    (epoch s; ``end`` None for a job that never finished), ``stages``,
    ``tasks`` and ``description``."""
    jobs: dict[int, dict] = {}
    for ev in _events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            infos = ev.get("Stage Infos") or []
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"],
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "stages": len(infos),
                "tasks": sum(s.get("Number of Tasks", 0) for s in infos),
                "description": props.get("spark.job.description") or "",
            }
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
    return sorted(jobs.values(), key=lambda j: (j["start"], j["id"]))


def idle_seconds(jobs: list[dict]) -> float:
    """Time between the first job's start and the last job's end during
    which no job was running (jobs may overlap)."""
    spans = sorted((j["start"], j["end"]) for j in jobs if j["end"] is not None)
    if not spans:
        return 0.0
    idle = 0.0
    busy_until = spans[0][0]
    for start, end in spans:
        if start > busy_until:
            idle += start - busy_until
        busy_until = max(busy_until, end)
    return idle


def report(jobs: list[dict]) -> str:
    if not jobs:
        return "no jobs"
    t0 = jobs[0]["start"]
    lines = [f"{'job':>5} {'start_s':>8} {'dur_s':>7} {'stages':>6} "
             f"{'tasks':>6}  description"]
    for j in jobs:
        dur = f"{j['end'] - j['start']:7.3f}" if j["end"] is not None else f"{'-':>7}"
        lines.append(f"{j['id']:>5} {j['start'] - t0:8.3f} {dur} "
                     f"{j['stages']:>6} {j['tasks']:>6}  {j['description']}")
    ends = [j["end"] for j in jobs if j["end"] is not None]
    wall = (max(ends) - t0) if ends else 0.0
    lines.append(f"{len(jobs)} jobs over {wall:.3f} s; "
                 f"idle between jobs {idle_seconds(jobs):.3f} s")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    print(report(read_jobs(argv[1])))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
