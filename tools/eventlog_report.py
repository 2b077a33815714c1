# -*- coding: utf-8 -*-
"""Per-job timeline of a Spark event log.

Usage: python tools/eventlog_report.py <event-log file>

Reads an uncompressed JSON-lines event log (run Spark with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``;
Spark 4 compresses with zstd by default) and prints one row per job:
start offset from the first job's submission, duration, stages, tasks
and the job description. LakeTable commits describe their write jobs
with the commit's batch id (``g1/nodes``, ``g1/same_as``), so a
timeline of overlapping pipeline stages still says which job served
which commit. The last line is the idle time: the part of the span
from the first job's start to the last job's end in which no job ran.
"""

from __future__ import annotations

import json
import sys


def read_jobs(path: str) -> list[dict]:
    """Jobs of the event log, by submission time: ``id``, ``start`` and
    ``end`` (epoch s; ``end`` None for a job that never finished),
    ``stages``, ``tasks`` and ``description``."""
    jobs: dict[int, dict] = {}
    with open(path, "r", encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
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
