# -*- coding: utf-8 -*-
"""tools/eventlog_report.py: per-job rows and idle time from a Spark
JSON-lines event log."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

import eventlog_report as R  # noqa: E402


def _job(jid, start_ms, end_ms, tasks, desc=None):
    props = {"spark.job.description": desc} if desc else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid,
         "Submission Time": start_ms,
         "Stage Infos": [{"Stage ID": jid * 10 + i, "Number of Tasks": t}
                         for i, t in enumerate(tasks)],
         "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid,
         "Completion Time": end_ms},
    ]


def test_eventlog_report_jobs_and_idle(tmp_path):
    events = [{"Event": "SparkListenerApplicationStart"}]
    # job 1 overlaps job 0; a 1.5 s gap precedes job 2; job 3 never ends
    events += _job(0, 1_000, 3_000, [4], "g1/nodes")
    events += _job(1, 2_000, 4_000, [4, 16], "g1/triples")
    events += _job(2, 5_500, 6_000, [1])
    events += _job(3, 6_500, 0, [1])[:1]
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")

    jobs = R.read_jobs(str(log))
    assert [j["id"] for j in jobs] == [0, 1, 2, 3]
    assert [j["tasks"] for j in jobs] == [4, 20, 1, 1]
    assert [j["stages"] for j in jobs] == [1, 2, 1, 1]
    assert [j["description"] for j in jobs] == ["g1/nodes", "g1/triples", "", ""]
    assert jobs[3]["end"] is None
    assert abs(R.idle_seconds(jobs) - 1.5) < 1e-9

    out = R.report(jobs)
    assert "g1/triples" in out
    assert out.splitlines()[-1] == \
        "4 jobs over 5.000 s; idle between jobs 1.500 s"


def test_eventlog_report_reads_rolling_log_directory(tmp_path):
    """Spark 4.1's default event log is a directory of numbered parts
    beside an appstatus marker. The parts are read in numeric order
    (part 10 after part 2), so a job that starts in one part and ends
    in a later one still gets its end."""
    app = "local-1700000000000"
    d = tmp_path / f"eventlog_v2_{app}"
    d.mkdir()
    parts = {
        1: [{"Event": "SparkListenerApplicationStart"}]
        + _job(0, 1_000, 2_000, [2], "g1/nodes"),
        2: _job(1, 2_500, 4_000, [1], "g1/same_as")[:1],
        10: _job(1, 2_500, 4_000, [1], "g1/same_as")[1:]
        + _job(2, 4_500, 5_000, [4]),
    }
    for n, events in parts.items():
        (d / f"events_{n}_{app}").write_text(
            "\n".join(json.dumps(e) for e in events) + "\n")
    (d / f"appstatus_{app}").write_text("")

    assert [os.path.basename(p) for p in R.event_files(str(d))] == \
        [f"events_{n}_{app}" for n in (1, 2, 10)]
    jobs = R.read_jobs(str(d))
    assert [j["id"] for j in jobs] == [0, 1, 2]
    assert jobs[1]["end"] == 4.0 and jobs[1]["description"] == "g1/same_as"
    assert R.report(jobs).splitlines()[-1] == \
        "3 jobs over 4.000 s; idle between jobs 1.000 s"
    assert R.main(["eventlog_report.py", str(d)]) == 0
