# -*- coding: utf-8 -*-
"""tools/bench_diff.py: paired verdicts on synthetic kgbench result
lines."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

import bench_diff as D  # noqa: E402

SPEC = [{"name": "op_s", "better": "lower", "bound": 0.25},
        {"name": "pages_per_s", "better": "higher", "bound": 0.25}]


def _result(op_s, failed=0, workload=None):
    """A result line whose metrics all follow op_s."""
    values = {"op_s": op_s, "pages_per_s": 2000 / op_s,
              "triples_per_s": 8000 / op_s, "peak_rss_mb": 2300.0,
              "setup_s": 25.0}
    res = {"correct": failed == 0, "attempted": 4, "failed": failed,
           "metrics": {k: {"value": v, "unit": "-"} for k, v in values.items()}}
    if workload:
        res["workload"] = workload
    return json.dumps(res)


def _write(path, workload, op_s, failed=()):
    """kgbench stdout, run after run: the env line names the workload,
    progress lines and the human table are skipped."""
    lines = []
    for i, v in enumerate(op_s):
        lines += ["env " + json.dumps({"workload": workload, "seed": i}),
                  "     1.000 s  engine started",
                  "end-to-end metrics, ...",
                  _result(v, failed=i in failed)]
    path.write_text("\n".join(lines) + "\n")
    return str(path)


def _rows(tmp_path, parent, change, failed=()):
    p = D.load(_write(tmp_path / "p.txt", "bulk_build", parent))
    c = D.load(_write(tmp_path / "c.txt", "bulk_build", change, failed))
    return {r["metric"]: r for r in D.compare(p, c, SPEC)}


def test_clear_gain_wins_pairs_and_beats_iqr(tmp_path):
    parent = [6.0, 6.2, 5.9, 6.1, 6.3, 6.0, 5.8, 6.1, 6.2, 6.0]
    change = [v - 1.5 for v in parent]
    rows = _rows(tmp_path, parent, change)
    assert rows["op_s"]["verdict"] == "gain"
    assert rows["op_s"]["won"] == 10 and rows["op_s"]["pairs"] == 10
    assert abs(rows["op_s"]["parent"][1] - 6.05) < 1e-12
    # a throughput metric is better when higher: the same runs gain
    assert rows["pages_per_s"]["verdict"] == "gain"
    assert rows["failed_share"]["verdict"] == "-"


def test_noise_is_no_gain_and_eight_pairs_of_ten_are_too_few(tmp_path):
    parent = [6.0, 6.4, 5.6, 6.2, 5.8, 6.1, 5.9, 6.3, 5.7, 6.0]
    # better median, but by less than the parent's IQR
    rows = _rows(tmp_path, parent, [v - 0.1 for v in parent])
    assert rows["op_s"]["verdict"] == "-" and rows["op_s"]["won"] == 10
    # a large median gain that wins only 8 pairs of 10
    change = [v - 2.0 for v in parent[:8]] + [v + 0.5 for v in parent[8:]]
    rows = _rows(tmp_path, parent, change)
    assert rows["op_s"]["won"] == 8 and rows["op_s"]["verdict"] == "-"


def test_regression_beyond_bound_and_failures_are_flagged(tmp_path):
    parent = [4.0, 4.1, 3.9, 4.0]
    rows = _rows(tmp_path, parent, [v * 1.4 for v in parent], failed={2})
    assert rows["op_s"]["verdict"] == "WORSE"
    assert rows["pages_per_s"]["verdict"] == "WORSE"
    assert rows["failed_share"]["verdict"] == "WORSE"
    # within the bound: not flagged
    rows = _rows(tmp_path, parent, [v * 1.2 for v in parent])
    assert rows["op_s"]["verdict"] == "-"


def test_main_exit_status_and_claims(tmp_path, capsys):
    """main reads the repository's BENCHMARK.json for the metrics."""
    parent = [6.0, 6.2, 5.9, 6.1, 6.3, 6.0, 5.8, 6.1, 6.2, 6.0]
    p = _write(tmp_path / "p.txt", "bulk_build", parent)
    c = _write(tmp_path / "c.txt", "bulk_build", [v - 1.5 for v in parent])
    assert D.main([p, c, "--claim", "bulk_build:op_s"]) == 0
    assert "bulk_build" in capsys.readouterr().out
    # a claim on a metric that did not move fails
    same = _write(tmp_path / "s.txt", "bulk_build", parent)
    assert D.main([p, same, "--claim", "bulk_build:op_s"]) == 1
    # a workload the change never ran is flagged
    (tmp_path / "c2.txt").write_text(_result(4.0, workload="recrawl_update") + "\n")
    assert D.main([p, str(tmp_path / "c2.txt")]) == 1
    assert "MISSING" in capsys.readouterr().out
