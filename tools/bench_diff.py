# -*- coding: utf-8 -*-
"""Compare kgbench runs of a parent commit and of a change.

Usage: python tools/bench_diff.py PARENT CHANGE [--claim WORKLOAD:METRIC ...]

PARENT and CHANGE are text files of kgbench output. A run counts where
its result line appears: the JSON object ``kgbench/run.py`` prints
last. The result line does not name its workload, so a run's workload
is the ``workload`` key of the result line if it has one, else that of
the last ``env {...}`` line before it (kgbench prints one at start, so
the saved stdout of several runs can be concatenated as it is). Other
lines are skipped. Within a workload the i-th parent run pairs with the
i-th change run: run them interleaved, alternating which side goes
first, so drift on the host hits both sides alike.

For every workload and every end-to-end metric of ``BENCHMARK.json``
it prints each side's median and quartiles, the pairs the change won,
and a verdict:

- ``gain``: the change is better on at least 9 pairs in 10, and its
  median is better than the parent's by more than the parent's
  interquartile range;
- ``WORSE``: the change's median is worse than the parent's by more
  than the metric's bound (a fraction of the parent's median);
- ``-``: neither.

It also flags a workload whose share of failed operations grew. Exit
status 1 if anything is flagged or a ``--claim``ed metric shows no gain.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GAIN_SHARE = 0.9  # the share of pairs a gain must win


def load(path: str) -> dict[str, list[dict]]:
    """Result lines of a kgbench output file, by workload, in file
    order."""
    runs: dict[str, list[dict]] = {}
    workload = None
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line.startswith("env {"):
                workload = json.loads(line[4:]).get("workload")
                continue
            if not line.startswith("{"):
                continue
            try:
                res = json.loads(line)
            except json.JSONDecodeError:
                continue
            if not isinstance(res, dict) or "metrics" not in res:
                continue
            w = res.get("workload", workload)
            if w is None:
                raise ValueError(f"{path}: a result line with no workload")
            runs.setdefault(w, []).append(res)
    return runs


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), interpolated between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def compare_metric(parent: list[float], change: list[float], better: str,
                   bound: float) -> dict:
    """The verdict on one metric from paired runs (see the module
    docstring)."""
    sign = 1.0 if better == "higher" else -1.0
    pq, cq = quartiles(parent), quartiles(change)
    pairs = list(zip(parent, change))
    won = sum(sign * (c - p) > 0 for p, c in pairs)
    gap = sign * (cq[1] - pq[1])  # > 0: the change's median is better
    gain = won >= GAIN_SHARE * len(pairs) and gap > pq[2] - pq[0]
    worse = -gap > bound * abs(pq[1])
    return {"parent": pq, "change": cq, "won": won, "pairs": len(pairs),
            "delta": (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0,
            "verdict": "WORSE" if worse else "gain" if gain else "-"}


def compare(parent: dict[str, list[dict]], change: dict[str, list[dict]],
            spec: list[dict]) -> list[dict]:
    """One row per workload and end-to-end metric, plus one
    ``failed_share`` row per workload."""
    rows = []
    for w in sorted(set(parent) | set(change)):
        ps, cs = parent.get(w, []), change.get(w, [])
        if not ps or not cs:
            rows.append({"workload": w, "metric": "runs", "verdict":
                         f"MISSING ({len(ps)} parent, {len(cs)} change runs)"})
            continue
        for m in spec:
            name = m["name"]
            row = compare_metric(
                [r["metrics"][name]["value"] for r in ps],
                [r["metrics"][name]["value"] for r in cs],
                m["better"], m["bound"])
            rows.append({"workload": w, "metric": name, **row})
        share = [sum(r["failed"] for r in rs) / max(1, sum(r["attempted"] for r in rs))
                 for rs in (ps, cs)]
        rows.append({"workload": w, "metric": "failed_share",
                     "parent": (share[0],) * 3, "change": (share[1],) * 3,
                     "verdict": "WORSE" if share[1] > share[0] else "-"})
    return rows


def render(rows: list[dict]) -> str:
    def q(t):
        return f"{t[1]:10.4g} [{t[0]:.4g}, {t[2]:.4g}]"

    lines = [f"{'workload':<16} {'metric':<14} {'parent median [q1, q3]':>30} "
             f"{'change median [q1, q3]':>30} {'delta':>8} {'won':>6}  verdict"]
    for r in rows:
        if "parent" not in r:
            lines.append(f"{r['workload']:<16} {r['metric']:<14} {r['verdict']}")
            continue
        delta = f"{100 * r['delta']:+7.1f}%" if "delta" in r else f"{'':>8}"
        won = f"{r['won']}/{r['pairs']}" if "won" in r else ""
        lines.append(f"{r['workload']:<16} {r['metric']:<14} {q(r['parent']):>30} "
                     f"{q(r['change']):>30} {delta} {won:>6}  {r['verdict']}")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--claim", action="append", default=[],
                    metavar="WORKLOAD:METRIC",
                    help="a claimed gain; exit 1 unless its verdict is gain")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)["end_to_end"]
    rows = compare(load(args.parent), load(args.change), spec)
    print(render(rows))
    bad = [r for r in rows if r["verdict"] not in ("-", "gain")]
    verdicts = {f"{r['workload']}:{r['metric']}": r["verdict"] for r in rows}
    missed = [c for c in args.claim if verdicts.get(c) != "gain"]
    for c in missed:
        print(f"claimed gain not shown: {c} ({verdicts.get(c, 'no such row')})")
    return 1 if bad or missed else 0


if __name__ == "__main__":
    sys.exit(main())
