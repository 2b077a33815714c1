# -*- coding: utf-8 -*-
"""Physical-plan audit helpers.

The engine's scale claims (pushdown, pruning, broadcast, codegen,
Arrow-only Python) must be visible in the plan Catalyst actually
produces — these helpers make the checks one-liners for tests
(tests/test_plans.py) and for interactive tuning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_string(df: DataFrame, mode: str = "formatted") -> str:
    """The plan string without printing to stdout."""
    jmode = df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def audit(df: DataFrame, execute: bool = False) -> dict:
    """Summarize scale-relevant plan features.

    ``execute=True`` runs the query first so AQE finalizes its stages —
    whole-stage-codegen markers only exist on the FINAL plan; the
    pre-execution view of an adaptive plan never shows them."""
    if execute:
        # collect() (not count()) — count builds a NEW query execution;
        # only an action through THIS Dataset finalizes its own AQE plan
        df.collect()
    p = explain_string(df)
    # codegen markers ('*(n)') only show on the executed-plan string;
    # the formatted view of an un-finalized AQE plan hides them
    simple = df._jdf.queryExecution().executedPlan().toString()
    return {
        "pushed_filters": "PushedFilters: [" in p and "PushedFilters: []" not in p,
        "broadcast_joins": p.count("BroadcastHashJoin"),
        "sortmerge_joins": p.count("SortMergeJoin"),
        "shuffles": p.count("Exchange"),
        "codegen": "*(" in simple or "\n* " in p or "+- * " in p,
        "row_python": "BatchEvalPython" in p,
        "arrow_python": ("ArrowEvalPython" in p) or ("MapInPandas" in p)
        or ("FlatMapGroupsInPandas" in p),
    }
