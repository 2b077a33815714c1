# -*- coding: utf-8 -*-
"""Event analytics (windows, sessionization) and skew-salting helpers."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from knowledge_graph_spark.functions.skew import salted_agg
from knowledge_graph_spark.operators.events import (
    session_stats, sessionize, windowed_counts,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet").cache()


def test_windowed_counts_partition_events(spark, events):
    out = windowed_counts(events, hours=6)
    assert out.agg(F.sum("n_events")).first()[0] == events.count()
    # epoch-aligned buckets
    bad = out.filter(F.unix_timestamp("window_start") % (6 * 3600) != 0)
    assert bad.count() == 0


def test_sessionize_gap_semantics(spark):
    rows = [
        (1, "2024-01-01 10:00:00", 100),
        (2, "2024-01-01 10:10:00", 100),   # same session (10 min gap)
        (3, "2024-01-01 11:30:00", 100),   # new session (80 min gap)
        (4, "2024-01-01 09:00:00", 200),   # other user
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, user_id long") \
        .withColumn("ts", F.to_timestamp("ts")).withColumn("value", F.lit(1.0))
    out = {(r["user_id"], r["session_id"]): r["n_events"]
           for r in sessionize(df, gap_minutes=30).collect()}
    assert out == {(100, 1): 2, (100, 2): 1, (200, 1): 1}


def test_sessionize_covers_all_events(spark, events):
    s = sessionize(events, gap_minutes=30)
    assert s.agg(F.sum("n_events")).first()[0] == events.count()
    stats = session_stats(events, gap_minutes=30)
    assert stats.count() == events.select("user_id").distinct().count()


def test_salted_agg_sum_max(spark, events):
    plain = events.groupBy("event_type").agg(
        F.sum("value").alias("s"), F.max("value").alias("m"))
    salted = salted_agg(events, ["event_type"], [
        ("value", F.sum, F.sum, "s"), ("value", F.max, F.max, "m"),
    ], n_salts=8)
    p = {r["event_type"]: (round(r["s"], 6), r["m"]) for r in plain.collect()}
    s = {r["event_type"]: (round(r["s"], 6), r["m"]) for r in salted.collect()}
    assert p == s


def test_funnel_strict_order_and_stall(spark):
    """A user whose click precedes their first view stalls at step 1
    (strictly-after semantics); a user with events in order completes;
    the earliest qualifying timestamp wins at every step."""
    from datetime import datetime

    from knowledge_graph_spark.operators.events import funnel

    T = lambda s: datetime(2026, 1, 1, 0, 0, s)
    rows = [
        # user 1: view@1, click@3 (also an earlier click@0 that must
        # NOT count), purchase@5
        (1, T(0), "click"), (1, T(1), "view"), (1, T(3), "click"),
        (1, T(5), "purchase"),
        # user 2: click before the only view -> stalls at view
        (2, T(2), "view"), (2, T(1), "click"),
        # user 3: never views -> absent from the funnel
        (3, T(1), "click"), (3, T(2), "purchase"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {r["user"]: (r["t1"], r["t2"], r["t3"], r["steps_completed"])
           for r in funnel(ev, ["view", "click", "purchase"]).collect()}
    assert set(got) == {1, 2}
    assert got[1] == (T(1), T(3), T(5), 3)
    assert got[2] == (T(2), None, None, 1)


def test_retention_cohorts_matrix(spark):
    """Two daily cohorts with churn: counts, sizes, and rates per
    (cohort, k); a user's k=0 row always exists; rejoining after a
    silent period counts again (it's retention, not contiguity)."""
    from datetime import datetime

    from knowledge_graph_spark.operators.events import retention_cohorts

    D = lambda d, h=6: datetime(2024, 1, d, h)
    rows = [
        # cohort day 1: users 1, 2. user 1 active d1, d3; user 2 d1 only
        (1, D(1), "purchase"), (1, D(3), "purchase"),
        (1, D(3, 9), "purchase"),  # same day twice -> one active period
        (2, D(1), "purchase"),
        # cohort day 2: user 3, active d2 and d4
        (3, D(2), "purchase"), (3, D(4), "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string")
    out = {(r["cohort_epoch"], r["periods_later"]):
           (r["active_users"], r["cohort_size"], r["retention_rate"])
           for r in retention_cohorts(ev, period_days=1).collect()}
    day1 = int(datetime(2024, 1, 1).timestamp())
    day2 = day1 + 86400
    assert out == {
        (day1, 0): (2, 2, 0.5 * 4 / 2),  # 2/2 = 1.0
        (day1, 2): (1, 2, 0.5),
        (day2, 0): (1, 1, 1.0),
        (day2, 2): (1, 1, 1.0),
    }


def test_daily_anomalies_zscore_and_flags(spark):
    """Type A: days [10, 10, 40] — mean 20, pop-std 14.142, the spike
    day z≈1.414 (below the default threshold 2). Type B constant →
    stddev 0 → z = 0.0, never flagged. Threshold 1.0 flags A's spike
    and A's two low days (|z|≈0.707 stays below 1.0)."""
    from knowledge_graph_spark.operators.events import daily_anomalies

    rows = []
    for day, n in (("2024-01-01", 10), ("2024-01-02", 10),
                   ("2024-01-03", 40)):
        rows += [("A", f"{day} 12:00:00")] * n
    rows += [("B", "2024-01-01 01:00:00"), ("B", "2024-01-02 01:00:00")]
    ev = spark.createDataFrame(rows, ["event_type", "ts_s"]).select(
        "event_type", F.col("ts_s").cast("timestamp").alias("ts"))

    out = {(r["event_type"], str(r["day"])): r
           for r in daily_anomalies(ev).collect()}
    spike = out[("A", "2024-01-03")]
    assert spike["n_events"] == 40 and spike["mean_events"] == 20.0
    assert abs(spike["zscore"] - 1.414214) < 1e-6
    assert not spike["is_anomaly"]
    b = out[("B", "2024-01-01")]
    assert b["stddev_events"] == 0.0 and b["zscore"] == 0.0
    assert not b["is_anomaly"]

    flagged = {(r["event_type"], str(r["day"]))
               for r in daily_anomalies(ev, threshold=1.0).collect()
               if r["is_anomaly"]}
    assert flagged == {("A", "2024-01-03")}


def test_stratified_exact_k_counts_and_determinism(spark):
    """Exactly k rows per stratum; smaller strata keep everything; the
    pick set is identical across parallelism levels and salts change
    it."""
    from knowledge_graph_spark.operators.sampling import stratified_exact_k

    rows = [(f"s{i % 3}", i) for i in range(30)] + [("tiny", 99)]
    df = spark.createDataFrame(rows, ["source", "doc_id"])
    out = stratified_exact_k(df, k=4).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    assert {s: len(v) for s, v in by_src.items()} == {
        "s0": 4, "s1": 4, "s2": 4, "tiny": 1}
    again = {(r["source"], r["doc_id"])
             for r in stratified_exact_k(df.repartition(7), k=4).collect()}
    assert again == {(r["source"], r["doc_id"]) for r in out}
    salted = {(r["source"], r["doc_id"])
              for r in stratified_exact_k(df, k=4, salt="x").collect()}
    assert salted != again  # different hash order (overwhelmingly)


def test_transition_matrix_probabilities(spark):
    """User u1: a→b→a→c gives transitions (a,b),(b,a),(a,c); user u2:
    a→b adds one more (a,b). P(b|a) = 2/3, P(c|a) = 1/3; b's only
    observed successor is a, so P(a|b) = 1.0."""
    from knowledge_graph_spark.operators.events import transition_matrix

    rows = [("u1", "a", 1), ("u1", "b", 2), ("u1", "a", 3), ("u1", "c", 4),
            ("u2", "a", 1), ("u2", "b", 2)]
    ev = spark.createDataFrame(rows, ["user_id", "event_type", "t"]).select(
        "user_id", "event_type",
        F.timestamp_seconds(F.col("t")).alias("ts"))
    out = {(r["cur_type"], r["next_type"]): (r["n_transitions"], r["prob"])
           for r in transition_matrix(ev).collect()}
    assert out[("a", "b")] == (2, 0.666667)
    assert out[("a", "c")] == (1, 0.333333)
    assert out[("b", "a")] == (1, 1.0)
    assert ("c", "a") not in out  # sequences never cross users
