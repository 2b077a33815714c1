# -*- coding: utf-8 -*-
"""Sketches: KMV distinct-count and Count-Min frequency.

The cross-engine contract (Spark result == DuckDB oracle replay) is
checked by the driver; these tests pin the hash primitive, the
estimator's accuracy, the two-phase smallest-k equivalence, and CMS's
one-sided error — including an exact pure-Python (hashlib) twin of the
whole CMS grid."""
from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from knowledge_graph_spark.operators.sketches import (
    HASH_SPACE, build_count_min, cms_estimate, cms_token_frequencies, h52,
    kmv_distinct, kmv_estimate, kmv_merge, kmv_sketch)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    from knowledge_graph_spark.session import get_spark

    yield get_spark(app="sketch-tests", master="local[4]",
                    shuffle_partitions=4)


def _py_h52(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:13], 16)


def _source_tokens(docs):
    """(source, token): the lower-cased alphabetic word stream."""
    tok = F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("token")
    return docs.select("source", tok).filter(F.col("token") != "")


def test_h52_matches_python_twin(spark):
    # the same value DuckDB computes for
    # CAST(concat('0x', substring(md5('hello'),1,13)) AS BIGINT)
    assert _py_h52("hello") == 1640557292799154
    vals = ["hello", "", "世界", "a" * 100, "0:tok"]
    got = (
        spark.createDataFrame([(v,) for v in vals], ["s"])
        .select("s", h52("s").alias("h")).collect()
    )
    for r in got:
        assert r["h"] == _py_h52(r["s"])


def test_kmv_small_range_is_exact(spark):
    # fewer distinct items than k -> the sketch is the exact answer
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {r["source"]: r for r in kmv_distinct(
        _source_tokens(docs), "token", ["source"], k=64).collect()}
    exact = {r["source"]: r["d"] for r in docs.select(
        "source",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("source").agg(F.countDistinct("t").alias("d")).collect()}
    assert set(got) == set(exact)
    for src, r in got.items():
        assert r["n_kept"] == exact[src]
        assert r["est_distinct"] == float(exact[src])


def test_kmv_estimator_accuracy(spark):
    # 5000 distinct items, k=256 -> relative error ~1/sqrt(k) (~6%);
    # assert a loose 3-sigma bound
    items = spark.range(5000).select(
        F.concat(F.lit("item-"), F.col("id")).alias("v"))
    row = kmv_distinct(items, "v", k=256).collect()[0]
    assert row["n_kept"] == 256
    assert abs(row["est_distinct"] - 5000) / 5000 < 0.20
    # the estimate really came from the estimator, not the exact path
    assert row["est_distinct"] == round(
        255.0 * HASH_SPACE / float(row["kth_min"]), 4)


def test_kmv_salting_invariant(spark):
    # the salted two-phase smallest-k must equal the one-bucket plan
    items = spark.range(2000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.concat(F.lit("x"), F.col("id")).alias("v"))
    a = sorted(map(tuple, kmv_distinct(
        items, "v", ["g"], k=128, salt_buckets=64).collect()))
    b = sorted(map(tuple, kmv_distinct(
        items, "v", ["g"], k=128, salt_buckets=1).collect()))
    assert a == b


def test_kmv_merge_equals_union_sketch(spark):
    # sketch per part + merge == sketch of the union (overlapping
    # parts on purpose — merge must dedup, not just concatenate)
    a = spark.range(0, 1500).select(
        F.concat(F.lit("u"), F.col("id")).alias("v"))
    b = spark.range(1000, 3000).select(
        F.concat(F.lit("u"), F.col("id")).alias("v"))
    merged = kmv_estimate(kmv_merge(
        [kmv_sketch(a, "v", k=128), kmv_sketch(b, "v", k=128)],
        k=128), k=128)
    direct = kmv_distinct(a.unionByName(b), "v", k=128)
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, direct.collect()))


def _py_cms(stream, depth, width):
    grid = {}
    for t in stream:
        for i in range(depth):
            key = (i, _py_h52(f"{i}:{t}") % width)
            grid[key] = grid.get(key, 0) + 1
    return grid


def test_cms_matches_python_twin(spark):
    stream = (["apple"] * 7 + ["pear"] * 3 + ["plum"] * 11
              + [f"w{i}" for i in range(40)])
    depth, width = 4, 32  # narrow grid so collisions actually happen
    grid = _py_cms(stream, depth, width)
    items = spark.createDataFrame([(t,) for t in stream], ["token"])
    sketch = {(r["row"], r["col"]): r["cnt"] for r in
              build_count_min(items, "token", depth, width).collect()}
    assert sketch == grid
    probes = spark.createDataFrame(
        [("apple",), ("pear",), ("plum",), ("absent",)], ["token"])
    est = {r["token"]: r["est_count"] for r in cms_estimate(
        spark.createDataFrame(
            [(k[0], k[1], v) for k, v in grid.items()],
            ["row", "col", "cnt"]),
        probes, "token", depth, width).collect()}
    expect = {t: min(grid.get((i, _py_h52(f"{i}:{t}") % width), 0)
                     for i in range(depth))
              for t in ["apple", "pear", "plum", "absent"]}
    assert est == expect
    # one-sided error: never under the true count
    truth = {"apple": 7, "pear": 3, "plum": 11, "absent": 0}
    for t, e in est.items():
        assert e >= truth[t]


def test_cms_token_frequencies_one_sided(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    probe = docs.filter(F.col("doc_id") < 2)
    rows = cms_token_frequencies(docs, probe, depth=4, width=256).collect()
    assert rows
    for r in rows:
        assert r["est_count"] >= r["exact_count"] > 0


def test_sketch_plans_stay_jvm_side(spark):
    # no Python evaluation anywhere in either sketch's plan
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for df in (
        kmv_distinct(_source_tokens(docs), "token", ["source"], k=64),
        cms_token_frequencies(docs, docs.filter(F.col("doc_id") < 2)),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

from knowledge_graph_spark.operators.sketches import (  # noqa: E402
    HASH_BITS, build_bloom, hll_distinct, hll_estimate, hll_merge,
    hll_sketch, probe_bloom)


def _py_hll_registers(items, p):
    m = 1 << p
    regs = {}
    for it in items:
        h = _py_h52(it)
        reg = h % m
        w = h >> p
        rank = (HASH_BITS - p + 1) - w.bit_length()
        regs[reg] = max(regs.get(reg, 0), rank)
    return regs


def test_hll_registers_match_python_twin(spark):
    items = [f"item-{i}" for i in range(500)]
    expect = _py_hll_registers(items, p=6)
    got = {r["register"]: r["rank"] for r in hll_sketch(
        spark.createDataFrame([(v,) for v in items], ["v"]), "v", p=6
    ).collect()}
    assert got == expect


def test_hll_estimator_accuracy(spark):
    # 5000 distinct at p=8 (m=256): std error 1.04/sqrt(256) ~ 6.5%;
    # assert a loose 3-sigma bound and that the harmonic path ran
    items = spark.range(5000).select(
        F.concat(F.lit("item-"), F.col("id")).alias("v"))
    row = hll_distinct(items, "v", p=8).collect()[0]
    assert row["n_registers"] == 256
    assert abs(row["est_distinct"] - 5000) / 5000 < 0.20


def test_hll_small_range_linear_counting(spark):
    # 30 distinct at p=8: raw estimate falls under 2.5m with empty
    # registers -> linear counting, which is near-exact down here
    items = spark.range(30).select(
        F.concat(F.lit("s"), F.col("id")).alias("v"))
    row = hll_distinct(items, "v", p=8).collect()[0]
    assert row["n_registers"] <= 30
    assert abs(row["est_distinct"] - 30) <= 3


def test_hll_merge_equals_union_sketch(spark):
    # overlapping halves on purpose: register-max must absorb overlap
    a = spark.range(0, 1500).select(
        F.concat(F.lit("u"), F.col("id")).alias("v"))
    b = spark.range(1000, 3000).select(
        F.concat(F.lit("u"), F.col("id")).alias("v"))
    merged = hll_estimate(hll_merge(
        [hll_sketch(a, "v", p=7), hll_sketch(b, "v", p=7)]), p=7)
    direct = hll_distinct(a.unionByName(b), "v", p=7)
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, direct.collect()))


def test_hll_duplicates_do_not_move_estimate(spark):
    # cardinality sketch: feeding each item 20x must not change it
    base = spark.range(800).select(
        F.concat(F.lit("d"), F.col("id")).alias("v"))
    dup = base.crossJoin(spark.range(20)).select("v")
    assert sorted(map(tuple, hll_distinct(base, "v", p=6).collect())) == \
        sorted(map(tuple, hll_distinct(dup, "v", p=6).collect()))


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------


def _py_bloom_positions(item, m_bits, k):
    return [_py_h52(f"{i}:{item}") % m_bits for i in range(k)]


def test_bloom_matches_python_twin(spark):
    items = [f"key-{i}" for i in range(200)]
    m_bits, k = 1024, 3
    words = {}
    for it in items:
        for pos in _py_bloom_positions(it, m_bits, k):
            words[pos >> 5] = words.get(pos >> 5, 0) | (1 << (pos % 32))
    got = {r["word"]: r["bits"] for r in build_bloom(
        spark.createDataFrame([(v,) for v in items], ["key"]),
        "key", m_bits, k).collect()}
    assert got == words


def test_bloom_no_false_negatives(spark):
    # the Bloom contract: every inserted item MUST test positive,
    # whatever the load factor
    items = spark.range(3000).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"))
    bloom = build_bloom(items, "key", m_bits=2048, k=4)  # overloaded
    res = probe_bloom(bloom, items, "key", m_bits=2048, k=4)
    assert res.filter(~F.col("bloom_member")).count() == 0


def test_bloom_false_positive_rate_in_range(spark):
    # n=1000 into m=8192, k=4: theoretical FP ~ (1-e^(-kn/m))^4 ~ 2.4%;
    # measure on 2000 absent probes and assert a generous band
    present = spark.range(1000).select(
        F.concat(F.lit("in-"), F.col("id")).alias("key"))
    absent = spark.range(2000).select(
        F.concat(F.lit("out-"), F.col("id")).alias("key"))
    bloom = build_bloom(present, "key", m_bits=8192, k=4)
    fp = probe_bloom(bloom, absent, "key", m_bits=8192, k=4) \
        .filter("bloom_member").count()
    assert 0 < fp < 200  # ~48 expected; 0 would mean a broken probe


def test_bloom_probe_is_broadcast(spark):
    items = spark.range(500).select(F.col("id").cast("string").alias("key"))
    plan = probe_bloom(build_bloom(items, "key"), items, "key") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# fuzzy matching
# ---------------------------------------------------------------------------


def _py_lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_name_matches_python_twin(spark):
    from knowledge_graph_spark.operators.linking import fuzzy_name_matches

    names = ["small bolt", "blue bolt", "smal bolt", "red gear",
             "red gear", "bed gear", "lone widget", None]
    df = spark.createDataFrame([(n,) for n in names], ["name"])
    got = {(r["name_a"], r["name_b"]): r["edit_dist"]
           for r in fuzzy_name_matches(df, "name", max_dist=4).collect()}
    # twin: distinct names, block on last token, pairwise lev <= 4
    vocab = sorted({n for n in names if n})
    expect = {}
    for i, a in enumerate(vocab):
        for b in vocab[i + 1:]:
            if a.split(" ")[-1] == b.split(" ")[-1] and _py_lev(a, b) <= 4:
                expect[(a, b)] = _py_lev(a, b)
    assert got == expect
    assert ("bed gear", "red gear") in got          # dist 1 kept
    assert ("blue bolt", "small bolt") not in got   # dist 5 cut
    assert all(a < b for a, b in got)               # canonical order


def test_fuzzy_block_guard_drops_megablocks(spark):
    from knowledge_graph_spark.operators.linking import fuzzy_name_matches

    df = spark.range(50).select(
        F.concat(F.lit("v"), F.col("id"), F.lit(" hub")).alias("name"))
    assert fuzzy_name_matches(df, "name", max_dist=50,
                              max_block=10).count() == 0


def test_dd_sketch_quantile_relative_error_guarantee(spark):
    """DDSketch Theorem 1: the bucket-midpoint estimate is within
    relative error alpha of the true q-quantile VALUE (rank convention
    ceil(q*total)). Checked against exact quantiles of a skewed
    integer distribution at alpha=0.01 and the coarser 0.05."""
    import math

    from knowledge_graph_spark.operators.sketches import (
        build_dd_sketch, dd_quantile,
    )

    vals = [1 + (i * i) % 9973 for i in range(4000)]  # skewed ints
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    svals = sorted(vals)
    for alpha in (0.01, 0.05):
        sk = build_dd_sketch(df, "x", alpha=alpha)
        out = dd_quantile(sk, [0.5, 0.9, 0.99], alpha=alpha).collect()
        assert len(out) == 3
        for r in out:
            rank = max(1, math.ceil(r["q"] * len(svals)))
            truth = svals[rank - 1]
            assert abs(r["estimate"] - truth) <= alpha * truth * 1.0001, \
                (alpha, r["q"], r["estimate"], truth)


def test_dd_sketch_rejects_bad_alpha_and_nonpositive(spark):
    from knowledge_graph_spark.operators.sketches import (
        build_dd_sketch, dd_quantile,
    )

    df = spark.createDataFrame([(5,), (0,), (-3,), (None,)], "x int")
    with pytest.raises(ValueError):
        build_dd_sketch(df, "x", alpha=1.5)
    sk = build_dd_sketch(df, "x")
    # only the positive row sketches; its p50 bucket contains 5
    rows = dd_quantile(sk, [0.5]).collect()
    assert len(rows) == 1
    assert abs(rows[0]["estimate"] - 5) <= 0.01 * 5 * 1.0001


def test_kmv_overlap_estimates_accuracy_and_exact_small_range(spark):
    """Two streams with known overlap: in the small range (< k) the
    combined sketch IS the exact union, so n_kept/n_both/estimates are
    exact; at large range the Jaccard/intersection estimates land
    within the ~1/sqrt(k) error band."""
    from knowledge_graph_spark.operators.sketches import (
        kmv_overlap, kmv_sketch,
    )

    # exact regime: |A|=120, |B|=100, |A∩B|=60 (< k=256 everywhere)
    a_items = [str(i) for i in range(120)]
    b_items = [str(i) for i in range(60, 160)]
    a = kmv_sketch(spark.createDataFrame([(x,) for x in a_items], "v string"), "v")
    b = kmv_sketch(spark.createDataFrame([(x,) for x in b_items], "v string"), "v")
    r = kmv_overlap(a, b).first()
    assert r["n_kept"] == 160 and r["n_both"] == 60
    assert r["est_union"] == 160.0
    assert abs(r["est_intersection"] - 60.0) < 1e-9
    # estimation regime: |A|=|B|=4000, overlap 2000 -> union 6000,
    # jaccard 1/3; k=256 gives ~6% per-factor error
    a2_items = [f"a{i}" for i in range(2000)] + [f"s{i}" for i in range(2000)]
    b2_items = [f"b{i}" for i in range(2000)] + [f"s{i}" for i in range(2000)]
    a2 = kmv_sketch(spark.createDataFrame([(x,) for x in a2_items], "v string"), "v")
    b2 = kmv_sketch(spark.createDataFrame([(x,) for x in b2_items], "v string"), "v")
    r2 = kmv_overlap(a2, b2).first()
    assert r2["n_kept"] == 256
    assert abs(r2["est_union"] - 6000) / 6000 < 0.2
    assert abs(r2["jaccard"] - 1 / 3) < 0.12
    assert abs(r2["est_intersection"] - 2000) / 2000 < 0.35


def test_kmv_pairwise_overlap_matrix(spark):
    from knowledge_graph_spark.operators.sketches import (
        kmv_pairwise_overlap, kmv_sketch)

    # three groups: A and B share half their items, C is disjoint
    rows = ([("A", f"shared-{i}") for i in range(200)]
            + [("A", f"a-{i}") for i in range(200)]
            + [("B", f"shared-{i}") for i in range(200)]
            + [("B", f"b-{i}") for i in range(200)]
            + [("C", f"c-{i}") for i in range(200)])
    items = spark.createDataFrame(rows, "grp string, item string")
    sk = kmv_sketch(items, "item", group_cols=["grp"], k=64)
    out = {(r["group_a"], r["group_b"]): r
           for r in kmv_pairwise_overlap(sk, "grp", k=64).collect()}
    assert set(out) == {("A", "B"), ("A", "C"), ("B", "C")}
    ab = out[("A", "B")]
    assert ab["n_kept"] == 64
    # true Jaccard = 200/600 = 1/3; KMV at k=64 has ~1/8 rel error
    assert 0.15 <= ab["n_both"] / ab["n_kept"] <= 0.55
    assert out[("A", "C")]["n_both"] == 0      # disjoint estimates 0
    assert out[("B", "C")]["n_both"] == 0
