# -*- coding: utf-8 -*-
"""Sequence-packing operator: greedy semantics, determinism under
repartitioning, and oversized docs."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from knowledge_graph_spark.operators.packing import pack_sequences


@pytest.fixture(scope="module")
def spark():
    from knowledge_graph_spark.session import get_spark

    s = get_spark(app="pack-tests", master="local[4]", shuffle_partitions=4)
    yield s


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_greedy_packing_semantics(spark):
    # one shard (n_shards=1); capacities force: [a(3), b(3)] | [c(5)] | [d(2)]
    rows = [(0, "x y z"), (1, "a b c"), (2, "p q r s t"), (3, "u v")]
    out = {r["doc_id"]: r for r in
           pack_sequences(_docs(spark, rows), capacity=6,
                          n_shards=1).collect()}
    assert (out[0]["seq_id"], out[0]["pos"]) == (0, 0)
    assert (out[1]["seq_id"], out[1]["pos"]) == (0, 1)
    assert (out[2]["seq_id"], out[2]["pos"]) == (1, 0)
    assert (out[3]["seq_id"], out[3]["pos"]) == (2, 0)
    assert out[2]["n_tokens"] == 5


def test_oversized_doc_gets_own_sequence(spark):
    rows = [(0, "a b c d e f g h"), (1, "x y")]  # 8 > capacity 4
    out = {r["doc_id"]: r for r in
           pack_sequences(_docs(spark, rows), capacity=4,
                          n_shards=1).collect()}
    assert (out[0]["seq_id"], out[0]["pos"]) == (0, 0)
    assert (out[1]["seq_id"], out[1]["pos"]) == (1, 0)


def test_packing_deterministic_under_repartition(spark):
    rows = [(i, "w " * (1 + i % 7)) for i in range(60)]
    docs = _docs(spark, rows)
    a = sorted(map(tuple, pack_sequences(docs, 16, n_shards=4).collect()))
    b = sorted(map(tuple,
                   pack_sequences(docs.repartition(7), 16,
                                  n_shards=4).collect()))
    assert a == b
    # shard is a pure function of id
    assert all(t[1] == t[0] % 4 for t in a)


def test_packing_projects_before_shuffle(spark):
    # document bodies must not survive past the scan: the exchange
    # carries only (doc_id, shard, n_tokens)
    rows = [(i, "some text here") for i in range(10)]
    plan = (pack_sequences(_docs(spark, rows), 16, n_shards=2)
            ._jdf.queryExecution().executedPlan().toString())
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line


def test_null_text_packs_as_zero_tokens(spark):
    rows = [(0, "a b c"), (1, None), (2, "d e")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           pack_sequences(docs, capacity=4, n_shards=1).collect()}
    assert out[1]["n_tokens"] == 0
    # zero-length doc rides along in whichever sequence is open
    assert out[1]["seq_id"] == out[0]["seq_id"]


def test_chunking_windows_and_overlap(spark):
    from knowledge_graph_spark.operators.packing import chunk_documents

    # 10 tokens, chunk=4, overlap=2 -> stride 2 -> starts 0,2,4,6 -> 4 chunks
    rows = [(0, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")]
    out = sorted(
        chunk_documents(_docs(spark, rows), chunk_tokens=4,
                        overlap_tokens=2).collect(),
        key=lambda r: r["chunk_id"])
    assert [r["chunk_text"] for r in out] == [
        "t0 t1 t2 t3", "t2 t3 t4 t5", "t4 t5 t6 t7", "t6 t7 t8 t9"]
    assert [r["n_tokens"] for r in out] == [4, 4, 4, 4]


def test_chunking_short_tail_and_short_doc(spark):
    from knowledge_graph_spark.operators.packing import chunk_documents

    # doc 0: 5 tokens, chunk=4, no overlap -> chunks [4] + tail [1]
    # doc 1: 2 tokens -> single short chunk; doc 2: NULL -> one empty chunk
    docs = spark.createDataFrame(
        [(0, "a b c d e"), (1, "x y"), (2, None)],
        "doc_id long, text string")
    out = chunk_documents(docs, chunk_tokens=4).collect()
    by = {(r["doc_id"], r["chunk_id"]): r for r in out}
    assert len(out) == 4
    assert by[(0, 1)]["chunk_text"] == "e" and by[(0, 1)]["n_tokens"] == 1
    assert by[(1, 0)]["n_tokens"] == 2
    assert by[(2, 0)]["chunk_text"] == "" and by[(2, 0)]["n_tokens"] == 0


def test_chunking_counts_agree_with_token_counts(spark):
    """Every token index is covered and coverage accounting matches the
    shared token definition: sum of per-chunk fresh tokens (n_tokens
    minus the overlap re-reads) equals the document token count."""
    from knowledge_graph_spark.operators.packing import chunk_documents
    from knowledge_graph_spark.operators.textstats import with_token_counts

    rows = [(i, " ".join(f"w{j}" for j in range(3 * i + 1)))
            for i in range(12)]
    docs = _docs(spark, rows)
    chunks = chunk_documents(docs, chunk_tokens=8, overlap_tokens=3)
    got = {r["doc_id"]: r["covered"] for r in chunks.groupBy("doc_id").agg(
        F.sum(F.when(F.col("chunk_id") == 0, F.col("n_tokens"))
              .otherwise(F.greatest(F.col("n_tokens") - 3, F.lit(0))))
        .alias("covered")).collect()}
    want = {r["doc_id"]: r["n_tokens"]
            for r in with_token_counts(docs).collect()}
    assert got == want


def test_chunking_rejects_degenerate_params(spark):
    from knowledge_graph_spark.operators.packing import chunk_documents

    docs = _docs(spark, [(0, "a b")])
    with pytest.raises(ValueError, match="stride"):
        chunk_documents(docs, chunk_tokens=4, overlap_tokens=4)
    with pytest.raises(ValueError, match="positive"):
        chunk_documents(docs, chunk_tokens=0)


def test_pack_sequences_rejects_non_integral_ids(spark):
    """A string id would cast('long') to NULL and silently collapse
    every row into one NULL shard — the operator must refuse instead."""
    docs = spark.createDataFrame(
        [("doc_1", "a b c")], "doc_id string, text string")
    with pytest.raises(ValueError, match="integral"):
        pack_sequences(docs, capacity=4)


def test_span_corruption_t5_format(spark):
    from knowledge_graph_spark.operators.packing import span_corruption

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(25))),  # spans at 3-5, 23-24
         (2, "a b c"),                               # too short for a span
         (3, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in span_corruption(docs).collect()}

    r1 = out[1]
    assert (r1["n_tokens"], r1["n_spans"]) == (25, 2)
    assert r1["input_text"].split() == (
        ["w0", "w1", "w2", "<extra_id_0>"] +
        [f"w{i}" for i in range(6, 23)] + ["<extra_id_1>"])
    assert r1["target_text"] == (
        "<extra_id_0> w3 w4 w5 <extra_id_1> w23 w24 <extra_id_2>")
    # corruption rate: 5 of 25 tokens masked = 20% (second span clipped)
    assert out[2]["n_spans"] == 0
    assert out[2]["input_text"] == "a b c"
    assert out[2]["target_text"] == "<extra_id_0>"
    assert out[3]["target_text"] == "<extra_id_0>"


def test_span_corruption_rejects_overlapping_params(spark):
    from knowledge_graph_spark.operators.packing import span_corruption

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="span_len"):
        span_corruption(docs, period=3, span_len=3)


def test_span_corruption_roundtrip_property(spark):
    """Reconstruction invariant: replacing each <extra_id_k> in the
    input with target span k recovers the original token stream, for
    arbitrary token counts (span clipping, zero-span shorts, empties).
    One Spark pass over many hypothesis-shaped docs — the randomness
    is in the INPUT SHAPES, the operator stays deterministic."""
    from knowledge_graph_spark.operators.packing import span_corruption

    rows = [(n, " ".join(f"t{n}_{i}" for i in range(n)))
            for n in range(0, 70)]          # every length 0..69
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = span_corruption(docs).collect()
    assert len(out) == 70
    for r in out:
        n = r["doc_id"]
        # parse target into span lists keyed by sentinel index
        tgt = r["target_text"].split()
        spans, cur = {}, None
        for tok in tgt:
            if tok.startswith("<extra_id_"):
                cur = int(tok[len("<extra_id_"):-1])
                spans[cur] = []
            else:
                spans[cur].append(tok)
        assert max(spans) == r["n_spans"]        # final sentinel = EOS
        assert spans[max(spans)] == []
        rebuilt = []
        for tok in r["input_text"].split():
            if tok.startswith("<extra_id_"):
                rebuilt.extend(spans[int(tok[len("<extra_id_"):-1])])
            else:
                rebuilt.append(tok)
        assert rebuilt == ([f"t{n}_{i}" for i in range(n)]), n
        # corruption accounting: masked tokens = sum of span lengths
        masked = sum(len(v) for k, v in spans.items() if k < r["n_spans"])
        assert masked + len([t for t in r["input_text"].split()
                             if not t.startswith("<extra_id_")]) == n


def test_pack_sequences_rejects_bad_n_shards(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    from knowledge_graph_spark.operators.packing import pack_sequences

    import pytest
    with pytest.raises(ValueError):
        pack_sequences(docs, capacity=8, n_shards=0)
    with pytest.raises(ValueError):
        pack_sequences(docs, capacity=8, n_shards=-2)
