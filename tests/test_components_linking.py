# -*- coding: utf-8 -*-
"""Connected components + entity linking unit tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from knowledge_graph_spark.operators.components import (
    canonical_mapping, connected_components,
)
from knowledge_graph_spark.operators.linking import (
    candidate_pairs, same_as_edges, same_as_frame, same_as_local,
    scored_pairs,
)


def test_connected_components_chain_and_islands(spark):
    # components: {1,2,3,4}, {10,11}, {20 self-loop ignored}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)], "u long, v long"
    )
    out = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert out[1] == out[2] == out[3] == out[4] == 1
    assert out[10] == out[11] == 10


def test_connected_components_star_skew(spark):
    """A hub node connected to 200 leaves (the skew case the star
    algorithm must handle without quadratic blowup)."""
    hub = spark.createDataFrame(
        [(1000, i) for i in range(1, 201)], "u long, v long"
    )
    out = connected_components(hub)
    comps = out.select("component").distinct().collect()
    assert len(comps) == 1 and comps[0]["component"] == 1


def test_connected_components_distributed_path_matches_driver(spark):
    """Force the star-round path (driver_threshold=0) and check it
    yields the identical labeling as the union-find path."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (5, 3), (100, 2)], "u long, v long"
    )
    drv = {r["node"]: r["component"]
           for r in connected_components(edges).collect()}
    dist = {r["node"]: r["component"]
            for r in connected_components(edges, driver_threshold=0).collect()}
    assert drv == dist


def test_candidate_pairs_recall_on_near_names(spark):
    names = spark.createDataFrame(
        [("华星科技公司",), ("华星科技",), ("完全不同名称",)], "name string"
    )
    pairs = candidate_pairs(names).collect()
    assert any({p["name_a"], p["name_b"]} == {"华星科技公司", "华星科技"} for p in pairs)


def test_scored_pairs_orders_similarity(spark):
    names = spark.createDataFrame(
        [("华星科技公司",), ("华星科技集团",), ("蓝海生物银行",)], "name string"
    )
    scores = {
        frozenset((r["name_a"], r["name_b"])): r["score"]
        for r in scored_pairs(names).collect()
    }
    # IDF down-weights the shared stem in a tiny corpus, so the absolute
    # score is modest — what matters is the ORDER: same-stem pair beats
    # any cross-stem pair
    close = scores.get(frozenset(("华星科技公司", "华星科技集团")))
    assert close is not None and close > 0.3
    for k, v in scores.items():
        if "蓝海生物银行" in k:
            assert v < close


def test_same_as_prefix_abbreviation_rule(spark):
    names = spark.createDataFrame(
        [("华星科技公司",), ("华星科技",), ("青云数据中心",)], "name string"
    )
    links = same_as_edges(names).collect()
    assert any({l["name_a"], l["name_b"]} == {"华星科技公司", "华星科技"} for l in links)
    # unrelated names never link
    assert not any("青云数据中心" in (l["name_a"], l["name_b"]) for l in links)


def _linking_names(spark):
    """generate_spark node names plus the edge cases of the linking
    contract: a NULL name, "", 1-char names, a 2-char name that
    prefixes a 3-char one (a candidate pair below the prefix rule's
    3-char floor and the cosine threshold), and 70 alternating
    abab…/baba… names (lengths 3-37) that share the bigram set
    {ab, ba}, so all eight band keys collide in one 70-name bucket."""
    from knowledge_graph_spark.operators.extraction import (
        entities_table, extract,
    )
    from knowledge_graph_spark.sources.pages import generate_spark

    gen = [r["name"] for r in entities_table(extract(
        generate_spark(spark, 400, seed=101, partitions=4)))
        .select("name").distinct().collect()]
    alternating = ["".join("ab"[(i + s) % 2] for i in range(n))
                   for n in range(3, 38) for s in (0, 1)]
    rows = gen + [None, "", "华", "星", "a", "b", "xy", "xyz"] + alternating
    return spark.createDataFrame([(n,) for n in rows], "name string"), \
        set(alternating)


def test_same_as_local_matches_spark_path(spark, monkeypatch):
    """The driver path (one collect, scored in Python) and the Spark
    path give identical pair sets with scores within 1e-12. Both drop
    the oversized alternating bucket at max_bucket=64 and both keep it
    at 128; above _DRIVER_NAMES the driver path declines (None). The
    driver path's frame has the Spark path's schema, and its guard
    counts what it dropped: the alternating names share one bucket per
    band, so on top of the generated names' own hub buckets, 8 buckets
    and 70 names go at 64 and none at 128."""
    from knowledge_graph_spark.operators import linking

    names, alternating = _linking_names(spark)
    features = linking.collect_features(linking.name_features(names))
    generated = [r for r in features if r["name"] not in alternating]
    for max_bucket in (64, 128):
        spark_pairs = {(r["name_a"], r["name_b"]): r["score"] for r in
                       same_as_edges(names, max_bucket=max_bucket).collect()}
        local = same_as_local(names, max_bucket=max_bucket)
        pairs, guard = linking.score_features(features, max_bucket=max_bucket)
        assert pairs == local
        gen_guard = linking.score_features(generated, max_bucket=max_bucket)[1]
        extra = (linking.BANDS, len(alternating)) if max_bucket == 64 else (0, 0)
        assert (guard["lsh_buckets_dropped"] - gen_guard["lsh_buckets_dropped"],
                guard["lsh_names_dropped"] - gen_guard["lsh_names_dropped"]
                ) == extra, (max_bucket, guard, gen_guard)
        assert local == sorted(local)
        local_pairs = {(a, b): s for a, b, s in local}
        assert local_pairs.keys() == spark_pairs.keys(), max_bucket
        assert max(abs(local_pairs[k] - spark_pairs[k])
                   for k in spark_pairs) <= 1e-12
        in_alternating = {k for k in local_pairs
                          if k[0] in alternating and k[1] in alternating}
        assert bool(in_alternating) == (max_bucket == 128)
    assert len(local_pairs) > 100
    assert not any(None in k or "" in k for k in local_pairs)
    assert ("xy", "xyz") not in local_pairs
    assert same_as_frame(spark, local).schema == same_as_edges(names).schema
    assert same_as_frame(spark, []).schema == same_as_edges(names).schema

    monkeypatch.setattr(linking, "_DRIVER_NAMES", 10)
    assert same_as_local(names) is None


def test_scored_pairs_do_not_depend_on_partitioning(spark):
    """The Spark path adds each dot product's and each norm's terms in
    sorted order, so one vocabulary scores to the same bits however
    its frame is partitioned. (A plain sum adds them in the order the
    rows reach the aggregate, and moved scores by up to 3.3e-16.)"""
    names, _ = _linking_names(spark)

    def scores(df):
        return {(r["name_a"], r["name_b"]): r["score"]
                for r in scored_pairs(df).collect()}

    one = scores(names.coalesce(1))
    many = scores(names.repartition(7))
    assert len(one) > 100 and one.keys() == many.keys()
    assert [k for k in one if one[k] != many[k]] == []


def test_candidate_pairs_row_local_band_keys_match_minhash_aggregate(spark):
    """candidate_pairs computes each name's minhashes row-locally
    (_band_keys); that gives the same pairs as the min-hash aggregate
    over exploded shingles that it replaced."""
    from knowledge_graph_spark.operators.dedup import _bucket_pairs
    from knowledge_graph_spark.operators.linking import (
        BANDS, N_HASHES, _shingles,
    )

    names, _ = _linking_names(spark)
    distinct = names.select("name").distinct()
    sig = distinct.select(
        "name", F.explode(_shingles("name")).alias("shingle")
    ).groupBy("name").agg(*[
        F.min(F.xxhash64("shingle", F.lit(k))).alias(f"mh{k}")
        for k in range(N_HASHES)])
    banded = sig.select("name", F.explode(F.array(*[
        F.xxhash64(F.lit(b), F.col(f"mh{2 * b}"), F.col(f"mh{2 * b + 1}"))
        for b in range(BANDS)])).alias("band_key"))
    want = {tuple(r) for r in _bucket_pairs(
        banded, ["band_key"], 64, F.col("name")).collect()}
    got = {tuple(r) for r in candidate_pairs(names).collect()}
    assert got == want and len(got) > 100
    assert ("xy", "xyz") in got


def test_canonical_mapping_shortest_representative(spark):
    same = spark.createDataFrame(
        [("华星科技公司", "华星科技"), ("华星科技公司", "华星科技有限公司")],
        "name_a string, name_b string",
    )
    m = {r["name"]: r["canonical_name"] for r in canonical_mapping(same).collect()}
    assert set(m.values()) == {"华星科技"}
    assert len(m) == 3


def test_canonical_mapping_driver_path_matches_distributed(spark, monkeypatch):
    """The one-collect driver path and the hashed distributed path pick
    the same representative — min (code-point length, name) — on a
    chain, a 50-leaf hub, and equal-length ties (one across the BMP
    boundary, where UTF-16 order would disagree with Spark's UTF-8
    order). The driver mapping is a single slice built in the JVM from
    Arrow batches, empty input included: no Python worker evaluates
    it."""
    from knowledge_graph_spark.operators import components

    chain = [("蓝海集团有限公司", "蓝海集团公司"), ("蓝海集团公司", "蓝海集团"),
             ("蓝海集团", "蓝海")]
    hub = [("星河科技", f"星河科技分部{i:02d}") for i in range(50)]
    tie = [("华东银行", "华西银行"), ("华西银行", "华东银行股份"),
           ("a\ufffd", "a\U00020000"), ("solo", "solo")]
    same = spark.createDataFrame(chain + hub + tie,
                                 "name_a string, name_b string")

    drv_df = canonical_mapping(same)
    assert drv_df.rdd.getNumPartitions() == 1
    assert "PythonRDD" not in drv_df._jdf.rdd().toDebugString()
    empty = canonical_mapping(
        spark.createDataFrame([], "name_a string, name_b string"))
    assert empty.schema.simpleString() == \
        "struct<name:string,canonical_name:string>"
    assert empty.count() == 0 and empty.rdd.getNumPartitions() == 1
    assert "PythonRDD" not in empty._jdf.rdd().toDebugString()
    drv = {r["name"]: r["canonical_name"] for r in drv_df.collect()}
    monkeypatch.setattr(components, "_DRIVER_EDGES", 0)
    dist = {r["name"]: r["canonical_name"]
            for r in canonical_mapping(same).collect()}
    assert drv == dist
    assert drv["蓝海集团有限公司"] == "蓝海"
    assert {drv[f"星河科技分部{i:02d}"] for i in range(50)} == {"星河科技"}
    assert drv["华东银行股份"] == min("华东银行", "华西银行")
    assert drv["a\U00020000"] == "a\ufffd"
    assert drv["solo"] == "solo" and len(drv) == 4 + 51 + 6


def test_pagerank_star_and_dangling(spark):
    """Star graph: center receives all mass; ranks sum to 1 even with
    dangling nodes (the center has no out-edges)."""
    from knowledge_graph_spark.operators.graph_analytics import pagerank

    edges = spark.createDataFrame(
        [(f"leaf{i}", "center") for i in range(5)], ["src", "dst"])
    out = {r["id"]: r["rank"] for r in pagerank(edges, iterations=8).collect()}
    assert max(out, key=out.get) == "center"
    assert abs(sum(out.values()) - 1.0) < 1e-9
    leaves = [v for k, v in out.items() if k != "center"]
    assert max(leaves) - min(leaves) < 1e-12  # symmetry


def test_host_pagerank_positions_and_rounding_margin(spark):
    """The host_pagerank driver query orders hosts by 6-dp-ROUNDED
    rank — cross-engine safe only if no score sits near a 0.5e-6
    rounding boundary (the textrank convention; see memory of the
    round-3 float-hash failures). Pin: positions are a permutation,
    deterministic across runs, and every score clears the boundary by
    >= 1e-3 ulp-of-rounding (cross-engine float drift is ~1e-9)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "spark_entry_for_hpr",
        os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    sf_dir = "/root/testdata/sf0.001"
    out = mod.queries()["host_pagerank"](spark, sf_dir).collect()
    n = len(out)
    assert n > 0
    assert sorted(r["pos"] for r in out) == list(range(1, n + 1))
    # determinism across independent plan executions
    out2 = mod.queries()["host_pagerank"](spark, sf_dir).collect()
    assert [(r["host"], r["pos"]) for r in out] == \
        [(r["host"], r["pos"]) for r in out2]

    # rounding-margin audit on the raw scores the query rounds away
    from pyspark.sql import functions as F

    from knowledge_graph_spark.operators.graph_analytics import pagerank

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id")

    def _host(prefix, expr, domain):
        return F.concat(F.lit(prefix), expr.cast("string"), F.lit(domain))

    a, b, c = (F.col("doc_id") % 89), (F.col("doc_id") % 97), \
        (F.col("doc_id") % 83)
    edges = (
        docs.select(_host("src-", a, ".example.com").alias("src"),
                    _host("cite-", b, ".example.org").alias("dst"))
        .unionByName(docs.select(
            _host("src-", a, ".example.com").alias("src"),
            _host("mirror-", c, ".example.net").alias("dst")))
        .unionByName(docs.select(
            _host("cite-", b, ".example.org").alias("src"),
            _host("mirror-", b % 83, ".example.net").alias("dst")))
        .unionByName(docs.select(
            _host("mirror-", c, ".example.net").alias("src"),
            _host("src-", c, ".example.com").alias("dst")))
    )
    ranks = [r["rank"] for r in pagerank(edges, iterations=10).collect()]
    assert abs(sum(ranks) - 1.0) < 1e-9
    # margin is in rounding units (1e-6 absolute): 2e-4 here = 2e-10
    # absolute distance to the nearest boundary, ~5 orders above the
    # ~1e-15 absolute cross-engine float-summation drift at this scale
    margins = [abs((r * 1e6) % 1.0 - 0.5) for r in ranks]
    assert min(margins) > 2e-4, min(margins)


def test_pagerank_matches_reference_loop(spark):
    """Spark result equals a straight Python power iteration on a small
    random-ish graph (same rounds/damping/dangling rule)."""
    from collections import Counter, defaultdict

    from knowledge_graph_spark.operators.graph_analytics import pagerank

    pairs = [(a, b) for a in range(8) for b in range(8)
             if a != b and (a * 7 + b * 3) % 5 == 0]
    edges = spark.createDataFrame(
        [(str(a), str(b)) for a, b in pairs], ["src", "dst"])
    got = {r["id"]: r["rank"] for r in pagerank(edges, iterations=10).collect()}

    nodes = sorted({str(a) for a, _ in pairs} | {str(b) for _, b in pairs})
    n = len(nodes)
    deg = Counter(str(a) for a, _ in pairs)
    ranks = {x: 1.0 / n for x in nodes}
    for _ in range(10):
        contrib = defaultdict(float)
        for a, b in pairs:
            contrib[str(b)] += ranks[str(a)] / deg[str(a)]
        dm = sum(r for x, r in ranks.items() if x not in deg)
        ranks = {x: 0.15 / n + 0.85 * (contrib.get(x, 0.0) + dm / n)
                 for x in nodes}
    assert set(got) == set(ranks)
    assert all(abs(got[x] - ranks[x]) < 1e-9 for x in nodes)


def test_triangle_counts_k4_plus_tail(spark):
    """K4 has 4 triangles, every member in 3; a pendant node is in 0
    (absent from output). Duplicate/reversed edges must not double
    count."""
    from knowledge_graph_spark.operators.graph_analytics import triangle_counts

    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    edges = k4 + [("b", "a"), ("d", "e")]  # reversed dup + pendant
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {r["id"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert out == {"a": 3, "b": 3, "c": 3, "d": 3}


def test_personalized_pagerank_stays_near_seeds(spark):
    """Mass is conserved (sum 1), concentrates on the seed, and a
    component unreachable from the seeds gets EXACTLY zero (teleport
    and dangling mass both return to the seed set — unlike global
    pagerank, which spreads 1/N everywhere)."""
    from knowledge_graph_spark.operators.graph_analytics import (
        personalized_pagerank,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("x", "y"), ("y", "x")], ["src", "dst"])
    seeds = spark.createDataFrame([("a",)], ["id"])
    r = {row["id"]: row["rank"]
         for row in personalized_pagerank(edges, seeds).collect()}
    assert abs(sum(r.values()) - 1.0) < 1e-9
    assert r["a"] > r["b"] > 0
    assert r["x"] == 0.0 and r["y"] == 0.0


def test_personalized_pagerank_missing_seeds(spark):
    """Seeds that are not edge endpoints carry no teleport mass: the
    vector renormalizes over the MATCHED seeds (ranks still sum to 1),
    and an all-missing seed set raises instead of returning all-zero
    ranks."""
    import pytest as _pt

    from knowledge_graph_spark.operators.graph_analytics import (
        personalized_pagerank,
    )

    edges = spark.createDataFrame([("a", "b")], ["src", "dst"])
    # one real seed + two ids absent from the graph
    seeds = spark.createDataFrame([("a",), ("ghost1",), ("ghost2",)],
                                  ["id"])
    r = {row["id"]: row["rank"]
         for row in personalized_pagerank(edges, seeds).collect()}
    assert abs(sum(r.values()) - 1.0) < 1e-9
    assert r["a"] > r["b"] > 0
    # identical to running with just the matched seed
    only_a = {row["id"]: row["rank"] for row in personalized_pagerank(
        edges, spark.createDataFrame([("a",)], ["id"])).collect()}
    assert all(abs(r[k] - only_a[k]) < 1e-12 for k in r)
    with _pt.raises(ValueError):
        personalized_pagerank(
            edges, spark.createDataFrame([("ghost",)], ["id"]))


def test_modularity_two_triangles_bridge(spark):
    """Two triangles joined by one bridge, split into their natural
    communities: m = 7, each community e_c = 3, d_c = 7, contribution
    = 3/7 − (7/14)² = 0.1786; Q = 0.3571. Also robust to reversed
    duplicate edges."""
    from knowledge_graph_spark.operators.graph_analytics import modularity

    tri1 = [("a", "b"), ("a", "c"), ("b", "c")]
    tri2 = [("d", "e"), ("d", "f"), ("e", "f")]
    edges = spark.createDataFrame(
        tri1 + tri2 + [("c", "d"), ("b", "a")], ["src", "dst"])
    comm = spark.createDataFrame(
        [(n, "c1") for n in "abc"] + [(n, "c2") for n in "def"],
        ["id", "label"])
    rows = {r["label"]: r for r in modularity(edges, comm).collect()}
    for lbl in ("c1", "c2"):
        assert rows[lbl]["n_nodes"] == 3
        assert rows[lbl]["internal_edges"] == 3
        assert rows[lbl]["degree_sum"] == 7
        assert abs(rows[lbl]["contribution"] - (3 / 7 - 0.25)) < 1e-12
    assert abs(sum(r["contribution"] for r in rows.values())
               - 2 * (3 / 7 - 0.25)) < 1e-12


def test_nb_classifier_hand_model(spark):
    """Add-one multinomial NB on a two-label toy model: priors 1/2,
    V = 4; P(a|X) = 3/7, P(b|X) = 2/7, P(c|X) = 1/7 (mirror for Y).
    'a b' → X, 'c' → Y, unseen-only and empty docs fall back to the
    priors with the smallest-label tie-break."""
    import math

    from knowledge_graph_spark.operators.classify import nb_train_score

    train = spark.createDataFrame(
        [("X", "a a b"), ("Y", "b b c")], ["label", "text"])
    score = spark.createDataFrame(
        [(1, "a b"), (2, "c"), (3, "z"), (4, "")],
        "doc_id int, text string")
    out = {r["doc_id"]: r for r in nb_train_score(train, score).collect()}
    exp1 = math.log(0.5) + math.log(3 / 7) + math.log(2 / 7)
    assert out[1]["predicted"] == "X"
    assert abs(out[1]["log_score"] - exp1) < 1e-12
    assert out[2]["predicted"] == "Y"
    assert abs(out[2]["log_score"]
               - (math.log(0.5) + math.log(2 / 7))) < 1e-12
    assert out[3]["predicted"] == "X"  # tie -> smallest label
    assert abs(out[3]["log_score"]
               - (math.log(0.5) - math.log(7))) < 1e-12
    assert out[4]["predicted"] == "X"
    assert abs(out[4]["log_score"] - math.log(0.5)) < 1e-12


def test_nb_zero_token_label_still_competes(spark):
    """A label whose training docs contain no tokens keeps its prior
    and smooths to P(w|label) = 1/V — it must stay predictable, not
    silently vanish from the model (the inner-join trap)."""
    import math

    from knowledge_graph_spark.operators.classify import nb_train_score

    train = spark.createDataFrame(
        [("X", "a"), ("Y", "")], ["label", "text"])
    score = spark.createDataFrame(
        [(1, ""), (2, "b b b")], "doc_id int, text string")
    out = {r["doc_id"]: r for r in nb_train_score(train, score).collect()}
    # empty doc: pure prior comparison, P(X) = P(Y) = 1/2 -> tie to X
    assert out[1]["predicted"] == "X"
    assert abs(out[1]["log_score"] - math.log(0.5)) < 1e-12
    # V = 2 (vocab {a} + 1 unseen bucket); unseen 'b' three times:
    # X: ln(1/2) + 3·ln(1/(1+2)); Y: ln(1/2) + 3·ln(1/(0+2)) -> Y wins
    assert out[2]["predicted"] == "Y"
    assert abs(out[2]["log_score"]
               - (math.log(0.5) + 3 * math.log(1 / 2))) < 1e-12


def test_clustering_coefficient_k4_pendant(spark):
    """K4 members score 1.0; the node bridging K4 to a pendant scores
    2*3/(4*3) = 0.5; degree-1 nodes score 0.0 and still appear."""
    from knowledge_graph_spark.operators.graph_analytics import (
        clustering_coefficient,
    )

    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    df = spark.createDataFrame(k4 + [("d", "e"), ("b", "a")], ["src", "dst"])
    rows = {r["id"]: r for r in clustering_coefficient(df).collect()}
    assert rows["a"]["coeff"] == 1.0 and rows["a"]["degree"] == 3
    assert rows["d"]["coeff"] == 0.5 and rows["d"]["degree"] == 4
    assert rows["e"]["coeff"] == 0.0 and rows["e"]["triangles"] == 0
    assert set(rows) == set("abcde")


def test_skipgram_pairs_window_and_counts(spark):
    """Window-2 pairs over two walks: both directions emitted, the
    repeated (a, b) bigram aggregates to count 2, out-of-window pairs
    (a, d) absent."""
    from knowledge_graph_spark.operators.kg_export import skipgram_pairs

    walks = spark.createDataFrame(
        [("w1", 0, "a"), ("w1", 1, "b"), ("w1", 2, "c"), ("w1", 3, "d"),
         ("w2", 0, "a"), ("w2", 1, "b")],
        ["walk_id", "step", "node"])
    out = {(r["center"], r["context"]): r["n_pairs"]
           for r in skipgram_pairs(walks, window=2).collect()}
    assert out[("a", "b")] == 2 and out[("b", "a")] == 2
    assert out[("a", "c")] == 1 and out[("d", "b")] == 1
    assert ("a", "d") not in out and ("d", "a") not in out
    # every pair mirrored: symmetric corpus
    assert all(out[(y, x)] == c for (x, y), c in out.items())


def test_shortest_paths_bfs_levels_and_unreachable(spark):
    """Multi-source BFS: min dist per node, undirected traversal,
    unreachable nodes absent, max_hops respected."""
    from knowledge_graph_spark.operators.graph_analytics import shortest_paths

    # path a-b-c-d-e plus isolated island x-y; edge directions mixed
    edges = spark.createDataFrame(
        [("a", "b"), ("c", "b"), ("c", "d"), ("e", "d"), ("x", "y")],
        ["src", "dst"])
    srcs = spark.createDataFrame([("a",)], ["id"])
    out = {r["id"]: r["dist"] for r in
           shortest_paths(edges, srcs).collect()}
    assert out == {"a": 0, "b": 1, "c": 2, "d": 3, "e": 4}
    capped = {r["id"]: r["dist"] for r in
              shortest_paths(edges, srcs, max_hops=2).collect()}
    assert capped == {"a": 0, "b": 1, "c": 2}
    # two sources: dist is the min over sources
    srcs2 = spark.createDataFrame([("a",), ("e",)], ["id"])
    out2 = {r["id"]: r["dist"] for r in
            shortest_paths(edges, srcs2).collect()}
    assert out2 == {"a": 0, "e": 0, "b": 1, "d": 1, "c": 2}


def test_shortest_paths_default_source_is_min_id(spark):
    from knowledge_graph_spark.operators.graph_analytics import shortest_paths

    edges = spark.createDataFrame([("b", "c"), ("a", "b")], ["src", "dst"])
    out = {r["id"]: r["dist"] for r in shortest_paths(edges).collect()}
    assert out == {"a": 0, "b": 1, "c": 2}


def test_k_core_cascading_peel(spark):
    """K4 + a chain hanging off it: the chain peels away round by
    round (cascade), K4 survives as the 3-core; a pure path has an
    empty 2-core; reversed duplicate edges don't inflate degrees."""
    from knowledge_graph_spark.operators.graph_analytics import k_core

    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    edges = spark.createDataFrame(
        k4 + [("b", "a"), ("d", "e"), ("e", "f"), ("f", "g")],
        ["src", "dst"])
    core3 = {r["id"]: r["core_degree"] for r in k_core(edges, 3).collect()}
    assert core3 == {"a": 3, "b": 3, "c": 3, "d": 3}
    # 2-core keeps K4 only as well (the tail is a path)
    core2 = sorted(r["id"] for r in k_core(edges, 2).collect())
    assert core2 == ["a", "b", "c", "d"]
    path = spark.createDataFrame(
        [("p1", "p2"), ("p2", "p3"), ("p3", "p4")], ["src", "dst"])
    assert k_core(path, 2).count() == 0


def test_phonetic_code_classic_pairs(spark):
    """Textbook Soundex merges: robert/rupert -> R163, smith/smyth
    -> S530, ashcraft -> A226 under the declared H/W-as-separator
    variant; non-letters strip; letterless values code to NULL."""
    from knowledge_graph_spark.operators.linking import phonetic_code

    df = spark.createDataFrame(
        [("robert",), ("rupert",), ("smith",), ("smyth",),
         ("ashcraft",), ("o'brien",), ("42",), (None,)], "v string")
    got = {r["v"]: r["c"] for r in
           df.select("v", phonetic_code(F.col("v")).alias("c"))
           .collect()}
    assert got["robert"] == got["rupert"] == "R163"
    assert got["smith"] == got["smyth"] == "S530"
    assert got["ashcraft"] == "A226"     # H separates, no h/w merge
    assert got["o'brien"] == "O165"      # apostrophe stripped
    assert got["42"] is None and got[None] is None


def test_phonetic_blocks_census(spark):
    from knowledge_graph_spark.operators.linking import phonetic_blocks

    df = spark.createDataFrame(
        [("smith",), ("smyth",), ("smith",), ("jones",)], "name string")
    got = {r["code"]: r for r in phonetic_blocks(df).collect()}
    s = got["S530"]
    assert (s["n_rows"], s["n_values"]) == (3, 2)
    assert (s["first_value"], s["last_value"]) == ("smith", "smyth")
    assert got["J520"]["n_values"] == 1


def test_k_truss_peels_bridges_and_cascades(spark):
    """K4 with a triangle attached through a bridge: the bridge edge
    closes no triangle so it peels at k=3, which does NOT take the
    attached triangle with it (it has its own support); at k=4 only
    K4 survives (every K4 edge closes 2 in-subgraph triangles), and
    the cascade re-checks support INSIDE the shrinking subgraph."""
    from knowledge_graph_spark.operators.graph_analytics import k_truss

    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    tri = [("x", "y"), ("y", "z"), ("x", "z")]
    edges = spark.createDataFrame(
        k4 + tri + [("d", "x"), ("b", "a")], ["src", "dst"])
    t3 = {(r["a"], r["b"]): r["support"]
          for r in k_truss(edges, 3).collect()}
    assert ("d", "x") not in t3              # bridge peeled
    assert t3[("x", "y")] == 1               # triangle survives k=3
    assert t3[("a", "b")] == 2               # K4 edges: support 2
    assert len(t3) == 9                      # 6 K4 + 3 triangle edges
    t4 = {(r["a"], r["b"]) for r in k_truss(edges, 4).collect()}
    assert t4 == {tuple(sorted(e)) for e in k4}
    # k=2 truss is the whole deduped edge set: 6 K4 + 3 triangle +
    # the bridge (the reversed duplicate ("b","a") folds away)
    t2 = k_truss(edges, 2).count()
    assert t2 == 10


def test_dense_ids_deterministic_permutation(spark):
    """dense_ids: a permutation of [0, N), equal to the pure-Python
    bucket construction, stable under input repartitioning."""
    from knowledge_graph_spark.functions.xxh64 import spark_xxhash64
    from knowledge_graph_spark.operators.kg_export import dense_ids

    vals = [f"ent{i}" for i in range(50)]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    got = {r["v"]: r["id"] for r in dense_ids(df, buckets=8).collect()}
    assert sorted(got.values()) == list(range(50))

    # pure-Python twin of the construction
    order = sorted(vals, key=lambda v: (spark_xxhash64(v) % 8, v))
    exp = {v: i for i, v in enumerate(order)}
    assert got == exp
    # stable under different physical layout
    got2 = {r["v"]: r["id"]
            for r in dense_ids(df.repartition(7), buckets=8).collect()}
    assert got2 == exp


def test_training_triples_negatives(spark):
    """training_triples: one row per (triple, k); negatives in range,
    never the true tail, deterministic."""
    from knowledge_graph_spark.operators.kg_export import training_triples

    edges = spark.createDataFrame(
        [("a", "b", "r1"), ("a", "c", "r2"), ("b", "c", "r1"),
         ("a", "b", "r1")],  # duplicate edge collapses
        ["src", "dst", "rel_type"])
    rows = training_triples(edges, negatives=3).collect()
    assert len(rows) == 3 * 3
    n_ents = 3
    for r in rows:
        assert 0 <= r["h_id"] < n_ents and 0 <= r["t_id"] < n_ents
        assert 0 <= r["neg_t_id"] < n_ents
        assert r["neg_t_id"] != r["t_id"]
        assert 0 <= r["k"] < 3
    # deterministic across runs
    rows2 = training_triples(edges, negatives=3).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_bfs_and_kcore_match_python_twins_on_random_graphs(spark):
    """Seeded pseudo-random graphs (incl. a hub): Spark BFS distances
    and k-core membership equal straight Python implementations."""
    from collections import deque

    from knowledge_graph_spark.operators.graph_analytics import (
        k_core, shortest_paths,
    )

    for seed in (3, 11):
        pairs = sorted({
            (f"n{(i * seed) % 60}", f"n{(i * i * 7 + seed) % 60}")
            for i in range(150)
        } | {("n0", f"n{j}") for j in range(1, 20)})  # hub node
        pairs = [(a, b) for a, b in pairs if a != b]
        df = spark.createDataFrame(pairs, ["src", "dst"])

        adj = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)

        # BFS from the min node id (the operator's default source)
        src0 = min(adj)
        exp, q = {src0: 0}, deque([src0])
        while q:
            u = q.popleft()
            for v in adj[u]:
                if v not in exp and exp[u] < 10:
                    exp[v] = exp[u] + 1
                    q.append(v)
        got = {r["id"]: r["dist"] for r in shortest_paths(df).collect()}
        assert got == exp

        # 3-core by iterative peel
        A = {u: set(v) for u, v in adj.items()}
        changed = True
        while changed:
            changed = False
            for u in list(A):
                if len(A[u]) < 3:
                    for v in A.pop(u):
                        A[v].discard(u)
                    changed = True
        got3 = {r["id"]: r["core_degree"] for r in k_core(df, 3).collect()}
        assert got3 == {u: len(vs) for u, vs in A.items()}


def test_hits_star_and_python_twin(spark):
    """Star: the center is the only hub, leaves split authority
    equally; general graph matches a straight Python power iteration
    (same rounds, same L2 half-step normalization)."""
    import math

    from knowledge_graph_spark.operators.graph_analytics import hits

    star = spark.createDataFrame(
        [("a", x) for x in "bcd"], ["src", "dst"])
    out = {r["id"]: (r["hub"], r["authority"]) for r in hits(star).collect()}
    assert abs(out["a"][0] - 1.0) < 1e-9 and abs(out["a"][1]) < 1e-12
    for leaf in "bcd":
        assert abs(out[leaf][1] - 1 / math.sqrt(3)) < 1e-9
        assert abs(out[leaf][0]) < 1e-12

    pairs = sorted({(f"n{(i * 5) % 9}", f"n{(i * i + 2) % 9}")
                    for i in range(25)})
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, ["src", "dst"])
    nodes = sorted({a for a, _ in pairs} | {b for _, b in pairs})
    hub = {n: 1.0 for n in nodes}
    auth = {}
    for _ in range(10):
        auth = {n: sum(hub[a] for a, b in pairs if b == n) for n in nodes}
        nrm = math.sqrt(sum(v * v for v in auth.values()))
        auth = {n: (v / nrm if nrm else 0.0) for n, v in auth.items()}
        hub = {n: sum(auth[b] for a, b in pairs if a == n) for n in nodes}
        nrm = math.sqrt(sum(v * v for v in hub.values()))
        hub = {n: (v / nrm if nrm else 0.0) for n, v in hub.items()}
    got = {r["id"]: (r["hub"], r["authority"]) for r in hits(df).collect()}
    assert set(got) == set(nodes)
    for n in nodes:
        assert abs(got[n][0] - hub[n]) < 1e-9
        assert abs(got[n][1] - auth[n]) < 1e-9


def test_adamic_adar_square_with_pendant(spark):
    """Cycle a-b-c-d-a plus pendant d-e: (b,d) scores 2/ln2 through
    {a,c}; (a,c) scores 1/ln2 + 1/ln3 (b is degree 2, d degree 3);
    (a,e)/(c,e) score 1/ln3 through d; linked pairs never appear; the
    degree cap drops high-degree centers from the sum."""
    import math

    from knowledge_graph_spark.operators.graph_analytics import adamic_adar

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("d", "e"),
         ("b", "a")],  # reversed duplicate must not double-count
        ["src", "dst"])
    got = {(r["id_a"], r["id_b"]): (r["common_neighbors"], r["score"])
           for r in adamic_adar(edges).collect()}
    ln2, ln3 = math.log(2), math.log(3)
    want = {
        ("a", "c"): (2, 1 / ln2 + 1 / ln3),
        ("b", "d"): (2, 2 / ln2),
        ("a", "e"): (1, 1 / ln3),
        ("c", "e"): (1, 1 / ln3),
    }
    assert set(got) == set(want)
    for k, (cn, sc) in want.items():
        assert got[k][0] == cn
        assert abs(got[k][1] - sc) < 1e-12
    # cap at 2: center d (degree 3) stops contributing entirely
    capped = {(r["id_a"], r["id_b"]): r["score"]
              for r in adamic_adar(edges, max_degree=2).collect()}
    assert set(capped) == {("a", "c"), ("b", "d")}
    assert abs(capped[("a", "c")] - 1 / ln2) < 1e-12


def test_label_propagation_two_triangles_bridge(spark):
    """Two triangles joined by a bridge edge c-d, traced by hand for 5
    synchronous rounds with the min-label tie-break: the left triangle
    settles on label 'a'; the right side settles on 'c' (the bridge
    endpoint's id propagates as a label even as c itself joins 'a' —
    the standard sync-LPA behavior, pinned here for determinism)."""
    from knowledge_graph_spark.operators.graph_analytics import label_propagation

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),
         ("d", "e"), ("e", "f"), ("f", "d"), ("c", "d")],
        ["src", "dst"])
    got = {r["id"]: r["label"] for r in label_propagation(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a",
                   "d": "c", "e": "c", "f": "c"}


def test_weighted_sssp_prefers_light_path(spark):
    """The 2-hop path a-c-b (weight 2) beats the direct edge a-b
    (weight 10); parallel edges collapse to their min weight; nodes
    outside the source's component are absent; multi-source takes the
    min over sources."""
    from knowledge_graph_spark.operators.graph_analytics import (
        weighted_shortest_paths)

    edges = spark.createDataFrame(
        [("a", "b", 10.0), ("a", "b", 12.0), ("a", "c", 1.0),
         ("c", "b", 1.0), ("x", "y", 1.0)],
        "src string, dst string, w double")
    # default source = min id = "a"
    got = {r["id"]: r["dist"]
           for r in weighted_shortest_paths(edges).collect()}
    assert got == {"a": 0.0, "b": 2.0, "c": 1.0}
    srcs = spark.createDataFrame([("b",), ("x",)], "id string")
    got2 = {r["id"]: r["dist"]
            for r in weighted_shortest_paths(edges, sources=srcs).collect()}
    assert got2 == {"b": 0.0, "c": 1.0, "a": 2.0, "x": 0.0, "y": 1.0}
    # directed: c->b unusable backwards from b
    got3 = {r["id"]: r["dist"] for r in weighted_shortest_paths(
        edges, sources=spark.createDataFrame([("c",)], "id string"),
        directed=True).collect()}
    assert got3 == {"c": 0.0, "b": 1.0}


def test_weighted_sssp_matches_python_twin_on_random_graphs(spark):
    """Seeded random weighted graphs vs a pure-Python Dijkstra twin,
    including a hop-bounded round budget (dist = min over <= r-edge
    paths, the operator's documented fixed-rounds semantics)."""
    import heapq
    import random

    from knowledge_graph_spark.operators.graph_analytics import (
        weighted_shortest_paths)

    for seed in (7, 42):
        rng = random.Random(seed)
        n = 40
        edges = [(rng.randrange(n), rng.randrange(n), rng.randint(1, 9))
                 for _ in range(120)]
        adj: dict = {}
        for u, v, w in edges:
            if u == v:
                continue
            for a, b in ((u, v), (v, u)):
                cur = adj.setdefault(a, {})
                cur[b] = min(cur.get(b, 1 << 30), w)
        src = min(min(u for u, _, _ in edges), min(v for _, v, _ in edges))
        dist = {src: 0.0}
        pq = [(0.0, src)]
        while pq:
            d, u = heapq.heappop(pq)
            if d > dist.get(u, float("inf")):
                continue
            for v, w in adj.get(u, {}).items():
                nd = d + w
                if nd < dist.get(v, float("inf")):
                    dist[v] = nd
                    heapq.heappush(pq, (nd, v))
        df = spark.createDataFrame(edges, "src long, dst long, w long")
        got = {r["id"]: r["dist"]
               for r in weighted_shortest_paths(df, max_rounds=60).collect()}
        assert got == dist


def test_training_triples_rejects_zero_negatives(spark):
    """negatives=0 must error loudly: sequence(0, -1) steps DOWN in
    Spark, so it would silently emit bogus k=0 and k=-1 rows."""
    import pytest

    from knowledge_graph_spark.operators.kg_export import training_triples

    edges = spark.createDataFrame(
        [("a", "b", "r")], "src string, dst string, rel_type string")
    with pytest.raises(ValueError, match="negatives"):
        training_triples(edges, negatives=0)


def test_hits_rejects_zero_iterations(spark):
    import pytest

    from knowledge_graph_spark.operators.graph_analytics import hits

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="iterations"):
        hits(edges, iterations=0)


def test_random_walks_deterministic_and_dead_ends(spark):
    """Walks are reproducible (same md5 ranking every run and at any
    partitioning), distinct walk ids from one node diverge, a directed
    dead end truncates the walk, and every step follows a real edge."""
    from knowledge_graph_spark.operators.kg_export import random_walks

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("b", "d"), ("c", "a")],
        "src string, dst string")
    out1 = random_walks(edges, length=5, n_walks=2).collect()
    out2 = random_walks(edges.repartition(7), length=5,
                        n_walks=2).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    bywalk: dict = {}
    for r in out1:
        bywalk.setdefault(r["walk_id"], {})[r["step"]] = r["node"]
    und = {("a", "b"), ("b", "c"), ("b", "d"), ("c", "a")}
    legal = und | {(b, a) for a, b in und}
    for wid, steps in bywalk.items():
        assert steps[0] == wid.split("#")[0]
        for t in range(1, max(steps) + 1):
            assert (steps[t - 1], steps[t]) in legal
    # directed: c -> (nothing), so a walk from c via the only path
    # a->b choices... use a pure sink: z has no out-edges
    sink = spark.createDataFrame([("y", "z")], "src string, dst string")
    out3 = random_walks(
        sink, length=4, directed=True,
        sources=spark.createDataFrame([("z",)], "id string")).collect()
    assert [(r["walk_id"], r["step"], r["node"]) for r in out3] == [
        ("z#0", 0, "z")]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="n_walks"):
        random_walks(edges, n_walks=0)


def test_connected_components_string_ids(spark):
    """The driver union-find path must honor the input id type —
    a hardcoded long schema crashed on string doc ids."""
    from knowledge_graph_spark.operators.components import (
        connected_components)

    edges = spark.createDataFrame(
        [("url/a", "url/b"), ("url/b", "url/c"), ("x", "y")],
        "u string, v string")
    got = {r["node"]: r["component"]
           for r in connected_components(edges).collect()}
    assert got == {"url/a": "url/a", "url/b": "url/a",
                   "url/c": "url/a", "x": "x", "y": "x"}
    with __import__("pytest").raises(ValueError, match="endpoint types"):
        connected_components(spark.createDataFrame(
            [("a", 1)], "u string, v long")).collect()


def test_neighborhood_mean_path_graph(spark):
    """Path a-b-c with 2-dim features: after one hop b = mean(a, c),
    ends copy their single neighbor; an isolated node keeps its own
    vector; two hops propagate further."""
    from knowledge_graph_spark.operators.graph_analytics import (
        neighborhood_mean,
    )

    edges = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    feats = spark.createDataFrame(
        [("a", [0.0, 0.0]), ("b", [1.0, 2.0]), ("c", [3.0, 4.0]),
         ("z", [9.0, 9.0])],
        ["id", "vec"])
    one = {r["id"]: r["vec"]
           for r in neighborhood_mean(edges, feats).collect()}
    assert one["b"] == [1.5, 2.0]       # mean of a and c
    assert one["a"] == [1.0, 2.0]       # b's old vector
    assert one["c"] == [1.0, 2.0]
    assert one["z"] == [9.0, 9.0]       # isolated: identity fallback
    two = {r["id"]: r["vec"]
           for r in neighborhood_mean(edges, feats, hops=2).collect()}
    assert two["a"] == [1.5, 2.0]       # b's hop-1 vector
    assert two["b"] == [1.0, 2.0]       # mean of a', c' = both [1, 2]


def test_skipgram_and_rrf_reject_bad_params(spark):
    """Non-positive skip-gram windows and negative RRF k raise instead
    of tripping the downward-sequence / divide-by-zero traps."""
    import pytest as _pt

    from knowledge_graph_spark.operators.kg_export import skipgram_pairs
    from knowledge_graph_spark.operators.search import rrf_fuse

    walks = spark.createDataFrame([("w", 0, "a")],
                                  ["walk_id", "step", "node"])
    with _pt.raises(ValueError):
        skipgram_pairs(walks, window=0)
    ranks = spark.createDataFrame([(1, 1)], ["doc_id", "rank"])
    with _pt.raises(ValueError):
        rrf_fuse([ranks], k=-1)
    with _pt.raises(ValueError):
        # k=0 divides by zero on any 0-based ranking
        rrf_fuse([ranks], k=0)
    with _pt.raises(ValueError):
        rrf_fuse([])


def test_bitext_candidates_gates(spark):
    """Same-fingerprint cross-language pairs survive; same-language,
    length-ratio (>2x), <2 digit runs, and over-cap boilerplate
    groups are all rejected; doc_a < doc_b; fingerprint is the
    sorted distinct runs."""
    from knowledge_graph_spark.operators.linking import bitext_candidates

    long_pad = "x" * 200
    docs = spark.createDataFrame([
        (1, "en", "invoice 12345 total 678 usd"),
        (2, "de", "rechnung 12345 summe 678 eur"),
        (3, "en", "copy 12345 and 678 again"),        # same lang as 1
        (4, "fr", "facture 12345 montant 678 " + long_pad),  # ratio
        (5, "en", "only 999 one run"),                # < 2 runs
        (6, "es", "sin digitos"),                     # no runs
        # boilerplate group: 3 members over cap=2
        (7, "en", "year 2020 page 111"),
        (8, "de", "jahr 2020 seite 111"),
        (9, "fr", "annee 2020 page 111"),
    ], "doc_id long, lang string, text string")
    got = sorted(tuple(r) for r in
                 bitext_candidates(docs).collect())
    # group {1,2,3,4}: (1,2) and (2,3) cross-lang + ratio-ok; (1,3)
    # same lang; (x,4) ratio-rejected. group {7,8,9}: all pairs.
    assert got == [
        (1, 2, "en", "de", "12345,678"),
        (2, 3, "de", "en", "12345,678"),
        (7, 8, "en", "de", "111,2020"),
        (7, 9, "en", "fr", "111,2020"),
        (8, 9, "de", "fr", "111,2020"),
    ]
    # a cap below the group sizes (4 and 3) drops EVERYTHING —
    # the boilerplate-fingerprint guard
    assert bitext_candidates(docs, max_group=2).count() == 0


def test_entity_salience_rank_and_positions(spark):
    """Mention counts and 1-based first positions drive the per-doc
    rank (mentions DESC, first_pos ASC, entity ASC); dictionary
    matching is lowercase; non-dictionary tokens never surface; docs
    with no hits emit nothing."""
    from knowledge_graph_spark.operators.linking import entity_salience

    docs = spark.createDataFrame(
        [(1, "Spark joins the table; the table wins"),
         (2, "nothing relevant"),
         (3, None)],
        "doc_id long, text string")
    ents = spark.createDataFrame(
        [("spark",), ("table",), ("the",)], "entity string")
    got = {(r["doc_id"], r["entity"]):
           (r["n_mentions"], r["first_pos"], r["rank"])
           for r in entity_salience(docs, ents).collect()}
    # tokens of doc 1: spark joins the table the table wins
    assert got[(1, "the")] == (2, 3, 1)      # tie 2-2 -> first_pos
    assert got[(1, "table")] == (2, 4, 2)
    assert got[(1, "spark")] == (1, 1, 3)
    assert not any(k[0] in (2, 3) for k in got)


def test_resolve_pronouns_recency(spark):
    """Nearest PRECEDING mention wins (strictly before — a pronoun
    never resolves to a mention at its own position or later);
    pronouns before the first mention drop; matching is lowercase."""
    from knowledge_graph_spark.operators.linking import resolve_pronouns

    docs = spark.createDataFrame(
        [(1, "It began. Acme acquired Zeta, and it raised prices; "
             "later Zeta sued and they settled"),
         (2, "no entities here so it drops"),
         (3, None)],
        "doc_id long, text string")
    ents = spark.createDataFrame(
        [("acme",), ("zeta",)], "entity string")
    got = [(r["pos"], r["pronoun"], r["antecedent"])
           for r in resolve_pronouns(docs, ents)
           .orderBy("doc_id", "pos").collect()]
    # doc 1 tokens: it began acme acquired zeta and it raised prices
    #               later zeta sued and they settled
    assert got == [(6, "it", "zeta"), (13, "they", "zeta")]


def test_bootstrap_relations_one_iteration(spark):
    """Seed contexts promote patterns at min_support; promoted
    patterns extract only entity-shaped, non-seed pairs; a support-1
    pattern never extracts; max_middle caps the window."""
    from knowledge_graph_spark.operators.patterns import (
        bootstrap_relations)

    docs = spark.createDataFrame([
        (1, "Alice works at Acme and Bob works at Globex"),
        (2, "Carol works at Initech while Alice works at Acme"),
        (3, "Alice sometimes visits famous Acme"),   # support 1
        (4, "dave works at Initech"),                # lowercase gate
        (5, "Erin works at Umbrella today"),
        (6, None),
    ], "doc_id long, text string")
    seeds = spark.createDataFrame(
        [("Alice", "Acme"), ("Bob", "Globex")], "subj string, obj string")
    got = {(r["subj"], r["middle"], r["obj"]):
           (r["n_docs"], r["pattern_support"])
           for r in bootstrap_relations(docs, seeds).collect()}
    assert got == {
        ("Carol", "works at", "Initech"): (1, 2),
        ("Erin", "works at", "Umbrella"): (1, 2),
    }


# ---------------------------------------------------------------------------
# round-5 review regressions (fusion / linking / search)
# ---------------------------------------------------------------------------


def test_fuse_triples_null_confidence_cannot_win(spark):
    """A NULL-confidence assertion must not beat a supported one:
    unguarded, SUM over the all-NULL group made support NULL and
    -NULL sorted first in the argmax struct (r5 review finding)."""
    from knowledge_graph_spark.operators.fusion import fuse_triples

    a = spark.createDataFrame(
        [("s", "p", "good", "src1", 10),
         ("s", "p", "bad", "src2", None)],
        "subj string, pred string, obj string, source_id string, "
        "conf long")
    row = fuse_triples(a, confidence_col="conf").collect()[0]
    assert row["obj"] == "good"
    assert row["support"] == 10
    assert row["support_total"] == 10  # NULL conf carries zero vote


def test_entity_salience_case_folds_dictionary(spark):
    from knowledge_graph_spark.operators.linking import entity_salience

    docs = spark.createDataFrame(
        [(1, "Acme acquired Zeta while acme grew")],
        "doc_id long, text string")
    ents = spark.createDataFrame([("Acme",), ("ZETA",)],
                                 "entity string")
    rows = {r["entity"]: r for r in
            entity_salience(docs, ents).collect()}
    assert rows["acme"]["n_mentions"] == 2
    assert rows["zeta"]["n_mentions"] == 1


def test_bm25_and_ql_case_fold_query_terms(spark):
    from knowledge_graph_spark.operators.search import (
        bm25_search, ql_search)

    docs = spark.createDataFrame(
        [(1, "spark shuffles data"), (2, "ducks swim")],
        "doc_id long, text string")
    assert bm25_search(docs, ["Spark"]).count() == 1
    assert ql_search(docs, ["SPARK"]).count() == 1


def test_bitext_runless_pages_never_pair(spark):
    """Pages with ZERO digit runs share the '' fingerprint; under
    min_runs=1 they must still never pair (split('') has size 1 —
    the r5 review off-by-one)."""
    from knowledge_graph_spark.operators.linking import (
        bitext_candidates)

    docs = spark.createDataFrame(
        [(1, "no digits here", "en"), (2, "sin digitos", "es"),
         (3, "invoice 12345 en", "en"), (4, "factura 12345 es", "es")],
        "doc_id long, text string, lang string")
    pairs = bitext_candidates(docs, min_runs=1).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(3, 4)}


def test_postings_export_rejects_string_ids(spark):
    import pytest

    from knowledge_graph_spark.operators.search import postings_export

    docs = spark.createDataFrame(
        [("u1", "a b"), ("u2", "a c")], "doc_id string, text string")
    with pytest.raises(ValueError):
        postings_export(docs)


def test_nb_null_labels_never_predicted(spark):
    from knowledge_graph_spark.operators.classify import nb_train_score

    train = spark.createDataFrame(
        [("spam", "buy now cheap"), ("ham", "meeting at noon"),
         (None, "stray unlabeled tokens here")],
        "label string, text string")
    score = spark.createDataFrame(
        [(1, "zzz qqq www")],  # all-unseen words
        "doc_id long, text string")
    row = nb_train_score(train, score).collect()[0]
    assert row["predicted"] in ("spam", "ham")
