# -*- coding: utf-8 -*-
"""Update ("自动化...更新") and crash-resume semantics.

- re-crawl update: a page's content changes between runs; node rows
  update (reference MERGE..SET, kg_writer.py:24-25) while existing
  edge properties persist (ON CREATE SET, kg_writer.py:56-57)
- crash-resume: a failure after the (expensive) extraction stage must
  not re-run extraction on retry, and the final state must equal an
  uninterrupted run
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from knowledge_graph_spark.operators import graph_build
from knowledge_graph_spark.pipeline import KGWarehouse, run_pipeline
from knowledge_graph_spark.sources.pages import generate_spark


def test_recrawl_updates_nodes_preserves_edge_props(spark, tmp_path):
    wh = KGWarehouse(str(tmp_path))
    pages_v1 = generate_spark(spark, 30, seed=42, partitions=2)
    run_pipeline(spark, pages_v1, wh, graph_id="g1", link_entities=False)
    edges_before = {
        (r["src"], r["dst"], r["rel_type"]): r["verb"]
        for r in wh.edges.read(spark).collect()
    }

    # re-crawl: same urls, content extended with one extra sentence
    # (held-out rows keep text NULL and re-derive from unchanged html)
    pages_v2 = pages_v1.withColumn(
        "text", F.concat("text", F.lit("九州网络公司支持华星科技公司。"))
    )
    run_pipeline(spark, pages_v2, wh, graph_id="g1",
                 link_entities=False, batch_suffix="recrawl")

    nodes = wh.nodes.read(spark)
    # nodes reflect the NEW content (update semantics): v2 entity names
    # present for ids that collide with v1 positions
    assert nodes.count() > 0
    # every pre-existing edge kept its original verb (ON CREATE only)
    edges_after = {
        (r["src"], r["dst"], r["rel_type"]): r["verb"]
        for r in wh.edges.read(spark).collect()
    }
    for k, verb in edges_before.items():
        if k in edges_after:
            assert edges_after[k] == verb


def test_recrawl_with_respelled_urls_updates_not_duplicates(spark, tmp_path):
    """canonicalize=True makes the canonical url the merge key: a
    re-crawl whose urls gained tracking params + case noise UPDATES
    each page (extracted-table row count unchanged, urls canonical)
    instead of doubling the corpus; without it the respelled batch
    would land as new rows."""
    wh = KGWarehouse(str(tmp_path))
    pages_v1 = generate_spark(spark, 20, seed=7, partitions=2)
    run_pipeline(spark, pages_v1, wh, graph_id="g1",
                 link_entities=False, canonicalize=True)
    n1 = wh.extracted.read(spark).count()
    assert n1 == 20

    # re-crawl: same resources, messier spellings (scheme/host case,
    # www. prefix, tracking params, fragment — NOT the path: paths are
    # case-sensitive and deliberately not normalized)
    pages_v2 = pages_v1.withColumn(
        "url",
        F.concat(F.regexp_replace("url", "^http://", "HTTP://WWW."),
                 F.lit("?utm_source=feed#top")))
    run_pipeline(spark, pages_v2, wh, graph_id="g1", link_entities=False,
                 batch_suffix="respelled", canonicalize=True)
    ext = wh.extracted.read(spark)
    assert ext.count() == 20  # updated, not duplicated
    # every stored url is canonical: no uppercase scheme, no utm, no #
    bad = ext.filter(
        F.col("url").rlike("[A-Z]") | F.col("url").contains("utm_")
        | F.col("url").contains("#")).count()
    assert bad == 0


def test_crash_after_extraction_resumes_without_reparse(spark, tmp_path, monkeypatch):
    wh = KGWarehouse(str(tmp_path))
    pages = generate_spark(spark, 30, partitions=2)

    # uninterrupted reference run in a second warehouse
    wh_ref = KGWarehouse(str(tmp_path / "ref"))
    run_pipeline(spark, pages, wh_ref, graph_id="g1", link_entities=False)

    # crash the first run inside materialization (after stage 1+2)
    real = graph_build.materialize_graph

    def boom(*a, **kw):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(graph_build, "materialize_graph", boom)
    import knowledge_graph_spark.pipeline as P
    monkeypatch.setattr(P.graph_build, "materialize_graph", boom)
    with pytest.raises(RuntimeError):
        run_pipeline(spark, pages, wh, graph_id="g1", link_entities=False)
    monkeypatch.setattr(P.graph_build, "materialize_graph", real)

    # extraction was persisted before the crash
    assert f"g1/extracted" in wh.extracted.applied_batches()

    # resume: extraction stage must be skipped (batch already applied);
    # prove it by making extract() explode if called
    def no_extract(*a, **kw):
        raise AssertionError("extraction re-ran on resume")

    monkeypatch.setattr(P, "extract", no_extract)
    run_pipeline(spark, pages, wh, graph_id="g1", link_entities=False)

    # final state equals the uninterrupted run
    def snap(w):
        return (
            sorted(tuple(r) for r in w.nodes.read(spark)
                   .select("graph_id", "id", "name", "type").collect()),
            sorted(tuple(r) for r in w.edges.read(spark)
                   .select("graph_id", "src", "dst", "rel_type", "verb").collect()),
        )

    assert snap(wh) == snap(wh_ref)


def test_side_commit_failure_surfaces_and_resumes(spark, tmp_path, monkeypatch):
    """Commits run side by side: the edges commit on a pool thread while
    the linking chain proceeds, and, when the graph links on the
    driver, the same_as commit beside the nodes commit. Each failure
    must surface from run_pipeline, and a re-run must finish the graph
    without re-parsing: the same tables and snapshot totals as an
    uninterrupted run. The nodes commit is the chain's last step, so its
    crash window opens after same_as has landed — on a build and on an
    update batch; the re-run's mapping must come out the same from the
    committed inputs."""
    import time

    import knowledge_graph_spark.pipeline as P
    from knowledge_graph_spark.sources.lake import LakeTable

    pages = generate_spark(spark, 30, partitions=2)
    recrawl = generate_spark(spark, 10, partitions=1).withColumn(
        "text", F.concat(F.coalesce("text", F.lit("")),
                         F.lit("华星科技公司收购九州网络公司。")))
    ref_build = KGWarehouse(str(tmp_path / "ref_build"))
    ref = {False: run_pipeline(spark, pages, ref_build, graph_id="g1",
                               link_entities=True)}
    ref_update = KGWarehouse(str(tmp_path / "ref_update"))
    run_pipeline(spark, pages, ref_update, graph_id="g1", link_entities=True)
    ref[True] = run_pipeline(spark, recrawl, ref_update, graph_id="g1",
                             link_entities=True, batch_suffix="r1")
    ref_wh = {False: ref_build, True: ref_update}

    def no_extract(*a, **kw):
        raise AssertionError("extraction re-ran on resume")

    def rows(table):
        df = table.read(spark)
        return sorted((repr(tuple(r)) for r in
                       df.select(*sorted(df.columns)).collect()))

    def same_as_landed(wh, bid):
        deadline = time.time() + 60
        while f"{bid}/same_as" not in wh.same_as.applied_batches():
            assert time.time() < deadline, "same_as never landed"
            time.sleep(0.05)

    for method, stage, update in (("merge_into", "edges", False),
                                  ("overwrite_partitions", "same_as", False),
                                  ("overwrite_partitions", "nodes", False),
                                  ("overwrite_partitions", "nodes", True)):
        real = getattr(LakeTable, method)
        wh = KGWarehouse(str(tmp_path / f"{stage}-{update}"))
        sfx = "r1" if update else None
        bid = "g1@r1" if update else "g1"
        batch = recrawl if update else pages
        if update:
            run_pipeline(spark, pages, wh, graph_id="g1", link_entities=True)

        def failing(self, *a, _real=real, _stage=stage, _wh=wh, **kw):
            if (kw.get("batch_id") or "") == f"{bid}/{_stage}":
                if _stage == "nodes":
                    same_as_landed(_wh, bid)
                raise RuntimeError(f"injected {_stage} failure")
            return _real(self, *a, **kw)

        with monkeypatch.context() as m:
            m.setattr(LakeTable, method, failing)
            with pytest.raises(RuntimeError, match=f"injected {stage} failure"):
                run_pipeline(spark, batch, wh, graph_id="g1",
                             link_entities=True, batch_suffix=sfx)
        assert f"{bid}/{stage}" not in getattr(wh, stage).applied_batches()
        if stage == "nodes":
            assert f"{bid}/same_as" in wh.same_as.applied_batches()

        with monkeypatch.context() as m:
            m.setattr(P, "extract", no_extract)
            got = run_pipeline(spark, batch, wh, graph_id="g1",
                               link_entities=True, batch_suffix=sfx)

        for name in ("triples", "nodes", "edges", "dropped", "same_as"):
            assert rows(getattr(wh, name)) == rows(
                getattr(ref_wh[update], name)), (stage, update, name)
        for k in ("nodes_total", "edges_total", "dropped_total", "triples",
                  "pages", "linked_names"):
            assert got[k] == ref[update][k], (stage, update, k)


def test_second_update_batch_with_linking_schema_stable(spark, tmp_path):
    """Round-1 regression: with link_entities=True the canonical stage
    used to ADD a canonical_id column, so the next batch's node merge
    crashed on schema mismatch. The node schema must now be identical
    across any number of update batches."""
    wh = KGWarehouse(str(tmp_path))
    pages = generate_spark(spark, 20, partitions=2)
    run_pipeline(spark, pages, wh, graph_id="g1", link_entities=True)
    cols1 = set(wh.nodes.read(spark).columns)
    # second batch into the SAME warehouse (re-crawl) — was AnalysisException
    run_pipeline(spark, pages, wh, graph_id="g1", link_entities=True,
                 batch_suffix="b2")
    # and a different graph too
    run_pipeline(spark, pages, wh, graph_id="g2", link_entities=True)
    assert set(wh.nodes.read(spark).columns) == cols1
    assert "canonical_id" in cols1
    # canonical_id is populated everywhere (default = name)
    assert wh.nodes.read(spark).filter("canonical_id IS NULL").count() == 0


def test_update_batch_rewrites_only_touched_partitions(spark, tmp_path):
    """The triples refresh of graph g1 must not rewrite graph g2's
    partitions (VERDICT r1 #3: O(batch) commits, not O(table))."""
    wh = KGWarehouse(str(tmp_path))
    run_pipeline(spark, generate_spark(spark, 20, partitions=2), wh,
                 graph_id="g1", link_entities=False)
    run_pipeline(spark, generate_spark(spark, 20, 43, partitions=2), wh,
                 graph_id="g2", link_entities=False)
    g1_dirs = {
        k: list(v)
        for k, v in wh.triples.current_entry()["partition_dirs"].items()
        if k.startswith("g1|")
    }
    # the extraction table is keyed by graph too
    g1_ext_dirs = {
        k: list(v)
        for k, v in wh.extracted.current_entry()["partition_dirs"].items()
        if k.startswith("g1|")
    }
    assert g1_ext_dirs
    # update batch over g2 only
    run_pipeline(spark, generate_spark(spark, 20, 43, partitions=2), wh,
                 graph_id="g2", link_entities=False, batch_suffix="r2")
    e = wh.triples.current_entry()
    for k, paths in g1_dirs.items():
        assert e["partition_dirs"][k] == paths  # carried by reference
    e = wh.extracted.current_entry()
    for k, paths in g1_ext_dirs.items():
        assert e["partition_dirs"][k] == paths


def test_second_graph_scopes_to_its_own_pages(spark, tmp_path):
    """A second graph built into the SAME warehouse must contain only
    its own pages: every stage reads only its graph's partitions of the
    graph-keyed extracted table, and ``pages`` counts that graph's
    extracted rows."""
    wh = KGWarehouse(str(tmp_path))
    pages_a = generate_spark(spark, 20, partitions=2)
    run_pipeline(spark, pages_a, wh, graph_id="gA", link_entities=False)
    pages_b = generate_spark(spark, 10, partitions=1, start=20)
    counters_b = run_pipeline(spark, pages_b, wh, graph_id="gB", user_id="u2",
                              link_entities=False)
    # the pages counter reports THIS graph's pages, not the shared table
    assert counters_b["pages"] == 10
    urls_a = {r[0] for r in pages_a.select("url").distinct().collect()}
    urls_b = {r[0] for r in pages_b.select("url").distinct().collect()}
    trips = wh.triples.read(spark)
    got_b = {r[0] for r in trips.filter("graph_id = 'gB'")
             .select("url").distinct().collect()}
    assert got_b and got_b <= urls_b  # no graph-A pages leaked into B
    got_a = {r[0] for r in trips.filter("graph_id = 'gA'")
             .select("url").distinct().collect()}
    assert got_a and got_a <= urls_a
    nodes_b_urls = {r[0] for r in wh.nodes.read(spark)
                    .filter("graph_id = 'gB'").select("url")
                    .distinct().collect()}
    assert nodes_b_urls <= urls_b


def test_other_graph_recrawl_does_not_leak_into_update(spark, tmp_path):
    """Graph B re-crawls url U with new content; graph A's later update
    batch over another url V must keep A's own extraction of U, and
    A's pages counter must still count all of A's pages."""
    wh = KGWarehouse(str(tmp_path))
    pages = generate_spark(spark, 20, seed=7, partitions=2)
    u, v = [r[0] for r in pages.select("url").orderBy("url").limit(2).collect()]
    run_pipeline(spark, pages, wh, graph_id="A", link_entities=False)
    recrawl = pages.filter(F.col("url") == u).withColumn(
        "text", F.concat(F.coalesce("text", F.lit("")),
                         F.lit("华星科技公司收购九州网络公司。")))
    run_pipeline(spark, recrawl, wh, graph_id="B", link_entities=False)
    c = run_pipeline(spark, pages.filter(F.col("url") == v), wh,
                     graph_id="A", link_entities=False, batch_suffix="r2")
    leaked = wh.triples.read(spark).filter(
        (F.col("graph_id") == "A") & (F.col("url") == u)
        & (F.col("subj") == "华星科技公司") & (F.col("pred") == "acquire")
        & (F.col("obj") == "九州网络公司"))
    assert leaked.count() == 0
    assert c["pages"] == 20


def test_empty_batch_reports_zero_counters(spark, tmp_path):
    """An empty page batch builds an empty graph, in a fresh warehouse
    and beside another graph alike."""
    from knowledge_graph_spark.sources.pages import PAGES_SCHEMA

    empty = spark.createDataFrame([], PAGES_SCHEMA)
    wh = KGWarehouse(str(tmp_path / "fresh"))
    c = run_pipeline(spark, empty, wh, graph_id="g1")
    assert [c[k] for k in ("pages", "triples", "nodes", "edges")] == [0] * 4
    wh = KGWarehouse(str(tmp_path / "beside"))
    run_pipeline(spark, generate_spark(spark, 20, partitions=2), wh,
                 graph_id="g1", link_entities=False)
    c = run_pipeline(spark, empty, wh, graph_id="g2")
    assert [c[k] for k in ("pages", "triples", "nodes", "edges")] == [0] * 4


# ---------------------------------------------------------------------------
# round-5 KG-core review regressions
# ---------------------------------------------------------------------------


def test_update_batch_does_not_duplicate_dropped_relations(spark, tmp_path):
    """Stage 3 re-derives quarantined relations from the graph's FULL
    extraction on every batch; the dropped table must hold ONE copy
    (partition overwrite), not an append per batch (r5 review
    finding: every update batch doubled the quarantine)."""
    wh = KGWarehouse(str(tmp_path))
    pages = generate_spark(spark, 40, partitions=2)
    run_pipeline(spark, pages, wh, graph_id="g1", link_entities=False)
    first = wh.dropped.read(spark).count()
    # idempotent update batch over the same pages
    run_pipeline(spark, pages, wh, graph_id="g1", link_entities=False,
                 batch_suffix="r2")
    assert wh.dropped.read(spark).count() == first


def test_materialize_resume_totals_survive_skip(spark, tmp_path):
    wh = KGWarehouse(str(tmp_path))
    pages = generate_spark(spark, 30, partitions=2)
    c1 = run_pipeline(spark, pages, wh, graph_id="g1",
                      link_entities=False)
    # identical re-run: all commits skip, totals must NOT collapse to 0
    c2 = run_pipeline(spark, pages, wh, graph_id="g1",
                      link_entities=False)
    assert c2["nodes_total"] == c1["nodes_total"] > 0
    assert c2["edges_total"] == c1["edges_total"] > 0


def test_rowlocal_null_entities_quarantined_not_lost(spark):
    from knowledge_graph_spark.operators.graph_build import (
        build_edges_rowlocal)

    extracted = spark.createDataFrame(
        [("u1", None,
          [{"source": "e1", "target": "e2", "type": "ACQUIRE",
            "verb": "买", "similarity": 0.5}])],
        "url string, "
        "entities array<struct<id:string,name:string,type:string>>, "
        "relations array<struct<source:string,target:string,"
        "type:string,verb:string,similarity:double>>")
    edges, dropped = build_edges_rowlocal(extracted, "g", "u")
    assert edges.count() == 0
    d = dropped.collect()
    assert len(d) == 1 and d[0]["reason"] == "missing_endpoint"


def test_materialize_counters_match_tables_on_foreign_input(spark, tmp_path):
    """The nodes/edges/dropped_relations counters apply the rules the
    tables are built with: on a foreign extraction frame (a NULL
    entities row, a NULL relations row, an invalid type, a NULL source,
    an absent target) each counter equals its table's rows."""
    from knowledge_graph_spark.operators.extraction import (
        EXTRACT_SCHEMA, entities_table)
    from knowledge_graph_spark.operators.graph_build import (
        build_nodes, commit_nodes, materialize_graph)
    from knowledge_graph_spark.sources.lake import LakeTable

    def ent(i):
        return {"id": i, "name": f"n{i}", "type": "ORG", "start": 0, "end": 1}

    def rel(src, dst, typ):
        return {"source": src, "target": dst, "type": typ, "verb": "v",
                "similarity": 0.5}

    extracted = spark.createDataFrame([
        ("u1", "t", "zh", [ent("e1"), ent("e2")],
         [rel("e1", "e2", "ACQUIRE"), rel("e2", "e1", "PART-OF"),
          rel("e1", "e2", "收购"), rel(None, "e2", "ACQUIRE"),
          rel("e1", "e9", "ACQUIRE")]),
        ("u2", "t", "zh", None, [rel("e1", "e2", "ACQUIRE")]),
        ("u3", "t", "zh", [ent("e1")], None),
    ], EXTRACT_SCHEMA)
    tables = [LakeTable(str(tmp_path), n) for n in ("nodes", "edges", "dropped")]
    commit_nodes(tables[0], build_nodes(entities_table(extracted), "g1",
                                        "user_001"), "g1", "g1/nodes")
    c = materialize_graph(extracted, *tables[1:], graph_id="g1")
    got = [t.read(spark).count() for t in tables]
    assert [c["nodes"], c["edges"], c["dropped_relations"]] == got == [3, 2, 4]


def test_page_edges_dedupe_matches_graph_wide_min_struct(spark):
    """The per-page edge dedupe keeps, for each (src, dst, rel_type),
    the row the graph-wide groupBy kept: min(struct(verb, similarity,
    url)) over the valid relations. The foreign extraction frame has
    two verbs mapping to one predicate (收购/并购 -> ACQUIRE), a NULL
    verb, a NaN and a NULL similarity, an exact duplicate relation, a
    type that sanitizes onto another (PART-OF/PART_OF), invalid and
    dangling relations, and NULL entities/relations rows."""
    from knowledge_graph_spark.operators.extraction import EXTRACT_SCHEMA
    from knowledge_graph_spark.operators.graph_build import (
        _edge_ok, _node_id, _sanitized_type_col, page_edges)

    nan = float("nan")

    def ent(i):
        return {"id": i, "name": f"n{i}", "type": "ORG", "start": 0, "end": 1}

    def rel(src, dst, typ, verb, sim):
        return {"source": src, "target": dst, "type": typ, "verb": verb,
                "similarity": sim}

    u1 = [rel("e1", "e2", "ACQUIRE", "收购", 0.9),
          rel("e1", "e2", "ACQUIRE", "并购", 0.8),
          rel("e1", "e2", "ACQUIRE", "并购", 0.8),
          rel("e2", "e3", "SUPPORT", "支持", None),
          rel("e2", "e3", "SUPPORT", None, 0.5),
          rel("e3", "e1", "PART-OF", "属于", nan),
          rel("e3", "e1", "PART_OF", "属于", 0.1),
          rel("e3", "e2", "PART_OF", "属于", nan),
          rel("e1", "e3", "收购", "收购", 0.7),
          rel("e1", "e9", "ACQUIRE", "收购", 0.7)]
    extracted = spark.createDataFrame([
        ("u1", "t", "zh", [ent("e1"), ent("e2"), ent("e3")], u1),
        ("u2", "t", "zh", [ent("e1"), ent("e2"), ent("e3")],
         list(reversed(u1)) + [rel("e1", "e2", "ACQUIRE", "并购", nan)]),
        ("u3", "t", "zh", [ent("e1"), ent("e2")], None),
        ("u4", "t", "zh", None, u1),
    ], EXTRACT_SCHEMA)

    rows = extracted.select(
        "url", F.col("entities.id").alias("_ids"),
        F.explode("relations").alias("r"))
    valid = rows.filter(
        _edge_ok(F.col("r"), F.col("_ids"))
        & _sanitized_type_col("r.type").isNotNull()
    ).select(
        F.lit("g").alias("graph_id"),
        _node_id("r.source").alias("src"), _node_id("r.target").alias("dst"),
        _sanitized_type_col("r.type").alias("rel_type"),
        F.col("r.verb").alias("verb"),
        F.coalesce("r.similarity", F.lit(0.0)).alias("similarity"), "url")
    key = ["graph_id", "src", "dst", "rel_type"]
    old = valid.groupBy(*key).agg(
        F.min(F.struct("verb", "similarity", "url")).alias("_m")
    ).select(*key, "_m.verb", "_m.similarity", "_m.url",
             F.lit("u").alias("user_id"))
    new = page_edges(extracted, "g", "u")

    def rowset(df):
        return sorted((tuple("NaN" if v != v else v for v in r)
                       for r in df.collect()), key=repr)

    assert new.columns == old.columns
    assert rowset(new) == rowset(old)
    assert len(rowset(new)) == 8 < valid.count() == 17


def _aggregate_counters(extracted):
    """The per-batch counters as one aggregate job over the extraction
    computed them before they rode the edges write."""
    ids = F.col("entities.id")
    valid = F.filter("relations", lambda r: (
        graph_build._sanitized_type_col(r["type"]).isNotNull()
        & graph_build._edge_ok(r, ids)))

    def n(c):
        return F.sum(F.greatest(F.size(c), F.lit(0)))

    s = extracted.select(n("entities").alias("n_nodes"),
                         n(valid).alias("n_valid"),
                         n("relations").alias("n_rel")).first()
    n_valid = s["n_valid"] or 0
    return {"nodes": s["n_nodes"] or 0, "edges": n_valid,
            "dropped_relations": (s["n_rel"] or 0) - n_valid}


def test_observed_counters_equal_the_aggregate(spark, tmp_path):
    """The nodes/edges/dropped_relations counters, observed on the
    edges write, equal the aggregate over the batch's extraction on a
    build, an update, a resumed run (0) and an empty batch (0)."""
    from knowledge_graph_spark.pipeline import N_URL_BUCKETS

    keys = ("nodes", "edges", "dropped_relations")
    wh = KGWarehouse(str(tmp_path / "wh"))

    def run(pages, graph_id, sfx=None):
        c = run_pipeline(spark, pages, wh, graph_id=graph_id,
                         link_entities=False, batch_suffix=sfx)
        return {k: c[k] for k in keys}

    def graph_extraction(graph_id):
        return wh.extracted.read_partitions(
            spark, [f"{graph_id}|{b}" for b in range(N_URL_BUCKETS)])

    built = run(generate_spark(spark, 60, partitions=2), "g1")
    assert built == _aggregate_counters(graph_extraction("g1"))
    assert built["nodes"] > 0 and built["edges"] > 0
    assert built["dropped_relations"] > 0

    recrawl = generate_spark(spark, 10, partitions=1).withColumn(
        "text", F.concat(F.coalesce("text", F.lit("")),
                         F.lit("华星科技公司收购九州网络公司。")))
    updated = run(recrawl, "g1", "r1")
    assert updated == _aggregate_counters(graph_extraction("g1"))

    assert run(recrawl, "g1", "r1") == dict.fromkeys(keys, 0)
    assert run(recrawl.limit(0), "g2") == dict.fromkeys(keys, 0)


def test_user_graph_links_survive_cross_user_update(spark, tmp_path):
    """Edges keep the FIRST writer's user_id (ON CREATE); Q4 must
    list a graph's links by graph membership, not the edge rows'
    user_id (r5 review finding: links vanished for every user). The
    update re-crawls a slice of the pages with shorter text, so the
    nodes it no longer produces keep the first writer's user_id: Q4
    must still return them, or its links point at nodes missing from
    the payload."""
    from knowledge_graph_spark.operators.queries import (
        query_graphs_by_user)

    wh = KGWarehouse(str(tmp_path))
    pages = generate_spark(spark, 40, partitions=2)
    run_pipeline(spark, pages, wh, graph_id="g1", user_id="userB",
                 link_entities=False)
    # the first 10 of the same 40 pages (generation is per-index),
    # each now one two-entity sentence
    recrawl = generate_spark(spark, 10, partitions=1).withColumn(
        "text", F.lit("九州网络公司支持华星科技公司。"))
    run_pipeline(spark, recrawl, wh, graph_id="g1", user_id="userA",
                 link_entities=False, batch_suffix="r2")
    nodes, edges = wh.nodes.read(spark), wh.edges.read(spark)
    row = query_graphs_by_user(nodes, edges, "userA").collect()[0]
    assert len(row["links"]) > 0
    ids = {n["id"] for n in row["nodes"]}
    dangling = [(l["source"], l["target"]) for l in row["links"]
                if l["source"] not in ids or l["target"] not in ids]
    assert not dangling


def test_detach_keeps_null_graph_edges_of_surviving_nodes(spark):
    from knowledge_graph_spark.operators.queries import clear_all_graphs

    nodes = spark.createDataFrame(
        [(None, "n1", "a"), (None, "n2", "b"), ("g1", "n3", "c")],
        "graph_id string, id string, name string")
    edges = spark.createDataFrame(
        [(None, "n1", "n2", "REL"), ("g1", "n3", "n1", "REL")],
        "graph_id string, src string, dst string, rel_type string")
    kept_nodes, kept_edges = clear_all_graphs(nodes, edges)
    rows = kept_edges.collect()
    # the NULL-graph edge between surviving NULL-graph nodes lives;
    # the g1 edge dies with its graph
    assert len(rows) == 1
    assert (rows[0]["src"], rows[0]["dst"]) == ("n1", "n2")
