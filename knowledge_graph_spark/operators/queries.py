# -*- coding: utf-8 -*-
"""Graph-store query surface (reference Q1-Q9, SURVEY.md §2.3).

Spark-native equivalents of the reference's Cypher reads
(/root/reference/backend/kgapi/kg_writer.py:72-251) and deletes
(:213-230). Each function takes node/edge DataFrames so it composes
with LakeTable reads, temp views, or test fixtures alike.

Plan shapes (verified via .explain):
- ``query_graph``: graph_id filter pushes into the parquet scan; the
  two edge->node resolutions are equi joins that AQE turns into
  broadcast hash joins (per-graph node sets are small relative to the
  corpus).
- ``query_graphs_by_user``: ONE shuffle (groupBy graph_id + collect),
  replacing the reference's N+1 per-graph round-trip loop
  (kg_writer.py:152-154) — SURVEY.md §7.4.3.
- deletes return the surviving DataFrames; DETACH semantics remove
  edges whose graph died OR whose endpoint died (left_anti against
  surviving nodes), mirroring Neo4j DETACH DELETE (kg_writer.py:215).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def graph_links(nodes: DataFrame, edges: DataFrame, graph_id: str) -> DataFrame:
    """Q1 relational core: edges of one graph with both endpoints
    resolved (kg_writer.py:74-80). Returns one row per link with node
    payloads; assembly to {nodes, links} happens driver-side."""
    e = edges.filter(F.col("graph_id") == graph_id)
    n = nodes.filter(F.col("graph_id") == graph_id).dropDuplicates(["id"])
    a = n.select(
        F.col("id").alias("src"),
        F.col("name").alias("src_name"),
        F.col("type").alias("src_type"),
    )
    b = n.select(
        F.col("id").alias("dst"),
        F.col("name").alias("dst_name"),
        F.col("type").alias("dst_type"),
    )
    # no forced broadcast: a single graph's node set is usually small
    # (the planner/AQE broadcasts it from size stats), but at the
    # engine's scale one graph CAN be arbitrarily large — a forced
    # broadcast would OOM instead of degrading to a shuffle join
    return (
        e.join(a, on="src", how="inner")
        .join(b, on="dst", how="inner")
        .select(
            "src", "dst", "rel_type", "verb", "similarity",
            # the reference spreads EVERY relationship property into the
            # link payload (**r, kg_writer.py:109-115) — graph_id and
            # user_id included (set ON CREATE, kg_writer.py:57); url is
            # this engine's provenance property and spreads with them
            "graph_id", "user_id", "url",
            "src_name", "src_type", "dst_name", "dst_type",
            # label = verb or type, Chinese surface preferred (kg_writer.py:113)
            F.coalesce(
                F.when(F.col("verb") != "", F.col("verb")), F.col("rel_type")
            ).alias("label"),
        )
    )


def query_graph(spark, nodes: DataFrame, edges: DataFrame, graph_id: str) -> dict:
    """Q1/Q2: one graph as the frontend ``{nodes, links}`` document
    (kg_writer.py:72-120, shape pinned by frontend/static/graph.json).
    Node identity ``id or name`` (kg_writer.py:103-104); node-only
    fallback when the graph has no edges (kg_writer.py:86-93)."""
    links_df = graph_links(nodes, edges, graph_id)
    link_rows = links_df.collect()

    # full node payloads (ALL props incl. user_id — reference spreads the
    # whole node dict, kg_writer.py:96-110); one small per-graph collect
    node_rows = (
        nodes.filter(F.col("graph_id") == graph_id)
        .dropDuplicates(["id"]).collect()
    )
    payload = {r["id"]: r.asDict() for r in node_rows}

    if not link_rows:
        out_nodes = {}
        for d in payload.values():
            out_nodes[d.get("id") or d.get("name")] = d
        return {"nodes": list(out_nodes.values()), "links": []}

    out_nodes: dict = {}
    links = []
    for r in link_rows:
        d = r.asDict()
        a_id, b_id = d["src"], d["dst"]
        out_nodes[a_id] = payload.get(a_id) or {
            "id": a_id, "name": d["src_name"], "type": d["src_type"],
            "graph_id": graph_id,
        }
        out_nodes[b_id] = payload.get(b_id) or {
            "id": b_id, "name": d["dst_name"], "type": d["dst_type"],
            "graph_id": graph_id,
        }
        # full **r spread (kg_writer.py:109-115): every edge property
        # rides the link payload, graph_id/user_id/url included
        links.append({
            "source": a_id, "target": b_id, "type": d["rel_type"],
            "label": d["label"], "verb": d["verb"], "similarity": d["similarity"],
            "graph_id": d["graph_id"], "user_id": d["user_id"], "url": d["url"],
        })
    return {"nodes": list(out_nodes.values()), "links": links}


def list_user_graphs(nodes: DataFrame, user_id: str) -> DataFrame:
    """Q3 (kg_writer.py:124-133): DISTINCT graph_id for a user."""
    return (
        nodes.filter(F.col("user_id") == user_id)
        .select("graph_id").distinct()
    )


def query_graphs_by_user(nodes: DataFrame, edges: DataFrame, user_id: str) -> DataFrame:
    """Q4 (kg_writer.py:135-172) in ONE pass: all of a user's graphs
    with node+link structs collected per graph_id — no per-graph loop."""
    # nodes AND links come from GRAPH membership, not the rows'
    # user_id: nodes take the last writer's user_id and edges their
    # FIRST writer's (ON CREATE), so after an update batch under a
    # different user a user_id filter on either side drops part of
    # the user's graphs, leaving links that dangle off missing nodes.
    # The reference collects ALL nodes and links of each of the
    # user's graphs (kg_writer.py:152-154).
    graphs = (nodes.filter(F.col("user_id") == user_id)
              .select("graph_id").distinct())
    graph_nodes = (
        nodes.join(graphs, "graph_id", "left_semi").groupBy("graph_id")
        .agg(F.collect_list(F.struct("id", "name", "type")).alias("nodes"))
    )
    e = edges.join(graphs, "graph_id", "left_semi")
    graph_links_agg = e.groupBy("graph_id").agg(
        F.collect_list(
            F.struct(
                F.col("src").alias("source"), F.col("dst").alias("target"),
                F.col("rel_type").alias("type"),
                F.coalesce(
                    F.when(F.col("verb") != "", F.col("verb")), F.col("rel_type")
                ).alias("label"),
            )
        ).alias("links")
    )
    return graph_nodes.join(graph_links_agg, on="graph_id", how="left").select(
        "graph_id", "nodes",
        F.coalesce(F.col("links"), F.array()).alias("links"),
    )


def query_all_graphs(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Q5 (kg_writer.py:177-209): same as Q4 without the user filter."""
    graph_nodes = nodes.groupBy("graph_id").agg(
        F.collect_list(F.struct("id", "name", "type")).alias("nodes")
    )
    graph_links_agg = edges.groupBy("graph_id").agg(
        F.collect_list(F.struct(
            F.col("src").alias("source"), F.col("dst").alias("target"),
            F.col("rel_type").alias("type"),
        )).alias("links")
    )
    return graph_nodes.join(graph_links_agg, on="graph_id", how="left").select(
        "graph_id", "nodes", F.coalesce(F.col("links"), F.array()).alias("links")
    )


def search_entities_by_keyword(nodes: DataFrame, user_id: str, keyword: str) -> DataFrame:
    """Q6 (kg_writer.py:234-251): user filter + name CONTAINS keyword."""
    return nodes.filter(
        (F.col("user_id") == user_id) & F.col("name").contains(keyword)
    )


def _detach(nodes_kept: DataFrame, edges: DataFrame) -> DataFrame:
    """DETACH semantics: an edge survives only if BOTH endpoints survive.

    The node key is (graph_id, id) — SURVEY.md §7.4.1 — so the
    endpoint-existence semi-joins carry graph_id too; without it, graphs
    built from the same corpus (same url-hash ids) would keep each
    other's edges alive. The graph_id leg is NULL-SAFE: the rows Q7
    deliberately preserves have graph_id NULL, and a plain equi-join
    key would drop their edges even when both endpoints survive —
    DETACH deleting edges of undeleted nodes."""
    ids = (nodes_kept.select(F.col("graph_id").alias("_g"),
                             F.col("id").alias("_i")).distinct())
    e1 = edges.join(
        ids, F.col("graph_id").eqNullSafe(F.col("_g"))
        & (F.col("src") == F.col("_i")), "left_semi")
    return e1.join(
        ids, F.col("graph_id").eqNullSafe(F.col("_g"))
        & (F.col("dst") == F.col("_i")), "left_semi")


def clear_all_graphs(nodes: DataFrame, edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Q7 (kg_writer.py:213-216): drop every node with a graph_id."""
    kept = nodes.filter(F.col("graph_id").isNull())
    return kept, _detach(kept, edges)


def clear_graph_by_id(nodes: DataFrame, edges: DataFrame, graph_id: str) -> tuple[DataFrame, DataFrame]:
    """Q8 (kg_writer.py:220-223). NULL-graph_id nodes survive: the
    reference's MATCH {graph_id: $gid} never binds NULL properties, and
    a bare ``!=`` filter would silently delete them (NULL != x is
    NULL → dropped) — the very rows Q7 deliberately preserves."""
    kept = nodes.filter(
        (F.col("graph_id") != graph_id) | F.col("graph_id").isNull())
    return kept, _detach(kept, edges)


def clear_graphs_by_user(nodes: DataFrame, edges: DataFrame, user_id: str) -> tuple[DataFrame, DataFrame]:
    """Q9 (kg_writer.py:227-230). NULL-user_id nodes survive (same
    three-valued-logic trap as :func:`clear_graph_by_id`)."""
    kept = nodes.filter(
        (F.col("user_id") != user_id) | F.col("user_id").isNull())
    return kept, _detach(kept, edges)


def node_degrees(nodes: DataFrame, edges: DataFrame, graph_id: str) -> DataFrame:
    """Hub analysis over one graph: per node, out-/in-/total degree
    with the node's display name.

    Not a reference query (the reference's Cypher surface stops at
    scans); this is the first graph-analytics question every KG
    consumer asks ("what are the hub entities?") and the basis for
    degree-capped sampling of skewed graphs. Every node of the graph
    reports — an isolated entity appears with degree 0 (an edges-only
    census would silently omit it and skew any degree distribution
    built downstream). Scale shape: both degree counts and the name
    join are keyed by node id, so the three stages reuse one hash
    partitioning (AQE folds the exchanges); only (id, count) pairs and
    the slim (id, name) projection move — never edge payloads."""
    e = edges.filter(F.col("graph_id") == graph_id)
    out_d = e.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_deg"))
    in_d = e.groupBy(F.col("dst").alias("id")).agg(
        F.count("*").alias("in_deg"))
    deg = (
        out_d.join(in_d, "id", "full_outer")
        .fillna(0, ["out_deg", "in_deg"])
    )
    n = (
        nodes.filter(F.col("graph_id") == graph_id)
        .dropDuplicates(["id"]).select("id", "name")
    )
    return (
        n.join(deg, "id", "left")
        .fillna(0, ["out_deg", "in_deg"])
        .select(
            "id", "name", "out_deg", "in_deg",
            (F.col("out_deg") + F.col("in_deg")).alias("degree"),
        )
    )
