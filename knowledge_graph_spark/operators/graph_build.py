# -*- coding: utf-8 -*-
"""Graph materialization: extraction output -> nodes/edges LakeTables.

Set-based reimplementation of the reference's per-row Neo4j writers
(/root/reference/backend/kgapi/kg_writer.py):

- relation-type sanitization (kg_writer.py:11-16): ``-`` -> ``_``,
  must fullmatch ``[A-Za-z0-9_]+``, uppercased. Invalid types (all
  unmapped Chinese predicates) are NOT silently printed-and-dropped as
  in the reference (kg_writer.py:48-52) — they are counted and
  quarantined to a ``dropped_relations`` table (SURVEY.md §7.4.4).
- endpoint validation (kg_writer.py:44-46): relations whose source or
  target id lacks a node become dropped rows, via ``left_semi``-shaped
  joins instead of per-row dict lookups.
- node MERGE keys on ``(graph_id, id)`` — NOT bare ``id`` as the
  reference does (kg_writer.py:24), which cross-graph-clobbers.
  Intentional divergence, SURVEY.md §7.4.1.
- edge MERGE ``ON CREATE`` semantics (kg_writer.py:56-57): existing
  edge rows keep their properties; new rows insert. LakeTable
  ``when_matched="ignore"``.

Scale note: one reference "graph" is one extraction run over the whole
batch of pages. Entity ids are per-document (``e1..eN``), so the
materialized node id namespaces them by url: ``xxhash64(url):eK``.
This keeps the reference's node schema (id/name/type/graph_id/user_id)
while staying collision-free at 10^12 documents. All derivations are
row-local: projections, and the edge dedupe runs inside each page's
row, since an edge key carries its page's url hash. A graph's commits
touch one partition key, so the lake writes them from their input's
own partitions. A graph's first build therefore shuffles nothing; the
only shuffles are an update's MERGE anti-joins against the committed
partition, which hash-partition on the merge key.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, functions as F

from .extraction import entities_table

# sanitized pattern per kg_writer.py:13
_VALID_REL = r"^[A-Za-z0-9_]+$"


def _sanitized_type_col(type_col) -> "F.Column":
    """THE sanitization rule as a Column (kg_writer.py:11-16): '-' ->
    '_', must fullmatch _VALID_REL, uppercased; NULL when invalid.
    Single source of truth — with_sanitized_type, the row-local edge
    builder and materialize_graph's counters all apply it, so the rule
    cannot drift between the tables and the counters."""
    c = F.col(type_col) if isinstance(type_col, str) else type_col
    cleaned = F.regexp_replace(c, "-", "_")
    return (F.when(cleaned.rlike(_VALID_REL), F.upper(cleaned))
            .otherwise(F.lit(None)))


def _edge_ok(r, ids) -> "F.Column":
    """THE endpoint rule (kg_writer.py:44-46) for a relation struct
    ``r`` against its own document's entity ids ``ids``: both source
    and target must be among them. NULL-safe: a NULL ids array or a
    NULL endpoint makes array_contains NULL, and an unresolvable
    membership test IS a missing endpoint (a NULL verdict would fail
    both the edge filter and the dropped filter, and the relation would
    vanish from both tables)."""
    return F.coalesce(
        F.array_contains(ids, r["source"]) & F.array_contains(ids, r["target"]),
        F.lit(False),
    )


def _node_id(col) -> "F.Column":
    """THE node id: per-document entity id namespaced by url hash."""
    c = F.col(col) if isinstance(col, str) else col
    return F.concat_ws(":", F.hex(F.xxhash64("url")), c)


def with_sanitized_type(relations: DataFrame) -> DataFrame:
    """Adds ``rel_type`` (sanitized, NULL when invalid) columnar-ly."""
    return relations.withColumn("rel_type", _sanitized_type_col("type"))


def build_nodes(entities: DataFrame, graph_id: str, user_id: str) -> DataFrame:
    """entities(url,id,name,type,...) -> nodes rows (FIXTURES.md §5).
    Node id namespaced by url hash; pure projection, no shuffle.

    ``canonical_id`` defaults to ``name`` so the node schema is STABLE
    across pipeline stages: ``run_pipeline`` links before the nodes
    land and stamps the component representative into the one node
    write (:func:`with_canonical_ids`), and any later merge (update
    batch, streaming micro-batch) unions against the same column set —
    schema drift across runs was a crash."""
    return entities.select(
        F.lit(graph_id).alias("graph_id"),
        F.lit(user_id).alias("user_id"),
        _node_id("id").alias("id"),
        "name",
        "type",
        F.col("url"),
        F.col("name").alias("canonical_id"),
    )


def build_edges(
    relations: DataFrame, nodes: DataFrame, graph_id: str, user_id: str
) -> tuple[DataFrame, DataFrame]:
    """relations(url,source,target,type,verb,similarity) ->
    (edges, dropped_relations).

    Drop reasons mirror the reference's two skip paths:
    - ``invalid_type``     (kg_writer.py:48-52)
    - ``missing_endpoint`` (kg_writer.py:44-46)
    """
    rels = with_sanitized_type(relations).select(
        "url",
        _node_id("source").alias("src"),
        _node_id("target").alias("dst"),
        "type",
        "rel_type",
        "verb",
        F.coalesce(F.col("similarity"), F.lit(0.0)).alias("similarity"),
    )

    # endpoint validation (kg_writer.py:44-46) as ONE pass: two marker
    # left joins against the distinct node-id set, then a filter split —
    # replaces the semi+semi+exceptAll shape, whose exceptAll re-shuffled
    # the whole relation set a second time just to find the dropped rows
    node_ids = nodes.select(F.col("id").alias("src")).distinct()
    node_ids_dst = nodes.select(F.col("id").alias("dst")).distinct()
    flagged = (
        rels.join(node_ids.withColumn("_src_ok", F.lit(1)), on="src", how="left")
        .join(node_ids_dst.withColumn("_dst_ok", F.lit(1)), on="dst", how="left")
    )
    endpoint_ok = F.col("_src_ok").isNotNull() & F.col("_dst_ok").isNotNull()

    good = flagged.filter(endpoint_ok & F.col("rel_type").isNotNull())
    bad_type = flagged.filter(endpoint_ok & F.col("rel_type").isNull())
    missing = flagged.filter(~endpoint_ok)

    edges = good.select(
        F.lit(graph_id).alias("graph_id"),
        F.lit(user_id).alias("user_id"),
        "src",
        "dst",
        "rel_type",
        "verb",
        "similarity",
        "url",
    )
    dropped = (
        bad_type.withColumn("reason", F.lit("invalid_type"))
        .unionByName(missing.withColumn("reason", F.lit("missing_endpoint")))
        .select("url", "src", "dst", "type", "verb", "similarity", "reason")
        .withColumn("graph_id", F.lit(graph_id))
    )
    return edges, dropped


def _valid_rel(r, ids) -> "F.Column":
    """THE edge rule for a relation struct ``r`` of a document whose
    entity ids are ``ids``: a valid type AND resolvable endpoints. The
    edges and the ``edges`` counter both apply it, so they cannot
    diverge on foreign extraction inputs."""
    return _sanitized_type_col(r["type"]).isNotNull() & _edge_ok(r, ids)


def page_edges(extracted: DataFrame, graph_id: str,
               user_id: str) -> DataFrame:
    """The edge rows of a nested extraction result, in the edge table's
    column order. Per extraction row, the valid relations become
    ``(src, dst, rel_type, verb, similarity)`` structs, sorted, and the
    first of each ``(src, dst, rel_type)`` is kept; then the rows
    explode. Row-local: a scan, a projection and an explode, no join,
    no exchange.

    That is the in-batch dedupe: the SAME key can arise from two verbs
    mapping to one predicate (收购/并购 -> acquire), and keeping the
    least ``(verb, similarity)`` lets reruns, streaming replays and
    golden fixtures agree. An edge key is page-local (both endpoints
    carry the url hash) and a graph's extraction is url-unique, so this
    is the row a graph-wide ``min(struct(verb, similarity, url))`` per
    key keeps, without a shuffle. The sorted array is bound once, as
    the lambda variable of a one-element ``transform``, so the
    neighbour test does not re-sort it per element."""
    ids = F.col("entities.id")
    structs = F.array_sort(F.transform(
        F.filter("relations", lambda r: _valid_rel(r, ids)),
        lambda r: F.struct(
            _node_id(r["source"]).alias("src"),
            _node_id(r["target"]).alias("dst"),
            _sanitized_type_col(r["type"]).alias("rel_type"),
            r["verb"].alias("verb"),
            F.coalesce(r["similarity"], F.lit(0.0)).alias("similarity"),
        )))

    def first_per_key(s):
        def new_key(e, i):
            prev = F.get(s, i - 1)  # NULL before the first element
            return ~(e["src"].eqNullSafe(prev["src"])
                     & e["dst"].eqNullSafe(prev["dst"])
                     & e["rel_type"].eqNullSafe(prev["rel_type"]))
        return F.filter(s, new_key)

    kept = F.element_at(F.transform(F.array(structs), first_per_key), 1)
    return extracted.select(F.explode(kept).alias("e"), "url").select(
        F.lit(graph_id).alias("graph_id"),
        "e.src", "e.dst", "e.rel_type", "e.verb", "e.similarity", "url",
        F.lit(user_id).alias("user_id"),
    )


def dropped_relations(extracted: DataFrame, graph_id: str) -> DataFrame:
    """The quarantined relations of a nested extraction result, one
    row each with its ``reason``: ``missing_endpoint`` when the
    endpoint rule fails, else ``invalid_type``. Row-local."""
    rows = extracted.select(
        "url", F.col("entities.id").alias("_ids"),
        F.explode("relations").alias("r")
    )
    flagged = rows.select(
        "url",
        _node_id("r.source").alias("src"),
        _node_id("r.target").alias("dst"),
        F.col("r.type").alias("type"),
        _sanitized_type_col("r.type").alias("rel_type"),
        F.col("r.verb").alias("verb"),
        F.coalesce(F.col("r.similarity"), F.lit(0.0)).alias("similarity"),
        _edge_ok(F.col("r"), F.col("_ids")).alias("_ok"),
    )
    return (
        flagged.filter(~F.col("_ok") | F.col("rel_type").isNull())
        .withColumn(
            "reason",
            F.when(~F.col("_ok"), F.lit("missing_endpoint"))
            .otherwise(F.lit("invalid_type")),
        )
        .select("url", "src", "dst", "type", "verb", "similarity", "reason")
        .withColumn("graph_id", F.lit(graph_id))
    )


def build_edges_rowlocal(
    extracted: DataFrame, graph_id: str, user_id: str
) -> tuple[DataFrame, DataFrame]:
    """(edges, dropped) straight from the nested extraction result —
    ZERO joins (:func:`page_edges`, :func:`dropped_relations`).

    Endpoint validation (reference kg_writer.py:44-46) checks a
    relation's source/target against the entity-id set of the same
    extraction result; since our ids are per-document, that membership
    test is row-local: ``array_contains(entities.id, r.source)``. The
    generic join-based :func:`build_edges` remains for merging
    relations against an arbitrary node table, but the pipeline path
    never needs to shuffle 10^12 relation rows against 10^12 node ids
    just to re-check a per-document invariant."""
    return (page_edges(extracted, graph_id, user_id),
            dropped_relations(extracted, graph_id))


def build_graph_tables(
    extracted: DataFrame, graph_id: str, user_id: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """extraction result -> (nodes, edges, dropped) DataFrames."""
    nodes = build_nodes(entities_table(extracted), graph_id, user_id)
    edges, dropped = build_edges_rowlocal(extracted, graph_id, user_id)
    return nodes, edges, dropped


def merged_nodes(nodes: DataFrame, nodes_table, graph_id: str) -> DataFrame:
    """The graph's node partition after ``nodes`` MERGE..SET into it on
    ``(graph_id, id)``: the new rows, plus the committed rows whose id
    the batch does not carry — the rows ``merge_into(when_matched=
    "update")`` would write. Its names are the graph's vocabulary: a
    replaced row's old name is gone from it. Lazy; the committed
    partition is read only when the result is evaluated."""
    old = nodes_table.read_partitions(nodes.sparkSession, [graph_id])
    return nodes_table.merged(old, nodes, ["graph_id", "id"], "update")


def with_canonical_ids(nodes: DataFrame, mapping: DataFrame) -> DataFrame:
    """``nodes`` with ``canonical_id`` set to the component
    representative of the row's name, from ``mapping(name,
    canonical_name)`` joined in through a broadcast; a name outside
    every component is its own representative. Columns keep their
    order, so the write keeps the table's schema."""
    return nodes.join(F.broadcast(mapping), on="name", how="left").withColumn(
        "canonical_id", F.coalesce("canonical_name", "name")
    ).select(*nodes.columns)


def commit_nodes(nodes_table, nodes: DataFrame, graph_id: str,
                 batch_id: str) -> dict:
    """Write the graph's node partition once: ``nodes`` is its full
    content (:func:`merged_nodes`), so a dynamic partition overwrite
    replaces it wholesale and carries every other graph's partition."""
    return nodes_table.overwrite_partitions(
        nodes, partition_by=["graph_id"], touched_keys=[graph_id],
        batch_id=batch_id)


def snapshot_rows(table, result: dict) -> int:
    """The table's row count after a commit that returned ``result``.
    An idempotent resume skips the commit; the snapshot size then comes
    from the manifest's current entry instead of collapsing to 0."""
    if result.get("skipped", False):
        return (table.current_entry() or {}).get("rows", 0)
    return result.get("rows", 0)


def materialize_graph(
    extracted: DataFrame,
    edges_table,
    dropped_table,
    graph_id: str,
    user_id: str = "user_001",
    batch_id: str | None = None,
) -> dict:
    """Nested extraction result -> the graph's edge and dropped-relation
    commits, with the batch's counters.

    ``user_id`` default mirrors the reference (kg_writer.py:256).
    Returns the commit summary (counters included) for metrics.

    The node partition is the caller's: ``run_pipeline`` links the
    graph's vocabulary first and writes the partition once, canonical
    ids stamped (:func:`merged_nodes`, :func:`with_canonical_ids`,
    :func:`commit_nodes`), beside these commits.

    One Spark job per table, ZERO joins in the derivations: edges and
    dropped derive from the nested extraction result with row-local
    operations (endpoint validation via ``array_contains`` against the
    same row's entity ids, the edge dedupe per page — see
    :func:`page_edges`), and a one-key commit
    writes from its input's partitions, so on a graph's first batch
    each write is a parquet scan + project + write. The per-batch
    counters ride the edges write as observed metrics, and the merge
    counts the written snapshot (parquet metadata), so no separate
    aggregate or ``count()`` action recomputes anything.
    """
    bid = batch_id or graph_id
    edge_key = ["graph_id", "src", "dst", "rel_type"]

    # per-batch deltas under the original keys (what THIS batch
    # produced: entity mentions, valid relations pre-dedupe, quarantined
    # relations), observed per extraction row on the edges write's
    # input, before the explode. NULL-safe sizes: a NULL
    # entities/relations column (foreign or schema-evolved input) must
    # count 0 — greatest(x, 0) covers BOTH null semantics (ANSI
    # size(NULL)=NULL is skipped by greatest; legacy size(NULL)=-1
    # clamps to 0). The *_total keys carry the snapshot sizes from the
    # manifest for free.
    def n(c):
        return F.sum(F.greatest(F.size(c), F.lit(0)))

    ids = F.col("entities.id")
    counted = Observation()
    edges = page_edges(extracted.observe(
        counted,
        n("entities").alias("nodes"),
        n(F.filter("relations", lambda r: _valid_rel(r, ids))).alias("edges"),
        n("relations").alias("relations"),
    ), graph_id, user_id)
    dropped = dropped_relations(extracted, graph_id)

    # edges are deduped on their key, so the batch is key-unique, as
    # merge_into expects; touched_keys=[graph_id] skips partition
    # discovery (this batch by definition writes exactly one graph
    # partition). The two commits touch DISTINCT LakeTables (separate
    # directories, separate manifests, no shared mutable state) and
    # only read ``extracted``, so they run on concurrent driver threads
    # and Spark schedules their jobs side by side. run_pipeline passes
    # the committed lake table uncached, so each commit scans its
    # parquet files.
    def _commit_edges():
        return edges_table.merge_into(edges, on=edge_key,
                                      when_matched="ignore",
                                      batch_id=f"{bid}/edges",
                                      partition_by=["graph_id"],
                                      touched_keys=[graph_id])

    def _commit_dropped():
        # ``dropped`` is re-derived from the graph's FULL accumulated
        # extraction — an append would duplicate every previously
        # quarantined relation on each update batch and keep stale rows
        # from pages whose re-crawl fixed the relation. Replace this
        # graph's partition wholesale (the triples-stage convention).
        return dropped_table.overwrite_partitions(
            dropped, partition_by=["graph_id"],
            touched_keys=[graph_id], batch_id=f"{bid}/dropped")

    with ThreadPoolExecutor(max_workers=2) as pool:
        edges_future = pool.submit(_commit_edges)
        dropped_future = pool.submit(_commit_dropped)
    r_edges, r_dropped = edges_future.result(), dropped_future.result()
    # the edges commit decides "resumed": a skipped commit ran no job,
    # so nothing was observed, and an idempotent resume reports 0
    got = {} if r_edges.get("skipped") else counted.get
    n_valid = got.get("edges") or 0
    return {
        "nodes": got.get("nodes") or 0,
        "edges": n_valid,
        "dropped_relations": (got.get("relations") or 0) - n_valid,
        "edges_total": snapshot_rows(edges_table, r_edges),
        "dropped_total": snapshot_rows(dropped_table, r_dropped),
    }
