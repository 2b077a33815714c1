# -*- coding: utf-8 -*-
"""End-to-end KG construction pipeline (the spark-submit job).

pages -> html2text+extract -> triples -> entity linking ->
canonicalization -> MERGE INTO nodes/edges — reproducing the
reference's three-stage dataflow (extractor.py __main__ ->
extracted_result.json -> kg_writer.main -> Neo4j; SURVEY.md §0) as one
checkpointed Spark job. Linking runs on the graph's vocabulary before
any node row is written, so each run writes the graph's node partition
once, canonical ids included.

Resumability (BASELINE.json: "resumable from checkpoint with
per-partition lineage + metrics"): every stage commits to a LakeTable
with a deterministic ``batch_id = {graph_id}/{stage}``; re-running the
pipeline after a crash skips already-committed stages (LakeTable
replays nothing) and recomputes only from the last persisted stage —
at-least-once driver, exactly-once table state. Stage 1 persists the
extraction result itself, so a crash after the (expensive) NLP pass
never re-runs it.

Every warehouse table is keyed by graph: its partition spec starts
with ``graph_id``, so a graph's stages read, rewrite and count only
its own partitions, and one graph's commit carries every other
graph's files forward by reference.

Each lineage entry records its commit's row count and per-partition
row counts; ``run_pipeline`` returns the run's counters (pages, nodes,
edges, dropped relations, triples, linked names, linking-guard drops,
stage seconds) to its caller — the "per-partition lineage + counters"
metrics surface.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators import graph_build
from .operators.components import canonical_mapping, local_canonical_mapping
from .operators.extraction import entities_table, extract, triples_table
from .operators.linking import (
    collect_features, name_features, same_as_edges, same_as_frame,
    score_features,
)
from .session import job_description
from .sources.lake import LakeTable


def default_graph_id() -> str:
    """graph_%Y%m%d%H%M%S, reference kg_writer.py:262."""
    return time.strftime("graph_%Y%m%d%H%M%S")


# url-hash buckets for partition-scoped commits on url-keyed tables.
# Sized so one bucket ≈ one comfortable rewrite unit; at production
# scale raise it with table size (Iceberg: bucket(N, url)) — an
# incremental batch then rewrites only the buckets its urls hash into.
N_URL_BUCKETS = 16


def with_graph_bucket(df: DataFrame, graph_id: str) -> DataFrame:
    """Add the partition key of the url-keyed tables (extracted,
    triples): ``graph_id``, then ``url_bucket``, in that column order."""
    return df.withColumn("graph_id", F.lit(graph_id)).withColumn(
        "url_bucket",
        F.pmod(F.xxhash64("url"), F.lit(N_URL_BUCKETS)).cast("int"),
    )


def _graph_rows(table: LakeTable, graph_id: str) -> int:
    """Rows belonging to one graph, answered from the manifest's
    per-partition counters — zero Spark jobs."""
    rows = (table.current_entry() or {}).get("partition_rows") or {}
    return sum(
        n for k, n in rows.items() if k.split("|", 1)[0] == graph_id
    )


class KGWarehouse:
    """The engine's table catalog (Iceberg-catalog stand-in)."""

    def __init__(self, root: str):
        self.root = root
        self.extracted = LakeTable(root, "extracted")
        self.triples = LakeTable(root, "triples")
        self.nodes = LakeTable(root, "nodes")
        self.edges = LakeTable(root, "edges")
        self.dropped = LakeTable(root, "dropped_relations")
        self.same_as = LakeTable(root, "same_as")

    def tables(self) -> list[LakeTable]:
        return [self.extracted, self.triples, self.nodes, self.edges,
                self.dropped, self.same_as]

    def vacuum(self, keep_last: int = 2) -> dict:
        """Expire old snapshots across all tables (Iceberg
        expire_snapshots equivalent). keep_last >= 2 preserves one
        rollback target besides the current snapshot."""
        return {
            t.dir.rsplit("/", 1)[-1]: t.vacuum(keep_last)
            for t in self.tables()
        }


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    warehouse: KGWarehouse,
    graph_id: str | None = None,
    user_id: str = "user_001",
    partitions: int | None = None,
    link_entities: bool = True,
    batch_suffix: str | None = None,
    canonicalize: bool = False,
) -> dict:
    """One batch of the KG construction pipeline.

    ``batch_suffix`` marks an UPDATE batch over an existing graph
    (e.g. a re-crawl): same graph_id, fresh batch ids, and the
    extraction table replaces the graph's rows per url (MERGE update)
    so changed pages re-extract while the graph MERGE keeps reference
    semantics — node rows update, existing edge properties persist
    (ON CREATE). A graph is its own extraction run (reference: one run
    = one graph): every stage reads only this graph's extraction
    partitions, so another graph's crawl of the same url never reaches
    it, and ``pages`` counts the graph's extracted rows.
    This is the one way a graph is built or updated:
    ``streaming/ingest.py`` calls it once per micro-batch, with the
    batch's content fingerprint as ``batch_suffix``, so each
    micro-batch costs what an update batch costs — O(graph).

    INPUT CONTRACT: ``pages`` must be url-unique — ``merge_into`` does
    not deduplicate its batch (crawl snapshots are url-keyed by
    construction), so duplicate urls in one batch would land duplicate
    rows in every downstream table. A source
    that may re-deliver urls (two file drops of the same crawl) goes
    through the streaming path, whose keep-newest window (max
    ``warc_ts`` per url) owns that rule.

    ``canonicalize=True`` rewrites ``url`` to its canonical spelling
    (``operators.urls.canonical_url``: case, www., default ports,
    tracking params, param order, fragments) BEFORE it becomes the
    merge/bucket key, so a re-crawl that respells a url UPDATES the
    page instead of duplicating it. Row-local (zero shuffle). Off by
    default: it changes the key domain, so it must be on for a graph's
    whole life, never toggled mid-graph. It does not dedupe: distinct
    raw spellings of one url in a single batch break the INPUT
    CONTRACT above.

    SCHEDULE: after extraction commits, the rest runs as the dependency
    graph it is. The critical chain is extract -> link -> the one nodes
    commit: the graph's node partition after this batch's MERGE..SET is
    built lazily, its names (the vocabulary) are linked, and the
    partition is written once with ``canonical_id`` stamped in. Linking
    takes one of two paths, chosen by the graph's distinct-name count
    alone (``operators/linking.py``): up to ``_DRIVER_NAMES`` names,
    one features collect and Python scoring put the same_as pairs in
    hand on the driver, and the ``same_as`` commit runs on a side
    thread beside the nodes commit, whose mapping comes from the same
    pairs; above it, the Spark path commits ``same_as`` first and the
    mapping reads it back. Side work reads only the committed
    extraction and runs beside the chain on driver threads: the triples
    overwrite and the edges and dropped commits (the per-batch counters
    are observed on the edges write). It starts with the collect, whose
    plan is built first, so the collect's first job reaches Spark's
    FIFO queue ahead of theirs. All of it is joined before ``vacuum``;
    an exception in any task surfaces from this call. A crash between
    the ``same_as`` and nodes commits re-runs to the same tables: the
    mapping is a pure function of the committed extraction, the graph's
    old node partition and, on the Spark path, the committed
    ``same_as``. ``stage_seconds`` holds each stage's own elapsed time
    (``linking`` ends when the pairs are in hand, or on the Spark path
    when ``same_as`` has committed; ``canonicalize`` is the mapping
    build plus the nodes commit; ``materialize`` is the edges and
    dropped commits), so the entries overlap and may sum to more than
    the wall time.

    Counters: ``pages``, ``triples``, the per-batch ``nodes``, ``edges``
    and ``dropped_relations``, the ``*_total`` snapshot sizes,
    ``linked_names`` (names in a same_as component) and the linking
    guard's drops, ``lsh_buckets_dropped`` and ``lsh_names_dropped``
    (None on the Spark path, where counting them would take a job).
    """
    graph_id = graph_id or default_graph_id()
    if canonicalize:
        from .operators.urls import canonical_url

        pages = pages.withColumn("url", canonical_url("url"))
    sfx = f"@{batch_suffix}" if batch_suffix else ""
    counters: dict = {"graph_id": graph_id}
    stage_s: dict = {}

    # ---- stage 1: extraction (persisted so resume never re-parses) ----
    # Keyed by graph like every other table: partitioned by (graph_id,
    # url_bucket), merged on (graph_id, url). A re-crawl batch rewrites
    # only the buckets its urls land in; the rest of the table is
    # carried forward by manifest reference. The lake layer re-buckets
    # by partition key for the write, so no extra repartition here.
    t0 = time.time()
    b = f"{graph_id}{sfx}"  # this batch's id prefix
    g_keys = [f"{graph_id}|{k}" for k in range(N_URL_BUCKETS)]
    bid = f"{b}/extracted"
    if bid not in warehouse.extracted.applied_batches():
        upd = with_graph_bucket(extract(pages, partitions=partitions), graph_id)
        # a graph's first batch declares all its buckets: the merge then
        # reads no old rows, and the write's fan-out is sized by the key
        # count (one writer per bucket, see LakeTable._persist)
        touched = g_keys
        is_update = _graph_rows(warehouse.extracted, graph_id) > 0
        if is_update:
            # the merge consumes its input twice (touched-key discovery
            # + write): persist so the NLP pass runs exactly once.
            # url_bucket is a pure function of the merge key, so the
            # batch's distinct buckets are EXACTLY the partitions this
            # merge can write or delete
            upd = upd.persist()
            with job_description(spark, f"{b}/extract"):
                touched = [
                    f"{graph_id}|{r[0]}"
                    for r in upd.select("url_bucket").distinct().collect()
                ]
        warehouse.extracted.merge_into(
            upd, on=["graph_id", "url"], when_matched="update", batch_id=bid,
            partition_by=["graph_id", "url_bucket"], touched_keys=touched,
        )
        if is_update:
            upd.unpersist()
    # the manifest is the partition index: read ONLY this graph's
    # partitions. None = the graph has no extracted rows (an empty
    # batch): the stages below then run on an empty frame
    extracted = warehouse.extracted.read_partitions(spark, g_keys)
    if extracted is None:
        extracted = warehouse.extracted.read(spark).limit(0)
    counters["pages"] = _graph_rows(warehouse.extracted, graph_id)

    stage_s["extract"] = round(time.time() - t0, 2)

    # ---- stage 2: the graph's vocabulary, before any node lands ------
    # The graph's node partition after this batch's MERGE..SET (on a
    # first build, this batch's rows) is both the vocabulary and what
    # the one nodes commit below writes: a replaced row's old name never
    # reaches linking, where it could bridge two components. Both
    # frames are lazy; nothing runs yet.
    t_link = time.time()
    nodes = graph_build.merged_nodes(
        graph_build.build_nodes(entities_table(extracted), graph_id, user_id),
        warehouse.nodes, graph_id)
    feature_frame = name_features(nodes.select("name"))

    def commit_links(links):
        # graph-scoped partition: the same_as table is shared by every
        # graph in the warehouse, so a plain overwrite() would let this
        # run clobber another graph's links
        warehouse.same_as.overwrite_partitions(
            links.withColumn("graph_id", F.lit(graph_id)),
            partition_by=["graph_id"], batch_id=f"{b}/same_as",
            touched_keys=[graph_id],
        )

    def _materialize():
        t0 = time.time()
        mat = graph_build.materialize_graph(
            extracted, warehouse.edges, warehouse.dropped,
            graph_id=graph_id, user_id=user_id, batch_id=b,
        )
        stage_s["materialize"] = round(time.time() - t0, 2)
        return mat

    def _triples():
        # per-graph refresh, partition-scoped
        t0 = time.time()
        tbid = f"{b}/triples"
        if tbid not in warehouse.triples.applied_batches():
            trip = with_graph_bucket(triples_table(extracted), graph_id)
            # dynamic partition overwrite: the stage regenerates this
            # graph's FULL triple set, so its partitions are replaced
            # wholesale — no read of the old rows, no anti-join; other
            # graphs' files are never touched. Touched keys are
            # declared (this graph x every bucket) so no discovery job
            # runs either.
            warehouse.triples.overwrite_partitions(
                trip, partition_by=["graph_id", "url_bucket"], batch_id=tbid,
                touched_keys=g_keys,
            )
        stage_s["triples"] = round(time.time() - t0, 2)
        return _graph_rows(warehouse.triples, graph_id)

    # ---- stages 3-4: link -> one nodes commit, side work beside it ----
    # The triples, edges and dropped commits read only the committed
    # extraction, so they start now, on pool threads, while this
    # thread runs the chain: the features collect -> pairs ->
    # canonical mapping -> the nodes commit. The collect's
    # plan is already built, so its first job reaches Spark's FIFO
    # queue ahead of the side commits' scans, whose plans the side
    # threads still have to build. (Holding the side work until the
    # whole collect had returned was measured and was slower: the
    # cores then idled while the side threads planned beside the
    # Python scoring.) The with-block joins the side work before vacuum
    # reclaims anything it reads, and every task's exception surfaces
    # here.
    with ThreadPoolExecutor(max_workers=3) as pool:
        mat_future = pool.submit(_materialize)
        trip_future = pool.submit(_triples)
        links_done = None
        if link_entities:
            # the driver path's one collect (None above _DRIVER_NAMES)
            with job_description(spark, f"{b}/link"):
                features = collect_features(feature_frame)
            if features is None:
                # the Spark path commits same_as first and reads it
                # back, so a resume after that commit maps the
                # committed links
                with job_description(spark, f"{b}/link"):
                    links = same_as_edges(nodes.select("name"))
                    commit_links(links)
                stage_s["linking"] = round(time.time() - t_link, 2)
                t0 = time.time()
                # a linkless graph writes no partition dir: fall back
                # to the in-hand (empty) frame
                g_links = warehouse.same_as.read_partitions(spark, [graph_id])
                with job_description(spark, f"{b}/mapping"):
                    mapping = canonical_mapping(
                        g_links if g_links is not None else links)
                    counters["linked_names"] = mapping.count()
                # counting the Spark path's guard drops would take a job
                counters.update(lsh_buckets_dropped=None,
                                lsh_names_dropped=None)
            else:
                pairs, guard = score_features(features)
                counters.update(guard)
                stage_s["linking"] = round(time.time() - t_link, 2)
                t0 = time.time()
                # same_as and the nodes both come from the pairs in
                # hand, so they commit side by side; a resume recomputes
                # the same pairs from the same committed inputs. No node
                # rows (an empty vocabulary): no same_as commit
                if features:
                    links_done = pool.submit(
                        commit_links, same_as_frame(spark, pairs))
                mapping, counters["linked_names"] = local_canonical_mapping(
                    spark, [(x, y) for x, y, _ in pairs])
            nodes = graph_build.with_canonical_ids(nodes, mapping)
        else:
            t0 = time.time()
        node_commit = graph_build.commit_nodes(
            warehouse.nodes, nodes, graph_id, f"{b}/nodes")
        stage_s["canonicalize"] = round(time.time() - t0, 2)
        if links_done is not None:
            links_done.result()
        counters["triples"] = trip_future.result()
        counters.update(mat_future.result())
    counters["nodes_total"] = graph_build.snapshot_rows(
        warehouse.nodes, node_commit)

    # snapshot hygiene: expire superseded snapshots, keep one rollback
    # target per table (a month-long ingest would otherwise retain one
    # full table copy per stage per batch)
    warehouse.vacuum(keep_last=2)

    counters["stage_seconds"] = stage_s
    return counters
