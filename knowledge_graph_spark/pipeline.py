# -*- coding: utf-8 -*-
"""End-to-end KG construction pipeline (the spark-submit job).

pages -> html2text+extract -> triples -> entity linking ->
canonicalization -> MERGE INTO nodes/edges — reproducing the
reference's three-stage dataflow (extractor.py __main__ ->
extracted_result.json -> kg_writer.main -> Neo4j; SURVEY.md §0) as one
checkpointed Spark job.

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
edges, dropped relations, triples, linked names, stage seconds) to its
caller — the "per-partition lineage + counters" metrics surface.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators import graph_build
from .operators.components import canonical_mapping, local_canonical_mapping
from .operators.extraction import (
    entities_table, extract, relations_table, triples_table,
)
from .operators.linking import same_as_edges, same_as_frame, same_as_local
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
    For high-frequency incremental ingestion use streaming/ingest.py,
    which processes only the new pages per micro-batch.

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
    graph it is. The critical chain is the nodes commit -> linking ->
    the canonical overwrite of the node partition; it starts as soon as
    the nodes land. Linking takes one of two paths, chosen by the
    graph's distinct-name count alone (``operators/linking.py``): up to
    ``_DRIVER_NAMES`` names, one collect puts the same_as pairs in hand
    on the driver, and the ``same_as`` commit runs on a side thread
    beside the canonical overwrite, whose mapping comes from the same
    pairs (no read-back, no second collect); above it, the Spark path
    commits ``same_as`` first and the canonical mapping reads it back.
    Side work reads only the committed extraction and runs beside the
    chain on driver threads: the triples overwrite, the edges and
    dropped commits and the counter aggregate. All of it is joined
    before ``vacuum``; an exception in any task surfaces from this
    call. ``stage_seconds`` holds each stage's own elapsed time
    (``materialize`` excludes the chain it carries; ``linking`` ends
    when the pairs are in hand, or on the Spark path when ``same_as``
    has committed, and ``canonicalize`` holds the rest of the chain),
    so the entries overlap and may sum to more than the wall time.
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
    g_keys = [f"{graph_id}|{b}" for b in range(N_URL_BUCKETS)]
    bid = f"{graph_id}{sfx}/extracted"
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

    # ---- stages 2-4: the linking chain, with side work beside it -----
    # Only one chain depends on another: linking reads the graph's
    # committed node partition and nothing else. It runs as the nodes
    # commit's continuation, while this thread runs the triples stage
    # and the edges/dropped commits run on materialize_graph's pool.
    linked: dict = {}
    chain_s: dict = {}

    def _link_and_canonicalize():
        t0 = time.time()
        # the manifest is the partition index: read ONLY this graph's
        # node partition, never the whole table. None = the graph has
        # no node partition (a zero-entity corpus): nothing to link —
        # skip the stage
        g_nodes = warehouse.nodes.read_partitions(spark, [graph_id])
        if g_nodes is None:
            linked["linked_names"] = 0
            return
        names = g_nodes.select("name")

        def commit_links(links):
            # graph-scoped partition: the same_as table is shared by
            # every graph in the warehouse, so a plain overwrite() would
            # let this run clobber another graph's links
            warehouse.same_as.overwrite_partitions(
                links.withColumn("graph_id", F.lit(graph_id)),
                partition_by=["graph_id"],
                batch_id=f"{graph_id}{sfx}/same_as", touched_keys=[graph_id],
            )

        def commit_canonical(mapping):
            canon = g_nodes.join(
                F.broadcast(mapping), on="name", how="left"
            ).withColumn(
                "canonical_id", F.coalesce("canonical_name", "name")
            ).drop("canonical_name")
            # dynamic partition overwrite: canon IS the full refreshed
            # content of this graph's partition — replace it wholesale
            # (no read-back anti-join); other graphs' partitions carried
            warehouse.nodes.overwrite_partitions(
                canon, partition_by=["graph_id"],
                batch_id=f"{graph_id}{sfx}/canonical", touched_keys=[graph_id],
            )

        # a small vocabulary links on the driver from one collect
        pairs = same_as_local(names)
        if pairs is None:
            links = same_as_edges(names)
            commit_links(links)
            chain_s["linking"] = time.time() - t0
            t0 = time.time()
            # read back THIS graph's partition: a crash-resume (the
            # same_as batch applied, canonical not) must canonicalize
            # with the committed links; a linkless graph writes no
            # partition dir — fall back to the in-hand (empty) frame
            g_links = warehouse.same_as.read_partitions(spark, [graph_id])
            mapping = canonical_mapping(
                g_links if g_links is not None else links)
            linked["linked_names"] = mapping.count()
            commit_canonical(mapping)
        else:
            chain_s["linking"] = time.time() - t0
            t0 = time.time()
            # both commits read the pairs in hand, not each other, so
            # they run side by side; recomputing the pairs on a resume
            # gives the committed ones, as they come from the same
            # committed node partition
            mapping, linked["linked_names"] = local_canonical_mapping(
                spark, [(a, b) for a, b, _ in pairs])
            with ThreadPoolExecutor(max_workers=1) as side:
                links_done = side.submit(
                    commit_links, same_as_frame(spark, pairs))
                commit_canonical(mapping)
                links_done.result()
        chain_s["canonicalize"] = time.time() - t0

    def _materialize():
        t0 = time.time()
        mat = graph_build.materialize_graph(
            extracted, warehouse.nodes, warehouse.edges, warehouse.dropped,
            graph_id=graph_id, user_id=user_id, batch_id=f"{graph_id}{sfx}",
            after_nodes=_link_and_canonicalize if link_entities else None,
        )
        return mat, time.time() - t0

    # materialize_graph (with the chain it carries) starts before the
    # triples stage below; Spark's FIFO scheduler serves whichever job
    # reaches it first. Holding the triples stage until the nodes had
    # landed was measured and was not faster: it then competes with
    # linking instead. The with-block joins the side work before
    # vacuum reclaims anything it reads, and every task's exception
    # surfaces here.
    with ThreadPoolExecutor(max_workers=1) as pool:
        mat_future = pool.submit(_materialize)

        # ---- triples (per-graph refresh, partition-scoped) ----------
        t0 = time.time()
        tbid = f"{graph_id}{sfx}/triples"
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
        counters["triples"] = _graph_rows(warehouse.triples, graph_id)
        stage_s["triples"] = round(time.time() - t0, 2)

        mat, mat_s = mat_future.result()
    counters.update(mat)
    counters.update(linked)
    # each stage's own elapsed time: the chain runs inside
    # materialize_graph, so materialize reports its time minus the chain's
    stage_s["materialize"] = round(mat_s - sum(chain_s.values()), 2)
    stage_s.update((st, round(v, 2)) for st, v in chain_s.items())

    # snapshot hygiene: expire superseded snapshots, keep one rollback
    # target per table (a month-long ingest would otherwise retain one
    # full table copy per stage per batch)
    warehouse.vacuum(keep_last=2)

    counters["stage_seconds"] = stage_s
    return counters
