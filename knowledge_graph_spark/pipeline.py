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
from .operators.components import canonical_mapping
from .operators.extraction import (
    entities_table, extract, relations_table, triples_table,
)
from .operators.linking import same_as_edges
from .sources.lake import LakeTable


def default_graph_id() -> str:
    """graph_%Y%m%d%H%M%S, reference kg_writer.py:262."""
    return time.strftime("graph_%Y%m%d%H%M%S")


# url-hash buckets for partition-scoped commits on url-keyed tables.
# Sized so one bucket ≈ one comfortable rewrite unit; at production
# scale raise it with table size (Iceberg: bucket(N, url)) — an
# incremental batch then rewrites only the buckets its urls hash into.
N_URL_BUCKETS = 16


def with_url_bucket(df: DataFrame, buckets: int = N_URL_BUCKETS) -> DataFrame:
    return df.withColumn(
        "url_bucket", F.pmod(F.xxhash64("url"), F.lit(buckets)).cast("int")
    )


def _graph_rows(table: LakeTable, graph_id: str) -> int:
    """Rows belonging to one graph, answered from the manifest's
    per-partition counters — zero Spark jobs."""
    entry = table.current_entry() or {}
    rows = entry.get("partition_rows")
    if rows is None:
        return entry.get("rows", 0)
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
    extraction table replaces rows per url (MERGE update) so changed
    pages re-extract while the graph MERGE keeps reference semantics —
    node rows update, existing edge properties persist (ON CREATE).
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
    graph it is. The critical chain is the nodes commit -> linking
    (``same_as``) -> the canonical overwrite of the node partition; it
    starts as soon as the nodes land. Side work reads only the
    committed extraction and runs beside the chain on driver threads:
    the triples overwrite, the edges and dropped commits, the counter
    aggregate, and (multi-graph warehouses only) the scoped page
    count. All of it is joined before ``vacuum``; an exception in any
    task surfaces from this call. ``stage_seconds`` holds each stage's
    own elapsed time (``materialize`` excludes the chain it carries),
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
    t0 = time.time()
    bid = f"{graph_id}{sfx}/extracted"
    if bid not in warehouse.extracted.applied_batches():
        extracted = extract(pages, partitions=partitions)
        # url-keyed MERGE, partitioned by url-hash bucket: a re-crawl
        # batch rewrites only the buckets its urls land in; the rest of
        # the table is carried forward by manifest reference. The lake
        # layer re-buckets by partition key for the write, so no extra
        # repartition here. On update batches the merge consumes its
        # input twice (touched-key discovery + write) — persist so the
        # NLP pass runs exactly once; the first batch is a single-pass
        # snapshot write.
        upd = with_url_bucket(extracted)
        is_update = warehouse.extracted.exists()
        # the first batch can write every bucket: declaring them sizes
        # the write's fan-out by the key count (one writer per bucket,
        # see LakeTable._persist) instead of WRITE_SALT per bucket
        touched = [str(b) for b in range(N_URL_BUCKETS)]
        if is_update:
            upd = upd.persist()
            # url_bucket is a pure function of the merge key, so the
            # batch's distinct buckets are EXACTLY the partitions this
            # merge can write or delete — declare them, or the lake
            # layer (whose _match_subset sees no common column between
            # ['url'] and ['url_bucket']) conservatively rewrites every
            # bucket, turning each update batch into a full-table rewrite
            touched = [
                str(r[0]) for r in upd.select("url_bucket").distinct().collect()
            ]
        warehouse.extracted.merge_into(
            upd, on=["url"], when_matched="update", batch_id=bid,
            partition_by=["url_bucket"], touched_keys=touched,
        )
        if is_update:
            upd.unpersist()
    extracted = warehouse.extracted.read(spark)

    # ---- graph scope -------------------------------------------------
    # The extracted table is SHARED url-keyed storage (a url's extraction
    # is computed once, reused by every graph) — but a graph is defined
    # by the pages handed to ITS runs (reference: one extraction run =
    # one graph). When ANOTHER graph has ever written extraction into
    # this warehouse, scope stages 2-4 to this graph's accumulated url
    # set: this batch's urls ∪ urls already materialized for the graph.
    # The check is pure metadata, from TWO durable signals:
    # - the nodes table's partition keys (every graph ever materialized
    #   — survives manifest vacuuming for as long as the graph lives),
    # - extraction batch ids ({graph_id}[@suffix]/extracted), which
    #   cover the crash window where a foreign FIRST run committed
    #   extraction but died before materializing any node partition.
    # A single-graph warehouse (the bulk path) never pays the scope join.
    nodes_entry = warehouse.nodes.current_entry() if warehouse.nodes.exists() else None
    foreign = set((nodes_entry or {}).get("partition_dirs") or {})
    foreign |= {
        bid.split("/", 1)[0].split("@", 1)[0]
        for bid in warehouse.extracted.applied_batches()
        if bid.endswith("/extracted") and not bid.startswith("stream/")
    }
    foreign -= {graph_id}
    if foreign:
        scope = pages.select("url").distinct()
        prior = (warehouse.nodes.read_partitions(spark, [graph_id])
                 if warehouse.nodes.exists() else None)
        if prior is not None:
            scope = scope.unionByName(prior.select("url")).distinct()
        extracted = extracted.join(scope, on="url", how="left_semi")

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
        # graph-scoped partition: the same_as table is shared by every
        # graph in the warehouse, so a plain overwrite() would let this
        # run clobber another graph's links — and a crash-resume (the
        # same_as batch already applied, canonical not) would then
        # canonicalize THIS graph with whatever graph wrote last
        links = same_as_edges(names).withColumn("graph_id", F.lit(graph_id))
        warehouse.same_as.overwrite_partitions(
            links, partition_by=["graph_id"],
            batch_id=f"{graph_id}{sfx}/same_as", touched_keys=[graph_id],
        )
        chain_s["linking"] = time.time() - t0
        t0 = time.time()
        # read back THIS graph's partition (authoritative on resume);
        # a linkless graph writes no partition dir — fall back to the
        # in-hand (empty) frame
        g_links = warehouse.same_as.read_partitions(spark, [graph_id])
        mapping = canonical_mapping(
            g_links if g_links is not None else links)
        linked["linked_names"] = mapping.count()
        canon = g_nodes.join(F.broadcast(mapping), on="name", how="left").withColumn(
            "canonical_id", F.coalesce("canonical_name", "name")
        ).drop("canonical_name")
        # dynamic partition overwrite: canon IS the full refreshed
        # content of this graph's partition — replace it wholesale
        # (no read-back anti-join); other graphs' partitions carried
        warehouse.nodes.overwrite_partitions(
            canon, partition_by=["graph_id"],
            batch_id=f"{graph_id}{sfx}/canonical", touched_keys=[graph_id],
        )
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
            trip = with_url_bucket(
                triples_table(extracted).withColumn("graph_id", F.lit(graph_id))
            )
            # dynamic partition overwrite: the stage regenerates this
            # graph's FULL triple set, so its partitions are replaced
            # wholesale — no read of the old rows, no anti-join; other
            # graphs' files are never touched. Touched keys are
            # declared (this graph x every bucket) so no discovery job
            # runs either.
            warehouse.triples.overwrite_partitions(
                trip, partition_by=["graph_id", "url_bucket"], batch_id=tbid,
                touched_keys=[f"{graph_id}|{b}" for b in range(N_URL_BUCKETS)],
            )
        counters["triples"] = _graph_rows(warehouse.triples, graph_id)
        stage_s["triples"] = round(time.time() - t0, 2)

        # Graph totals: on the single-graph bulk path the table IS the
        # graph, so the count comes free from the manifest (stamped at
        # commit). In a multi-graph warehouse the shared table
        # over-counts — the graph's page count is the scoped frame's
        # row count (urls are unique after the merge), worth one cheap
        # scan on that rare path.
        if foreign:
            counters["pages"] = extracted.count()
        else:
            counters["pages"] = (
                warehouse.extracted.current_entry() or {}).get("rows", 0)

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
