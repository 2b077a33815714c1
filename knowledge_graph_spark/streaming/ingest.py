# -*- coding: utf-8 -*-
"""Structured-Streaming incremental KG ingestion.

The reference's "自动化...更新" (automated update) semantics are batch
re-runs with per-row Neo4j MERGE (/root/reference/backend/kgapi/
kg_writer.py:24,56 — MERGE = idempotent re-apply). The scale-correct
equivalent is a micro-batch stream: new page files land in a directory
(the Iceberg-commit stand-in), and ``foreachBatch`` hands each
micro-batch to ``run_pipeline`` as one update batch of the graph. A
streamed graph is therefore built exactly as a batch-built one:
extraction, linking and canonical ids, the MERGE..SET nodes and ON
CREATE edges, the re-derived dropped relations, a vacuum per run, and
resume by batch id — exactly-once table state on top of Spark's
at-least-once micro-batch replay.

Also provides the classic streaming-analytics surface over the
``events`` table shape: watermarked sliding-window aggregation
(readStream -> withWatermark -> groupBy(window) -> writeStream).

Scale notes:
- ``maxFilesPerTrigger`` bounds micro-batch size so extraction cost per
  trigger is predictable; the commits are copy-on-write, so a
  micro-batch costs O(graph) like any update batch;
- checkpointLocation + LakeTable batch ids make crash/replay safe from
  both ends (source offsets AND sink idempotence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources.pages import PAGES_SCHEMA


def read_pages_stream(
    spark: SparkSession, directory: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream of page parquet drops (Iceberg-commit stand-in)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(directory)
    )


def start_kg_ingest(
    pages_stream: DataFrame,
    warehouse,
    checkpoint_dir: str,
    user_id: str = "user_001",
    graph_id: str = "graph_stream",
):
    """pages stream -> one ``run_pipeline`` update batch per micro-batch.

    Returns the StreamingQuery. Each non-empty micro-batch keeps the
    newest crawl per url and calls ``run_pipeline(..., batch_suffix=
    "stream-<fingerprint>")``, so its batch ids are
    ``{graph_id}@stream-<fingerprint>/<stage>``. Commits are
    copy-on-write and apply in stream order, so a url re-crawled in a
    later micro-batch replaces its rows, and a replayed micro-batch
    skips every stage by batch id.

    Batch identity is a CONTENT fingerprint (order-insensitive xxhash64
    over the batch's (url, warc_ts, text, html) rows — a re-crawl with
    changed content is a NEW batch), not the bare epoch number:
    Spark's epoch counter restarts at 0 with a fresh
    ``checkpoint_dir``, and an epoch-keyed id would then collide with
    the warehouse's already-applied batches — every early micro-batch
    of NEW data silently skipped as a replay (data loss). With content
    ids, a replay of the same drop skips under ANY checkpoint (the
    restart-idempotence contract), while new data always applies.
    """
    from ..pipeline import run_pipeline

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # one trigger can deliver the same url twice (two file drops in
        # one batch): keep the newest crawl, as run_pipeline's input
        # must be url-unique. Dedup BEFORE the content fingerprint: xor
        # over a multiset self-cancels duplicate rows, so {A, A, B}
        # would collide with an already-applied {B} batch and rows A
        # would be skipped as a replay — silent data loss. Over the
        # url-unique frame the xor fold is duplication-free.
        w = Window.partitionBy("url").orderBy(F.desc("warc_ts"))
        batch_df = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn")
        )
        sig = batch_df.agg(
            F.expr("bit_xor(xxhash64(url, warc_ts, text, html))").alias("s")
        ).first()["s"]
        run_pipeline(batch_df.sparkSession, batch_df, warehouse,
                     graph_id=graph_id, user_id=user_id,
                     batch_suffix=f"stream-{sig & 0xFFFFFFFFFFFFFFFF:016x}")

    return (
        pages_stream.writeStream
        .foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked (sliding) window aggregation over the events shape
    (event_id, ts, user_id, event_type, value). Late rows beyond the
    watermark are dropped; state is bounded by watermark horizon."""
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n_events", "total_value",
        )
    )


def _dedup_key(pages: DataFrame, content_col: str,
               fallback_col: str | None):
    """streaming_dedup's state key: a pure function of the row, so a
    replayed micro-batch derives the same keys."""
    content = F.col(content_col).cast("binary")
    if fallback_col and fallback_col in pages.columns:
        content = F.coalesce(content, F.col(fallback_col).cast("binary"))
    ch = F.sha2(content, 256)
    # content-LESS rows (both text and html NULL — failed fetches,
    # redirect records) hash to NULL, and dropDuplicates groups NULL
    # keys together: every such row in a horizon would collapse to
    # one. Key them by url instead (distinct urls survive; a same-url
    # resend still dedupes), or, when no url column exists, by a hash
    # of the whole row (distinct rows survive; a replayed micro-batch
    # re-derives the same key, which a per-row uuid() would not).
    if "url" in pages.columns:
        fallback_key = F.concat(F.lit("nullcontent:"), F.col("url"))
    else:
        row = F.to_json(F.struct(*[pages[c] for c in pages.columns]))
        fallback_key = F.concat(F.lit("nullrow:"), F.sha2(row, 256))
    return F.coalesce(ch, fallback_key)


def streaming_dedup(
    pages_stream: DataFrame, watermark: str = "1 hour",
    ts_col: str = "warc_ts", content_col: str = "text",
    fallback_col: str | None = "html",
) -> DataFrame:
    """Streaming exact-content dedup: drop a page whose content hash
    was already seen within the watermark horizon (re-crawls, mirror
    hosts, duplicate submissions in the drop directory).

    Built on ``dropDuplicatesWithinWatermark`` so the dedup state store
    is BOUNDED — a key is forgotten once the watermark passes it, which
    is the only viable contract for an unbounded crawl stream (an
    unwatermarked dropDuplicates grows state forever). Cross-horizon
    duplicates are the batch operators' job (the MERGE keys make
    re-applying them idempotent anyway). The state key is the 256-bit
    content hash, not the body, so per-key state is ~100 bytes.

    NULL-content rows (the held-out slice ships ``text = NULL`` to be
    recovered from html) hash their ``fallback_col`` instead —
    dropDuplicates groups NULL keys together, so hashing the text
    column alone would keep only the FIRST held-out page per horizon
    and silently discard every other one as a "duplicate"."""
    if "_content_hash" in pages_stream.columns:
        raise ValueError(
            "input already has a _content_hash column; streaming_dedup "
            "would silently overwrite and drop it")
    hashed = pages_stream.withColumn(
        "_content_hash", _dedup_key(pages_stream, content_col, fallback_col))
    return (
        hashed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_content_hash"])
        .drop("_content_hash")
    )
