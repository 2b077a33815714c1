# -*- coding: utf-8 -*-
"""Structured-Streaming ingest: incremental micro-batch KG building
equals the one-shot batch result; windowed event aggregation works with
watermarks."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from knowledge_graph_spark.pipeline import KGWarehouse, run_pipeline
from knowledge_graph_spark.sources.pages import generate_spark
from knowledge_graph_spark.streaming.ingest import (
    read_pages_stream, start_kg_ingest, windowed_event_counts,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def test_stream_ingest_matches_batch(spark, tmp_path):
    """Drop pages as two parquet files; the stream must MERGE the same
    triples/nodes/edges as a one-shot batch run over all pages."""
    drop_dir = str(tmp_path / "drops")
    pages = generate_spark(spark, 60, partitions=2).cache()
    pages.filter(F.crc32("url") % 2 == 0).write.parquet(
        f"{drop_dir}/batch_a.parquet"
    )
    pages.filter(F.crc32("url") % 2 == 1).write.parquet(
        f"{drop_dir}/batch_b.parquet"
    )

    wh_stream = KGWarehouse(str(tmp_path / "wh_stream"))
    q = start_kg_ingest(
        read_pages_stream(spark, drop_dir + "/*", max_files_per_trigger=1),
        wh_stream, str(tmp_path / "ckpt"), graph_id="gs",
    )
    q.awaitTermination(300)

    wh_batch = KGWarehouse(str(tmp_path / "wh_batch"))
    run_pipeline(spark, pages, wh_batch, graph_id="gs", link_entities=False)

    def triples_set(wh):
        return {
            (r["url"], r["subj"], r["pred"], r["obj"])
            for r in wh.triples.read(spark).collect()
        }

    assert triples_set(wh_stream) == triples_set(wh_batch)
    assert (
        wh_stream.nodes.read(spark).count()
        == wh_batch.nodes.read(spark).count()
    )
    # lineage recorded one batch id per micro-batch
    assert len(wh_stream.nodes.history()) >= 2


def test_windowed_event_counts_batch_semantics(spark):
    """The windowed aggregation is testable in batch mode (same plan,
    no watermark dropping when data is static)."""
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = windowed_event_counts(events, window="6 hours")
    rows = out.collect()
    assert rows
    assert sum(r["n_events"] for r in rows) == events.count()
    for r in rows:
        assert (r["window_end"] - r["window_start"]).total_seconds() == 6 * 3600


def test_stream_restart_is_idempotent(spark, tmp_path):
    """Re-running the stream over the same directory (fresh checkpoint,
    same batch ids) must not duplicate rows — LakeTable idempotence."""
    drop_dir = str(tmp_path / "drops")
    pages = generate_spark(spark, 30, partitions=1)
    pages.write.parquet(f"{drop_dir}/batch_a.parquet")

    wh = KGWarehouse(str(tmp_path / "wh"))
    for ckpt in ("c1", "c2"):  # second run replays micro-batch 0
        q = start_kg_ingest(
            read_pages_stream(spark, drop_dir + "/*"),
            wh, str(tmp_path / ckpt), graph_id="gs",
        )
        q.awaitTermination(300)
    urls = wh.triples.read(spark).select("url", "subj", "pred", "obj")
    assert urls.count() == urls.distinct().count()


def test_stream_recrawl_replaces_rows(spark, tmp_path):
    """A url re-crawled in a later micro-batch REPLACES its extraction
    and triple rows (url-keyed merge) — no duplicate extraction rows,
    no stale triples (ADVICE r1 medium)."""
    drop_dir = str(tmp_path / "drops")
    pages = generate_spark(spark, 20, partitions=1).cache()
    pages.write.parquet(f"{drop_dir}/batch_a.parquet")

    wh = KGWarehouse(str(tmp_path / "wh"))
    q = start_kg_ingest(read_pages_stream(spark, drop_dir + "/*"),
                        wh, str(tmp_path / "c1"), graph_id="gs")
    q.awaitTermination(300)

    # re-crawl the same urls with different content in a second drop
    pages.withColumn(
        "text", F.concat(F.coalesce("text", F.lit("")), F.lit("华星科技公司收购九州网络公司。"))
    ).write.parquet(f"{drop_dir}/batch_b.parquet")
    q = start_kg_ingest(read_pages_stream(spark, drop_dir + "/*"),
                        wh, str(tmp_path / "c1"), graph_id="gs")
    q.awaitTermination(300)

    ext = wh.extracted.read(spark)
    assert ext.count() == ext.select("url").distinct().count() == 20
    # all extraction rows reflect the NEW content
    assert ext.filter(F.col("text").contains("华星科技公司收购九州网络公司")).count() == 20
    # triples contain the new relation and no url has rows from both crawls
    trips = wh.triples.read(spark)
    assert trips.filter(
        (F.col("subj") == "华星科技公司") & (F.col("pred") == "acquire")
    ).count() >= 1


def test_watermark_drops_late_rows(spark, tmp_path):
    """True streaming runs (writeStream, append mode): a row older than
    the watermark arriving in a LATER micro-batch must not resurrect
    its window; only windows the watermark has passed are emitted.
    Two checkpoint-continuation runs make the batch boundary (and hence
    the watermark at the late row's arrival) deterministic — the
    watermark survives restart via the checkpoint commit log."""
    import datetime as dt

    drop_dir = str(tmp_path / "ev")
    schema = ("event_id long, ts timestamp, user_id string, "
              "event_type string, value double")

    def ev(i, hour, minute=0):
        return (i, dt.datetime(2024, 1, 1, hour, minute), "u1", "click", 1.0)

    def run_once(name):
        emitted: list = []

        def sink(batch_df, _bid):
            emitted.extend(batch_df.collect())

        stream = spark.readStream.schema(schema).parquet(drop_dir + "/*")
        out = windowed_event_counts(stream, window="1 hour",
                                    watermark="30 minutes")
        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        return {r["window_start"].hour: r["n_events"] for r in emitted}

    # run 1: on-time rows up to 11:05 -> watermark 10:35 at commit
    spark.createDataFrame([ev(1, 10), ev(2, 10, 20), ev(3, 11, 5)], schema) \
        .coalesce(1).write.parquet(f"{drop_dir}/b0.parquet")
    first = run_once("wm_run1")
    assert 10 not in first  # window end 11:00 > watermark 10:35: open

    # run 2: one LATE row (08:00 < watermark) + one fresh row (13:00)
    spark.createDataFrame([ev(4, 8), ev(5, 13)], schema) \
        .coalesce(1).write.parquet(f"{drop_dir}/b1.parquet")
    rows = run_once("wm_run2")
    # watermark advanced to 12:30: the 10:00 window closes with its TWO
    # on-time rows — the late 08:00 row neither resurrects its own
    # window nor contaminates others
    assert rows.get(10) == 2
    assert 8 not in rows
    # windows not yet passed by the watermark (13:00) stay unemitted
    assert 13 not in rows


def test_stream_equals_batch_in_every_table(spark, tmp_path):
    """Every micro-batch is a run_pipeline update batch, so three page
    drops and a later re-crawl drop land exactly the rows of a batch
    build plus a batch re-crawl update, in every table: linking on, so
    canonical ids and same_as links included."""
    from kgbench.checks import content_hash

    drop_dir = str(tmp_path / "drops")
    pages = generate_spark(spark, 90, partitions=2).cache()
    for i in range(3):
        pages.filter(F.crc32("url") % 3 == i).write.parquet(
            f"{drop_dir}/d{i}.parquet")
    recrawl = pages.filter(F.crc32("url") % 5 == 0).withColumn(
        "text", F.concat(F.coalesce("text", F.lit("")),
                         F.lit("华星科技公司收购九州网络公司。")))

    wh_stream = KGWarehouse(str(tmp_path / "wh_stream"))

    def drain():
        q = start_kg_ingest(
            read_pages_stream(spark, drop_dir + "/*", max_files_per_trigger=1),
            wh_stream, str(tmp_path / "ckpt"), graph_id="gs")
        q.awaitTermination(300)

    drain()
    recrawl.write.parquet(f"{drop_dir}/recrawl.parquet")
    drain()

    wh_batch = KGWarehouse(str(tmp_path / "wh_batch"))
    run_pipeline(spark, pages, wh_batch, graph_id="gs")
    run_pipeline(spark, recrawl, wh_batch, graph_id="gs", batch_suffix="r1")

    for name in ("extracted", "triples", "nodes", "edges", "dropped",
                 "same_as"):
        got = content_hash(getattr(wh_stream, name).read(spark))
        want = content_hash(getattr(wh_batch, name).read(spark))
        assert got == want, name
        assert got[0] > 0, name
    nodes = wh_stream.nodes.read(spark)
    assert nodes.filter(F.col("canonical_id") != F.col("name")).count() > 0


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """A duplicate content hash arriving in a later micro-batch within
    the watermark horizon is dropped; distinct content passes. State is
    keyed by content hash (bounded), not by body."""
    import datetime as dt

    from knowledge_graph_spark.streaming.ingest import streaming_dedup

    drop_dir = str(tmp_path / "pages")
    schema = "url string, warc_ts timestamp, text string"

    def pg(url, minute, text):
        return (url, dt.datetime(2024, 1, 1, 10, minute), text)

    emitted: list = []

    def run_once():
        def sink(batch_df, _bid):
            emitted.extend(batch_df.collect())

        stream = spark.readStream.schema(schema).parquet(drop_dir + "/*")
        q = (
            streaming_dedup(stream, watermark="1 hour")
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)

    spark.createDataFrame(
        [pg("u/a", 0, "alpha body"), pg("u/b", 1, "beta body")], schema
    ).coalesce(1).write.parquet(f"{drop_dir}/b0.parquet")
    run_once()
    assert sorted(r["url"] for r in emitted) == ["u/a", "u/b"]

    # batch 2: mirror re-sends alpha under a new url (same content,
    # inside the horizon) + one genuinely new page
    spark.createDataFrame(
        [pg("u/a2", 5, "alpha body"), pg("u/c", 6, "gamma body")], schema
    ).coalesce(1).write.parquet(f"{drop_dir}/b1.parquet")
    run_once()
    urls = sorted(r["url"] for r in emitted)
    assert "u/c" in urls and "u/a2" not in urls
    # output schema untouched (hash column is internal state only)
    assert set(emitted[0].asDict()) == {"url", "warc_ts", "text"}


def test_streaming_dedup_rejects_hash_column_collision(spark):
    import pytest as _pytest

    from knowledge_graph_spark.streaming.ingest import streaming_dedup

    df = spark.createDataFrame(
        [("u", "t", "h")], "url string, text string, _content_hash string")
    with _pytest.raises(ValueError):
        streaming_dedup(df)


def test_streaming_dedup_null_text_pages_survive(spark, tmp_path):
    """Held-out pages ship text = NULL (content lives in html). NULL
    keys group together in dropDuplicates, so hashing text alone would
    keep only the FIRST held-out page per horizon — the hash must fall
    back to the html bytes, keeping distinct held-out pages and still
    dropping a true duplicate (same html re-sent)."""
    import datetime as dt

    from knowledge_graph_spark.streaming.ingest import streaming_dedup

    drop_dir = str(tmp_path / "pages")
    schema = "url string, warc_ts timestamp, text string, html binary"

    def pg(url, minute, text, html):
        return (url, dt.datetime(2024, 1, 1, 10, minute), text, html)

    emitted: list = []

    def sink(batch_df, _bid):
        emitted.extend(batch_df.collect())

    spark.createDataFrame(
        [pg("u/h1", 0, None, b"<p>one</p>"),
         pg("u/h2", 1, None, b"<p>two</p>"),
         pg("u/h1dup", 2, None, b"<p>one</p>"),
         pg("u/t1", 3, "visible text", b"<p>x</p>")], schema
    ).coalesce(1).write.parquet(f"{drop_dir}/b0.parquet")
    stream = spark.readStream.schema(schema).parquet(drop_dir + "/*")
    q = (
        streaming_dedup(stream, watermark="1 hour")
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    urls = sorted(r["url"] for r in emitted)
    assert "u/h1" in urls and "u/h2" in urls and "u/t1" in urls
    assert "u/h1dup" not in urls


def test_streaming_dedup_contentless_key_is_replay_stable(spark):
    """Rows with no url column and no content (text and html NULL) are
    keyed by a hash of the whole row: re-evaluating the same rows — a
    replayed micro-batch — derives the same keys (a per-row uuid()
    did not), and distinct rows keep distinct keys."""
    import datetime as dt

    from knowledge_graph_spark.streaming.ingest import _dedup_key

    rows = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 10, m), None, None) for m in range(3)],
        "warc_ts timestamp, text string, html binary")
    keyed = rows.select("warc_ts", _dedup_key(rows, "text", "html").alias("k"))

    def keys():
        return sorted((r["warc_ts"], r["k"]) for r in keyed.collect())

    first = keys()
    assert first == keys()
    assert len({k for _, k in first}) == 3 and all(k for _, k in first)
