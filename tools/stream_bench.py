# -*- coding: utf-8 -*-
"""Streaming-ingest cost per micro-batch as the graph grows.

Feeds B equal-sized page drops (disjoint url ranges) through the
Structured-Streaming ingest (streaming/ingest.py), one drop per
trigger, into one graph, and prints each micro-batch's wall seconds.
Every micro-batch is a ``run_pipeline`` update batch, so the series
grows with the graph: each batch re-links the graph's whole vocabulary
and rewrites the url buckets its pages hash into (with random urls,
every bucket).

Usage: python tools/stream_bench.py [batches] [pages_per_batch]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    per_batch = int(sys.argv[2]) if len(sys.argv) > 2 else 3000

    from pyspark.sql import functions as F

    from knowledge_graph_spark.pipeline import KGWarehouse
    from knowledge_graph_spark.session import get_spark
    from knowledge_graph_spark.sources.pages import generate_spark
    from knowledge_graph_spark.streaming.ingest import (
        read_pages_stream, start_kg_ingest,
    )

    spark = get_spark(app="stream-bench")
    root = tempfile.mkdtemp(prefix="stream_bench_")

    # disjoint url ranges per drop -> the graph grows every batch.
    # urls embed the page index (articles/{idx:08d}.html), so each
    # drop is an index-range filter over the deterministic generator.
    drops = f"{root}/drops"
    all_pages = generate_spark(spark, n_batches * per_batch, partitions=8)
    idx = F.substring(F.col("url"), -13, 8).cast("int")
    for b in range(n_batches):
        lo, hi = b * per_batch, (b + 1) * per_batch
        all_pages.filter((idx >= lo) & (idx < hi)).coalesce(1) \
            .write.mode("overwrite").parquet(f"{drops}/b{b:03d}.parquet")

    wh = KGWarehouse(f"{root}/wh")
    q = start_kg_ingest(
        read_pages_stream(spark, drops + "/*", max_files_per_trigger=1),
        wh, f"{root}/ck", graph_id="gs",
    )
    q.awaitTermination(1800)
    secs = [
        round(p["batchDuration"] / 1000.0, 2)
        for p in q.recentProgress if p["numInputRows"] > 0
    ]
    print(json.dumps({
        "batches": n_batches,
        "pages_per_batch": per_batch,
        "stream_batch_secs": secs,
        "first_vs_last": round(secs[-1] / secs[0], 2) if secs else None,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
