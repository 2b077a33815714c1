# -*- coding: utf-8 -*-
"""Month-scale manifest-folding evidence (VERDICT r3 item #6): run
100+ micro-batches through the streaming ingest (each one a
``run_pipeline`` update batch, which vacuums every table with
``keep_last=2``), and show that

- lineage length stays O(keep_last), NOT O(batches);
- ``applied_batches()`` (the per-commit idempotence probe every merge
  pays) stays flat-cost as total batches grow;
- the manifest file itself stays bounded (the folded batch-id archive
  is capped at ``ARCHIVE_KEEP``).

Files are dropped in stages of ``stage`` batches; after each stage the
``availableNow`` stream drains them (one file per trigger, the same
path as tools/stream_bench.py) and the triples table's manifest is
sampled. The checkpoint persists across stages, so this is ONE logical
stream resumed 15 times — exactly a long-running ingest's life cycle.

Usage: python tools/manifest_bench.py [total_batches] [pages_per_batch] [stage]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    total = int(sys.argv[1]) if len(sys.argv) > 1 else 120
    per_batch = int(sys.argv[2]) if len(sys.argv) > 2 else 150
    stage = int(sys.argv[3]) if len(sys.argv) > 3 else 8

    from pyspark.sql import functions as F

    from knowledge_graph_spark.pipeline import KGWarehouse
    from knowledge_graph_spark.session import get_spark
    from knowledge_graph_spark.sources.pages import generate_spark
    from knowledge_graph_spark.streaming.ingest import (
        read_pages_stream, start_kg_ingest,
    )

    spark = get_spark(app="manifest-bench")
    root = tempfile.mkdtemp(prefix="manifest_bench_")
    staging = f"{root}/staging"
    drops = f"{root}/drops"
    os.makedirs(drops, exist_ok=True)

    all_pages = generate_spark(spark, total * per_batch, partitions=8)
    idx = F.substring(F.col("url"), -13, 8).cast("int")
    for b in range(total):
        lo, hi = b * per_batch, (b + 1) * per_batch
        all_pages.filter((idx >= lo) & (idx < hi)).coalesce(1) \
            .write.mode("overwrite").parquet(f"{staging}/b{b:03d}.parquet")

    wh = KGWarehouse(f"{root}/wh")
    samples = []
    done = 0
    while done < total:
        n = min(stage, total - done)
        for b in range(done, done + n):
            shutil.move(f"{staging}/b{b:03d}.parquet",
                        f"{drops}/b{b:03d}.parquet")
        t0 = time.time()
        q = start_kg_ingest(
            read_pages_stream(spark, drops + "/*", max_files_per_trigger=1),
            wh, f"{root}/ck", graph_id="gm",
        )
        q.awaitTermination(900)
        wall = time.time() - t0
        done += n
        t1 = time.time()
        applied = wh.triples.applied_batches()
        applied_ms = (time.time() - t1) * 1000
        manifest = os.path.join(wh.triples.dir, "_manifest.json")
        samples.append({
            "batches_done": done,
            "stage_wall_s": round(wall, 2),
            "per_batch_s": round(wall / n, 2),
            "lineage_len": len(wh.triples.history()),
            "applied_batches_ms": round(applied_ms, 2),
            "applied_ids": len(applied),
            "manifest_bytes": os.path.getsize(manifest),
        })
        print(json.dumps(samples[-1]), flush=True)

    lineage_max = max(s["lineage_len"] for s in samples)
    # per stream trigger the triples table sees ONE commit, and the
    # run's vacuum folds its lineage to keep_last=2 before returning
    bound = 2
    mid = len(samples) // 2
    tail_ms = sum(s["applied_batches_ms"] for s in samples[mid:]) / (
        len(samples) - mid)
    head_ms = sum(s["applied_batches_ms"] for s in samples[:mid]) / mid
    out = {
        "total_batches": total,
        "pages_per_batch": per_batch,
        "samples": samples,
        "lineage_len_max": lineage_max,
        "lineage_bound_ok": lineage_max <= bound,
        "applied_ms_head_avg": round(head_ms, 2),
        "applied_ms_tail_avg": round(tail_ms, 2),
        "manifest_bytes_last": samples[-1]["manifest_bytes"],
    }
    print(json.dumps(out))
    spark.stop()
    if not out["lineage_bound_ok"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
