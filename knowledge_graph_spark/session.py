# -*- coding: utf-8 -*-
"""SparkSession factory with the engine's standard configuration.

AQE + Arrow on, shuffle partitions sized to cores (not the 200
default), UTC timezone pinned for DuckDB-oracle comparability.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half of host memory (``MemTotal`` in /proc/meminfo), capped at
    16g: a fixed 16g asks a small host for more than it has. 16g where
    /proc/meminfo is absent (non-Linux hosts)."""
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(line.split()[1]) for line in f
                       if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "16g"
    return f"{min(16 * 1024, kib // 2048)}m"


def get_spark(
    app: str = "knowledge_graph_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    import re

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # parallelism implied by the master string when it carries one
    # (local[8], local[4,2]); cluster masters ('yarn',
    # 'spark://host:7077') and bare 'local' carry none — fall back to
    # the host cpu count instead of crashing on int('yarn')
    m = re.fullmatch(r"local\[(\d+)(?:,\d+)?\]", master)
    par = int(m.group(1)) if m else cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or par))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # measured sweep (100k-page extract stage): 2048 -> 10.0 s,
        # 8192 -> 7.7 s, 16384 -> 5.4-6.1 s; per-batch pandas/Arrow
        # framing dominates below ~16k rows. ~50 MB of page html per
        # batch per worker — fits standard 8 GB executors
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def job_description(spark: SparkSession, description: str | None):
    """Describe the Spark jobs this thread starts inside the block, so
    the event log and the status store say which stage each job
    served; the caller's description comes back after. The property is
    thread-local: concurrent threads describe their own jobs. None
    keeps the caller's description."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    if description:
        sc.setJobDescription(description)
    try:
        yield
    finally:
        sc.setJobDescription(prev)
