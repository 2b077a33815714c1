#!/usr/bin/env python3
# -*- coding: utf-8 -*-
"""Paper-path benchmark: bulk build, re-crawl update, graph queries.

Run from the repository root:

    python3 kgbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

One Python process drives one local Spark engine in a closed loop: an
operation starts only after the previous one returned. Inputs come from
``sources/pages.generate_spark`` with ``--seed`` and are landed as
parquet during set-up. Every operation's output is checked (a failed
check counts the operation as failed). The last stdout line is the JSON
result; ``--trace 1`` reports the per-layer metrics instead of the
end-to-end ones. See README.md beside this file.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
RESULTS = os.path.join(HERE, "results")

# pinned engine memory: get_spark's 16g default exceeds small hosts. The
# heap is committed and touched at start (-Xms, AlwaysPreTouch) so the
# JVM's RSS does not follow the collector's grow/shrink decisions
DRIVER_MEM = "1g"
# input sizes (README.md, "Sizes")
BULK_PAGES = 2000
GRAPH_A_PAGES = 1000
GRAPH_B_PAGES = 250
RECRAWL_PAGES = GRAPH_A_PAGES // 50  # a 2% slice of graph A per update
RECRAWL_SLICES = 8
CHECK_SAMPLE = 64  # pages per operation compared with direct kernel calls
KERNEL_SAMPLE = 200  # pages of the single-core kernel probe
GRAPH_BULK, GRAPH_A, GRAPH_B = "kg", "gA", "gB"
USER_A, USER_B = "user_001", "user_002"
KEYWORD = "科技"

WORKLOADS = ("bulk_build", "recrawl_update")
STAGES = ("extract", "triples", "materialize", "linking", "canonicalize")
SPARK_LAYERS = ("extraction", "lake", "graph_build", "linking", "components", "queries")
SPARK_COUNTERS = ("jobs", "tasks", "task_cpu_s", "shuffle_read_mb",
                  "shuffle_write_mb", "spill_mb", "gc_s", "task_skew")


def prepare_env() -> None:
    """Everything the engine writes stays under WORK; Python workers
    find the package through PYTHONPATH wherever they are launched."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(WORK, d))
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    sys.path.insert(0, ROOT)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---- workloads ------------------------------------------------------------


class BulkBuild:
    """One operation: ``run_pipeline`` with linking into a fresh
    warehouse over the pre-landed page table."""

    def __init__(self, b: "Bench"):
        self.b = b
        self.last = None  # the newest warehouse, kept for the probes

    def setup(self) -> None:
        from knowledge_graph_spark.sources.pages import generate_spark

        b = self.b
        self.pages = b.land("pages_bulk", generate_spark(
            b.spark, BULK_PAGES, seed=b.seed, partitions=2 * b.cores))
        self.sample = b.sample_rows(self.pages, CHECK_SAMPLE)
        self.want = b.checks.kernel_triples(self.sample)
        self.ref = None
        res = self.op("warm")
        b.mark("warm-up build")
        self.check(res)
        b.mark("warm-up checked")

    def op(self, tag) -> dict:
        from knowledge_graph_spark.pipeline import KGWarehouse, run_pipeline

        wh = KGWarehouse(os.path.join(WORK, f"bulk-{tag}"))
        c = run_pipeline(self.b.spark, self.pages, wh, graph_id=GRAPH_BULK,
                         user_id=USER_A, partitions=self.b.cores)
        return {"wh": wh, "counters": c, "pages": BULK_PAGES, "triples": c["triples"]}

    def check(self, res: dict) -> None:
        ck, spark, wh = self.b.checks, self.b.spark, res["wh"]
        nodes = wh.nodes.read(spark)
        got = {
            "triples": ck.content_hash(wh.triples.read(spark)),
            "nodes": ck.content_hash(nodes),
            "edges": ck.content_hash(wh.edges.read(spark)),
            "dropped": ck.content_hash(wh.dropped.read(spark)),
        }
        ck.expect(got["triples"][0] == res["counters"]["triples"],
                  f"triples: {got['triples'][0]} rows, counter says "
                  f"{res['counters']['triples']}")
        ck.expect(got["triples"][0] > 0 and got["nodes"][0] > 0, "empty graph")
        ck.expect(nodes.filter("canonical_id IS NULL").count() == 0,
                  "nodes without canonical_id")
        if self.ref is None:
            self.ref = got
        for t, h in got.items():
            ck.expect(h == self.ref[t], f"{t}: hash {h} != first build {self.ref[t]}")
        urls = [r["url"] for r in self.sample]
        ck.same_triples(ck.spark_triples(wh.triples.read(spark), urls),
                        self.want, urls, "triples vs kernel")
        if self.last is not None:
            shutil.rmtree(self.last.root, ignore_errors=True)
        self.last = wh

    def reset(self) -> None:
        pass


class RecrawlUpdate:
    """One operation: an update batch into graph A with a fresh batch
    suffix, over a rotating 2% slice of graph A's urls whose content was
    re-generated with another seed.

    Set-up builds the two-graph, two-user warehouse: graph A (user_001),
    then graph B (user_002, disjoint pages). Graph B's build is the
    warm-up: it is the first run through the multi-graph scope path."""

    def __init__(self, b: "Bench"):
        self.b = b

    def setup(self) -> None:
        from pyspark.sql import functions as F
        from knowledge_graph_spark.pipeline import KGWarehouse, run_pipeline
        from knowledge_graph_spark.sources.pages import generate_spark

        b = self.b
        self.pages_a = b.land("pages_a", generate_spark(
            b.spark, GRAPH_A_PAGES, seed=b.seed, partitions=b.cores))
        pages_b = b.land("pages_b", generate_spark(
            b.spark, GRAPH_B_PAGES, seed=b.seed, partitions=b.cores,
            start=GRAPH_A_PAGES))
        self.wh = KGWarehouse(os.path.join(WORK, "fixture"))
        run_pipeline(b.spark, self.pages_a, self.wh, graph_id=GRAPH_A,
                     user_id=USER_A, partitions=b.cores)
        b.mark("built graph A")
        run_pipeline(b.spark, pages_b, self.wh, graph_id=GRAPH_B,
                     user_id=USER_B, partitions=b.cores)
        b.mark("built graph B")
        # same urls, new text: generate with a content seed per slice,
        # then put back graph A's url for the same page number (the
        # generator's host choice depends on the seed)
        page_no = F.regexp_extract("url", r"/articles/(\d+)\.html$", 1)
        urls = self.pages_a.select(F.col("url").alias("_url"), page_no.alias("_p"))
        parts = None
        for i in range(RECRAWL_SLICES):
            fresh = generate_spark(b.spark, RECRAWL_PAGES, seed=b.seed + 7919 * (i + 1),
                                   partitions=1, start=i * RECRAWL_PAGES)
            part = (fresh.withColumn("_p", page_no).join(urls, "_p")
                    .select(F.col("_url").alias("url"), "warc_ts", "html", "text", "lang")
                    .withColumn("slice", F.lit(i)))
            parts = part if parts is None else parts.unionByName(part)
        self.all_slices = slices = b.land("slices", parts, partition_by="slice")
        self.slices = [slices.filter(F.col("slice") == i).drop("slice")
                       for i in range(RECRAWL_SLICES)]
        rows = slices.collect()
        self.slice_rows = [[r for r in rows if r["slice"] == i]
                           for i in range(RECRAWL_SLICES)]
        for i, rs in enumerate(self.slice_rows):
            if len(rs) != RECRAWL_PAGES:
                raise RuntimeError(f"slice {i} landed {len(rs)} pages")
        self.want = [b.checks.kernel_triples(rs) for rs in self.slice_rows]
        self.state = self.hashes()
        b.mark("kernel reference and table hashes")

    def op(self, tag) -> dict:
        from knowledge_graph_spark.pipeline import run_pipeline

        i = tag % RECRAWL_SLICES
        c = run_pipeline(self.b.spark, self.slices[i], self.wh, graph_id=GRAPH_A,
                         user_id=USER_A, partitions=self.b.cores,
                         batch_suffix=f"r{tag}")
        # the triples stage rewrites graph A's whole triple set
        return {"slice": i, "counters": c, "pages": RECRAWL_PAGES, "triples": c["triples"]}

    def hashes(self) -> dict:
        """Per (graph_id, url) hashes of every graph table; nodes also
        without canonical_id, which relinking may legitimately move."""
        ck, spark, wh = self.b.checks, self.b.spark, self.wh
        key = ["graph_id", "url"]
        nodes = wh.nodes.read(spark)
        return {
            "triples": ck.content_hash_by(wh.triples.read(spark), key, ("url_bucket",)),
            "nodes": ck.content_hash_by(nodes, key),
            "nodes_named": ck.content_hash_by(nodes, key, ("canonical_id",)),
            "edges": ck.content_hash_by(wh.edges.read(spark), key),
            "dropped": ck.content_hash_by(wh.dropped.read(spark), key),
        }

    def check(self, res: dict) -> None:
        ck, spark = self.b.checks, self.b.spark
        old, new = self.state, self.hashes()
        self.state = new
        i = res["slice"]
        touched = {r["url"] for r in self.slice_rows[i]}
        for table in new:
            for key in set(old[table]) | set(new[table]):
                g, url = key
                if g == GRAPH_A and (url in touched or table == "nodes"):
                    continue
                if g != GRAPH_A and table == "nodes_named":
                    continue
                ck.expect(old[table].get(key) == new[table].get(key),
                          f"{table} of untouched {key} changed")
        a_triples = sum(n for (g, _u), (n, _s) in new["triples"].items() if g == GRAPH_A)
        ck.expect(a_triples == res["counters"]["triples"],
                  f"graph A triples: {a_triples} rows, counter says "
                  f"{res['counters']['triples']}")
        trip = self.wh.triples.read(spark).filter(f"graph_id = '{GRAPH_A}'")
        ck.same_triples(ck.spark_triples(trip, sorted(touched)), self.want[i],
                        touched, "re-crawled triples vs kernel")

    def reset(self) -> None:
        self.state = self.hashes()


# ---- the run --------------------------------------------------------------


class Bench:
    def __init__(self, args):
        self.workload_name = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = len(os.sched_getaffinity(0))
        self.ops: list[dict] = []
        self.setup_failed: str | None = None
        self.probe_failed: str | None = None
        self.spark = None

    def mark(self, what: str) -> None:
        """Print the time since start, so set-up phases show in the log."""
        print(f"  {time.time() - T_START:8.3f} s  {what}", flush=True)

    def land(self, name: str, df, partition_by: str | None = None):
        path = os.path.join(WORK, name)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(path)
        self.mark(f"landed {name}")
        return self.spark.read.parquet(path)

    def sample_rows(self, pages, n: int) -> list:
        from pyspark.sql import functions as F

        return pages.orderBy(F.xxhash64("url")).limit(n).collect()

    def job_id(self) -> int:
        return max(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [-1])

    def start(self) -> None:
        import checks
        import spans
        from knowledge_graph_spark.session import get_spark

        self.checks, self.spans = checks, spans
        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        }
        if self.trace:
            # this Python env has no zstd module: keep the log plain
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(app="kgbench", master=f"local[{self.cores}]", extra=extra)
        self.mark("engine started")
        self.tracer = spans.Tracer(enabled=False)
        self.workload = {"bulk_build": BulkBuild,
                         "recrawl_update": RecrawlUpdate}[self.workload_name](self)

    def environment(self) -> dict:
        import pyspark

        conf = self.spark.conf
        return {
            "workload": self.workload_name, "seed": self.seed,
            "seconds": self.seconds, "trace": int(self.trace),
            "cores": self.cores, "master": self.spark.sparkContext.master,
            "driver_mem": DRIVER_MEM,
            "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
            "max_records_per_batch": conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
            "pyspark": pyspark.__version__,
            "java": self.spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "sizes": {"bulk_pages": BULK_PAGES, "graph_a_pages": GRAPH_A_PAGES,
                      "graph_b_pages": GRAPH_B_PAGES, "recrawl_pages": RECRAWL_PAGES},
        }

    def timed_op(self, i: int, traced: bool) -> dict:
        w, spans = self.workload, self.spans
        self.tracer.enabled = traced
        undo = spans.wrap_lake(self.tracer) if traced else None
        rec = {"index": i, "traced": traced, "ok": False}
        j0 = self.job_id()
        t = time.perf_counter()
        try:
            with spans.RssSampler() as rss, self.tracer.span("op", index=i) as span:
                try:
                    res = w.op(i)
                finally:
                    rec["wall_s"] = time.perf_counter() - t
            rec.update(span=span["id"], peak_rss_mib=rss.peak_mib,
                       jobs=self.job_id() - j0, pages=res["pages"],
                       triples=res["triples"])
            if "counters" in res:
                rec["stage_seconds"] = res["counters"].get("stage_seconds", {})
        except Exception:  # an operation that raises counts as failed
            rec["error"] = traceback.format_exc()
        finally:
            self.tracer.enabled = False
            if undo:
                undo()
        if "error" not in rec:
            try:
                w.check(res)
                rec["ok"] = True
            except self.checks.CheckFailed as e:
                rec["error"] = f"check failed: {e}"
            except Exception:
                rec["error"] = traceback.format_exc()
        if not rec["ok"]:
            print(f"op {i} FAILED: {rec['error']}", file=sys.stderr, flush=True)
            try:
                w.reset()
            except Exception:
                traceback.print_exc()
        self.mark(f"op {i}{' traced' if traced else ''}: {rec['wall_s']:.3f} s, "
                  f"{rec.get('jobs', '?')} jobs, ok={rec['ok']}")
        return rec

    def run(self) -> None:
        self.start()
        print("env " + json.dumps(self.environment(), ensure_ascii=False), flush=True)
        try:
            self.workload.setup()
        except self.checks.CheckFailed as e:
            # the warm-up's output is wrong: time the operations anyway,
            # but the run is not correct
            self.setup_failed = str(e)
            print(f"warm-up check FAILED: {e}", file=sys.stderr, flush=True)
        self.setup_s = time.time() - T_START
        print(f"setup {self.setup_s:.3f} s", flush=True)
        t0 = time.perf_counter()
        # Another operation starts only when it is expected to end, with
        # its check, within --seconds, so every run on a given host times
        # the same number of operations. The traced run alternates
        # untraced and traced operations, at least untraced-traced-
        # untraced, so warm-up drift cancels in the tracing overhead.
        min_ops = 3 if self.trace else 1
        cycle = 0.0
        while (len(self.ops) < min_ops
               or time.perf_counter() - t0 + cycle <= self.seconds):
            i = len(self.ops)
            c0 = time.perf_counter()
            self.ops.append(self.timed_op(i, self.trace and i % 2 == 1))
            cycle = time.perf_counter() - c0
        if self.trace:
            self.run_probes()

    def run_probes(self) -> None:
        """Layer probes on the workload's own inputs and warehouse."""
        import probes

        w, spark, tr = self.workload, self.spark, self.tracer
        tr.enabled = True
        if isinstance(w, BulkBuild):
            pages, wh, gid, g_clear = w.pages, w.last, GRAPH_BULK, GRAPH_BULK
            extracted = wh.extracted.read(spark)
        else:
            # the re-crawled pages: what update batches hand the kernel
            pages, wh, gid, g_clear = w.all_slices.drop("slice"), w.wh, GRAPH_A, GRAPH_B
            extracted = wh.extracted.read(spark).join(
                w.pages_a.select("url"), "url", "left_semi")
        m = probes.kernel_probe(
            [r.asDict() for r in self.sample_rows(pages, KERNEL_SAMPLE)])
        self.mark("kernel probe")
        m.update(probes.extraction_probe(tr, pages, self.cores))
        self.mark("extraction probe")
        m.update(probes.graph_build_probe(tr, extracted, gid, USER_A))
        self.mark("graph_build probe")
        m.update(probes.linking_probe(tr, wh.nodes.read_partitions(spark, [gid]).select("name")))
        self.mark("linking probe")
        m.update(probes.components_probe(tr, wh.same_as.read_partitions(spark, [gid])))
        self.mark("components probe")
        self.probe_query_s, digests = [], []
        for rep in range(2):
            with tr.span("probe.queries", rep=rep):
                outs, secs = probes.query_sweep(
                    spark, tr, wh.nodes.read(spark), wh.edges.read(spark),
                    gid, g_clear, USER_A, KEYWORD)
            self.probe_query_s.append(secs)
            # outside any span: the digest jobs are attributed to no layer
            digests.append(probes.query_digest(self.checks, outs))
        tr.enabled = False
        self.probe_metrics = m
        self.mark("query probe")
        ck = self.checks
        try:
            ck.expect(digests[0] == digests[1], "Q1-Q9 outputs differ between sweeps")
            ck.expect(digests[0]["q2"][0] > 0, "Q2 returned no links")
            for q in ("q8", "q9"):
                ck.expect(ck.dangling_edges(*outs[q]) == 0, f"{q} leaves dangling edges")
        except ck.CheckFailed as e:
            self.probe_failed = str(e)
            print(f"query probe check FAILED: {e}", file=sys.stderr, flush=True)

    # ---- reporting ---------------------------------------------------

    def end_to_end(self) -> dict:
        ops = [o for o in self.ops if "pages" in o]
        return {
            "setup_s": self.setup_s,
            "op_s": median([o["wall_s"] for o in ops]),
            "pages_per_s": median([o["pages"] / o["wall_s"] for o in ops]),
            "triples_per_s": median([o["triples"] / o["wall_s"] for o in ops]),
            "peak_rss_mb": median([o["peak_rss_mib"] for o in ops]),
        }

    def per_layer(self, jobs: dict, tasks: dict) -> tuple[dict, dict]:
        """(metrics, report extras) from the traced operations, the
        probes and the event log."""
        sp = self.spans
        traced = [o for o in self.ops if o["traced"] and "pages" in o]
        plain = [o for o in self.ops if not o["traced"] and "pages" in o]
        m = dict(self.probe_metrics)
        # pipeline: run_pipeline's own stage clock, per traced operation
        for st in STAGES:
            m[f"pipeline.{st}_s"] = median([o.get("stage_seconds", {}).get(st, 0.0)
                                            for o in traced])
        m["pipeline.other_s"] = median([
            o["wall_s"] - sum(o["stage_seconds"].values()) if "stage_seconds" in o else 0.0
            for o in traced])
        # lake: commit spans under each traced operation
        per_op = []
        for o in traced:
            ls = self.tracer.under(o["span"], "lake.")
            dur = lambda n: sum(s["end"] - s["start"] for s in ls if s["name"] == n)
            wrote = [s for s in ls if "files" in s["attrs"]]
            per_op.append({
                "lake.merge_into_s": dur("lake.merge_into"),
                "lake.overwrite_partitions_s": dur("lake.overwrite_partitions"),
                "lake.vacuum_s": dur("lake.vacuum"),
                "lake.commits": len(wrote),
                "lake.files_written": sum(s["attrs"]["files"] for s in wrote),
                "lake.bytes_written_mb": sum(s["attrs"]["bytes"] for s in wrote) / 2 ** 20,
            })
        for k in ("lake.merge_into_s", "lake.overwrite_partitions_s", "lake.vacuum_s",
                  "lake.commits", "lake.files_written", "lake.bytes_written_mb"):
            m[k] = median([p[k] for p in per_op])
        for q in range(1, 10):
            m[f"queries.q{q}_ms"] = 1000.0 * median([s[f"q{q}"] for s in self.probe_query_s])
        # spark: per operation, then per layer
        m["spark.jobs"] = median([o["jobs"] for o in self.ops if "jobs" in o])
        byid = {s["id"]: s for s in self.tracer.spans if s["end"] is not None}
        util = []
        for o in traced:
            s = byid[o["span"]]
            st = sp.job_stats(jobs, tasks, sp.jobs_in(jobs, s["start"], s["end"]))
            util.append(st["task_cpu_s"] / (o["wall_s"] * self.cores))
        m["spark.cpu_util"] = median(util)
        owner = sp.attribute_jobs(list(byid.values()), jobs)

        def root(s):
            while s["parent"] is not None:
                s = byid[s["parent"]]
            return s["id"]

        for layer in SPARK_LAYERS:
            units: dict[int, list[int]] = {}
            for jid, s in owner.items():
                if s["name"].startswith(layer + "."):
                    units.setdefault(root(s), []).append(jid)
            stats = [sp.job_stats(jobs, tasks, ids) for ids in units.values()]
            for c in SPARK_COUNTERS:
                m[f"spark.{layer}.{c}"] = median([st[c] for st in stats])
        overhead = {
            "traced_op_s": median([o["wall_s"] for o in traced]),
            "untraced_op_s": median([o["wall_s"] for o in plain]),
        }
        overhead["overhead_s"] = overhead["traced_op_s"] - overhead["untraced_op_s"]
        m["trace.op_s"] = overhead["traced_op_s"]
        m["trace.overhead_s"] = overhead["overhead_s"]
        return m, overhead

    def close(self) -> None:
        """Stop the engine and wait for the JVM and its Python workers."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while len(self.spans.process_tree(os.getpid())) > 1 and time.time() < deadline:
            time.sleep(0.1)
        self.spark = None


def report_table(metrics: dict, units: dict) -> list[str]:
    return [f"  {k:<34} {v:>14.4f} {units.get(k, '')}" for k, v in metrics.items()]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "knowledge_graph_spark")):
        print(f"kgbench: no knowledge_graph_spark package in {ROOT}", file=sys.stderr)
        return 2
    prepare_env()
    bench = Bench(args)
    try:
        bench.run()
        env = bench.environment()
    finally:
        bench.close()

    failed = sum(not o["ok"] for o in bench.ops)
    out = {"env": env, "setup_failed": bench.setup_failed,
           "probe_failed": bench.probe_failed,
           "ops": [{k: v for k, v in o.items() if k != "span"} for o in bench.ops]}
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)["per_layer" if bench.trace else "end_to_end"]
    units = {x["name"]: x["unit"] for x in spec}
    if bench.trace:
        jobs, tasks = bench.spans.read_event_log(os.path.join(WORK, "eventlog"))
        metrics, overhead = bench.per_layer(jobs, tasks)
        out["spans"] = bench.tracer.spans
        lines = [f"per-layer metrics, {args.workload}, seed {args.seed}:"]
        lines += report_table(metrics, units)
        lines.append(f"tracing overhead: traced op_s {overhead['traced_op_s']:.3f} s - "
                     f"untraced op_s {overhead['untraced_op_s']:.3f} s = "
                     f"{overhead['overhead_s']:+.3f} s (spans and lake wrappers; "
                     "the event log is on for both)")
    else:
        metrics = bench.end_to_end()
        lines = [f"end-to-end metrics, {args.workload}, seed {args.seed}:"]
        lines += report_table(metrics, units)
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: "
                           f"{sorted(set(metrics) ^ set(units))}")
    out["metrics"] = metrics
    lines.append(f"operations: {len(bench.ops)} attempted, {failed} failed, "
                 f"failed_frac {failed / len(bench.ops):.4f}")
    print("\n".join(lines), flush=True)
    os.makedirs(RESULTS, exist_ok=True)
    stem = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w", encoding="utf-8") as f:
        json.dump(out, f, ensure_ascii=False, indent=1, default=str)
    with open(stem + ".txt", "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    shutil.rmtree(WORK, ignore_errors=True)
    result = {
        "correct": failed == 0 and bench.setup_failed is None and bench.probe_failed is None,
        "attempted": len(bench.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
