# -*- coding: utf-8 -*-
"""Layer probes for the traced run.

Each probe calls one layer's public functions from outside, on the
workload's own inputs, after the timed operations. A lazy layer is
timed by materializing its result through the ``noop`` sink. Timed
calls sit in spans named ``<layer>.<what>`` under one ``probe.<layer>``
span per repetition, so the event log's jobs can be attributed to the
layer; untimed counts run under the ``probe.*`` span only.
"""

from __future__ import annotations

import hashlib
import json
import statistics
import time

from pyspark.sql import DataFrame, SparkSession

from checks import kernel_triples


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tracer, name: str, fn) -> float:
    with tracer.span(name):
        t = time.perf_counter()
        fn()
        return time.perf_counter() - t


def kernel_probe(rows: list[dict], reps: int = 3) -> dict:
    """Single-core direct kernel calls on a page sample: html2text on
    every page's html, extraction on every page's text (html-recovered
    when the text is NULL, as the UDF does)."""
    from knowledge_graph_spark.kernel.extractor import extract_entities_relations
    from knowledge_graph_spark.kernel.html2text import html_to_text

    htmls = [r["html"] for r in rows]
    texts = [r["text"] if r["text"] is not None else html_to_text(r["html"])
             for r in rows]

    def median_pass(fn, items):
        times = []
        for _ in range(reps):
            t = time.perf_counter()
            for x in items:
                fn(x)
            times.append(time.perf_counter() - t)
        return statistics.median(times)

    n = len(rows)
    triples = sum(sum(c.values()) for c in kernel_triples(rows).values())
    return {
        "kernel.html2text_docs_per_s": n / median_pass(html_to_text, htmls),
        "kernel.extract_docs_per_s": n / median_pass(extract_entities_relations, texts),
        "kernel.triples_per_doc": triples / n,
    }


def extraction_probe(tracer, pages: DataFrame, partitions: int,
                     reps: int = 2) -> dict:
    """The Arrow crossing pair: the kernel UDF (``extract`` +
    ``triples_table``) against an identity ``mapInPandas`` over the same
    columns and partitions; both run under the session's
    ``maxRecordsPerBatch``."""
    from knowledge_graph_spark.operators.extraction import extract, triples_table

    cols = pages.select("url", "html", "text", "lang")

    def identity(batches):
        yield from batches

    udf = triples_table(extract(pages, partitions=partitions))
    ident = cols.repartition(partitions, "url").mapInPandas(identity, schema=cols.schema)
    udf_s, id_s = [], []
    for rep in range(reps):
        with tracer.span("probe.extraction", rep=rep):
            udf_s.append(_timed(tracer, "extraction.udf", lambda: noop(udf)))
        with tracer.span("probe.crossing", rep=rep):
            id_s.append(_timed(tracer, "crossing.identity", lambda: noop(ident)))
    with tracer.span("probe.extraction", count=True):
        rows_out = udf.count()
    u, i = statistics.median(udf_s), statistics.median(id_s)
    return {
        "extraction.udf_s": u,
        "extraction.identity_s": i,
        "extraction.crossing_share": i / u,
        "extraction.rows_out": rows_out,
    }


def graph_build_probe(tracer, extracted: DataFrame, graph_id: str,
                      user_id: str, reps: int = 2) -> dict:
    """``build_graph_tables``' three frames to noop: derivation without
    the commit."""
    from knowledge_graph_spark.operators.graph_build import build_graph_tables

    frames = build_graph_tables(extracted, graph_id, user_id)
    times = []
    for rep in range(reps):
        with tracer.span("probe.graph_build", rep=rep):
            times.append(_timed(tracer, "graph_build.derive",
                                lambda: [noop(f) for f in frames]))
    with tracer.span("probe.graph_build", count=True):
        counts = [f.count() for f in frames]
    return {
        "graph_build.derive_s": statistics.median(times),
        "graph_build.nodes": counts[0],
        "graph_build.edges": counts[1],
        "graph_build.dropped": counts[2],
    }


def linking_probe(tracer, names: DataFrame, reps: int = 2) -> dict:
    """MinHash-LSH linking over one graph's node names: candidates from
    the LSH bands, same-as pairs after scoring, and their ratio."""
    from knowledge_graph_spark.operators.linking import candidate_pairs, same_as_edges

    same = same_as_edges(names)
    times = []
    for rep in range(reps):
        with tracer.span("probe.linking", rep=rep):
            times.append(_timed(tracer, "linking.same_as", lambda: noop(same)))
    with tracer.span("probe.linking", count=True):
        names_in = names.select("name").distinct().count()
        cands = candidate_pairs(names).count()
        out = same.count()
    return {
        "linking.names_in": names_in,
        "linking.candidate_pairs": cands,
        "linking.same_as_out": out,
        "linking.yield": out / cands if cands else 0.0,
        "linking.same_as_s": statistics.median(times),
    }


def components_probe(tracer, same_as: DataFrame | None, reps: int = 2) -> dict:
    """``canonical_mapping`` (connected components + representative
    choice) over one graph's stored same-as pairs."""
    from knowledge_graph_spark.operators.components import canonical_mapping

    if same_as is None:  # a graph without links has no same_as partition
        return {"components.edges_in": 0, "components.names_mapped": 0,
                "components.mapping_s": 0.0}
    times = []
    for rep in range(reps):
        with tracer.span("probe.components", rep=rep):
            times.append(_timed(tracer, "components.mapping",
                                lambda: noop(canonical_mapping(same_as))))
    with tracer.span("probe.components", count=True):
        edges_in = same_as.count()
        mapped = canonical_mapping(same_as).count()
    return {
        "components.edges_in": edges_in,
        "components.names_mapped": mapped,
        "components.mapping_s": statistics.median(times),
    }


def query_sweep(spark: SparkSession, tracer, nodes: DataFrame, edges: DataFrame,
                graph_read: str, graph_clear: str, user: str,
                keyword: str) -> tuple[dict, dict]:
    """One Q1-Q9 sweep, every output fully materialized: DataFrames
    through noop, Q2 as the driver-side document, Q7-Q9 both surviving
    frames. Returns (outputs by query, seconds by query)."""
    from knowledge_graph_spark.operators import queries as Q

    plan = [
        ("q1", lambda: Q.graph_links(nodes, edges, graph_read)),
        ("q2", lambda: Q.query_graph(spark, nodes, edges, graph_read)),
        ("q3", lambda: Q.list_user_graphs(nodes, user)),
        ("q4", lambda: Q.query_graphs_by_user(nodes, edges, user)),
        ("q5", lambda: Q.query_all_graphs(nodes, edges)),
        ("q6", lambda: Q.search_entities_by_keyword(nodes, user, keyword)),
        ("q7", lambda: Q.clear_all_graphs(nodes, edges)),
        ("q8", lambda: Q.clear_graph_by_id(nodes, edges, graph_clear)),
        ("q9", lambda: Q.clear_graphs_by_user(nodes, edges, user)),
    ]
    outs, secs = {}, {}
    for name, fn in plan:
        with tracer.span(f"queries.{name}"):
            t = time.perf_counter()
            out = fn()
            if isinstance(out, DataFrame):
                noop(out)
            elif isinstance(out, tuple):
                for df in out:
                    noop(df)
            secs[name] = time.perf_counter() - t
        outs[name] = out
    return outs, secs


def query_digest(ck, outs: dict) -> dict:
    """Order-insensitive digest of every sweep output: content hashes of
    the DataFrames, and (links, sha1 of the sorted document) for Q2."""
    got = {}
    for q, out in outs.items():
        if isinstance(out, dict):
            doc = {k: sorted(json.dumps(x, sort_keys=True, default=str) for x in out[k])
                   for k in ("nodes", "links")}
            got[q] = (len(out["links"]), hashlib.sha1(json.dumps(doc).encode()).hexdigest())
        elif isinstance(out, tuple):
            got[q] = tuple(ck.content_hash(df) for df in out)
        else:
            got[q] = ck.content_hash(out)
    return got
