# -*- coding: utf-8 -*-
"""Output checks: order-insensitive content hashes and a direct-kernel
reference for triples.

A check that fails raises :class:`CheckFailed`; the caller counts the
operation as failed.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _hash_cols(df: DataFrame, exclude: tuple = ()) -> list:
    """Every column in name order; arrays are sorted first, because the
    engine builds them with ``collect_list``, whose order follows the
    shuffle."""
    return [
        F.array_sort(F.col(f.name)) if isinstance(f.dataType, ArrayType)
        else F.col(f.name)
        for f in sorted(df.schema.fields, key=lambda f: f.name)
        if f.name not in exclude
    ]


def content_hash(df: DataFrame, exclude: tuple = ()) -> tuple[int, str]:
    """(rows, sum of per-row xxhash64): equal for equal multisets of rows
    whatever their order or partitioning."""
    r = df.select(
        F.xxhash64(*_hash_cols(df, exclude)).cast("decimal(38,0)").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).first()
    return r["n"], str(r["s"] or 0)


def content_hash_by(df: DataFrame, keys: list[str], exclude: tuple = ()) -> dict:
    """:func:`content_hash` per distinct tuple of ``keys``, in one job."""
    rows = df.select(
        *keys, F.xxhash64(*_hash_cols(df, tuple(keys) + tuple(exclude)))
        .cast("decimal(38,0)").alias("h")
    ).groupBy(*keys).agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).collect()
    return {tuple(r[k] for k in keys): (r["n"], str(r["s"])) for r in rows}


def kernel_triples(rows) -> dict[str, Counter]:
    """url -> Counter of (subj, pred, obj), computed by calling the kernel
    directly on each page's text (html_to_text when text is NULL) and
    resolving entity ids to names the way ``triples_table`` does."""
    from knowledge_graph_spark.kernel.extractor import extract_entities_relations
    from knowledge_graph_spark.kernel.html2text import html_to_text

    out = {}
    for r in rows:
        text = r["text"] if r["text"] is not None else html_to_text(r["html"])
        res = extract_entities_relations(text)
        names = {e["id"]: e["name"] for e in res["entities"]}
        c = Counter()
        for x in res["relations"]:
            s, o = names.get(x["source"]), names.get(x["target"])
            if s is not None and o is not None:
                c[(s, x["type"], o)] += 1
        out[r["url"]] = c
    return out


def spark_triples(triples: DataFrame, urls: list[str] | None = None) -> dict[str, Counter]:
    """url -> Counter of (subj, pred, obj) as stored in a triples table."""
    if urls is not None:
        triples = triples.filter(F.col("url").isin(urls))
    out: dict[str, Counter] = {}
    for r in triples.select("url", "subj", "pred", "obj").collect():
        out.setdefault(r["url"], Counter())[(r["subj"], r["pred"], r["obj"])] += 1
    return out


def same_triples(got: dict, want: dict, urls, what: str) -> None:
    """Every url in ``urls`` carries exactly ``want``'s triples (a url
    without triples may be absent from either side)."""
    bad = [u for u in urls if got.get(u, Counter()) != want.get(u, Counter())]
    expect(not bad, f"{what}: {len(bad)} url(s) differ, e.g. {bad[:1]}")


def dangling_edges(nodes: DataFrame, edges: DataFrame) -> int:
    """Edges whose src or dst has no node with the same (graph_id, id);
    graph_id compares NULL-safely, as Q7-Q9's DETACH does."""
    ids = nodes.select(F.col("graph_id").alias("_g"), F.col("id").alias("_i"))
    missing = None
    for end in ("src", "dst"):
        m = edges.join(ids, F.col("graph_id").eqNullSafe(F.col("_g"))
                       & (F.col(end) == F.col("_i")), "left_anti")
        missing = m if missing is None else missing.unionByName(m)
    return missing.count()
