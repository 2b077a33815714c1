# -*- coding: utf-8 -*-
"""Connected components via alternating large-star / small-star joins.

Canonicalization backbone (BASELINE.json: "canonicalization through
connected-components ... iterative DataFrame self-joins with salted
keys for skewed hub entities"). The reference imports networkx but
never uses it (/root/reference/backend/kgapi/kg_writer.py:5); this is
the scale-correct replacement: the two-phase star algorithm of
Kiveris et al., "Connected Components in MapReduce and Beyond"
(SOCC'14), expressed as DataFrame aggregations.

Execution is size-adaptive: an edge set of at most ``_DRIVER_EDGES``
edges solves with driver-side union-find (:func:`canonical_mapping`
collects its same-as pairs in one action, and
:func:`local_canonical_mapping` resolves the names on the driver);
larger ones run the distributed star rounds below. Algorithm (node
labels are 64-bit longs):
- large-star: for each edge (u,v) with v > u, point v at the minimum
  neighbour of u (including u). Implemented as groupBy(u).min + join.
- small-star: symmetric for v <= u.
- iterate until the edge multiset stops changing (checked via a cheap
  aggregate hash), ``localCheckpoint()`` each round to truncate lineage.

Convergence: O(log^2 n) rounds worst case, 2-4 rounds on name-similarity
graphs (components are tiny cliques). Skew: the groupBy-min partial-
aggregates map-side (hub nodes with millions of neighbours combine
before the shuffle); the residual skew sits in the mins-join, where a
hub key's fan-out is handled by AQE's skew-join split (enabled in
session.py) — salting by hand is unnecessary here because the build
side (one min row per key) broadcasts under AQE once partial
aggregation shrinks it.

:func:`connected_components` takes any orderable id type. The
distributed path of :func:`canonical_mapping` maps names to longs with
``xxhash64`` (collision probability negligible below ~2^32 entities and
acceptable for canonicalization); its driver path works on the names.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

#: edge count up to which a graph is "small enough for the driver":
#: connected_components and canonical_mapping solve it with local
#: union-find
_DRIVER_EDGES = 2_000_000


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star + small-star round. edges(u, v) undirected."""
    # symmetrize
    sym = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )

    # large-star: neighbours of u strictly greater than u re-point at
    # min(neighbourhood ∪ {u})
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    large = (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )

    sym2 = large.select("u", "v").unionByName(
        large.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()

    # small-star: neighbours <= u re-point at the minimum
    smaller = sym2.filter(F.col("v") <= F.col("u"))
    mins2 = smaller.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    small = (
        smaller.join(mins2, "u")
        .select(
            F.when(F.col("v") == F.col("m"), F.col("u")).otherwise(F.col("v")).alias("u"),
            F.col("m").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    return small


def _union_find_local(pairs: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Driver-side union-find with path halving; component = min member."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            parent[r] = parent[parent[r]]
            r = parent[r]
        return r

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            # root at the smaller id so component = min reachable node
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    return [(n, find(n)) for n in parent]


def connected_components(
    edges: DataFrame, max_iter: int = 20,
    driver_threshold: int = _DRIVER_EDGES,
) -> DataFrame:
    """edges(u, v) -> labels(node, component), any orderable id type
    (both endpoints must share it; the output follows it).

    component = min node id reachable. Isolated nodes (absent from
    edges) are the caller's concern — they are their own component.

    Size-adaptive execution: below ``driver_threshold`` edges the
    component graph is collected and solved with union-find on the
    driver (a same-as graph is O(|vocabulary|), and a driver pass is
    ~100x cheaper than even one distributed star round); above it, the
    alternating-star rounds run distributed. Both paths produce the
    identical labeling (min-id representative), so the switch is purely
    physical — same contract at every scale.
    """
    # endpoint types must agree up front: labels mix u- and v-side
    # values, and even the u != v self-loop filter would die on an
    # ANSI cast before any clearer error could surface
    ut = edges.schema["u"].dataType
    if edges.schema["v"].dataType != ut:
        raise ValueError(
            f"edge endpoint types differ ({ut.simpleString()} vs "
            f"{edges.schema['v'].dataType.simpleString()}) — labels "
            "mix both sides; cast one side first")
    # materialize once: count(), the driver collect, and the first
    # star round each re-execute the scan + distinct exchange
    # otherwise — on a web-scale edge set that is a full shuffle
    # repeated per action
    cur = (edges.select("u", "v").filter(F.col("u") != F.col("v"))
           .distinct().localCheckpoint(eager=True))

    n_edges = cur.count()
    if n_edges == 0:
        return cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
    if n_edges <= driver_threshold:
        spark = edges.sparkSession
        pairs = [(r["u"], r["v"]) for r in cur.collect()]
        labels = _union_find_local(pairs)
        # few, large slices: a default-parallelism parallelize would give
        # every downstream stage dozens of micro-tasks
        slices = max(1, len(labels) // 500_000)
        # schema follows the input id type (string doc ids are as valid
        # as longs — a hardcoded long schema crashed on them)
        from pyspark.sql import types as T
        return spark.createDataFrame(
            spark.sparkContext.parallelize(labels, slices),
            T.StructType([T.StructField("node", ut, False),
                          T.StructField("component", ut, False)]),
        )
    prev_sig = None
    for _ in range(max_iter):
        cur = _star_round(cur).localCheckpoint(eager=True)
        # convergence check: order-insensitive signature of the edge set
        # (bit_xor never overflows, unlike sum under ANSI mode)
        sig = cur.select(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        sig = (sig["n"], sig["h"])
        if sig == prev_sig:
            break
        prev_sig = sig

    # after convergence every edge is (node, root)
    labels = cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = cur.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return labels.unionByName(roots).groupBy("node").agg(
        F.min("component").alias("component")
    )


def local_canonical_mapping(
    spark: SparkSession, pairs: list[tuple[str, str]]
) -> tuple[DataFrame, int]:
    """Same-as pairs in hand -> ((name, canonical_name) frame, its row
    count): union-find on the names themselves, and each component's
    representative is its member with the minimum (length, name).
    Python's ``len`` and ``str`` ordering agree with Spark's ``length``
    (code points) and string ordering (UTF-8 bytes, which sort as code
    points), so it is the distributed path's rule.

    The mapping is handed to Spark as an Arrow table, whose batches the
    JVM decodes itself: evaluating it (a count, the broadcast in a
    join) starts no Python worker, unlike a ``parallelize`` of pickled
    rows. (A pandas frame would take that pickled path when it is empty
    or when Arrow conversion is switched off.) ``coalesce(1)`` keeps it
    a single slice, so a few thousand rows are not spread over every
    core. The row count comes from the driver, so a caller needs no
    count job."""
    labels = _union_find_local(pairs)
    rep: dict = {}
    for name, root in labels:
        rep[root] = min(rep.get(root, name), name, key=lambda n: (len(n), n))
    table = pa.table({
        "name": pa.array([name for name, _ in labels], pa.string()),
        "canonical_name": pa.array(
            [rep[root] for _, root in labels], pa.string()),
    })
    frame = spark.createDataFrame(
        table, "name string, canonical_name string").coalesce(1)
    return frame, len(labels)


def canonical_mapping(same_as: DataFrame) -> DataFrame:
    """same_as(name_a, name_b) -> (name, canonical_name).

    Every name in a component maps to the component's canonical
    representative: the member with the minimum (length, name) — i.e.
    the shortest, then lexicographically first, surface form.

    Up to ``_DRIVER_EDGES`` pairs this is one action: the pairs are
    collected and :func:`local_canonical_mapping` resolves them on the
    driver. (``run_pipeline``'s driver linking path calls that helper
    directly with the pairs it already holds.)

    Above ``_DRIVER_EDGES`` names are hashed to longs for the
    distributed component search, and each component's representative
    is resolved back to a name by aggregation. Both paths return a
    materialized frame."""
    spark = same_as.sparkSession
    # a NULL name names nothing: it would only weld every name paired
    # with it into one component
    same_as = same_as.select("name_a", "name_b").dropna()
    rows = same_as.limit(_DRIVER_EDGES + 1).collect()
    if len(rows) <= _DRIVER_EDGES:
        return local_canonical_mapping(spark, rows)[0]

    h = lambda c: F.xxhash64(F.col(c))
    edges = same_as.select(h("name_a").alias("u"), h("name_b").alias("v"))
    # the threshold is read here, not bound at def time, so the size
    # switch stays one module constant for both functions
    comp = connected_components(edges, driver_threshold=_DRIVER_EDGES)
    members = (
        same_as.select(F.col("name_a").alias("name"))
        .unionByName(same_as.select(F.col("name_b").alias("name")))
        .distinct()
        .withColumn("node", F.xxhash64("name"))
        .join(comp, "node", "left")
        .withColumn("component", F.coalesce("component", "node"))
    )
    rep = members.groupBy("component").agg(
        F.min(F.struct(F.length("name").alias("l"), F.col("name"))).alias("r")
    ).select("component", F.col("r.name").alias("canonical_name"))
    # materialized, like the driver path's frame: a caller that counts
    # the mapping and then joins it must not rerun the component search
    return members.join(rep, "component").select(
        "name", "canonical_name").localCheckpoint()
