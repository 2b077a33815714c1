# -*- coding: utf-8 -*-
"""Similarity search over embedding columns (array<float>).

ANN layer for the training-data pipeline: brute-force cosine top-k as
the exact baseline, and an IVF (inverted-file, k-means-coarse-quantizer)
variant as the scale path — probe a few centroids instead of the whole
corpus.

Scale design:
- dot products are JVM-side ``aggregate(zip_with(...))`` — vectorized
  codegen, no Python;
- brute force is one broadcast (queries are small) + a TWO-PHASE
  per-query top-k (salted local row_number, then a global window over
  at most salt_buckets*k survivors) — the shuffles move (qid, vid,
  score) triples, never vectors, and no single reducer ever sees a
  query's full candidate set;
- IVF training uses Lloyd's iterations as DataFrame aggregations
  (deterministic seed-free init: the k smallest xxhash64(vec_id));
  assignment joins vectors to the broadcast centroid table; queries
  probe ``n_probe`` nearest centroids so each query scans ~n_probe/k of
  the corpus. At 10^9 vectors x k=65536 cells this is the standard
  FAISS-IVF layout expressed relationally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.vectors import dot as _dot, l2_sq, norm as _norm

# salt fan-out of the two-phase top-k's first pass: each query's N
# candidate rows spread over this many reducers before the global
# (S*k)-row pass — sized so phase 1 keeps a 1000-executor cluster busy
TOPK_SALT_BUCKETS = 64


def _per_query_topk(scored: DataFrame, k: int,
                    salt_buckets: int = TOPK_SALT_BUCKETS,
                    score_col: str = "cosine",
                    ascending: bool = False) -> DataFrame:
    """(query_id, vec_id, <score>) -> top-k per query with a dense
    ``rank``, in TWO phases: a salted local top-k (row_number within
    (query_id, salt-of-vec_id) — N rows spread over ``salt_buckets``
    reducers per query) followed by the global per-query window over at
    most salt_buckets*k survivors.

    A single global window funnels every scored row of a query through
    ONE reducer — 24 GB/query at 10^9 vectors; the salted pre-pass
    bounds the global stage's input to S*k rows per query. Correct
    because each bucket's top-k is a superset of the bucket's
    contribution to the global top-k. Ties break on vec_id, so the
    result is deterministic and identical to the one-pass plan.

    ``ascending=False`` ranks best-first by similarity (cosine);
    ``ascending=True`` by distance (PQ ADC).

    NaN scores are dropped up front: a zero-norm vector (or query)
    yields cosine 0/0 = NaN, and Spark orders NaN ABOVE every number —
    unguarded, every query's rank 1 would be a meaningless zero-vector
    match. A directionless vector has no defined similarity, so it is
    excluded (row-local filter, before any exchange). NULL scores
    (e.g. a ragged vector whose zip_with padded NULLs through the
    dot product) are equally undefined and equally dropped —
    isnan(NULL) is false, so a bare NaN filter would let them
    through as rank-k garbage whenever a query has fewer than k
    real candidates."""
    scored = scored.filter(F.col(score_col).isNotNull()
                           & ~F.isnan(score_col))
    order = F.asc(score_col) if ascending else F.desc(score_col)
    salt = F.pmod(F.xxhash64("vec_id"), F.lit(salt_buckets))
    w_local = Window.partitionBy("query_id", "_salt").orderBy(
        order, F.asc("vec_id")
    )
    local = (
        scored.withColumn("_salt", salt)
        .withColumn("_r", F.row_number().over(w_local))
        .filter(F.col("_r") <= k)
        .drop("_salt", "_r")
    )
    w_global = Window.partitionBy("query_id").orderBy(
        order, F.asc("vec_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w_global))
        .filter(F.col("rank") <= k)
    )


def brute_force_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     qid_col: str = "query_id", qvec_col: str = "query_vec",
                     ) -> DataFrame:
    """Exact cosine top-k: (query_id, vec_id, cosine, rank).

    Queries broadcast to every partition of the corpus; per-query top-k
    via the salted two-phase window (:func:`_per_query_topk` — no
    single-reducer funnel). Self-matches (same id) are not excluded —
    callers filter if needed. Zero-norm vectors and queries are
    excluded BEFORE scoring: a zero vector has no direction, and under
    ANSI mode the 0/0 cosine division doesn't even yield NaN — it
    kills the job with DIVIDE_BY_ZERO."""
    v = vectors.select(F.col(id_col).alias("vec_id"),
                       F.col(vec_col).alias("vec"),
                       _norm(vec_col).alias("vnorm")) \
        .filter(F.col("vnorm") > 0)
    q = queries.select(F.col(qid_col).alias("query_id"),
                       F.col(qvec_col).alias("qvec"),
                       _norm(qvec_col).alias("qnorm")) \
        .filter(F.col("qnorm") > 0)
    scored = v.crossJoin(F.broadcast(q)).select(
        "query_id", "vec_id",
        (_dot("vec", "qvec") / (F.col("vnorm") * F.col("qnorm"))).alias("cosine"),
    )
    return _per_query_topk(scored, k)


# ---------------------------------------------------------------------------
# IVF: k-means coarse quantizer + probed search
# ---------------------------------------------------------------------------


def train_ivf_centroids(vectors: DataFrame, n_cells: int = 16,
                        n_iter: int = 5, vec_col: str = "embedding",
                        id_col: str = "vec_id",
                        sample_cap: int = 262_144) -> DataFrame:
    """Lloyd's k-means as DataFrame ops -> (cell_id, centroid).

    SAMPLE-trained (FAISS practice: the coarse quantizer learns from
    ~256k vectors regardless of corpus size): rows whose
    ``pmod(xxhash64(id), ceil(N/cap)) = 0`` form a deterministic
    ~``sample_cap``-row training set, so a 10^9-vector corpus never
    feeds Lloyd iterations (round 1 shuffled n·dim posexploded rows
    per iteration — ~3·10^11 at scale).

    Deterministic init: the n_cells training vectors with smallest
    xxhash64(id). Each iteration: assign (broadcast centroids, argmin
    L2), then re-average per cell with ONE groupBy of dim column-sums
    (vector aggregate, no explode). Empty cells keep their previous
    centroid."""
    v = vectors.select(F.col(id_col).alias("vec_id"),
                       F.col(vec_col).cast("array<double>").alias("vec"))
    first = v.select(F.size("vec").alias("d")).first()
    dim = first["d"] if first else 0
    # ragged guard (the train_pq_codebook convention): a vector of a
    # different dimension would crash the per-dim re-average under
    # ANSI (INVALID_ARRAY_INDEX) or silently skew assignment via
    # NULL-padded distances
    v = v.filter(F.size("vec") == dim)
    n = v.count()
    if n > sample_cap:
        k = -(-n // sample_cap)  # ceil
        v = v.filter(F.pmod(F.xxhash64("vec_id"), F.lit(k)) == 0)
    cent = (
        v.withColumn("_h", F.xxhash64("vec_id"))
        .orderBy("_h").limit(n_cells)
        .select(
            # constant partition key: input is limit(n_cells)-bounded;
            # keying it keeps real unpartitioned-window warnings visible
            (F.row_number().over(
                Window.partitionBy(F.pmod(F.col("_h"), F.lit(1))).orderBy("_h")) - 1
             ).alias("cell_id"),
            F.col("vec").alias("centroid"),
        )
    )
    sums = [F.sum(F.col("vec")[j]).alias(f"s{j}") for j in range(dim)]
    for _ in range(n_iter):
        assigned = _assign_cells(v, cent)
        new_cent = (
            assigned.groupBy("cell_id")
            .agg(F.count("*").alias("_n"), *sums)
            .select(
                "cell_id",
                F.array(*[F.col(f"s{j}") / F.col("_n") for j in range(dim)]
                        ).alias("centroid"),
            )
        )
        cent = (
            cent.select("cell_id", F.col("centroid").alias("old"))
            .join(new_cent, "cell_id", "left")
            .select("cell_id", F.coalesce("centroid", "old").alias("centroid"))
        )
    return cent


def _assign_cells(v: DataFrame, centroids: DataFrame) -> DataFrame:
    """Argmin-L2 assignment: broadcast the centroid table, score all
    cells per vector, keep the best via min-of-struct (no window)."""
    d2 = l2_sq("vec", "centroid")
    scored = v.crossJoin(F.broadcast(centroids)).select(
        "vec_id", "vec", F.struct(d2.alias("d2"), F.col("cell_id")).alias("sc")
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.min("sc").alias("best"), F.first("vec").alias("vec"))
        .select("vec_id", "vec", F.col("best.cell_id").alias("cell_id"))
    )


def ivf_index(vectors: DataFrame, n_cells: int = 16, n_iter: int = 5,
              vec_col: str = "embedding", id_col: str = "vec_id",
              ) -> tuple[DataFrame, DataFrame]:
    """-> (assignments(vec_id, vec, cell_id), centroids(cell_id, centroid)).
    Persist both as tables partitioned by cell_id for production use."""
    v = vectors.select(F.col(id_col).alias("vec_id"),
                       F.col(vec_col).cast("array<double>").alias("vec"))
    cent = train_ivf_centroids(vectors, n_cells, n_iter, vec_col, id_col)
    return _assign_cells(v, cent), cent


def ivf_topk(assignments: DataFrame, centroids: DataFrame,
             queries: DataFrame, k: int = 10, n_probe: int = 4,
             qid_col: str = "query_id", qvec_col: str = "query_vec",
             ) -> DataFrame:
    """Probed search: per query rank centroids by L2, keep ``n_probe``
    cells, scan only vectors in those cells, cosine top-k.

    Partition pruning is the point: the scan joins on cell_id, so with
    a cell-partitioned assignment table only n_probe/n_cells of the
    corpus is read per query."""
    q = queries.select(F.col(qid_col).alias("query_id"),
                       F.col(qvec_col).cast("array<double>").alias("qvec"))
    d2 = l2_sq("qvec", "centroid")
    probe_w = Window.partitionBy("query_id").orderBy("d2", "cell_id")
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .select("query_id", "qvec", "cell_id", d2.alias("d2"))
        .withColumn("_r", F.row_number().over(probe_w))
        .filter(F.col("_r") <= n_probe)
        .select("query_id", "qvec", "cell_id")
    )
    # zero-norm guard before the division (ANSI DIVIDE_BY_ZERO, not
    # NaN, on 0/0) — same contract as brute_force_topk
    cos = _dot("vec", "qvec") / (F.col("_vn") * F.col("_qn"))
    scored = (
        assignments.join(F.broadcast(probes), "cell_id")
        .withColumn("_vn", _norm("vec")).withColumn("_qn", _norm("qvec"))
        .filter((F.col("_vn") > 0) & (F.col("_qn") > 0))
        .select("query_id", "vec_id", cos.alias("cosine"))
    )
    # candidate set is already bounded to ~n_probe/n_cells of the corpus,
    # but a hot cell at 10^9 vectors still holds millions of rows — the
    # salted two-phase pass keeps the final ranking off a single reducer
    return _per_query_topk(scored, k)


# ---------------------------------------------------------------------------
# PQ: product quantization (the memory half of the FAISS IVF-PQ recipe)
# ---------------------------------------------------------------------------
#
# IVF above bounds how much of the corpus a query SCANS; PQ bounds how
# much memory each scanned vector COSTS: a d-dim float vector becomes m
# one-byte codes (d=768, m=8 -> 384x smaller), and query-time distances
# come from an m x n_codes lookup table computed once per query
# (asymmetric distance computation, ADC — Jégou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011). At 10^9
# vectors the codes table fits a modest cluster's RAM where raw
# vectors cannot.


def _sub_slices(vec: str, m: int, sub_dim: int):
    """Array of the m contiguous sub-vectors of an array column."""
    return F.array(*[F.slice(vec, j * sub_dim + 1, sub_dim)
                     for j in range(m)])


def _collect_codebook(codebook, codebook_rows):
    """-> (m, sub_dim, {sub_id: literal array<array<double>> ordered by
    code_id}). The codebook is m*n_codes*sub_dim doubles — a few KB
    (768-dim, m=8, 256 codes: 768k doubles = 6 MB, still driver-safe) —
    so embedding it as a literal keeps encode/ADC entirely row-local:
    zero shuffles, zero per-row joins. Pass ``codebook_rows`` (a
    ``.collect()`` you already paid for) to skip the collect."""
    rows = (codebook_rows if codebook_rows is not None
            else codebook.collect())
    by_sub: dict[int, list] = {}
    for r in rows:
        by_sub.setdefault(r["sub_id"], []).append(
            (r["code_id"], [float(x) for x in r["codeword"]]))
    if not by_sub:
        raise ValueError("empty PQ codebook")
    m = max(by_sub) + 1
    missing = sorted(set(range(m)) - set(by_sub))
    if missing:
        raise ValueError(
            f"PQ codebook: sub_ids not dense 0..{m - 1}, missing {missing}")
    sub_dim = len(next(iter(by_sub.values()))[0][1])
    ragged = {j: sorted({len(cw) for _, cw in words})
              for j, words in by_sub.items()
              if any(len(cw) != sub_dim for _, cw in words)}
    if ragged:
        raise ValueError(
            f"PQ codebook: codeword lengths differ from sub_dim={sub_dim} "
            f"in subspaces {ragged} — encode would slice wrong dimensions")
    lits = {}
    for j in range(m):
        words = sorted(by_sub[j])
        if [c for c, _ in words] != list(range(len(words))):
            raise ValueError(
                f"PQ codebook sub {j}: code ids not dense 0..K-1")
        lits[j] = F.array(*[
            F.array(*[F.lit(x) for x in cw]) for _, cw in words
        ])
    return m, sub_dim, lits


def _l2_sq_cols(a, b):
    """Squared L2 of two array Columns (column form of vectors.l2_sq,
    which takes SQL fragments)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, c: (x - c) * (x - c)),
        F.lit(0.0), lambda acc, y: acc + y,
    )


def train_pq_codebook(vectors: DataFrame, m: int = 4, n_codes: int = 16,
                      n_iter: int = 0, vec_col: str = "embedding",
                      id_col: str = "vec_id",
                      sample_cap: int = 262_144,
                      dim: int | None = None) -> DataFrame:
    """Per-subspace PQ codebooks -> (sub_id, code_id, codeword).

    The vector is split into ``m`` contiguous ``dim/m``-wide
    subspaces; each gets its own ``n_codes``-word codebook.

    Init is the ``n_codes`` vectors with the SMALLEST ids — fully
    deterministic and replayable in ANSI SQL, which is what lets the
    driver oracle recompute the entire PQ pipeline exactly (IVF's
    xxhash init is fine there because its oracle uses full-probe
    exactness; no such trick exists for PQ). Codebook QUALITY comes
    from ``n_iter`` Lloyd rounds over a deterministic hash-sample
    (same ~``sample_cap`` recipe as :func:`train_ivf_centroids`):
    assignment joins the exploded (vec_id, sub_id, subvec) rows to the
    broadcast codebook, re-averaging is one groupBy of sub_dim
    column-sums — no posexplode of vector elements ever shuffles.
    Empty cells keep their previous codeword.

    Pass ``dim`` when known to skip the one-row probe job.
    """
    v = vectors.select(F.col(id_col).alias("vec_id"),
                       F.col(vec_col).cast("array<double>").alias("vec"))
    if dim is None:
        first = v.select(F.size("vec").alias("d")).first()
        dim = first["d"] if first else 0
    if dim <= 0 or dim % m:
        raise ValueError(f"dim={dim} not divisible into m={m} subspaces")
    sub_dim = dim // m
    v = v.filter(F.size("vec") == dim)
    init = (
        v.orderBy("vec_id").limit(n_codes)
        .select(
            (F.row_number().over(
                Window.partitionBy(F.pmod(F.col("vec_id"), F.lit(1))).orderBy("vec_id")) - 1)
            .cast("int").alias("code_id"),
            "vec",
        )
        .select("code_id",
                F.posexplode(_sub_slices("vec", m, sub_dim))
                .alias("sub_id", "codeword"))
        .select("sub_id", "code_id", "codeword")
    )
    cb = init
    if n_iter > 0:
        n = v.count()
        if n > sample_cap:
            k = -(-n // sample_cap)  # ceil
            v = v.filter(F.pmod(F.xxhash64("vec_id"), F.lit(k)) == 0)
        vs = v.select(
            "vec_id",
            F.posexplode(_sub_slices("vec", m, sub_dim))
            .alias("sub_id", "subvec"),
        )
        sums = [F.sum(F.col("subvec")[i]).alias(f"s{i}")
                for i in range(sub_dim)]
        for _ in range(n_iter):
            scored = vs.join(F.broadcast(cb), "sub_id").select(
                "vec_id", "sub_id", "subvec",
                F.struct(
                    _l2_sq_cols(F.col("subvec"), F.col("codeword"))
                    .alias("d2"),
                    F.col("code_id"),
                ).alias("sc"),
            )
            best = (
                scored.groupBy("vec_id", "sub_id")
                .agg(F.min("sc").alias("best"),
                     F.first("subvec").alias("subvec"))
                .select("sub_id", F.col("best.code_id").alias("code_id"),
                        "subvec")
            )
            new_cb = (
                best.groupBy("sub_id", "code_id")
                .agg(F.count("*").alias("_n"), *sums)
                .select(
                    "sub_id", "code_id",
                    F.array(*[F.col(f"s{i}") / F.col("_n")
                              for i in range(sub_dim)]).alias("codeword"),
                )
            )
            cb = (
                cb.select("sub_id", "code_id",
                          F.col("codeword").alias("old"))
                .join(new_cb, ["sub_id", "code_id"], "left")
                .select("sub_id", "code_id",
                        F.coalesce("codeword", "old").alias("codeword"))
            )
    return cb


def pq_encode(vectors: DataFrame, codebook: DataFrame | None = None,
              codebook_rows=None, vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """Quantize every vector to its PQ codes -> (vec_id, codes).

    ``codes[j]`` is the argmin-L2 codeword of subspace ``j`` (ties to
    the lowest code id). The codebook rides along as a LITERAL (see
    :func:`_collect_codebook`), so encoding is pure row-local codegen
    — transform/array_min over the literal, ZERO shuffles — the shape
    that turns a 100 TB float corpus into a codes table in one
    map-only pass. Vectors whose length differs from the codebook's
    dim are dropped (no defined quantization)."""
    m, sub_dim, lits = _collect_codebook(codebook, codebook_rows)
    v = vectors.select(F.col(id_col).alias("vec_id"),
                       F.col(vec_col).cast("array<double>").alias("vec")) \
        .filter(F.size("vec") == m * sub_dim)
    # a NaN component makes every codeword's distance NaN, so
    # array_position misses (NaN != NaN in SQL equality) and the code
    # becomes -1 — which pq_adc_topk's table lookup then hits as an
    # ANSI INVALID_ARRAY_INDEX job kill. An undefined quantization is
    # dropped like a ragged vector.
    v = v.filter(~F.exists("vec", lambda x: F.isnan(x)))

    def _code(j):
        sub = F.slice("vec", j * sub_dim + 1, sub_dim)
        d2s = F.transform(lits[j], lambda cw: _l2_sq_cols(cw, sub))
        return (F.array_position(d2s, F.array_min(d2s)) - 1) \
            .cast("int").alias(f"_c{j}")

    return v.select("vec_id", F.array(*[_code(j) for j in range(m)])
                    .alias("codes"))


def pq_adc_topk(codes: DataFrame, queries: DataFrame,
                codebook: DataFrame | None = None, codebook_rows=None,
                k: int = 10, qid_col: str = "query_id",
                qvec_col: str = "query_vec") -> DataFrame:
    """Asymmetric-distance top-k over PQ codes ->
    (query_id, vec_id, adc_d2, rank) — smallest approximate squared-L2
    first.

    Per query, an m x n_codes distance table is computed ONCE against
    the literal codebook (on the tiny queries frame); each corpus row
    then costs m array lookups — never a d-dim arithmetic op. Queries
    broadcast to the codes table (the same scale contract as
    :func:`brute_force_topk`: the big side never moves), and the
    salted two-phase pass keeps the final ranking off a single
    reducer. Compose with IVF for the full FAISS IVF-PQ layout: probe
    cells first, ADC-rank inside them."""
    m, sub_dim, lits = _collect_codebook(codebook, codebook_rows)
    q = queries.select(
        F.col(qid_col).alias("query_id"),
        F.col(qvec_col).cast("array<double>").alias("qvec"),
    ).filter(F.size("qvec") == m * sub_dim)
    def _dt(j):
        # NB: the lambda must stay unary — pyspark treats a 2-arg
        # higher-order-function lambda as (element, index)
        sub = F.slice("qvec", j * sub_dim + 1, sub_dim)
        return F.transform(lits[j], lambda cw: _l2_sq_cols(cw, sub))

    dtab = F.array(*[_dt(j) for j in range(m)])
    qd = q.select("query_id", dtab.alias("_dtab"))
    # deterministic left-to-right sum over subspaces (j = 1..m), so the
    # SQL oracle can replay the exact float association
    adc = F.expr(
        f"aggregate(sequence(1, {m}), cast(0.0 as double), "
        "(acc, j) -> acc + _dtab[j-1][codes[j-1]])"
    )
    scored = (
        codes.crossJoin(F.broadcast(qd))
        .select("query_id", "vec_id", adc.alias("adc_d2"))
    )
    return _per_query_topk(scored, k, score_col="adc_d2", ascending=True)


def hard_negatives(vectors: DataFrame, queries: DataFrame, k: int = 10,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label", qid_col: str = "query_id",
                   qvec_col: str = "query_vec",
                   qlabel_col: str = "query_label") -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: for
    each labeled query, the top-k most-similar corpus vectors whose
    label DIFFERS from the query's — the highest-loss negatives a
    dual-encoder trains against (DPR, Karpukhin et al. 2020 §4.2).
    Returns ``(query_id, vec_id, label, cosine, rank)``; self-matches
    fall out with the label filter.

    Same scale shape as :func:`brute_force_topk`: queries broadcast,
    scoring is JVM ``aggregate(zip_with(...))`` codegen, the mismatch
    filter drops same-label rows BEFORE any exchange, and the salted
    two-phase top-k keeps every reducer's input bounded. For 10^9-row
    corpora compose with the IVF path instead: assign queries to
    probed cells, filter labels, then this ranking.

    NULL labels are dropped on BOTH sides up front (mining is
    label-driven; `label != qlabel` evaluates NULL against a NULL
    label, which would silently yield zero negatives for a
    NULL-labeled query and silently exclude NULL-labeled corpus
    rows from every query — an explicit filter makes the contract
    visible)."""
    v = vectors.select(F.col(id_col).alias("vec_id"),
                       F.col(label_col).alias("label"),
                       F.col(vec_col).alias("vec"),
                       _norm(vec_col).alias("vnorm")) \
        .filter((F.col("vnorm") > 0) & F.col("label").isNotNull())
    q = queries.select(F.col(qid_col).alias("query_id"),
                       F.col(qlabel_col).alias("qlabel"),
                       F.col(qvec_col).alias("qvec"),
                       _norm(qvec_col).alias("qnorm")) \
        .filter((F.col("qnorm") > 0) & F.col("qlabel").isNotNull())
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("qlabel"))
        .select(
            "query_id", "vec_id", "label",
            (_dot("vec", "qvec")
             / (F.col("vnorm") * F.col("qnorm"))).alias("cosine"),
        )
    )
    return _per_query_topk(scored, k)


def kmeans_min_id(v: DataFrame, n_clusters: int, n_iter: int = 0
                  ) -> DataFrame:
    """k-means assignment with DETERMINISTIC min-id init ->
    (vec_id, vec, cell_id).

    Init centroids are the ``n_clusters`` smallest-id vectors (cell_id
    = id rank), so at ``n_iter=0`` the full assignment is exactly
    replayable in ANSI SQL — the same determinism contract as
    :func:`train_pq_codebook`, and the oracle path of
    :func:`dedup.semantic_dedup`. ``n_iter`` Lloyd rounds (assign →
    per-cell mean via dim column-sums, empty cells keep their
    centroid) buy quality when exact replay isn't needed; input ``v``
    must be (vec_id, vec: array<double>)."""
    first = v.select(F.size("vec").alias("d")).first()
    dim = first["d"] if first else 0
    # ragged-input guard (same contract as train_pq_codebook): l2_sq's
    # zip_with TRUNCATES to the shorter array and Lloyd's vec[j] sums
    # turn short vectors into NULL centroid components — either way a
    # silent misassignment. assert_true rides the existing scan (it
    # returns NULL when the predicate holds, so the filter keeps every
    # valid row) — validation costs zero extra jobs, unlike a separate
    # count() pass over the vector column
    v = v.filter(
        F.assert_true(
            F.size("vec") == dim,
            F.concat(F.lit("kmeans_min_id: vector length "),
                     F.size("vec").cast("string"),
                     F.lit(f" != expected dim {dim} (from first row); "
                           "fix or filter ragged embeddings")),
        ).isNull()
    )
    cent = (
        v.orderBy("vec_id").limit(n_clusters)
        .select(
            (F.row_number().over(
                Window.partitionBy(F.pmod(F.col("vec_id"), F.lit(1))).orderBy("vec_id")) - 1)
            .alias("cell_id"),
            F.col("vec").alias("centroid"),
        )
    )
    sums = [F.sum(F.col("vec")[j]).alias(f"s{j}") for j in range(dim)]
    for _ in range(n_iter):
        assigned = _assign_cells(v, cent)
        new_cent = (
            assigned.groupBy("cell_id")
            .agg(F.count("*").alias("_n"), *sums)
            .select(
                "cell_id",
                F.array(*[F.col(f"s{j}") / F.col("_n") for j in range(dim)]
                        ).alias("centroid"),
            )
        )
        cent = (
            cent.select("cell_id", F.col("centroid").alias("old"))
            .join(new_cent, "cell_id", "left")
            .select("cell_id",
                    F.coalesce("centroid", "old").alias("centroid"))
        )
    return _assign_cells(v, cent)


def kcenter_coreset(vectors: DataFrame, k: int,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Greedy k-center / farthest-point coreset selection (Gonzalez,
    Theoretical Computer Science 1985 — the 2-approximation that is
    the standard DIVERSE-sample selector for training-data coresets:
    each round picks the point farthest from everything already
    chosen, so the selection covers the embedding space instead of
    oversampling its dense core; also the k-center++-style seeding
    step of facility-location curation).

    Deterministic selection: round 1 takes the minimum id; each
    later round takes ``argmax(round(d_min^2, 6))`` with ties broken
    by ascending id (ids must be numeric — the tie-break negates
    them inside one max(struct) fold) — the squared distance is the shared
    ``functions/vectors.l2_sq`` sequential fold, so a SQL replay
    using the same fold order reproduces the argmax bit-for-bit.
    Output is SELECTION-ONLY ``(rank, center_id)``: no distance ever
    leaves the plan, so no float reaches a comparator downstream.

    Scale shape: the state is one (id, d6) frame over the corpus;
    each round is ONE map-side argmax fold (max(struct)) plus one
    row-local least() update against the newly chosen vector, which
    rides in as a LITERAL array (two driver actions per round — the
    1-row argmax collect and the 1-row vector fetch — the bounded
    driver-action convention of bpe_train/landmarks); k rounds
    total, per-round localCheckpoint. No join ever touches the
    corpus.
    """
    from knowledge_graph_spark.functions.vectors import l2_sq

    if int(k) < 1:
        raise ValueError("k must be >= 1")
    # double precision up front: the float->double cast must happen
    # BEFORE any arithmetic so a DOUBLE[] SQL replay is bit-identical
    pts = (vectors.select(F.col(id_col).alias("id"),
                          F.col(vec_col).cast("array<double>")
                          .alias("v"))
           .filter(F.col("id").isNotNull() & F.col("v").isNotNull())
           .localCheckpoint(eager=True))
    first = pts.agg(F.min("id")).collect()[0][0]
    if first is None:
        return pts.sparkSession.createDataFrame(
            [], "rank int, center_id long")
    # k > |corpus| would keep re-selecting the min-id zero-distance
    # point forever (duplicate center_ids at increasing rank); the
    # re-selection break below terminates the loop as soon as the
    # distinct points are exhausted — no corpus count needed
    centers = [(1, first)]
    chosen = {first}

    def _vec_lit(cid):
        row = pts.filter(F.col("id") == cid).select("v").collect()[0]
        return F.array(*[F.lit(float(x)) for x in row[0]])

    state = (pts.withColumn("_c", _vec_lit(first))
             .withColumn("_d6", F.round(l2_sq("v", "_c"), 6))
             .drop("_c")
             .localCheckpoint(eager=True))
    for r in range(2, int(k) + 1):
        top = (state.agg(F.max(F.struct(F.col("_d6"),
                                        (-F.col("id")).alias("_ni")))
                         .alias("_b"))
               .select((-F.col("_b._ni")).alias("id"))
               .collect())
        nxt = top[0][0]
        if nxt in chosen:  # duplicate vectors exhausted the corpus
            break
        centers.append((r, nxt))
        chosen.add(nxt)
        state = (state.withColumn("_c", _vec_lit(nxt))
                 .withColumn("_d6",
                             F.least("_d6",
                                     F.round(l2_sq("v", "_c"), 6)))
                 .drop("_c")
                 .localCheckpoint(eager=True))
    return pts.sparkSession.createDataFrame(
        centers, "rank int, center_id long")


def snn_clusters(knn: DataFrame, min_shared: int = 4,
                 qid_col: str = "query_id", nb_col: str = "vec_id",
                 max_bucket: int = 100000) -> DataFrame:
    """Shared-nearest-neighbor clustering (Jarvis & Patrick, IEEE
    ToC 1973; the density form in Ertöz, Steinbach & Kumar SDM
    2003): two points link when each lists the other in its k-NN
    list (MUTUAL — the asymmetric hub links that wreck naive
    distance clustering in high dimension are exactly what this
    kills) AND their k-NN lists share >= ``min_shared`` common
    neighbors; clusters are the connected components of that SNN
    graph. Input is any (query_id, vec_id) k-NN pair list — brute
    force, IVF or PQ — so the clustering composes with whichever
    ANN tier the corpus size dictates.

    Returns ``(vec_id, cluster)`` for every point that appears as a
    query — isolated points keep themselves as singleton clusters;
    ``cluster`` is the min point id of the component (integer /
    selection-only output, nothing to drift cross-engine).

    Scale shape: mutuality is one self-semi-join on the k-NN list
    ((id, id) keys, k-bounded fan-out); shared-neighbor counts come
    from in-aggregate pair generation keyed by the COMMON neighbor
    (a hub neighbor — one that appears in > ``max_bucket`` k-NN
    lists — is dropped by the guard window BEFORE its id list could
    materialize, the `_bucket_pairs` convention); the component
    step is :mod:`components`' size-adaptive CC over the sparse SNN
    edge set only.
    """
    from pyspark.sql import Window

    from knowledge_graph_spark.operators.components import (
        connected_components)

    points = (knn.select(F.col(qid_col).alias("id"))
              .filter(F.col("id").isNotNull()).distinct())
    pairs = (knn.select(F.col(qid_col).alias("p"),
                        F.col(nb_col).alias("n"))
             .filter(F.col("p").isNotNull() & F.col("n").isNotNull()
                     & (F.col("p") != F.col("n")))
             .distinct()
             .localCheckpoint(eager=True))
    rev = pairs.select(F.col("n").alias("p"), F.col("p").alias("n"))
    mutual = (pairs.join(rev, ["p", "n"], "leftsemi")
              .filter(F.col("p") < F.col("n"))
              .select(F.col("p").alias("a"), F.col("n").alias("b")))
    # shared-neighbor counts via neighbor-keyed triangular pair-gen
    w = Window.partitionBy("n")
    sized = (pairs.withColumn("_c", F.count("*").over(w))
             .filter((F.col("_c") >= 2) & (F.col("_c") <= int(max_bucket)))
             .drop("_c"))
    grouped = sized.groupBy("n").agg(
        F.sort_array(F.collect_list("p")).alias("_ids"))
    gen = F.flatten(F.transform(
        "_ids",
        lambda x, i: F.transform(
            F.slice("_ids", i + F.lit(2), F.size("_ids")),
            lambda y: F.struct(x.alias("a"), y.alias("b")))))
    shared = (grouped.select(F.explode(gen).alias("_p"))
              .groupBy(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
              .agg(F.count("*").cast("long").alias("_shared")))
    edges = (mutual.join(shared, ["a", "b"], "left")
             .filter(F.coalesce("_shared", F.lit(0).cast("long"))
                     >= int(min_shared))
             .select("a", "b"))
    labels = connected_components(
        edges.select(F.col("a").alias("u"), F.col("b").alias("v")))
    return (points.join(labels.withColumnRenamed("node", "id"),
                        "id", "left")
            .select(F.col("id").alias(nb_col),
                    F.coalesce("component", "id").alias("cluster")))
