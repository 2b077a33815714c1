# -*- coding: utf-8 -*-
"""Probabilistic sketches: KMV + HyperLogLog distinct-count, Count-Min
frequency, and Bloom-filter membership.

At 100 TB, "how many distinct tokens/urls/users per group" and "how
often does this term occur" are questions you cannot afford to answer
with a full-vocabulary shuffle. These operators answer them from
bounded-size summaries:

- **KMV (k-minimum-values)** — Bar-Yossef et al., "Counting distinct
  elements in a data stream" (RANDOM 2002): keep the k smallest hash
  values of the distinct items; the k-th smallest, as a fraction of
  the hash space, estimates density, so D ≈ (k-1) / kth_normalized.
  Relative error ~ 1/sqrt(k). The sketch is k longs per group, no
  matter how large the group.
- **Count-Min** — Cormode & Muthukrishnan, "An improved data stream
  summary: the count-min sketch" (J. Algorithms 2005): a depth x width
  counter grid; each item increments one counter per row (one hash per
  row); a frequency estimate is the MIN over the item's d counters —
  always >= truth, over by at most the collision mass. The sketch is
  depth*width longs, no matter the vocabulary.
- **HyperLogLog** — Flajolet et al., "HyperLogLog: the analysis of a
  near-optimal cardinality estimation algorithm" (AofA 2007): m = 2^p
  registers, each holding the MAX number of leading zero bits (+1)
  seen in the non-register bits of any item hash routed to it;
  cardinality = alpha_m * m^2 / sum(2^-register). Fixed m longs per
  group — smaller than KMV at the same error — and mergeable by
  register-wise max.
- **Bloom filter** — Bloom (CACM 1970): an m-bit array, k bit
  positions per item; membership = all k bits set. No false
  negatives; false-positive rate ~ (1 - e^(-kn/m))^k. The filter is
  m/64 longs total — the shape that lets a 100 TB decontamination
  pass broadcast the entire eval-set membership structure to every
  executor instead of shuffling the corpus against it.

Scale design: both sketches build as plain aggregations with map-side
combine — the full item stream never moves, only pre-aggregated
(group, hash) / (row, col) partials. The KMV smallest-k uses the same
salted two-phase pass as :func:`simsearch._per_query_topk`, so no
single reducer sees a group's full distinct-hash stream.

Determinism: the hash is the first 13 hex chars of md5 (52 bits — an
exact integer in a double, which is what lets DuckDB replay it with
float arithmetic where needed). Every estimate is therefore exactly
reproducible in ANSI SQL, so the driver oracle recomputes the full
sketch + estimate rather than trusting a golden.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# the hash space: 13 hex chars = 52 bits
HASH_SPACE = float(1 << 52)

# salt fan-out of the two-phase smallest-k (see simsearch.TOPK_SALT_BUCKETS)
KMV_SALT_BUCKETS = 64


def h52(col) -> "F.Column":
    """52-bit deterministic hash of a string column: the first 13 hex
    chars of md5, as a bigint in [0, 2^52).

    md5-prefix rather than xxhash64 because the sketch must be
    REPLAYABLE by the SQL oracle: DuckDB has md5 but not xxhash64, and
    52 bits keeps the value exact even through double arithmetic.
    Cryptographic md5 costs more per byte than xxhash64, but both
    sketches hash each distinct item once — never the document bodies
    — so the hash is not the hot path."""
    return F.conv(F.substring(F.md5(F.col(col) if isinstance(col, str)
                                    else col), 1, 13), 16, 10).cast("long")


def _word_stream(docs: DataFrame, text_col: str, extra_cols: list) -> DataFrame:
    """(extra_cols..., token) — lower-cased alphabetic word stream.

    ``split(lower(text), '[^a-z]+')`` parses identically under Java
    regex and RE2, which is what keeps Spark and the DuckDB oracle
    token-for-token aligned."""
    tok = F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("token")
    return docs.select(*extra_cols, tok).filter(F.col("token") != "")


def _smallest_k(hashes: DataFrame, group_cols: list, k: int,
                salt_buckets: int) -> DataFrame:
    """Per-group k smallest distinct ``_h`` values, two-phase:
    row_number within (group, salt-of-hash) caps each of the
    ``salt_buckets`` reducers at k rows, then the global per-group
    pass ranks at most salt_buckets*k survivors. No reducer ever
    holds a group's full distinct-hash stream."""
    salt = F.pmod(F.col("_h"), F.lit(salt_buckets))
    w_local = Window.partitionBy(*group_cols, "_salt").orderBy("_h")
    kept = (
        hashes.withColumn("_salt", salt)
        .withColumn("_r", F.row_number().over(w_local))
        .filter(F.col("_r") <= k).drop("_salt", "_r")
    )
    # an UNGROUPED sketch's global pass is bounded (≤ salt_buckets·k
    # rows) but would otherwise carry an empty partition spec — key it
    # with constant non-foldable pmod(_h, 1) so WindowExec warnings
    # stay meaningful (see BENCH/BASELINE.md round-4 window-key note)
    gkeys = group_cols or [F.pmod(F.col("_h"), F.lit(1))]
    w_global = Window.partitionBy(*gkeys).orderBy("_h")
    return (
        kept.withColumn("_r", F.row_number().over(w_global))
        .filter(F.col("_r") <= k).drop("_r")
    )


def kmv_sketch(items: DataFrame, item_col: str,
               group_cols: list | None = None, k: int = 256,
               salt_buckets: int = KMV_SALT_BUCKETS) -> DataFrame:
    """The KMV sketch itself -> (group_cols..., _h): the k smallest
    distinct item hashes per group (at most k rows per group, however
    large the group). The first exchange carries distinct (group,
    hash) longs — never item payloads."""
    group_cols = list(group_cols or [])
    hashes = (
        # NULL guard (same as hll_sketch/build_bloom): a NULL item
        # hashes to NULL, survives .distinct(), and Spark's ascending
        # sort puts NULL FIRST — it would take rank 1 in _smallest_k,
        # displace a real k-th hash, and skew est_distinct
        items.filter(F.col(item_col).isNotNull())
        .select(*group_cols, h52(item_col).alias("_h"))
        .distinct()
    )
    return _smallest_k(hashes, group_cols, k, salt_buckets)


def kmv_merge(sketches: list, group_cols: list | None = None,
              k: int = 256,
              salt_buckets: int = KMV_SALT_BUCKETS) -> DataFrame:
    """Merge KMV sketches of disjoint-or-not item streams into the
    sketch of their UNION: k smallest of the distinct union of kept
    hashes. Exact, not approximate — k-min of a union is a function
    of the per-part k-mins — which is what lets a 1000-executor
    cluster sketch per shard/day and combine without re-reading raw
    data."""
    group_cols = list(group_cols or [])
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    return _smallest_k(merged.distinct(), group_cols, k, salt_buckets)


def kmv_estimate(sketch: DataFrame, group_cols: list | None = None,
                 k: int = 256) -> DataFrame:
    """Distinct-count estimate from a KMV sketch ->
    (group_cols..., n_kept, kth_min, est_distinct).

    ``n_kept`` is the sketch fill (min(k, observed distinct hashes)),
    ``kth_min`` the largest kept hash. When the sketch is not full the
    estimate IS the exact distinct count (small-range correction);
    otherwise est = (k-1) * 2^52 / kth_min."""
    group_cols = list(group_cols or [])
    n = F.count("*")
    kth = F.max("_h")
    est = F.when(n < k, n.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(HASH_SPACE) / kth.cast("double"))
    return (
        sketch.groupBy(*group_cols)
        .agg(n.alias("n_kept"), kth.alias("kth_min"),
             F.round(est, 4).alias("est_distinct"))
    )


def kmv_distinct(items: DataFrame, item_col: str,
                 group_cols: list | None = None, k: int = 256,
                 salt_buckets: int = KMV_SALT_BUCKETS) -> DataFrame:
    """KMV distinct-count estimate per group, end to end ->
    (group_cols..., n_kept, kth_min, est_distinct). See
    :func:`kmv_sketch` / :func:`kmv_estimate`."""
    group_cols = list(group_cols or [])
    return kmv_estimate(
        kmv_sketch(items, item_col, group_cols, k, salt_buckets),
        group_cols, k)


def kmv_pairwise_overlap(sketch: DataFrame, group_col: str,
                         k: int = 256) -> DataFrame:
    """All-pairs set-overlap estimates from ONE grouped KMV sketch —
    the corpus-governance matrix ("which sources/shards/crawls
    duplicate each other") answered entirely from bounded summaries:
    ``G`` groups cost ``G·k`` sketch rows however large the corpus,
    and every pair's estimate derives from the combined k-min of the
    two kept-hash sets (Beyer et al., SIGMOD 2007 — same math as
    :func:`kmv_overlap`, generalized from one pair to the matrix).

    Returns integer-only ``(group_a, group_b, n_kept, n_both,
    kth_min)`` for every unordered pair ``group_a < group_b``:
    ``n_kept`` rows of the combined sketch (≤ k), ``n_both`` of them
    present in both sides (Jaccard ≈ n_both/n_kept), ``kth_min`` the
    combined k-th minimum (union estimate ≈ (k−1)·2^52/kth_min —
    both ratios left as row-local divisions for the caller, since
    small-denominator rounded doubles are the cross-engine hash
    trap).

    Scale shape: the input sketch is already ≤ k rows per group; the
    pair expansion is sketch ⋈ sketch on the hash for ``n_both`` and
    a group-pair ranked union for the combined k-min — all bounded by
    ``G²k`` rows of longs, independent of corpus size."""
    # the sketch is referenced four times below (both membership
    # sides and both halves of the pair list); without materializing,
    # Spark recomputes the full upstream scan+sketch per reference —
    # measured 4x the wall on the sf0.1 driver query. The sketch is
    # ≤ G·k rows BY CONSTRUCTION, so pinning it is O(summary), never
    # O(corpus).
    sketch = sketch.localCheckpoint(eager=True)
    a = sketch.select(F.col(group_col).alias("ga"), "_h")
    b = sketch.select(F.col(group_col).alias("gb"), "_h")
    pairs = (a.select("ga").distinct()
             .join(b.select("gb").distinct(), F.col("ga") < F.col("gb")))
    memb = (
        pairs.join(a, "ga")
        .select("ga", "gb", "_h", F.lit(1).alias("_ina"),
                F.lit(0).alias("_inb"))
        .unionByName(
            pairs.join(b, "gb")
            .select("ga", "gb", "_h", F.lit(0).alias("_ina"),
                    F.lit(1).alias("_inb")))
        .groupBy("ga", "gb", "_h")
        .agg(F.max("_ina").alias("_a"), F.max("_inb").alias("_b"))
    )
    w = Window.partitionBy("ga", "gb").orderBy("_h")
    kept = (memb.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= k))
    return (
        kept.groupBy("ga", "gb")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.sum((F.col("_a") * F.col("_b")).cast("long"))
             .alias("n_both"),
            F.max("_h").alias("kth_min"),
        )
        .select(F.col("ga").alias("group_a"), F.col("gb").alias("group_b"),
                "n_kept", "n_both", "kth_min")
    )


def kmv_overlap(sketch_a: DataFrame, sketch_b: DataFrame,
                k: int = 256) -> DataFrame:
    """Set-operation estimates from two KMV sketches (Beyer et al.,
    "On synopses for distinct-value estimation", SIGMOD 2007): ONE row
    ``(n_kept, n_both, kth_min, est_union, jaccard,
    est_intersection)`` — corpus-overlap answered from two bounded
    summaries, never joining the raw streams.

    The combined sketch is the K smallest hashes of the UNION of the
    two kept-hash sets (K = min(k, available)); within it, the
    fraction present in BOTH sketches estimates the Jaccard
    similarity, union cardinality comes from the K-th minimum exactly
    as :func:`kmv_estimate` (small-range correction included), and
    intersection = jaccard * union. Error ~ 1/sqrt(k) on each factor.

    Scale shape: both inputs are ≤ k rows by construction — the whole
    computation is a broadcast-size full-outer join plus one bounded
    (constant-keyed) window. Consumers needing hash-exact outputs
    should use the three integer columns (n_kept/n_both/kth_min); the
    float estimates are derivable from them (documented — small-
    denominator rounded ratios are exactly the cross-engine rounding
    trap the driver queries avoid)."""
    a = sketch_a.select("_h").distinct().withColumn("_a", F.lit(1))
    b = sketch_b.select("_h").distinct().withColumn("_b", F.lit(1))
    both = (
        a.join(b, "_h", "full_outer")
        .select("_h", F.coalesce("_a", F.lit(0)).alias("_a"),
                F.coalesce("_b", F.lit(0)).alias("_b"))
    )
    w = Window.partitionBy(F.pmod(F.col("_h"), F.lit(1))).orderBy("_h")
    kset = (
        both.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
    )
    n = F.count("*")
    kth = F.max("_h")
    est_union = F.when(n < k, n.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(HASH_SPACE) / kth.cast("double"))
    n_both = F.sum((F.col("_a") * F.col("_b")).cast("long"))
    return kset.agg(
        n.alias("n_kept"),
        n_both.alias("n_both"),
        kth.alias("kth_min"),
        F.round(est_union, 4).alias("est_union"),
        F.round(n_both / n, 6).alias("jaccard"),
        F.round(n_both / n * est_union, 4).alias("est_intersection"),
    )


def build_count_min(items: DataFrame, item_col: str, depth: int = 4,
                    width: int = 1024) -> DataFrame:
    """Count-Min sketch of an item stream -> (row, col, cnt), at most
    depth*width rows.

    Row ``i``'s hash is h52 of ``'<i>:' || item`` — d independent-ish
    hash functions from one primitive, the standard salting trick.
    Built as ONE aggregation: each item explodes to its depth (row,
    col) cells, then groupBy(row, col) counts with map-side combine —
    the exchange carries at most depth*width partials per map task,
    never the item stream."""
    cells = F.explode(F.array(*[
        F.struct(
            F.lit(i).alias("row"),
            F.pmod(h52(F.concat(F.lit(f"{i}:"), F.col(item_col))),
                   F.lit(width)).alias("col"),
        ) for i in range(depth)
    ])).alias("cell")
    return (
        # NULL guard: h52(NULL) is NULL, pmod(NULL) is NULL — a NULL
        # item would mint a (row, NULL) cell that probe lookups then
        # match by accident
        items.filter(F.col(item_col).isNotNull())
        .select(cells)
        .groupBy(F.col("cell.row").alias("row"),
                 F.col("cell.col").alias("col"))
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(sketch: DataFrame, probes: DataFrame, item_col: str,
                 depth: int = 4, width: int = 1024) -> DataFrame:
    """Estimate each probe item's frequency from a Count-Min sketch ->
    (item_col, est_count).

    The probe set is small by construction (you query terms you care
    about), so probes explode to their depth cells and join the
    BROADCAST sketch (<= depth*width rows); est = min over the d
    counters, 0 if an item's cell is absent (item never seen)."""
    cells = F.explode(F.array(*[
        F.struct(
            F.lit(i).alias("row"),
            F.pmod(h52(F.concat(F.lit(f"{i}:"), F.col(item_col))),
                   F.lit(width)).alias("col"),
        ) for i in range(depth)
    ])).alias("cell")
    # NULL probes hash to NULL cells and can never join a counter —
    # drop them (probe_bloom's contract), instead of emitting a
    # phantom (NULL, 0) estimate row
    probe_cells = (probes.filter(F.col(item_col).isNotNull())
                   .select(item_col, cells).select(
                       item_col, F.col("cell.row").alias("row"),
                       F.col("cell.col").alias("col"),
                   ))
    return (
        probe_cells.join(F.broadcast(sketch), ["row", "col"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est_count"))
    )


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------

# hash width in bits (13 hex chars of md5 — see h52)
HASH_BITS = 52


def _hll_alpha(m: int) -> float:
    """The standard HLL bias-correction constant (Flajolet et al. §4)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_sketch(items: DataFrame, item_col: str,
               group_cols: list | None = None, p: int = 6) -> DataFrame:
    """HyperLogLog sketch -> (group_cols..., register, rank): at most
    m = 2^p rows per group, however large the group.

    The low p hash bits pick the register; the remaining w = h >> p
    bits contribute rank = (leading zeros of w in 52-p bits) + 1, and
    the register keeps the MAX rank. Rank is computed as
    ``(52 - p + 1) - bit_length(w)`` with bit_length =
    ``length(ltrim(bin(w), '0'))`` — an integer-string formulation
    that Spark and DuckDB evaluate identically (no float log2), which
    is what keeps the sketch exactly SQL-replayable. Builds as ONE
    aggregation with map-side combine: the exchange carries at most m
    (group, register, rank) partials per map task, never the items."""
    group_cols = list(group_cols or [])
    m = 1 << p
    h = h52(item_col)
    w = F.shiftright(h, p)
    # bit_length(w) = length(bin(w)) stripped of leading zeros; Spark's
    # bin() never pads, but the strip keeps the formula portable (the
    # oracle's bin() is only unpadded by observation, not contract)
    bitlen = F.length(F.regexp_replace(F.bin(w), "^0+", ""))
    rank = (F.lit(HASH_BITS - p + 1) - bitlen).cast("int")
    # NULL items carry no identity: md5(NULL) is NULL and would smuggle
    # a NULL-rank register into the estimate aggregate
    return (
        items.filter(F.col(item_col).isNotNull())
        .select(*group_cols,
                F.pmod(h, F.lit(m)).alias("register"),
                rank.alias("rank"))
        .groupBy(*group_cols, "register")
        .agg(F.max("rank").alias("rank"))
    )


def hll_merge(sketches: list, group_cols: list | None = None) -> DataFrame:
    """Merge HLL sketches built with the SAME p into the sketch of the
    union of their item streams: register-wise max. Exact by
    idempotence of max — the distributed contract that lets each
    shard/day keep m longs and combine without re-reading raw data."""
    group_cols = list(group_cols or [])
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy(*group_cols, "register").agg(
        F.max("rank").alias("rank"))


def hll_estimate(sketch: DataFrame, group_cols: list | None = None,
                 p: int = 6) -> DataFrame:
    """Cardinality estimate from an HLL sketch ->
    (group_cols..., n_registers, est_distinct).

    The harmonic denominator sum(2^-rank) is accumulated as the
    INTEGER sum of 2^(maxrank - rank) (maxrank = 52-p+1) plus
    2^maxrank per never-touched register, then divided once by
    2^maxrank: every partial is an exact int64 (total <= m * 2^maxrank
    = 2^53), so the sum is order-independent and the SQL oracle
    replays it bit-for-bit — a float sum over registers would differ
    in the last ulp between engines depending on reduction order.
    Small-range correction (linear counting over empty registers)
    applies below 2.5m, per the paper."""
    group_cols = list(group_cols or [])
    m = 1 << p
    maxrank = HASH_BITS - p + 1
    alpha = _hll_alpha(m)
    n_obs = F.count("*")
    sum_obs = F.sum(F.expr(f"shiftleft(1L, {maxrank} - rank)"))
    v = (F.lit(m) - n_obs).cast("long")  # empty registers, rank 0
    sum_int = sum_obs + v * F.lit(1 << maxrank)
    z = sum_int.cast("double") / F.lit(float(1 << maxrank))
    raw = F.lit(alpha * m * m) / z
    est = F.when((raw <= F.lit(2.5 * m)) & (v > 0),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double"))
                 ).otherwise(raw)
    return (
        sketch.groupBy(*group_cols)
        .agg(n_obs.alias("n_registers"), F.round(est, 4).alias("est_distinct"))
    )


def hll_distinct(items: DataFrame, item_col: str,
                 group_cols: list | None = None, p: int = 6) -> DataFrame:
    """HLL distinct-count estimate per group, end to end ->
    (group_cols..., n_registers, est_distinct)."""
    group_cols = list(group_cols or [])
    return hll_estimate(hll_sketch(items, item_col, group_cols, p),
                        group_cols, p)


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------

# bits per bitmap word. 32, not 64: DuckDB range-checks BIGINT shifts,
# so ``1::BIGINT << 63`` (the sign bit) errors there — 32-bit lanes in
# a 64-bit word keep build and probe exactly replayable in the oracle.
BLOOM_WORD_BITS = 32


def _bloom_cells(col, m_bits: int, k: int):
    """The k (word, mask) cells of one item: position i =
    h52('<i>:' || item) mod m_bits; word = pos / 32, mask = 1 << (pos
    mod 32) — k hash functions from one primitive, the same salting
    trick as Count-Min."""
    cells = []
    for i in range(k):
        pos = F.pmod(h52(F.concat(F.lit(f"{i}:"), col)), F.lit(m_bits))
        bit = F.pmod(pos, F.lit(BLOOM_WORD_BITS)).cast("int")
        cells.append(F.struct(
            F.shiftright(pos, 5).alias("word"),
            # call_function: pyspark's shiftleft() helper only takes a
            # literal shift amount, but the SQL builtin takes a column
            F.call_function("shiftleft", F.lit(1).cast("long"), bit)
            .alias("mask"),
        ))
    return F.array(*cells)


def build_bloom(items: DataFrame, item_col: str, m_bits: int = 4096,
                k: int = 4) -> DataFrame:
    """Bloom filter of an item stream -> (word, bits), at most
    m_bits/32 rows total (group-free: one filter per call).

    Built as ONE aggregation: each item explodes to its k (word, mask)
    cells, then groupBy(word) ORs the masks with map-side combine —
    the exchange carries at most m_bits/32 partials per map task,
    never the item stream. The whole filter is a few KB, which is the
    point: probe side broadcasts it."""
    cell = F.explode(_bloom_cells(F.col(item_col), m_bits, k)).alias("c")
    return (
        items.filter(F.col(item_col).isNotNull()).select(cell)
        .select(F.col("c.word").alias("word"), F.col("c.mask").alias("mask"))
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def probe_bloom(bloom: DataFrame, probes: DataFrame, item_col: str,
                m_bits: int = 4096, k: int = 4) -> DataFrame:
    """Test each probe item against a Bloom filter ->
    (item_col, bloom_member).

    Probes explode to their k cells and LEFT-join the BROADCAST filter
    (<= m_bits/32 rows); membership = every cell's bits cover its
    mask. An absent word means those bits were never set — coalesce to
    0 so the item correctly tests non-member. No false negatives by
    construction; false positives at the documented (1-e^(-kn/m))^k
    rate, which the caller picks m_bits/k for."""
    cell = F.explode(_bloom_cells(F.col(item_col), m_bits, k)).alias("c")
    cells = probes.filter(F.col(item_col).isNotNull()).select(
        item_col, cell).select(
        item_col, F.col("c.word").alias("word"), F.col("c.mask").alias("mask"))
    hit = (F.coalesce(F.col("bits"), F.lit(0))
           .bitwiseAND(F.col("mask")) == F.col("mask"))
    return (
        cells.join(F.broadcast(bloom), "word", "left")
        .groupBy(item_col)
        .agg(F.bool_and(hit).alias("bloom_member"))
    )


def cms_token_frequencies(docs: DataFrame, probe_docs: DataFrame,
                          text_col: str = "text", depth: int = 4,
                          width: int = 1024) -> DataFrame:
    """End-to-end CMS demo over a document table ->
    (token, est_count, exact_count), one row per distinct token of
    ``probe_docs``.

    est_count >= exact_count always (CMS one-sided error); the exact
    column exists so callers (and tests) can see the collision mass.
    At 100 TB you would keep only the sketch; the exact join here is
    the verification harness, not the scale path."""
    stream = _word_stream(docs, text_col, [])
    sketch = build_count_min(stream, "token", depth, width)
    probes = _word_stream(probe_docs, text_col, []).distinct()
    est = cms_estimate(sketch, probes, "token", depth, width)
    exact = stream.groupBy("token").agg(F.count("*").alias("exact_count"))
    return est.join(exact, "token", "left").select(
        "token", "est_count", F.coalesce("exact_count", F.lit(0)).alias("exact_count"))


# ---------------------------------------------------------------------------
# DDSketch: relative-error quantiles
# ---------------------------------------------------------------------------

# DDSketch — Masson, Rim & Lee, "DDSketch: a fast and fully-mergeable
# quantile sketch with relative-error guarantees" (VLDB 2019): bucket
# positive values by ceil(log_gamma(x)) with gamma = (1+a)/(1-a); the
# bucket midpoint 2*gamma^b/(gamma+1) is within relative error a of
# every value in the bucket. The sketch is (bucket, count) pairs —
# O(log(range)/a) rows regardless of input size — and merges by
# bucket-wise count sum. Unlike rank-error sketches (GK/KLL), the
# error is relative to the VALUE, which is what length/latency
# distributions want at the tail.


def _dd_bucket(value_col, gamma: float):
    import math

    x = (F.col(value_col) if isinstance(value_col, str)
         else value_col).cast("double")
    return F.ceil(F.log(x) / F.lit(math.log(gamma))).cast("long")


def build_dd_sketch(values: DataFrame, value_col: str,
                    group_cols: list | None = None,
                    alpha: float = 0.01) -> DataFrame:
    """DDSketch of a positive-value column -> (group..., bucket, n).

    NULL and non-positive values are excluded (log buckets are defined
    on x > 0; callers with zeros track them as a separate count —
    declared, same as the reference DDSketch's zero bin).

    Scale shape: ONE map-side-combined aggregation; the exchange
    carries at most buckets-per-group partials per map task (a few
    hundred rows at alpha=0.01 over any realistic range), never the
    values."""
    if not 0 < alpha < 1:
        raise ValueError(f"alpha={alpha}: need 0 < alpha < 1")
    g = list(group_cols or [])
    gamma = (1 + alpha) / (1 - alpha)
    x = F.col(value_col).cast("double")
    return (
        values.filter(x.isNotNull() & (x > 0))
        .select(*g, _dd_bucket(value_col, gamma).alias("bucket"))
        .groupBy(*g, "bucket").agg(F.count("*").alias("n"))
    )


def dd_quantile(sketch: DataFrame, qs: list,
                group_cols: list | None = None,
                alpha: float = 0.01) -> DataFrame:
    """Quantile estimates from a DDSketch -> (group..., q, bucket,
    estimate), one row per group per q in ``qs``.

    Rank convention (replayed exactly by the SQL oracle): the target
    rank is ``greatest(1, ceil(q * total))`` over the sketched (i.e.
    positive) values; the answer is the smallest bucket whose
    cumulative count reaches it; the estimate is the bucket midpoint
    ``2*gamma^bucket/(gamma+1)``, within relative error alpha of the
    true q-quantile VALUE (Masson et al., Theorem 1).

    Scale shape: the cumulative window runs over the SKETCH (hundreds
    of rows per group), not the data; the group total rides the SAME
    window exchange as an unbounded-frame sum (no totals join, no
    second scan of the input); the per-q selection is one aggregation
    over sketch x |qs| rows."""
    g = list(group_cols or [])
    gamma = (1 + alpha) / (1 - alpha)
    part = [F.col(c) for c in g] or [F.col("bucket") * 0]
    w = Window.partitionBy(*part)
    cum = (
        sketch
        .withColumn("_cum", F.sum("n").over(w.orderBy("bucket")))
        .withColumn("_total", F.sum("n").over(w))
    )
    qdf = sketch.sparkSession.createDataFrame(
        [(float(q),) for q in qs], "q double")
    hit = (
        cum.crossJoin(F.broadcast(qdf))
        .filter(F.col("_cum") >=
                F.greatest(F.lit(1), F.ceil(F.col("q") * F.col("_total"))))
        .groupBy(*g, "q").agg(F.min("bucket").alias("bucket"))
    )
    est = 2.0 * F.pow(F.lit(gamma), F.col("bucket")) / (gamma + 1)
    return hit.select(*g, "q", "bucket", est.alias("estimate"))
