# -*- coding: utf-8 -*-
"""Document deduplication operators for the training-data pipeline.

Not present in the reference (it has no corpus-hygiene stage); these are
the operators a 100 TB web corpus needs before KG extraction, built
entirely from JVM-side DataFrame primitives (no Python in the hot path
except where sketching genuinely needs it — and then Arrow-vectorized).

Operators:
- :func:`exact_duplicates`      — hash-groupBy on full text
- :func:`minhash_lsh_pairs`     — shingle -> minhash -> band -> bucket join
- :func:`simhash`               — 64-bit SimHash per document (JVM-side)
- :func:`simhash_near_duplicates` — Hamming-distance pairs via band blocking
- :func:`ngram_jaccard_pairs`   — exact n-gram Jaccard on candidate pairs
- :func:`embedding_near_duplicates` — cosine near-dup over vector column

Scale notes (the whole point):
- every operator dedupes on *content hashes*, so the shuffles move
  64-bit keys, not document bodies; full texts are only re-joined when
  a caller asks for survivors.
- candidate pairs are generated INSIDE the bucket aggregation
  (:func:`_bucket_pairs`): one groupBy collects each bucket's sorted id
  list and a JVM ``transform``/``slice`` emits the triangular pairs —
  no bucket self-join, so an LSH stage costs exactly one shuffle after
  the signature aggregate (the count-window guard shares the groupBy's
  exchange). Buckets above ``max_bucket`` are dropped whole BEFORE
  collect_list — filtered in the spillable window operator, so a
  degenerate boilerplate bucket (10^6 byte-identical docs) never
  materializes its id array in a single aggregation row. Loss is
  confined to boilerplate clusters that are already ambiguous — the
  standard quadratic-blowup guard.
- SimHash blocking splits the 64-bit fingerprint into 4 x 16-bit bands:
  any pair within Hamming distance 3 shares at least one exact band
  (pigeonhole).
- embedding LSH is BANDED (OR-of-bands of random hyperplanes) with the
  rows-per-band chosen from the corpus size, so the bucket key space
  GROWS with N instead of saturating (round-1 single-band construction
  had 256 static buckets -> quadratic at 10^9 vectors).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.vectors import word_ngrams
from ..functions.xxh64 import spark_xxhash64


def _bucket_pairs(keyed: DataFrame, key_cols: list[str], max_bucket: int,
                  payload: Column) -> DataFrame:
    """(bucket keys, payload) -> distinct candidate pairs (a, b) with
    a < b: per bucket, sort the payloads and emit the strict upper
    triangle via JVM lambdas. Buckets of size > max_bucket are dropped
    (skew guard) and size-1 buckets emit nothing.

    The guard runs BEFORE collect_list, as a count window over the same
    bucket keys: an oversized boilerplate bucket is filtered row-by-row
    in the (spillable) window operator and never materializes its id
    array in a single aggregation row. The window's exchange hash-
    partitions on the bucket keys, so the following groupBy reuses that
    distribution — still exactly one shuffle for the whole stage."""
    w = Window.partitionBy(*key_cols)
    sized = (
        keyed.withColumn("_n", F.count("*").over(w))
        .filter((F.col("_n") >= 2) & (F.col("_n") <= max_bucket))
        .drop("_n")
    )
    grouped = sized.groupBy(*key_cols).agg(
        F.sort_array(F.collect_list(payload)).alias("_ids")
    )
    pairs = F.flatten(
        F.transform(
            "_ids",
            lambda x, i: F.transform(
                F.slice("_ids", i + F.lit(2), F.size("_ids")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.a", "p.b")
        .distinct()
    )

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: (content_hash, n_dups, keep_id,
    dup_ids). ``keep_id`` = min id (deterministic survivor).

    NULL-text rows are excluded: sha2(NULL) is NULL and groupBy groups
    NULL keys, so unguarded they'd all report as one "duplicate" group
    despite having unknown, unrelated contents."""
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("doc_id"),
                F.sha2(F.col(text_col), 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("keep_id"),
            F.sort_array(F.collect_list("doc_id")).alias("dup_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Survivor set after exact dedup: the min-id row per content hash.

    The survivor KEYS are computed on (hash, id) pairs only — the
    hash-keyed aggregation never shuffles document bodies (the round-2
    window version moved full rows through the exchange). Bodies move
    once, through the id-keyed semi join that restores the surviving
    rows — the table's natural storage key, so on an id-bucketed /
    storage-partitioned table that join is shuffle-free.

    NULL-text rows all survive: their contents are unknown, so exact
    dedup has no basis to merge them (sha2(NULL) = NULL would
    otherwise group every such row as one duplicate set and silently
    drop all but the first)."""
    keys = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("_did"),
                F.sha2(F.col(text_col), 256).alias("_h"))
        .groupBy("_h")
        .agg(F.min("_did").alias(id_col))
        .select(id_col)
    )
    return docs.join(keys, on=id_col, how="left_semi").unionByName(
        docs.filter(F.col(text_col).isNull()))


def dedup_exact_best(docs: DataFrame, priority_col: str,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Survivor set after exact dedup keeping the BEST row per content
    hash: highest ``priority_col`` (quality score, length, crawl
    recency...), ties broken by min id — the SlimPajama/RefinedWeb
    policy of keeping the best copy rather than an arbitrary one.

    Same scale shape as :func:`dedup_exact`: the choice runs as a
    ``max_by`` over ``(hash, id, priority)`` triples — one hash-keyed
    aggregation that never sees document bodies — and bodies move once
    through the id-keyed semi join. NULL-text rows all survive, as in
    :func:`dedup_exact`."""
    keys = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("_did"),
            F.col(priority_col).alias("_p"),
            F.sha2(F.col(text_col), 256).alias("_h"),
        )
        .groupBy("_h")
        # min over (-priority, id): highest priority, ties to min id.
        # Only the (numeric, by contract: it's a score) priority is
        # negated — the id can be any orderable type, same as
        # dedup_exact's min(). A NULL priority coalesces to +inf on
        # the negated axis: NULL struct fields sort FIRST ascending,
        # so an unscored copy would otherwise beat every scored one —
        # the opposite of the documented best-copy policy
        .agg(F.expr(
            "min_by(_did, named_struct("
            "'np', coalesce(-_p, cast('Infinity' as double)), "
            "'i', _did))"
        ).alias(id_col))
        .select(id_col)
    )
    return docs.join(keys, on=id_col, how="left_semi").unionByName(
        docs.filter(F.col(text_col).isNull()))


def span_dedup(docs: DataFrame, block_words: int = 8,
               id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Span-level dedup WITHIN the corpus: every document is cut into
    disjoint ``block_words``-word blocks, and only the globally FIRST
    occurrence of each distinct block survives (first = smallest
    (doc_id, block index) — deterministic). Returns one row per doc:
    ``(doc_id, n_blocks, n_dropped, clean_text)`` where clean_text is
    the surviving blocks rejoined in order ('' when everything was
    boilerplate seen earlier). This is the removal form of corpus-level
    duplication cleaning — the C4 three-sentence-span / CCNet
    line-dedup policy (Raffel et al. 2020 §2.2, Wenzek et al. 2020)
    re-expressed for whitespace token streams; :func:`cross_doc_gram_stats`
    is the measurement-only companion.

    Scale shape: the keep/drop DECISION never moves text — blocks hash
    to 64-bit keys and the first-occurrence winner is one min-aggregate
    over ``(hash, doc_id, idx)`` triples (map-side partial). Block text
    then moves exactly twice, which is the floor for a reassembling
    span dedup: once through the hash-keyed join that flags winners,
    once through the doc-keyed reassembly aggregate. Skew-safe: a
    boilerplate block repeated 10^9 times is ONE row after the winner
    aggregate, and its instances stream through the spillable join and
    per-doc aggregation without collecting anywhere. Collision caveat
    as everywhere in this module: distinct blocks colliding in xxhash64
    (P ≈ n²/2^65) would merge their survivor decision."""
    k = int(block_words)
    # NULL text must keep its one-row-per-doc contract: split(NULL)
    # propagates NULL through sequence/posexplode (row vanishes under
    # ANSI; phantom NULL blocks under legacy sizeOfNull) — route NULL
    # docs around the block machinery as (0, 0, '') rows instead
    base = docs.filter(F.col(text_col).isNotNull())
    nulls = docs.filter(F.col(text_col).isNull()).select(
        F.col(id_col).alias("doc_id"),
        F.lit(0).cast("long").alias("n_blocks"),
        F.lit(0).cast("long").alias("n_dropped"),
        F.lit("").alias("clean_text"))
    blocks = (
        base.select(F.col(id_col).alias("doc_id"),
                    F.split(F.col(text_col), " ").alias("_toks"))
        .select(
            "doc_id",
            F.posexplode(F.expr(
                f"transform(sequence(0, cast(ceil(size(_toks) / {k}.0) "
                f"as int) - 1), b -> "
                f"array_join(slice(_toks, b * {k} + 1, {k}), ' '))"
            )).alias("bidx", "blk"),
        )
        .withColumn("_h", F.xxhash64("blk"))
    )
    winners = (
        blocks.select("_h", "doc_id", "bidx")
        .groupBy("_h")
        .agg(F.min(F.struct("doc_id", "bidx")).alias("_w"))
        .select("_h", F.col("_w.doc_id").alias("doc_id"),
                F.col("_w.bidx").alias("bidx"),
                F.lit(True).alias("_keep"))
    )
    flagged = blocks.join(winners, ["_h", "doc_id", "bidx"], "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_blocks"),
            F.sum(F.when(F.col("_keep").isNull(), 1).otherwise(0))
            .cast("long").alias("n_dropped"),
            F.array_join(F.expr(
                "transform(array_sort(collect_list(CASE WHEN _keep "
                "THEN struct(bidx, blk) END)), x -> x.blk)"
            ), " ").alias("clean_text"),
        )
        .unionByName(nulls)
    )


# ---------------------------------------------------------------------------
# shingling (shared by minhash / jaccard)
# ---------------------------------------------------------------------------


def shingle_table(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded distinct word-n-gram shingles
    (JVM-side lambda expressions, functions/vectors.py)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(word_ngrams(text_col, n))).alias("shingle"),
    )


def dup_span_coverage(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", w: int = 8,
                      replayable_hash: bool = True) -> DataFrame:
    """Exact-substring duplication coverage (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" — the
    ExactSubstr criterion): how much of each document sits inside a
    ``w``-token span that occurs MORE THAN ONCE anywhere in the
    corpus. Lee et al. build a suffix array; the relational
    equivalent over word tokens is: hash every OVERLAPPING w-token
    window, count window occurrences corpus-wide, and per document
    merge the intervals of its duplicated windows into a covered-token
    count. Overlapping windows are what distinguish this from
    :func:`span_dedup`'s disjoint blocks — a repeated passage is
    caught at EVERY alignment, not only when it lands on a block
    boundary.

    Returns integer-only ``(doc_id, n_tokens, n_windows,
    n_dup_windows, covered_tokens)`` — every input row survives (a
    document shorter than ``w`` tokens has zero windows and zero
    coverage). ``covered_tokens / n_tokens`` is the Lee et al.
    dup-fraction, left as a row-local division for the caller.

    Scale shape: windows fold to longs before the occurrence-count
    exchange, so the exchange carries ``(long, long, int)``; the
    duplicated-window set joins back keyed on the hash; interval
    merging is a per-doc ``lag`` window (sorted equal-length
    intervals only ever overlap their predecessor, so coverage =
    w + Σ min(w, start_i − start_{i−1}) — one pass, partitions
    bounded by document length). No Python anywhere.

    ``replayable_hash=True`` folds with the sketches' md5-52-bit
    :func:`...sketches.h52` so a SQL oracle can recompute every hash;
    ``False`` uses the xxhash64 JVM intrinsic — measured 25.7 s →
    22.0 s end-to-end on a 500k-doc / 36.5M-window corpus
    (local[32]): the fold is NOT the dominant cost (the explode +
    occurrence exchange is), so the replayable default is cheap to
    keep; identical results here since counting is hash-agnostic
    (pair a 128-bit fold at 100 TB if collision budget matters)."""
    from ..functions.vectors import ws_tokens
    from .sketches import h52

    slim = docs.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(ws_tokens(text_col), F.array()).alias("_toks"),
    ).withColumn("_n", F.size("_toks"))

    wins = (
        slim.filter(F.col("_n") >= w)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(f"transform(sequence(0, _n - {w}), s -> "
                       f"array_join(slice(_toks, s + 1, {w}), ' '))")
            ).alias("start", "_gram"),
        )
        .withColumn("_h", h52(F.col("_gram")) if replayable_hash
                    else F.xxhash64(F.col("_gram")))
        .drop("_gram")
    )
    occ = wins.groupBy("_h").agg(F.count("*").alias("_c"))
    dupw = (
        wins.join(occ.filter(F.col("_c") > 1).select("_h"), "_h")
        .select("doc_id", "start")
    )
    ww = Window.partitionBy("doc_id").orderBy("start")
    per_doc = (
        dupw.withColumn("_prev", F.lag("start").over(ww))
        .withColumn(
            "_add",
            F.when(F.col("_prev").isNull(), F.lit(w)).otherwise(
                F.least(F.lit(w), F.col("start") - F.col("_prev"))),
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_windows"),
             F.sum("_add").alias("covered_tokens"))
    )
    return (
        slim.select(
            "doc_id",
            F.col("_n").cast("long").alias("n_tokens"),
            F.greatest(F.col("_n") - w + 1, F.lit(0))
             .cast("long").alias("n_windows"),
        )
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id", "n_tokens", "n_windows",
            F.coalesce("n_dup_windows", F.lit(0))
             .cast("long").alias("n_dup_windows"),
            F.coalesce("covered_tokens", F.lit(0))
             .cast("long").alias("covered_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       num_hashes: int = 16) -> DataFrame:
    """K minhashes per doc in ONE hash-aggregate:
    mh_k = min over shingles of xxhash64(shingle, k). K seeded xxhash64
    columns approximate K independent permutations; all JVM-side."""
    sh = shingle_table(docs, id_col, text_col, n)
    aggs = [F.min(F.xxhash64("shingle", F.lit(k))).alias(f"mh{k}")
            for k in range(num_hashes)]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      num_hashes: int = 16, bands: int = 8,
                      max_bucket: int = 256) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded LSH.

    bands=8, rows=2 over 16 hashes: P(candidate | Jaccard s) =
    1-(1-s^2)^8 — 0.96 at s=0.6, 0.04 at s=0.07. Pair generation is
    in-aggregate (:func:`_bucket_pairs`): signature agg + bucket agg +
    distinct = 3 shuffles total (round 1's window+self-join plan ran
    26 exchanges)."""
    # same loud contract as dedup_incremental: rows=0 would build a
    # zero-arg xxhash64 (opaque analysis error) and a non-divisible
    # combination would silently drop hashes, changing the documented
    # P(candidate | s) curve
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes}")
    rows = num_hashes // bands
    sig = minhash_signatures(docs, id_col, text_col, n, num_hashes)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"mh{b * rows + r}") for r in range(rows)]).alias("h"),
        )
        for b in range(bands)
    ]
    banded = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.h").alias("h"))
    return _bucket_pairs(banded, ["band", "h"], max_bucket,
                         F.col("doc_id")).withColumnsRenamed(
        {"a": "id_a", "b": "id_b"}
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact verification over candidate pairs)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(docs: DataFrame, pairs: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3) -> DataFrame:
    """Exact Jaccard over word-n-gram sets for given (id_a, id_b) pairs.

    Set-based: |A∩B| via a groupBy over the shingle join; |A|,|B| from a
    pre-aggregated size table. No quadratic work, no Python.

    The shingle stream is pruned (semi join) to pair participants and
    ``localCheckpoint``-ed before its three references (sizes, side A,
    side B) — otherwise each reference re-tokenizes and re-shingles
    the corpus; the materialized slice is bounded by the candidate
    set the caller already committed to verifying."""
    pairs = pairs.localCheckpoint(eager=True)
    ids = (pairs.select(F.col("id_a").alias("doc_id"))
           .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
           .distinct())
    sh = (shingle_table(docs, id_col, text_col, n)
          .join(ids, "doc_id", "leftsemi")
          .localCheckpoint(eager=True))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))

    sa = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        pairs.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    za = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .join(za, "id_a").join(zb, "id_b")
        .select(
            "id_a", "id_b",
            (F.coalesce("inter", F.lit(0))
             / (F.col("sz_a") + F.col("sz_b") - F.coalesce("inter", F.lit(0)))
             ).alias("jaccard"),
        )
    )


def containment_pairs(docs: DataFrame, pairs: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3) -> DataFrame:
    """Exact ASYMMETRIC containment ingredients over word-n-gram sets
    for given ``(id_a, id_b)`` pairs: ``C(A,B) = |A∩B| / |A|``
    (Broder 1997's resemblance/containment split). Containment is the
    signal symmetric Jaccard structurally misses: an excerpt, quote
    page or aggregator rewrap of a long document has C(A,B) ~ 1 while
    J(A,B) ~ |A|/|B| can sit far below any near-dup threshold.

    Returns integer-only ``(id_a, id_b, inter, sz_a, sz_b)`` — both
    containment directions and Jaccard are row-local divisions the
    caller applies (and ratio doubles are hash-fragile cross-engine).

    Scale shape: same as :func:`ngram_jaccard_pairs` — candidate
    ``pairs`` come from an LSH blocking stage, never O(N²); the
    intersection is a shingle-keyed join on the candidate set only,
    sizes come from a pre-aggregated per-doc table. The shingle
    stream is pruned (semi join) to PAIR PARTICIPANTS first, then
    ``localCheckpoint``-ed: it is referenced three times below
    (sizes, side A, side B), and without the checkpoint each
    reference would re-tokenize and re-shingle the corpus — the
    materialized slice is bounded by the candidate set the caller
    already committed to verifying."""
    pairs = pairs.localCheckpoint(eager=True)
    ids = (pairs.select(F.col("id_a").alias("doc_id"))
           .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
           .distinct())
    sh = (shingle_table(docs, id_col, text_col, n)
          .join(ids, "doc_id", "leftsemi")
          .localCheckpoint(eager=True))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))

    sa = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        pairs.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    za = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .join(za, "id_a").join(zb, "id_b")
        .select("id_a", "id_b",
                F.coalesce("inter", F.lit(0)).cast("long").alias("inter"),
                F.col("sz_a").cast("long").alias("sz_a"),
                F.col("sz_b").cast("long").alias("sz_b"))
    )


def dedup_incremental(existing: DataFrame, incoming: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3, threshold: float = 0.7,
                      num_hashes: int = 8, bands: int = 4) -> DataFrame:
    """Incremental-ingestion dedup: classify each INCOMING document
    against the EXISTING corpus as ``exact`` (byte-identical text
    already present), ``near`` (word-``n``-gram Jaccard ≥
    ``threshold`` against some existing doc), or ``new`` — the
    asymmetric production path (a crawl batch lands against a 100 TB
    corpus; re-deduping the whole union would redo all prior work, so
    candidates pair only ACROSS the two sides, never within either).

    Exact stage: md5 content keys, incoming vs existing — bodies
    never shuffle, and md5 keeps the key SQL-recomputable. Near
    stage: MinHash-LSH with md5-52-bit seeded hashes (``num_hashes``
    minima in ONE shingle aggregate per side, banded into ``bands``
    keys; a band-key join across the sides yields candidates, then
    exact Jaccard verification via :func:`ngram_jaccard_pairs`).
    Exact matches are excluded from the near count, so the two
    counters partition the duplicate evidence. md5 rather than the
    xxhash64 intrinsic for the same oracle-replayability trade as
    :func:`dup_span_coverage` — measured there at ~15% end-to-end.

    Returns every incoming row as ``(id_col, verdict,
    n_exact_matches, n_near_matches)`` with integer counts
    (``n_near_matches`` = distinct existing docs that verified ≥
    ``threshold`` and are not byte-identical).

    Scale shape: both stages exchange ``(long, long)``-shaped keys
    (content key, band key, pair ids); signatures are per-side
    single-aggregates with map-side combine; the verification join
    touches only candidate pairs. Within-batch duplicates are NOT
    flagged here (run the batch through :func:`dedup_exact` /
    :func:`dedup_minhash` first if the batch itself needs dedup —
    declared semantics, matching production pipelines that dedup the
    delta against the index)."""
    from .sketches import h52

    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes}")
    rows_per_band = num_hashes // bands

    def content_keys(df, alias):
        return df.select(
            F.col(id_col).alias(alias),
            F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_ck"))

    exact = (
        content_keys(incoming, "id_a")
        .join(content_keys(existing, "id_b").distinct(), "_ck")
        .groupBy("id_a")
        .agg(F.count("*").alias("n_exact_matches"))
    )

    def signatures(df):
        sh = shingle_table(df, id_col, text_col, n)
        aggs = [
            F.min(h52(F.concat(F.lit(f"{k}:"), F.col("shingle"))))
            .alias(f"_mh{k}")
            for k in range(num_hashes)
        ]
        return sh.groupBy("doc_id").agg(*aggs)

    def band_keys(sig, alias):
        out = None
        for b in range(bands):
            cols = [F.col(f"_mh{b * rows_per_band + j}")
                    for j in range(rows_per_band)]
            # string band key (concat of the band's minima): exactly
            # recomputable by the SQL oracle, unlike a hashed key
            part = sig.select(
                F.col("doc_id").alias(alias), F.lit(b).alias("_band"),
                F.concat_ws(",", *[c.cast("string") for c in cols])
                .alias("_bkey"))
            out = part if out is None else out.unionByName(part)
        return out

    cand = (
        band_keys(signatures(incoming), "id_a")
        .join(band_keys(signatures(existing), "id_b"),
              ["_band", "_bkey"])
        .select("id_a", "id_b").distinct()
    )
    # the verification corpus must keep the two SIDES apart: a
    # re-crawled page carries the same id on both sides, and a bare
    # id-keyed union would merge both versions' shingle streams into
    # one doc (double-counted sizes, inflated intersections for every
    # candidate touching that id). Side-tagged string ids ('i/' and
    # 'e/') make every verification row unambiguous.
    def _sid(c):
        return F.col(c).cast("string")

    union_docs = (existing.select(
        F.concat(F.lit("e/"), _sid(id_col)).alias(id_col),
        F.col(text_col))
        .unionByName(incoming.select(
            F.concat(F.lit("i/"), _sid(id_col)).alias(id_col),
            F.col(text_col))))
    cand_t = cand.select(
        F.concat(F.lit("i/"), F.col("id_a").cast("string")).alias("id_a"),
        F.concat(F.lit("e/"), F.col("id_b").cast("string")).alias("id_b"))
    verified = (
        ngram_jaccard_pairs(union_docs, cand_t, id_col, text_col, n)
        .filter(F.col("jaccard") >= threshold)
        .select(F.expr("substring(id_a, 3)").alias("id_a"),
                F.expr("substring(id_b, 3)").alias("id_b"))
    )

    def content_keys_s(df, alias):
        return df.select(
            _sid(id_col).alias(alias),
            F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_ck"))

    # near = verified minus byte-identical (exact wins the precedence)
    near_not_exact = (
        verified.join(content_keys_s(incoming, "id_a"), "id_a")
        .join(content_keys_s(existing, "id_b")
              .withColumnRenamed("_ck", "_ckb"), "id_b")
        .filter(F.col("_ck") != F.col("_ckb"))
        .groupBy("id_a")
        .agg(F.count("*").alias("n_near_matches"))
    )
    return (
        incoming.select(F.col(id_col), _sid(id_col).alias("_sid"))
        .join(exact.withColumnRenamed("id_a", id_col), id_col, "left")
        .join(near_not_exact.withColumnRenamed("id_a", "_sid"),
              "_sid", "left")
        .drop("_sid")
        .select(
            id_col,
            F.when(F.col("n_exact_matches").isNotNull(), "exact")
            .when(F.col("n_near_matches").isNotNull(), "near")
            .otherwise("new").alias("verdict"),
            F.coalesce("n_exact_matches", F.lit(0))
            .cast("long").alias("n_exact_matches"),
            F.coalesce("n_near_matches", F.lit(0))
            .cast("long").alias("n_near_matches"),
        )
    )


def dedup_minhash(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3,
                  threshold: float = 0.7) -> DataFrame:
    """Near-dup survivor set: LSH candidates -> exact Jaccard >= threshold
    -> connected components -> keep min id per component."""
    from .components import connected_components

    cands = minhash_lsh_pairs(docs, id_col, text_col, n)
    dup_pairs = ngram_jaccard_pairs(docs, cands, id_col, text_col, n).filter(
        F.col("jaccard") >= threshold
    )
    comp = connected_components(
        dup_pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    )
    # survivors: docs that are their own component representative
    losers = (
        comp.filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias(id_col))
    )
    return docs.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


# 4 x 16-bit lanes per long: bit b's mask selects original bits
# b, b+16, b+32, b+48 into lanes 0..3 of the summed accumulator
_LANE_MASK = 0x0000000100010001  # 3 lanes; hash bits 48-63 sum separately


def simhash(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", n: int = 2) -> DataFrame:
    """64-bit SimHash per document, entirely JVM-side.

    Classic SimHash: for each of 64 bit positions, the +1/-1 votes of
    every shingle's xxhash64 bit; fingerprint bit = sign. Computed with
    SIMD-in-a-register lane packing: ``(h >> b) & 0x0000000100010001``
    accumulates THREE bit-counters per sum (16-bit lanes at bits
    0/16/32), and the 16 counters for hash bits 48-63 are summed as
    single bits — 32 lane-sums + 1 count instead of 64 conditional
    sums, same result (``ones*2 > n`` ⟺ vote sum > 0). The top lane
    must NOT ride the packed sum: its 2^48 weight overflows the signed
    64-bit accumulator at 32,768 shingles, which under Spark 4's
    default ANSI mode kills the job (a round-3 fix; the packed lanes'
    own carry limit is 65,535 distinct shingles per doc, documented
    capacity). Map-side partial aggregation keeps the shuffle tiny."""
    sh = shingle_table(docs, id_col, text_col, n).withColumn(
        "h", F.xxhash64("shingle")
    )
    aggs = [
        F.sum(F.expr(f"(h >> {b}) & {_LANE_MASK}")).alias(f"l{b}")
        for b in range(16)
    ] + [
        F.sum(F.expr(f"(h >> {48 + b}) & 1")).alias(f"t{b}")
        for b in range(16)
    ] + [F.count("*").alias("n")]
    lanes = sh.groupBy("doc_id").agg(*aggs)
    fp = F.lit(0).cast("long")
    for bit in range(64):
        if bit < 48:
            b, k = bit % 16, bit // 16
            ones = F.expr(f"(l{b} >> {16 * k}) & 65535")
        else:
            ones = F.col(f"t{bit - 48}")
        add = 2 ** bit if bit < 63 else -(2 ** 63)
        fp = fp + F.when(ones * 2 > F.col("n"),
                         F.lit(add).cast("long")).otherwise(F.lit(0).cast("long"))
    return lanes.select("doc_id", fp.alias("simhash"))


def simhash_near_duplicates(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", n: int = 2,
                            max_hamming: int = 3,
                            max_bucket: int = 256) -> DataFrame:
    """Pairs within Hamming distance ``max_hamming`` of 64-bit SimHash.

    Blocking: split the fingerprint into 4 x 16-bit bands; any pair at
    distance <= 3 agrees on >= 1 band exactly (pigeonhole). Candidate
    pairs come from the in-aggregate triangle (:func:`_bucket_pairs`,
    payload carries the fingerprint so Hamming verification is a
    row-local ``bit_count(xor)``) — no self-join, no window."""
    fps = simhash(docs, id_col, text_col, n)
    band_cols = [
        F.struct(F.lit(b).alias("band"),
                 F.expr(f"(simhash >> {16 * b}) & 65535").alias("bits"))
        for b in range(4)
    ]
    banded = fps.select(
        "doc_id", "simhash", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", "simhash",
             F.col("bk.band").alias("band"), F.col("bk.bits").alias("bits"))
    pairs = _bucket_pairs(
        banded, ["band", "bits"], max_bucket,
        F.struct(F.col("doc_id"), F.col("simhash")),
    )
    return (
        pairs.select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def lsh_rows_per_band(n_vectors: int, target_bucket: int = 4,
                      min_rows: int = 4, max_rows: int = 32) -> int:
    """Hyperplanes per band so the expected bucket size stays ~constant
    and SMALL: 2^r buckets per band -> r = log2(N / target). Near-dup
    blocking wants ~4 rows/bucket — candidate volume is then
    ~N * target/2 * bands (linear in N); a 64-row target measured 500k
    candidate pairs on a 2k corpus. The key space GROWS with the corpus
    (10^9 vectors -> 2^28 buckets/band) instead of the round-1 fixed
    256; identical clones collide in every band regardless of r."""
    return min(max_rows, max(
        min_rows, math.ceil(math.log2(max(n_vectors, 2) / target_bucket))
    ))


def hyperplanes(bands: int, rows_per_band: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random plane matrix (bands*rows planes x dim):
    component j of plane p = xxhash64(p, j) scaled to [-1, 1]. Computed
    driver-side with the pure-Python xxhash64 twin and shipped as ONE
    array literal — executors do plain multiply-adds, no per-element
    hashing (round 1 hashed dim*planes times per row)."""
    return [
        [spark_xxhash64(p, j) / 9.223372036854776e18 for j in range(dim)]
        for p in range(bands * rows_per_band)
    ]


def embedding_near_duplicates(embeddings: DataFrame, id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              threshold: float = 0.95,
                              bands: int = 8, rows_per_band: int | None = None,
                              max_bucket: int = 1024,
                              n_vectors: int | None = None,
                              dim: int | None = None) -> DataFrame:
    """Vector near-duplicates: cosine >= threshold, blocked by BANDED
    random-hyperplane LSH — OR over ``bands`` bands of ``rows_per_band``
    sign bits each, so a 0.999-cosine pair flipping one plane's sign
    still collides in another band (round 1's single AND-band silently
    missed it).

    Collision math: P(plane agrees) = 1 - theta/pi; P(pair survives) =
    1 - (1 - p^r)^B — at r=8, B=8: 0.9998 for cosine 0.999, 0.89 for
    0.95. ``rows_per_band`` defaults to log2(N/64): constant expected
    bucket size at any corpus scale. Oversized buckets are dropped
    (guard the round-1 version lacked), candidate pairs come from the
    in-aggregate triangle, and only then are vectors re-joined for the
    exact cosine verification — the bucket stage shuffles (band, bits,
    id) triples, never vectors."""
    from ..functions.vectors import dot, norm

    # n_vectors/dim: thread them in from table metadata (parquet footer
    # counts, catalog stats) — the count()/first() fallbacks each run a
    # driver-side job per call, which a production pipeline should never
    # pay for numbers its catalog already knows
    if n_vectors is None:
        n_vectors = embeddings.count()
    if rows_per_band is None:
        rows_per_band = lsh_rows_per_band(n_vectors)
    if dim is None:
        first = embeddings.select(F.size(vec_col).alias("d")).first()
        dim = first["d"] if first else 0

    # band signatures via an Arrow-vectorized pandas UDF: the sign bits
    # are one (batch x dim) @ (dim x planes) BLAS matmul per Arrow
    # batch — the measured JVM alternative (nested higher-order
    # functions, interpreted, never codegen'd) costs ~1 ms/row. This is
    # the sanctioned Python crossing: vectorized, no per-row work. The
    # exact-cosine verification below stays JVM-side.
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    planes = np.array(hyperplanes(bands, rows_per_band, dim), dtype=np.float64)
    r = rows_per_band
    weights = (np.int64(1) << np.arange(r, dtype=np.int64))

    def _band_bits(vecs: "pd.Series") -> "pd.Series":
        m = np.vstack(vecs.to_numpy()).astype(np.float64)
        signs = (m @ planes.T) >= 0  # (n, bands*r)
        cols = [signs[:, b * r:(b + 1) * r] @ weights for b in range(bands)]
        return pd.Series(list(np.stack(cols, axis=1)))

    # explicit Series->Series annotations (this module uses
    # `from __future__ import annotations`, which stringifies hints and
    # defeats pandas_udf's inference)
    _band_bits.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    band_bits = pandas_udf(_band_bits, "array<long>")

    banded = (
        embeddings.select(F.col(id_col).alias("vid"),
                          band_bits(vec_col).alias("_bits"))
        .select("vid", F.posexplode("_bits").alias("band", "bits"))
    )
    pairs = _bucket_pairs(banded, ["band", "bits"], max_bucket, F.col("vid"))

    # zero-norm guard: a zero vector has no direction — its cosine is
    # 0/0 = NaN, and Spark orders/compares NaN ABOVE every number, so
    # an unguarded NaN >= threshold is TRUE and would merge unrelated
    # vectors into one dedup component (silent data loss downstream)
    v = embeddings.select(F.col(id_col).alias("vid"),
                          F.col(vec_col).alias("vec"),
                          norm(vec_col).alias("norm")) \
        .filter(F.col("norm") > 0)
    cos = dot("va.vec", "vb.vec") / (F.col("va.norm") * F.col("vb.norm"))
    return (
        pairs.join(v.alias("va"), pairs.a == F.col("va.vid"))
        .join(v.alias("vb"), pairs.b == F.col("vb.vid"))
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"),
                cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# cross-document n-gram duplication (CCNet-style corpus-level signal)
# ---------------------------------------------------------------------------


def cross_doc_gram_stats(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Per-document cross-corpus duplication signal: for each document,
    how many of its distinct word-``n``-grams appear in at least one
    OTHER document, and the resulting shared fraction.

    This is the corpus-level complement of :func:`repetition_stats`
    (within-doc repetition): CCNet and RefinedWeb grade documents by
    how much of their content is boilerplate shared across the crawl
    before any pairwise dedup runs. Output columns:

    - ``n_grams``    — distinct word-n-grams in the document
    - ``n_shared``   — of those, grams present in >= 2 documents
    - ``shared_frac``— ``n_shared / n_grams`` rounded to 6 dp

    Scale shape: grams are folded to 64-bit ``xxhash64`` keys right
    after the explode, so both shuffles (gram-frequency aggregate, and
    the join back to per-doc grams) move ``(long, long)`` pairs — gram
    TEXT never reaches an exchange, document bodies never leave the
    scan. The two stages share the same key, so AQE reuses the
    exchange for the join's aggregated side. Hash collisions merge two
    grams' doc-counts with probability ~N^2/2^64 — the standard
    fingerprint trade every hashed dedup stage in this module makes.
    """
    grams = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(word_ngrams(text_col, n))).alias("g"),
        )
        # zero-token docs shingle to "" — they have no content to share
        # and are excluded (a boilerplate verdict on emptiness would be
        # bogus, and the SQL oracle's NULL shingle drops them too)
        .filter(F.col("g") != "")
        .select("doc_id", F.xxhash64("g").alias("gh"))
    )
    # (doc, gram) is distinct per doc after array_distinct, so a plain
    # count is the number of documents containing the gram
    freq = grams.groupBy("gh").agg(F.count("*").alias("ndocs"))
    return (
        grams.join(freq, "gh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("ndocs") > 1).cast("long")).alias("n_shared"),
        )
        .withColumn(
            "shared_frac",
            F.round(F.col("n_shared") / F.col("n_grams"), 6),
        )
        .withColumnRenamed("doc_id", id_col)
    )


def gram_novelty(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Per-document n-gram NOVELTY versus all earlier documents: how
    much of each document is content the corpus (in ``id_col`` order)
    has not seen before.

    The incremental-crawl complement of :func:`cross_doc_gram_stats`:
    where ``shared_frac`` asks "is this boilerplate shared with ANY
    other doc", novelty asks "is this doc ADDING anything" — the
    signal a continuously-updated corpus uses to decide whether a
    re-crawled or newly-discovered page earns its storage/training
    slot (RefinedWeb/FineWeb-style crawl-over-crawl growth curves are
    exactly ``sum(n_new)/sum(n_grams)`` per crawl batch). A gram is
    NEW for the document holding its minimum ``id_col`` — each gram
    credits exactly one document, so ``sum(n_new)`` = distinct grams
    in the corpus.

    Output: ``(doc_id, n_grams, n_new)`` — integer-only (the novelty
    ratio is derivable and a ratio double would be hash-fragile
    cross-engine).

    Scale shape: identical to :func:`cross_doc_gram_stats` — grams
    fold to ``xxhash64`` longs before both exchanges (the min-doc
    aggregate and the join back), gram text never leaves the scan,
    and the two stages share the ``gh`` key so AQE reuses the
    exchange. ``min`` is map-side combinable; first-occurrence
    attribution needs no sort and no window.
    """
    grams = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(word_ngrams(text_col, n))).alias("g"),
        )
        .filter(F.col("g") != "")
        .select("doc_id", F.xxhash64("g").alias("gh"))
    )
    first = grams.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first, "gh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
            .alias("n_new"),
        )
        .withColumnRenamed("doc_id", id_col)
    )


# ---------------------------------------------------------------------------
# semantic (embedding-cluster) dedup
# ---------------------------------------------------------------------------


def semantic_dedup(embeddings: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", n_clusters: int = 16,
                   n_iter: int = 0, threshold: float = 0.95,
                   max_cluster: int = 4096) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", arXiv:2303.09540) ->
    (vec_id, cell_id, keep): cluster the embedding space with k-means,
    then deduplicate WITHIN clusters only — a vector is dropped
    (keep=0) iff some lower-id member of ITS cluster is more similar
    than ``threshold``. Near-duplicate pairs split across two clusters
    are missed by construction; that recall loss is the price of never
    comparing across clusters, exactly as published.

    Scale shape — the quadratic work is cluster-bounded:

    - k-means init is the ``n_clusters`` smallest-id vectors
      (deterministic, so at ``n_iter=0`` the whole operator — assign,
      pair, verdict — replays exactly in the SQL oracle; quality comes
      from Lloyd rounds at ``n_iter>0``, same contract as
      :func:`simsearch.train_pq_codebook`),
    - assignment is argmin-L2 against BROADCAST centroids (map-only
      over the corpus; ties break toward the smaller cell_id in both
      engines via min-of-struct / ORDER BY d2, cell_id),
    - the pair join is an equi-join on cell_id with ``id_a < id_b`` —
      O(sum of cluster^2), never O(N^2) — and clusters larger than
      ``max_cluster`` are excluded from pairing up front by a count
      window sharing the join's exchange (their members all keep;
      same skew-guard stance as LSH ``max_bucket``: a megacluster
      means the clustering failed, not that 10^9 comparisons should
      run),
    - the verdict needs only the DROPPED id set (distinct larger ids
      of qualifying pairs), which left-anti-joins back — vectors move
      through the cell exchange once; the pair join carries them only
      inside clusters.
    """
    from .simsearch import kmeans_min_id

    v = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vec"))
    assigned = kmeans_min_id(v, n_clusters, n_iter)

    w = Window.partitionBy("cell_id")
    sized = assigned.withColumn("_n", F.count("*").over(w))
    # zero-norm guard (same stance as embedding_near_duplicates): a
    # zero vector's cosine is 0/0 = NaN, and Spark compares NaN ABOVE
    # every number, so an unguarded NaN >= threshold would drop every
    # higher-id member of the zero vector's cell. Zero vectors never
    # pair (they all keep); they still get their cell assignment.
    from ..functions.vectors import cosine as _cos, norm as _norm
    pairable = (sized
                .filter((F.col("_n") >= 2) & (F.col("_n") <= max_cluster))
                .filter(_norm("vec") > 0))
    a = pairable.select(F.col("cell_id"), F.col("vec_id").alias("id_a"),
                        F.col("vec").alias("va"))
    b = pairable.select(F.col("cell_id"), F.col("vec_id").alias("id_b"),
                        F.col("vec").alias("vb"))
    dropped = (
        a.join(b, "cell_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(_cos("va", "vb") >= threshold)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        sized.join(dropped.withColumn("_drop", F.lit(1)), "vec_id", "left")
        .select("vec_id", "cell_id",
                F.when(F.col("_drop").isNull(), 1).otherwise(0).alias("keep"))
    )


def allpairs_jaccard(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 3,
                     t_num: int = 1, t_den: int = 2,
                     max_bucket: int = 4096) -> DataFrame:
    """EXACT all-pairs similarity join with prefix filtering (Bayardo,
    Ma & Srikant, WWW 2007 "Scaling up all pairs similarity search";
    Chaudhuri et al. ICDE 2006 SSJoin): every document pair whose
    word-``n``-gram Jaccard is ``>= t_num/t_den``, with NO candidate
    loss — the complement to :func:`minhash_lsh_pairs`, which trades
    recall for cost. The prefix theorem does the pruning: order every
    doc's shingle set by ascending global document frequency (rarest
    first, ties by shingle); two sets with J >= t MUST share a token
    inside each other's first ``|x| - ceil(t*|x|) + 1`` tokens, so
    only prefix tokens generate candidates and the common-token
    buckets that make naive token-joins quadratic never pair.

    Thresholding is INTEGER-exact: a pair passes iff
    ``t_den * inter >= t_num * (sz_a + sz_b - inter)`` — no float
    ever decides membership, so the result hash-replays cross-engine.
    Returns ``(id_a, id_b, inter, sz_a, sz_b)``, all integers;
    Jaccard itself is a row-local division for the caller.

    Scale shape: shingle stream folds once; the df join rides the
    vocabulary; each doc's ordered set materializes doc-locally (one
    collect_list bounded by doc length — the minhash-signature
    convention); candidates come from :func:`_bucket_pairs` keyed on
    PREFIX tokens only (prefix tokens are by construction the rare
    end of the vocabulary, so buckets stay small on natural corpora);
    verification is the :func:`ngram_jaccard_pairs` shape — a
    shingle-keyed join over candidate participants only.
    ``max_bucket`` is the skew guard: a prefix token hotter than it
    drops its bucket. The 4096 default caps the in-aggregate pair
    expansion at ~8.4M structs per bucket row (the old 100k default
    admitted a ~5e9-struct single aggregation row — an executor OOM
    on a boilerplate flood, defeating the guard's purpose); it is a
    (documented) recall trade AT THE GUARD only —
    leave it above the corpus's max prefix-token df for the exact
    contract; lower it only when a boilerplate-token flood is worth
    bounded recall loss)."""
    sh = shingle_table(docs, id_col, text_col, n).localCheckpoint(
        eager=True)
    dfreq = sh.groupBy("shingle").agg(
        F.count("*").cast("long").alias("_df"))
    ordered = (sh.join(dfreq, "shingle")
               .groupBy("doc_id")
               .agg(F.sort_array(F.collect_list(
                   F.struct(F.col("_df"), F.col("shingle"))))
                   .alias("_toks")))
    tn, td = int(t_num), int(t_den)
    # prefix_len = sz - ceil(t*sz) + 1, ceil via integer arithmetic
    pref = (ordered.select(
        "doc_id",
        F.expr(f"slice(_toks, 1, size(_toks) "
               f"- ((({tn} * size(_toks)) + {td} - 1) DIV {td}) + 1)")
        .alias("_p"))
        .select("doc_id", F.explode("_p").alias("_t"))
        .select(F.col("_t.shingle").alias("shingle"), "doc_id"))
    cand = (_bucket_pairs(pref, ["shingle"], int(max_bucket),
                          F.col("doc_id"))
            .select(F.col("a").alias("id_a"), F.col("b").alias("id_b")))
    ids = (cand.select(F.col("id_a").alias("doc_id"))
           .unionByName(cand.select(F.col("id_b").alias("doc_id")))
           .distinct())
    psh = sh.join(ids, "doc_id", "leftsemi").localCheckpoint(eager=True)
    sizes = psh.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("sz"))
    sa = psh.select(F.col("doc_id").alias("id_a"), "shingle")
    sb = psh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (cand.join(sa, "id_a").join(sb, ["id_b", "shingle"])
             .groupBy("id_a", "id_b")
             .agg(F.count("*").cast("long").alias("inter")))
    za = sizes.select(F.col("doc_id").alias("id_a"),
                      F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col("doc_id").alias("id_b"),
                      F.col("sz").alias("sz_b"))
    return (inter.join(za, "id_a").join(zb, "id_b")
            .filter(F.lit(td) * F.col("inter")
                    >= F.lit(tn) * (F.col("sz_a") + F.col("sz_b")
                                    - F.col("inter")))
            .select("id_a", "id_b", "inter", "sz_a", "sz_b"))
