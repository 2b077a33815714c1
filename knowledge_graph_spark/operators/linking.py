# -*- coding: utf-8 -*-
"""Entity linking: MinHash-LSH blocking + n-gram cosine scoring.

North-star addition (BASELINE.json: "entity linking via MinHash-LSH
blocking plus TF-IDF cosine scoring") — the reference has no linking
stage; its positional ids collide across graphs instead
(/root/reference/backend/kgapi/kg_writer.py:24). This operator finds
surface-form near-duplicates among entity names (深度智云 / 深度智云公司)
and emits same_as pairs for connected-components canonicalization.

The Spark path (:func:`same_as_edges`), no Python in the hot path:

1. distinct names (entity mentions repeat massively at corpus scale —
   dedupe FIRST so every later stage is O(|vocabulary|), not O(|mentions|))
2. char-bigram shingles via JVM-side ``transform(sequence(...))`` —
   no UDF
3. K=16 minhashes and B=8 LSH band keys (R=2), row-local per name
   (:func:`_band_keys`): minhash k is ``array_min(transform(shingles,
   s -> xxhash64(s, k)))``, band key b is ``xxhash64(b, mh2b,
   mh2b+1)``; identical band key -> candidate pair, generated INSIDE
   the bucket aggregation (operators/dedup.py ``_bucket_pairs`` — no
   bucket self-join, no distinct pass)
4. skew guard: LSH buckets larger than ``max_bucket`` are dropped
   before their id lists materialize (a bucket of hub-suffix names
   like *公司 would otherwise go quadratic; standard LSH practice,
   loss only affects recall of already-ambiguous blocks)
5. verify candidates with exact weighted cosine over shared shingles
   (IDF-weighted, computed with a groupBy over exploded shingles —
   set-based, no quadratic work)

Scaling: one shuffle for the bucket pair aggregation (+ its distinct),
one for the IDF aggregate, one for the verification join — all on
bounded-vocabulary data.

The driver path (:func:`same_as_local`) gives the same pairs for a
graph of at most ``_DRIVER_NAMES`` distinct names. ONE Spark action
(:func:`collect_features`) collects every distinct name with its shingle
set and its band keys (Spark still computes every hash); bucketing,
the skew guard, the IDF weights, the cosine and both same_as rules
then run in Python over the collected features
(:func:`score_features`). At a few thousand names that scoring is
milliseconds of set intersection, while the Spark path pays the fixed
latency of ~14 serial jobs (two checkpoints, a count, the AQE stages of
the scoring plan). Above the limit it returns None and the caller runs
the Spark path, which stays the reference the tests compare against.
Scores agree to a few ulps: Python's ``log`` is not ``StrictMath.log``,
and the driver sums exactly (``math.fsum``) where Spark adds each
group's terms in ascending order.

Measured crossover (local[4], warm session, median of two runs; Spark
= ``same_as_edges`` into the noop sink, driver = ``same_as_local``;
2,313 names are a 2000-page ``generate_spark`` graph's, the larger
vocabularies add random 2-6 character CJK names, 30% of them also with
a company suffix):

    names     candidates   Spark s   driver s   driver peak MB
    2,313         35,707      1.60       0.41         9
    10,000        39,394      3.24       0.97        30
    30,000        49,707      2.82       1.86        86
    100,000      107,277      5.72       4.87       260
    300,000      548,676     14.71      16.02       785

The driver's time and memory grow with the vocabulary and overtake
Spark's between 100k and 300k names. ``_DRIVER_NAMES`` sits at 50k, well
inside the driver's winning range and below the 100k row's 260 MB of
Python objects.
"""

from __future__ import annotations

import itertools
import math
from collections import defaultdict

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from ..functions.vectors import char_ngrams

# B=8 bands of R=2 rows: candidate-recall for Jaccard 0.6 pairs is
# 1-(1-0.36)^8 ≈ 0.97 (vs 0.83 at B=4), at the cost of 16 cheap
# row-local minhashes
N_HASHES = 16
BANDS = 8

#: distinct-name count up to which :func:`same_as_local` links a graph
#: on the driver (see the module docstring for the measurement)
_DRIVER_NAMES = 50_000


def _shingles(col: str = "name"):
    """char-2-gram array (functions/vectors.py); 1-char names shingle
    to themselves."""
    return char_ngrams(col, 2)


def _band_keys(shingles: str) -> Column:
    """The ``BANDS`` LSH band keys of the shingle-array column
    ``shingles``, row-local: minhash k is the least ``xxhash64(shingle,
    k)``, and band b hashes b with minhashes 2b and 2b+1. Both linking
    paths band through this one expression. It reads a column, not an
    expression, so its projection computes the shingles once; and it
    is one SQL expression, so building it is one call into the JVM,
    not one per lambda."""
    mh = [f"array_min(transform({shingles}, s -> xxhash64(s, {k})))"
          for k in range(N_HASHES)]
    return F.expr("array(" + ", ".join(
        f"xxhash64({b}, {mh[2 * b]}, {mh[2 * b + 1]})" for b in range(BANDS)
    ) + ")")


def candidate_pairs(
    names: DataFrame, max_bucket: int = 64, assume_distinct: bool = False
) -> DataFrame:
    """names(name) -> candidate (name_a, name_b) pairs, name_a < name_b.

    ``assume_distinct`` skips the dedupe shuffle when the caller already
    distinct-ed (scored_pairs does)."""
    distinct = names.select("name") if assume_distinct else names.select("name").distinct()
    # all bands in ONE pass, row-local: explode each name's band-key
    # array (no min-hash aggregate, no B-way union)
    banded = distinct.select("name", _shingles("name").alias("shingles")).select(
        "name", F.explode(_band_keys("shingles")).alias("band_key"))

    # in-aggregate triangular pair generation (operators/dedup.py
    # _bucket_pairs — the shape that cut minhash dedup from 26 to 8
    # exchanges): one count-window skew guard + one collect per bucket,
    # pairs emitted by JVM lambdas — no bucket self-join, no second
    # scan of the banded table
    from .dedup import _bucket_pairs

    return _bucket_pairs(
        banded, ["band_key"], max_bucket, F.col("name")
    ).withColumnsRenamed({"a": "name_a", "b": "name_b"})


def _sorted_sum(terms: Column) -> Column:
    """A group's sum of ``terms``, added in ascending order. A float sum
    depends on the order its terms are added in, and a plain ``sum``
    adds them in the order the rows reach the aggregate, which follows
    the input's partitioning; in sorted order the same terms always
    give the same bits."""
    return F.aggregate(F.array_sort(F.collect_list(terms)), F.lit(0.0),
                       lambda acc, x: acc + x)


def scored_pairs(names: DataFrame, max_bucket: int = 64) -> DataFrame:
    """Candidate pairs with IDF-weighted shingle-cosine similarity.

    cosine(a,b) = sum_{g in a∩b} idf(g)^2 / (||a|| * ||b||), with
    idf(g) = ln(1 + N/df(g)) over the distinct-name corpus. Entirely
    set-based: explode -> join on shingle -> aggregate. Both sums add
    their terms in sorted order (:func:`_sorted_sum`), so a score is a
    function of the names alone, not of how the input is partitioned."""
    # localCheckpoint, not cache/persist: both frames back the returned
    # lazy plan, so the operator can never unpersist them itself — a
    # CacheManager entry would pin vocabulary-sized data for the whole
    # session (one leak per graph in a long-running driver), while
    # checkpoint RDDs are GC-reclaimed once the plan is unreferenced
    distinct = names.select("name").distinct().localCheckpoint(eager=True)
    n_names = distinct.count()

    sh = distinct.select(
        "name", F.explode(F.array_distinct(_shingles("name"))).alias("shingle")
    )
    idf = sh.groupBy("shingle").agg(
        F.log(F.lit(1.0) + F.lit(float(n_names)) / F.count("*")).alias("idf")
    )
    # weighted feeds three consumers (norms, wa, wb) — checkpoint so
    # the explode+join runs once, not per branch (GC-reclaimed, see
    # `distinct` above)
    weighted = sh.join(idf, "shingle").localCheckpoint(eager=True)
    norms = weighted.groupBy("name").agg(
        F.sqrt(_sorted_sum(F.col("idf") * F.col("idf"))).alias("norm")
    )

    cands = candidate_pairs(distinct, max_bucket, assume_distinct=True)
    wa = weighted.select(
        F.col("name").alias("name_a"), "shingle", F.col("idf").alias("idf_a")
    )
    wb = weighted.select(
        F.col("name").alias("name_b"), "shingle", F.col("idf").alias("idf_b")
    )
    dots = (
        cands.join(wa, "name_a")
        .join(wb, ["name_b", "shingle"])
        .groupBy("name_a", "name_b")
        .agg(_sorted_sum(F.col("idf_a") * F.col("idf_b")).alias("dot"))
    )
    na = norms.select(F.col("name").alias("name_a"), F.col("norm").alias("norm_a"))
    nb = norms.select(F.col("name").alias("name_b"), F.col("norm").alias("norm_b"))
    return (
        dots.join(na, "name_a")
        .join(nb, "name_b")
        .select(
            "name_a", "name_b",
            (F.col("dot") / (F.col("norm_a") * F.col("norm_b"))).alias("score"),
        )
    )


def same_as_edges(
    names: DataFrame, threshold: float = 0.9, max_bucket: int = 64
) -> DataFrame:
    """Final same-entity pairs: high cosine OR prefix containment.

    Two precision-first rules (canonicalization must not conflate
    sibling orgs like 华星科技公司 / 华星科技银行, which share a stem):

    - IDF-weighted bigram cosine >= 0.9 (near-identical strings only;
      one-char-apart org names like 青云/凌云科技中心 score ≈0.8 and
      must NOT merge), or
    - one name is a prefix of the other with >= 3 shared chars — the
      abbreviation pattern (华星科技 ⊂ 华星科技公司), which is how
      Chinese news actually shortens org names."""
    # candidate pairs arrive with name_a < name_b in UTF8-binary
    # order (scored_pairs sorts inside the bucket aggregate), and a
    # proper prefix always sorts before its extension — so only the
    # "name_a is the prefix" direction can ever occur; the length
    # guard on name_a is therefore the right (and only needed) one
    prefix_rule = (
        (F.length("name_a") >= 3)
        & F.col("name_b").startswith(F.col("name_a"))
    )
    return scored_pairs(names, max_bucket).filter(
        (F.col("score") >= threshold) | prefix_rule
    )


def name_features(names: DataFrame) -> DataFrame:
    """The driver path's features, lazily: each distinct name of
    ``names`` with its distinct shingles and its ``BANDS`` band keys.
    :func:`collect_features` brings them to the driver."""
    return (
        names.select("name").distinct()
        .select("name", F.array_distinct(_shingles("name")).alias("shingles"))
        .select("name", "shingles", _band_keys("shingles").alias("bands"))
    )


def collect_features(features: DataFrame) -> list | None:
    """The driver path's one Spark action: the :func:`name_features`
    rows, or None when there are more than ``_DRIVER_NAMES`` of them
    (the caller then links on the Spark path). :func:`score_features`
    scores the rows."""
    rows = features.limit(_DRIVER_NAMES + 1).collect()
    return None if len(rows) > _DRIVER_NAMES else rows


def score_features(
    rows: list, threshold: float = 0.9, max_bucket: int = 64
) -> tuple[list[tuple[str, str, float]], dict]:
    """:func:`same_as_edges` in Python over :func:`collect_features` rows:
    ``(pairs, guard)``, the pairs as sorted ``(name_a, name_b, score)``
    tuples. It mirrors :func:`scored_pairs` and :func:`same_as_edges`
    rule for rule:

    - N counts every distinct name, NULL included (``distinct.count()``);
      ``idf(g) = ln(1 + N/df(g))``, df over the names holding g.
    - A bucket is every name with one band key. Its size guard
      ``2 <= size <= max_bucket`` counts a NULL member, as the count
      window does, but pairs leave NULL out, as ``collect_list`` does.
    - Pairs are the upper triangle of the bucket's sorted names;
      Python's code-point order is Spark's UTF-8 byte order.
    - A pair sharing no shingle gets no score (the verification join
      emits no row); a scored pair is kept by the cosine threshold or
      the >=3-char prefix rule.

    ``guard`` reports what the skew guard dropped: ``lsh_buckets_dropped``
    buckets larger than ``max_bucket``, and ``lsh_names_dropped``
    distinct non-NULL names in them (a name may still pair through
    another band). The rows hold every bucket, so counting costs no
    Spark job; the Spark path drops its buckets inside the pair
    aggregate, and counting them there would take a job of its own."""
    buckets: dict[int, list] = defaultdict(list)
    doc_freq: dict[str, int] = defaultdict(int)
    shingles: dict[str, list[str]] = {}
    for name, sh, bands in rows:
        for key in bands:
            buckets[key].append(name)
        # the NULL name's only shingle is NULL, which the weighting
        # join drops: it has no weight, no norm and no pair
        if name is not None:
            shingles[name] = sh
            for g in sh:
                doc_freq[g] += 1
    n = len(rows)
    # idf(g)^2: the dot product's term and the squared norm's term
    w2 = {}
    for g, d in doc_freq.items():
        idf = math.log(1.0 + n / d)
        w2[g] = idf * idf
    norm = {name: math.sqrt(math.fsum(w2[g] for g in sh))
            for name, sh in shingles.items()}
    sets = {name: set(sh) for name, sh in shingles.items()}

    cands = set()
    n_dropped, dropped_names = 0, set()
    for members in buckets.values():
        if len(members) > max_bucket:
            n_dropped += 1
            dropped_names.update(m for m in members if m is not None)
        elif len(members) >= 2:
            cands.update(itertools.combinations(
                sorted(m for m in members if m is not None), 2))
    out = []
    for a, b in cands:
        sb = sets[b]
        shared = [w2[g] for g in shingles[a] if g in sb]
        if not shared:
            continue
        score = math.fsum(shared) / (norm[a] * norm[b])
        if score >= threshold or (len(a) >= 3 and b.startswith(a)):
            out.append((a, b, score))
    out.sort()
    return out, {"lsh_buckets_dropped": n_dropped,
                 "lsh_names_dropped": len(dropped_names)}


def same_as_local(
    names: DataFrame, threshold: float = 0.9, max_bucket: int = 64
) -> list[tuple[str, str, float]] | None:
    """:func:`same_as_edges` on the driver, for a small vocabulary:
    the same pairs as sorted ``(name_a, name_b, score)`` tuples, or
    None when ``names`` holds more than ``_DRIVER_NAMES`` distinct
    names (the caller then runs the Spark path). One Spark action
    (:func:`collect_features`), then :func:`score_features`."""
    rows = collect_features(name_features(names))
    if rows is None:
        return None
    return score_features(rows, threshold, max_bucket)[0]


def same_as_frame(spark: SparkSession, pairs: list) -> DataFrame:
    """Pairs from :func:`same_as_local` as a frame of
    :func:`same_as_edges`' schema (its pair names come out of the
    bucket aggregate non-null). Spark decodes the Arrow table in the
    JVM, so writing it starts no Python worker; ``coalesce(1)`` keeps
    it one slice."""
    a, b, score = zip(*pairs) if pairs else ((), (), ())
    table = pa.table({
        "name_a": pa.array(a, pa.string()),
        "name_b": pa.array(b, pa.string()),
        "score": pa.array(score, pa.float64()),
    })
    schema = T.StructType([
        T.StructField("name_a", T.StringType(), False),
        T.StructField("name_b", T.StringType(), False),
        T.StructField("score", T.DoubleType(), True),
    ])
    return spark.createDataFrame(table, schema).coalesce(1)


def fuzzy_name_matches(
    names_df: DataFrame,
    name_col: str = "name",
    block_expr: "F.Column | None" = None,
    max_dist: int = 4,
    max_block: int = 512,
) -> DataFrame:
    """Blocked fuzzy string matching -> (name_a, name_b, edit_dist):
    pairs of DISTINCT names in the same block whose Levenshtein
    distance is <= ``max_dist``, name_a < name_b.

    The classic record-linkage shape (Fellegi-Sunter blocking + edit
    distance): an all-pairs Levenshtein is O(V^2) and dead at corpus
    scale, so candidates only form inside a cheap blocking key —
    default: the name's last whitespace token, the head noun in
    English-style compound names ("small bolt" / "blue bolt" block
    together; an entity-resolution caller passes a phonetic key or an
    LSH band instead). Scale shape:

    - names dedupe FIRST (mentions repeat massively; everything after
      is O(|vocabulary|)),
    - pairs generate INSIDE the block aggregation via
      :func:`dedup._bucket_pairs` (no block self-join, no distinct
      pass), with the ``max_block`` skew guard dropping megablocks
      before their name lists materialize,
    - ``levenshtein()`` is JVM codegen on the pair rows only — the
      O(len^2) DP runs on |candidate pairs|, never |V|^2.

    Complements :func:`scored_pairs`: edit distance catches
    transposition/typo variants that n-gram cosine underweights, and
    is exactly replayable in SQL (DuckDB ships the same classic
    unweighted Levenshtein), so the driver oracle recomputes pairs
    end to end."""
    from .dedup import _bucket_pairs

    names = (
        names_df.select(F.col(name_col).alias("name"))
        .filter(F.col("name").isNotNull())
        .distinct()
    )
    block = block_expr if block_expr is not None else F.element_at(
        F.split("name", " "), -1)
    keyed = names.select(block.alias("_b"), "name")
    pairs = _bucket_pairs(keyed, ["_b"], max_block, F.col("name"))
    return (
        pairs.withColumn("edit_dist", F.levenshtein("a", "b"))
        .filter(F.col("edit_dist") <= max_dist)
        .select(F.col("a").alias("name_a"), F.col("b").alias("name_b"),
                "edit_dist")
    )


#: Soundex letter -> digit table (Russell & Odell, US patent 1261167;
#: the Knuth TAOCP vol. 3 presentation): vowels/H/W/Y -> 0, the six
#: consonant classes -> 1..6. Module-level so the SQL oracle generator
#: injects the SAME table.
SOUNDEX_LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
SOUNDEX_DIGITS = "01230120022455012623010202"


def phonetic_code(col) -> "F.Column":
    """Soundex-style phonetic code of a name: first letter + the
    first three non-zero consonant-class digits after collapsing
    adjacent repeats, zero-padded (``robert``/``rupert`` -> R163,
    ``smith``/``smyth`` -> S530). NULL when the value has no A-Z
    letter after uppercasing.

    Declared simplification vs genealogy-grade Soundex: H and W act
    as separators like vowels (the classic "same code across h/w"
    merge rule is dropped) — the variant is implemented IDENTICALLY
    here and in the SQL oracle, which is what blocking determinism
    needs. Every step is codegen (upper/translate/regexp chain) with
    no backreference, so the same expressions run verbatim in Java
    regex and RE2.
    """
    up = F.regexp_replace(F.upper(col), "[^A-Z]", "")
    coll = F.translate(up, SOUNDEX_LETTERS, SOUNDEX_DIGITS)
    for d in "0123456":   # collapse adjacent repeats, no backrefs
        coll = F.regexp_replace(coll, d + d + "+", d)
    nozero = F.regexp_replace(F.substring(coll, 2, 1 << 30), "0", "")
    code = F.concat(F.substring(up, 1, 1),
                    F.rpad(F.substring(nozero, 1, 3), 3, "0"))
    return F.when(up == "", F.lit(None).cast("string")).otherwise(code)


def phonetic_blocks(items: DataFrame, col: str = "name") -> DataFrame:
    """Phonetic blocking census: fold values to their Soundex-style
    code (:func:`phonetic_code`) and report per block ``(code,
    n_rows, n_values, first_value, last_value)`` — the ER blocking
    quality signal (``n_values >= 2`` blocks are the candidate space
    a phonetic pass would hand to :func:`fuzzy_name_matches` via
    ``block_expr=phonetic_code(...)``; a megablock code flags an
    unproductive key).

    Scale shape: one row-local code computation + one code-keyed
    aggregate (count/count_distinct/min/max) — values exchange once,
    keyed by the 4-char code; no pair generation happens here."""
    coded = (items.select(F.col(col).alias("_v"),
                          phonetic_code(F.col(col)).alias("code"))
             .filter(F.col("code").isNotNull()))
    return (coded.groupBy("code")
            .agg(F.count("*").cast("long").alias("n_rows"),
                 F.count_distinct("_v").cast("long").alias("n_values"),
                 F.min("_v").alias("first_value"),
                 F.max("_v").alias("last_value")))


def bitext_candidates(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", lang_col: str = "lang",
                      min_runs: int = 2,
                      max_group: int = 32) -> DataFrame:
    """Parallel-text candidate mining (the ParaCrawl/CCMatrix
    harvesting step, cf. Banon et al. ACL 2020): two pages in
    DIFFERENT languages that share the same set of long digit
    sequences (dates, invoice ids, phone numbers, version strings —
    translation-invariant anchors) and have comparable lengths are
    candidate translations of each other. Emits ``(doc_a, doc_b,
    lang_a, lang_b, fingerprint)`` with doc_a < doc_b.

    Fingerprint = the sorted distinct digit runs (>= 3 digits) joined
    by ','; pages with fewer than ``min_runs`` runs are unmatchable
    and dropped. Length ratio gate: neither text may be more than 2x
    the other (integer arithmetic only — no float reaches the
    output). Groups larger than ``max_group`` share a boilerplate
    fingerprint (the same copyright year on every page) and are
    DROPPED, declared — the same skew guard the dedup family uses.

    Scale shape: fingerprints are row-local codegen; candidate pairs
    are generated IN-AGGREGATE per fingerprint group from the
    id-sorted member list, so the exchange carries one row per page
    (fingerprint, id, lang, length) and the quadratic work is capped
    by ``max_group``. No self-join of the corpus against itself."""
    fp = F.array_join(
        F.array_sort(F.array_distinct(
            F.regexp_extract_all(F.col(text_col), F.lit(r"[0-9]{3,}"), 0)
        )), ",")
    keyed = docs.select(
        fp.alias("fingerprint"),
        F.struct(F.col(id_col).alias("id"),
                 F.col(lang_col).alias("lang"),
                 F.length(text_col).alias("len")).alias("m"),
    ).filter(
        # split('') is [''] with size 1, so a run-LESS page would pass
        # min_runs=1 and the whole run-less corpus would collide on
        # the shared '' fingerprint — require a non-empty print first
        (F.col("fingerprint") != "")
        & (F.size(F.split("fingerprint", ",")) >= min_runs))
    grouped = (keyed.groupBy("fingerprint")
               .agg(F.array_sort(F.collect_list("m")).alias("ms"))
               .filter((F.size("ms") >= 2)
                       & (F.size("ms") <= max_group)))
    pairs = grouped.select(
        "fingerprint",
        F.explode(F.expr(
            "flatten(transform(ms, (a, i) -> "
            "transform(slice(ms, i + 2, size(ms) - i - 1), "
            "b -> struct(a, b))))")).alias("p"),
    )
    return (pairs
            .filter((F.col("p.a.lang") != F.col("p.b.lang"))
                    & (F.col("p.a.len") * 2 >= F.col("p.b.len"))
                    & (F.col("p.b.len") * 2 >= F.col("p.a.len")))
            .select(F.col("p.a.id").alias("doc_a"),
                    F.col("p.b.id").alias("doc_b"),
                    F.col("p.a.lang").alias("lang_a"),
                    F.col("p.b.lang").alias("lang_b"),
                    "fingerprint"))


def entity_salience(docs: DataFrame, entities: DataFrame,
                    id_col: str = "doc_id", text_col: str = "text",
                    entity_col: str = "entity") -> DataFrame:
    """Per-document entity salience (the aboutness ranking — cf.
    Gamon et al. 2013 "Identifying salient entities in web pages":
    frequency and first-mention position are the two load-bearing
    features): for every (document, dictionary entity) with at least
    one mention, ``(doc_id, entity, n_mentions, first_pos, rank)``
    where first_pos is the 1-based token position of the first
    mention and rank orders the doc's entities by (mentions DESC,
    first_pos ASC, entity ASC) — rank 1 is what the page is about,
    the subject anchor infobox/linking stages key on. Matching is
    case-insensitive: the dictionary is case-folded to match the
    lowercased token stream, and the output ``entity`` carries the
    folded form.

    Scale shape: tokenization is row-local (the body never survives
    the posexplode); the dictionary join broadcasts (an entity
    dictionary is MB-scale); the aggregate is map-side combined on
    (doc, entity); the rank window partitions by document — bounded
    by a page's distinct-entity count, never corpus-wide."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.lower(F.col(text_col)),
                             r"[^\p{L}\p{N}]+")).alias("pos", "token"),
    )
    # case-fold the dictionary like the token stream (the sibling
    # resolve_pronouns does the same): a mixed-case entry ('Acme')
    # would otherwise silently match zero lowercased tokens
    hits = toks.join(
        F.broadcast(entities.select(
            F.lower(F.col(entity_col)).alias("token")).distinct()),
        "token")
    per = (hits.groupBy("doc_id", F.col("token").alias("entity"))
           .agg(F.count("*").cast("long").alias("n_mentions"),
                (F.min("pos") + 1).cast("long").alias("first_pos")))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("n_mentions").desc(), F.col("first_pos").asc(),
        F.col("entity").asc())
    return per.withColumn("rank", F.row_number().over(w).cast("long"))


def resolve_pronouns(docs: DataFrame, entities: DataFrame,
                     id_col: str = "doc_id", text_col: str = "text",
                     entity_col: str = "entity",
                     pronouns: tuple = ("it", "he", "she", "they"),
                     ) -> DataFrame:
    """Rule-based pronoun resolution — the recency baseline (Hobbs
    1978's weakest-but-unbeatable-for-free heuristic; Lee et al. 2013
    Stanford sieve's final fallback): each pronoun resolves to the
    NEAREST PRECEDING dictionary-entity mention in the same document.
    Coreference is the classic recall lever for KG construction —
    "Acme acquired Zeta. It then raised prices." only yields the
    second triple if *it* resolves — and the recency rule alone
    captures the majority of anaphoric pronouns in web prose.

    Emits ``(doc_id, pos, pronoun, antecedent)`` for every pronoun
    token with at least one preceding mention; pronouns before the
    first mention are dropped (no antecedent). Matching is lowercase
    on both sides.

    Scale shape: tokenization is row-local (the body never survives
    the posexplode); the dictionary attaches by BROADCAST left join;
    the only window is doc-keyed over the doc's own token stream —
    bounded by page length, never corpus-wide. The exchange moves
    ``(doc_id, pos, short-string)`` rows once.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.lower(F.col(text_col)),
                             r"[^\p{L}\p{N}]+")).alias("pos", "token"),
    )
    dic = (entities.select(F.lower(F.col(entity_col)).alias("token"))
           .distinct().withColumn("_ent", F.col("token")))
    stream = toks.join(F.broadcast(dic), "token", "left")
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, -1))
    pron = F.array(*[F.lit(p) for p in pronouns])
    return (stream
            .withColumn("antecedent",
                        F.last("_ent", ignorenulls=True).over(w))
            .filter(F.array_contains(pron, F.col("token"))
                    & F.col("antecedent").isNotNull())
            .select("doc_id", F.col("pos").cast("long").alias("pos"),
                    F.col("token").alias("pronoun"), "antecedent"))


def er_pair_metrics(pred: DataFrame, gold: DataFrame,
                    id_col: str = "id",
                    cluster_col: str = "cluster") -> DataFrame:
    """Pairwise entity-resolution evaluation (the standard pair-
    counting metrics of Menestrina, Whang, Garcia-Molina, VLDB 2010,
    "Evaluating Entity Resolution Results"): compare a predicted
    clustering against a gold clustering WITHOUT materializing a
    single pair —

    - ``tp + fp`` = Σ over predicted clusters of C(n, 2)
    - ``tp``      = Σ over (predicted, gold) intersection cells of C(n, 2)
    - ``tp + fn`` = Σ over gold clusters of C(n, 2)

    so three hash aggregations over ``(cluster, long)`` rows replace
    the quadratic pair join; pairwise precision/recall/F1 are
    row-local divisions of the returned integers. Items present in
    only one side are dropped (inner join on id — evaluation is over
    the common universe, declared).

    Returns ONE row: ``(n_items, n_pred_clusters, n_gold_clusters,
    tp, fp, fn)``, all BIGINT.
    """
    j = (pred.select(F.col(id_col).alias("_id"),
                     F.col(cluster_col).alias("_p"))
         .join(gold.select(F.col(id_col).alias("_id"),
                           F.col(cluster_col).alias("_g")), "_id"))
    j = j.localCheckpoint(eager=True)  # three aggregations below

    def pairs_of(cols):
        return (j.groupBy(*cols).agg(F.count("*").alias("_n"))
                .agg(F.coalesce(
                    F.sum(F.expr("(_n * (_n - 1)) div 2")),
                    F.lit(0).cast("long")).alias("_pairs"),
                    F.count("*").cast("long").alias("_k")))

    p = pairs_of(["_p"]).select(
        F.col("_pairs").alias("_pp"), F.col("_k").alias("_pk"))
    g = pairs_of(["_g"]).select(
        F.col("_pairs").alias("_gp"), F.col("_k").alias("_gk"))
    both = (j.groupBy("_p", "_g").agg(F.count("*").alias("_n"))
            .agg(F.coalesce(
                F.sum(F.expr("(_n * (_n - 1)) div 2")),
                F.lit(0).cast("long")).alias("_tp")))
    n = j.agg(F.count("*").cast("long").alias("n_items"))
    return (n.crossJoin(p).crossJoin(g).crossJoin(both)
            .select(
                "n_items",
                F.col("_pk").alias("n_pred_clusters"),
                F.col("_gk").alias("n_gold_clusters"),
                F.col("_tp").alias("tp"),
                (F.col("_pp") - F.col("_tp")).alias("fp"),
                (F.col("_gp") - F.col("_tp")).alias("fn"),
            ))


def blocking_metrics(items: DataFrame, band_keys: list,
                     id_col: str = "doc_id",
                     truth_col: str = "content_key",
                     max_bucket: int = 256) -> DataFrame:
    """Blocking-quality evaluation — the reduction-ratio /
    pairs-completeness ingredients of Christen's record-linkage
    framework (Christen, "Data Matching", 2012 §7.4) for a
    MULTI-BAND blocker (docs may land in several blocks, the LSH
    shape, so blocks are NOT a partition and this is not
    :func:`er_pair_metrics`):

    - ``n_cand``  — distinct candidate pairs across all bands
    - ``n_hit``   — candidate pairs whose two rows share
      ``truth_col`` (true duplicates the blocker caught)
    - ``n_gold``  — all true-duplicate pairs (Σ C(n,2) over
      ``truth_col`` groups — never materialized)
    - ``n_items``, ``total_pairs`` = C(n_items, 2)

    Pairs completeness = ``n_hit / n_gold``; reduction ratio =
    ``1 − n_cand / total_pairs`` — row-local divisions of the
    returned integers.

    ``band_keys``: list of Columns (each a blocking key expression).
    NULL band keys don't block; NULL truth keys count as non-dups.

    Scale shape: candidate pairs come from the in-aggregate
    triangular generator behind the ``max_bucket`` skew guard (the
    LSH `_bucket_pairs` shape — one shuffle per evaluation, no
    self-join); ``n_hit`` attaches the two truth keys by id-keyed
    joins against the (id, truth) projection, never against bodies;
    ``n_gold`` is a pure hash aggregation.
    """
    from .dedup import _bucket_pairs

    if not band_keys:
        raise ValueError("band_keys must name at least one blocking key")
    base = items.select(F.col(id_col).alias("_id"),
                        F.col(truth_col).alias("_truth"),
                        *[k.alias(f"_b{i}") for i, k in
                          enumerate(band_keys)])
    base = base.localCheckpoint(eager=True)  # bands + truth + census
    keyed = None
    for i in range(len(band_keys)):
        part = (base.filter(F.col(f"_b{i}").isNotNull())
                .select(F.lit(i).alias("_band"),
                        F.col(f"_b{i}").alias("_key"), "_id"))
        keyed = part if keyed is None else keyed.unionByName(part)
    cand = _bucket_pairs(keyed, ["_band", "_key"], max_bucket,
                         F.col("_id"))
    cand = cand.localCheckpoint(eager=True)  # counted AND hit-joined
    t = base.select("_id", "_truth")
    hits = (cand
            .join(t.select(F.col("_id").alias("a"),
                           F.col("_truth").alias("_ta")), "a")
            .join(t.select(F.col("_id").alias("b"),
                           F.col("_truth").alias("_tb")), "b")
            .filter(F.col("_ta").isNotNull()
                    & (F.col("_ta") == F.col("_tb"))))
    gold = (base.filter(F.col("_truth").isNotNull())
            .groupBy("_truth").agg(F.count("*").alias("_n"))
            .agg(F.coalesce(F.sum(F.expr("(_n * (_n - 1)) div 2")),
                            F.lit(0).cast("long")).alias("n_gold")))
    nc = cand.agg(F.count("*").cast("long").alias("n_cand"))
    nh = hits.agg(F.count("*").cast("long").alias("n_hit"))
    ni = base.agg(F.count("*").cast("long").alias("n_items"))
    return (ni.crossJoin(nc).crossJoin(nh).crossJoin(gold)
            .select("n_items",
                    F.expr("(n_items * (n_items - 1)) div 2")
                    .alias("total_pairs"),
                    "n_cand", "n_hit", "n_gold"))


def align_entities(kb_a: DataFrame, kb_b: DataFrame,
                   subj_col: str = "subj", pred_col: str = "pred",
                   obj_col: str = "obj",
                   min_shared: int = 2,
                   max_po_degree: int = 64) -> DataFrame:
    """Cross-KB instance alignment by shared evidence — the
    instance-based core of PARIS (Suchanek, Abiteboul, Senellart,
    VLDB 2012): two entities from different KBs that assert many of
    the same ``(pred, obj)`` facts are alignment candidates. Emits
    one row per candidate pair with integer evidence only:

    - ``subj_a`` / ``subj_b``  — the candidate pair (one from each KB)
    - ``n_shared``             — distinct (pred, obj) facts both carry
    - ``n_facts_a`` / ``n_facts_b`` — each side's distinct fact count
      (so Jaccard/containment confidence stays a row-local division)

    Assumes both KBs share a predicate/object vocabulary (run
    :func:`~.patterns.canonicalize_predicates` + object
    canonicalization first — the same precondition PARIS bootstraps
    via literal equality).

    Scale shape: the pair generation joins the two sides on the
    ``(pred, obj)`` key, so the fan-out per key is |A-subjects| ×
    |B-subjects| carrying that fact — the classic stop-value blowup
    (every person born in the most common city). ``max_po_degree``
    drops keys whose PER-SIDE subject count exceeds the cap BEFORE
    the join (the PARIS stop-literal move; uninformative evidence —
    it contributes least to alignment precision). Per-side fact
    counts are computed over the FULL fact sets (the denominators
    must not shrink with the guard). Everything exchanges
    ``(string, long)``-shaped rows; no window, no collect.
    """
    def _t(df):
        return (df.select(F.col(subj_col).alias("s"),
                          F.col(pred_col).alias("p"),
                          F.col(obj_col).alias("o"))
                .filter(F.col("s").isNotNull() & F.col("p").isNotNull()
                        & F.col("o").isNotNull())
                .distinct())

    a, b = _t(kb_a), _t(kb_b)
    counts_a = a.groupBy("s").agg(
        F.count("*").cast("long").alias("n_facts_a"))
    counts_b = b.groupBy("s").agg(
        F.count("*").cast("long").alias("n_facts_b"))

    cap = int(max_po_degree)

    def _guarded(t):
        keep = (t.groupBy("p", "o").agg(F.count("*").alias("_d"))
                .filter(F.col("_d") <= cap).select("p", "o"))
        return t.join(keep, ["p", "o"], "leftsemi")

    shared = (_guarded(a).select("p", "o", F.col("s").alias("subj_a"))
              .join(_guarded(b).select("p", "o",
                                       F.col("s").alias("subj_b")),
                    ["p", "o"])
              .groupBy("subj_a", "subj_b")
              .agg(F.count("*").cast("long").alias("n_shared"))
              .filter(F.col("n_shared") >= int(min_shared)))
    return (shared
            .join(counts_a.withColumnRenamed("s", "subj_a"), "subj_a")
            .join(counts_b.withColumnRenamed("s", "subj_b"), "subj_b")
            .select("subj_a", "subj_b", "n_shared", "n_facts_a",
                    "n_facts_b"))


def fs_pattern_census(pairs: DataFrame,
                      agree_cols: list) -> DataFrame:
    """Agreement-pattern census for probabilistic record linkage
    (Fellegi & Sunter, JASA 1969): fold candidate pairs to one row
    per agreement pattern — ``pattern`` packs the 0/1 field
    comparators little-endian (field k contributes ``a_k * 2^k``)
    — with its BIGINT pair count. The bounded (≤ 2^K rows) census
    is the sufficient statistic for every γ-based linkage model, so
    nothing per-pair ever leaves the executors.

    Scale shape: one map-side-combinable aggregate keyed by the
    packed pattern int; exchange rows are ``(int, long)``."""
    pat = None
    for k, c in enumerate(agree_cols):
        term = F.when(F.col(c), F.lit(1 << k)).otherwise(F.lit(0))
        pat = term if pat is None else pat + term
    return (pairs.groupBy(pat.cast("long").alias("pattern"))
            .agg(F.count("*").cast("long").alias("n")))


def _fs_em(census: list, n_fields: int, iterations: int = 15):
    """Driver-side EM for the Fellegi-Sunter latent match/non-match
    mixture over the COLLECTED pattern census (Winkler 1988) —
    metadata-scale by construction (≤ 2^K rows), the same
    driver-loop convention as the BPE trainer. Arithmetic is kept
    in the exact shape the SQL oracle replays: CASE-style factor
    selection (no pow), left-associated products in field order,
    clamps via min/max with the same literals."""
    lo, hi = 1e-6, 1.0 - 1e-6
    p = 0.1
    m = [0.9] * n_fields
    u = [0.1] * n_fields
    rows = sorted(census)  # (pattern, n)
    for _ in range(iterations):
        stats = []
        for pattern, n in rows:
            pm, pu = 1.0, 1.0
            for k in range(n_fields):
                a = (pattern >> k) & 1
                pm = pm * (m[k] if a else 1.0 - m[k])
                pu = pu * (u[k] if a else 1.0 - u[k])
            post = (p * pm) / (p * pm + (1.0 - p) * pu)
            stats.append((pattern, n, post))
        tot = float(sum(n for _, n, _ in stats))
        sp = sum(n * post for _, n, post in stats)
        sq = sum(n * (1.0 - post) for _, n, post in stats)
        p = min(max(sp / tot, lo), hi)
        for k in range(n_fields):
            num_m = sum(n * post for pat, n, post in stats
                        if (pat >> k) & 1)
            num_u = sum(n * (1.0 - post) for pat, n, post in stats
                        if (pat >> k) & 1)
            m[k] = min(max(num_m / sp, lo), hi)
            u[k] = min(max(num_u / sq, lo), hi)
    out = []
    for pattern, n in rows:
        pm, pu = 1.0, 1.0
        for k in range(n_fields):
            a = (pattern >> k) & 1
            pm = pm * (m[k] if a else 1.0 - m[k])
            pu = pu * (u[k] if a else 1.0 - u[k])
        post = (p * pm) / (p * pm + (1.0 - p) * pu)
        import math
        weight = math.log2(pm / pu)
        out.append((pattern, n, weight, post))
    return out, p, m, u


def fellegi_sunter(pairs: DataFrame, agree_cols: list,
                   iterations: int = 15) -> DataFrame:
    """Fellegi-Sunter probabilistic linkage weights (Fellegi &
    Sunter 1969; EM fitting per Winkler 1988): per agreement
    pattern, the pair count, the log2 match weight
    ``log2 P(γ|M)/P(γ|U)``, and the EM posterior match
    probability. The distributed work is the pattern census
    (:func:`fs_pattern_census`); EM runs driver-side over the
    ≤ 2^K census rows.

    Returns ``(pattern, n, weight, posterior, w_rank)`` — ``w_rank``
    is the integer rank over 6-dp-rounded weight (ties by pattern),
    the hash-stable projection for cross-engine checks; ``weight``/
    ``posterior`` are doubles for API users."""
    census = [(r["pattern"], r["n"])
              for r in fs_pattern_census(pairs, agree_cols).collect()]
    if not census:
        raise ValueError("fellegi_sunter: no candidate pairs")
    rows, _, _, _ = _fs_em(census, len(agree_cols), iterations)
    ranked = sorted(rows, key=lambda r: (-round(r[2], 6), r[0]))
    spark = pairs.sparkSession
    return spark.createDataFrame(
        [(p, n, w, post, i + 1)
         for i, (p, n, w, post) in enumerate(ranked)],
        "pattern long, n long, weight double, posterior double, "
        "w_rank long").orderBy("pattern")


def sorted_neighborhood(items: DataFrame, skey_col: str,
                        id_col: str, window: int = 4,
                        slice_width: int = 1000) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD
    1995): order records by an integer blocking key, slide a
    ``window``-record window down the sorted list, and emit every
    in-window pair — the classic ER candidate generator for fields
    where SIMILAR values sort together (balances, dates, truncated
    names), complementing the equality blocks of
    :func:`phonetic_blocks` and the band blocks of
    :func:`candidate_pairs`.

    Returns ``(a, b, gap)``: ids of each in-window pair ordered by
    global sort position (``a`` before ``b``), ``gap`` their rank
    distance in ``[1, window)``.

    Scale shape — the global sort never materializes on one node:
    records fall into ORDER-PRESERVING slices ``floor(skey /
    slice_width)``; per-slice ranks come from a window partitioned
    by slice; slice offsets from one bounded running sum over the
    per-slice counts (metadata-scale while ``domain /
    slice_width`` stays bounded — pick ``slice_width`` from key
    stats, or swap a range-partitioner histogram in at production
    scale); pair generation is a rank-band self-join on the
    ``floor(rank / (window-1))`` group and its successor, moving
    ``(id, long)`` rows only. Ties on ``skey`` are broken by
    ``id``, so ranks — and the emitted pair set — are deterministic
    cross-engine."""
    from pyspark.sql import Window as W

    if window < 2:
        raise ValueError("sorted_neighborhood: window must be >= 2")
    base = items.select(
        F.col(id_col).alias("_id"),
        F.col(skey_col).cast("long").alias("_k"))
    # NULL keys/ids have no defined sort position (and the two
    # engines order NULLs differently) — they take part in no window
    base = base.filter(F.col("_k").isNotNull()
                       & F.col("_id").isNotNull())
    base = base.withColumn(
        "_s", F.floor(F.col("_k") / F.lit(int(slice_width))))
    ranked = base.withColumn(
        "_r", F.row_number().over(
            W.partitionBy("_s").orderBy("_k", "_id")).cast("long") - 1)
    offs = (
        base.groupBy("_s").agg(F.count("*").alias("_n"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_n").over(
                    # bounded: one row per non-empty slice; constant
                    # partition key keeps real unpartitioned-window
                    # regressions visible in logs
                    W.partitionBy(F.pmod(F.col("_s"), F.lit(1)))
                    .orderBy("_s")
                    .rowsBetween(W.unboundedPreceding, -1)),
                F.lit(0)))
        .select("_s", "_off"))
    ranks = (ranked.join(F.broadcast(offs), "_s")
             .select("_id", (F.col("_off") + F.col("_r")).alias("_g"))
             .localCheckpoint(eager=True))
    span = window - 1
    lhs = ranks.select(F.col("_id").alias("a"), F.col("_g").alias("_ga"),
                       F.floor(F.col("_g") / F.lit(span)).alias("_blk"))
    rhs = ranks.select(F.col("_id").alias("b"), F.col("_g").alias("_gb"),
                       F.floor(F.col("_g") / F.lit(span)).alias("_b0"))
    rhs = (rhs.select("b", "_gb", F.col("_b0").alias("_blk"))
           .unionByName(
               rhs.select("b", "_gb", (F.col("_b0") - 1).alias("_blk"))))
    return (lhs.join(rhs, "_blk")
            .filter((F.col("_gb") > F.col("_ga"))
                    & (F.col("_gb") - F.col("_ga") < window))
            .select("a", "b",
                    (F.col("_gb") - F.col("_ga")).cast("long")
                    .alias("gap")))


def bcubed_ingredients(pred: DataFrame, gold: DataFrame,
                       id_col: str = "id",
                       cluster_col: str = "cluster") -> DataFrame:
    """B-cubed entity-resolution evaluation ingredients (Bagga &
    Baldwin 1998; the extrinsic-clustering standard per Amigó et al.
    2009): per item, the size of its predicted cluster, the size of
    its gold cluster, and their overlap |C(i) ∩ G(i)|. B-cubed
    precision is ``avg(overlap / c_size)`` and recall
    ``avg(overlap / g_size)`` — row-local divisions downstream;
    keeping the census INTEGER makes it hash-stable and lets the
    caller re-weight items (the Amigó extension) without re-running
    the heavy part.

    Unlike pairwise metrics (:func:`er_pair_metrics`), B-cubed does
    not square cluster sizes into pair counts, so giant-cluster
    mistakes are graded linearly — the complementary view every ER
    paper reports alongside pairwise F1.

    Scale shape: one join of the two labelings on the item key, then
    three map-side-combinable counts — per predicted cluster, per
    gold cluster, per (pred, gold) cell — joined back by their keys.
    Exchanges carry (cluster-id, long) rows; no pair
    materialization anywhere."""
    p = pred.select(F.col(id_col).alias("id"),
                    F.col(cluster_col).alias("c"))
    g = gold.select(F.col(id_col).alias("id"),
                    F.col(cluster_col).alias("g"))
    j = p.join(g, "id").persist()
    cs = j.groupBy("c").agg(F.count("*").cast("long").alias("c_size"))
    gs = j.groupBy("g").agg(F.count("*").cast("long").alias("g_size"))
    cell = (j.groupBy("c", "g")
            .agg(F.count("*").cast("long").alias("overlap")))
    out = (j.join(cs, "c").join(gs, "g").join(cell, ["c", "g"])
           .select("id", "c_size", "g_size", "overlap"))
    out = out.localCheckpoint(eager=True)
    j.unpersist()
    return out
