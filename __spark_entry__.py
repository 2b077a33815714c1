# -*- coding: utf-8 -*-
"""Driver contract for the PySpark KG-construction engine.

- ``entry(spark)``   — flagship smoke: synthetic pages -> extraction ->
  (subj, pred, obj) triples at sf0.001 scale.
- ``queries()``      — one entry per implemented operator
  (SURVEY.md §2 + the training-data operators); each callable takes
  (spark, sf_dir) and returns a DataFrame.
- ``oracle_sql()``   — the DuckDB-runnable oracle of every query (same
  column names/aliases as the Spark side): live SQL, or a golden
  pinned by the pure-Python twin where the query is kernel- or
  xxhash64-based.

Both views read one ordered table, ``_registry()``, at the end of this
file: every row carries its builder and its oracle, and table order is
the driver's priority (the paper core first).
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

_WAREHOUSES: dict[str, str] = {}  # sf_dir -> warehouse root (pipeline ran once)
_KG_PAGES = 300
_KG_GRAPH_ID = "graph_fixed"
# second graph/user over a DISJOINT page slice: the deletion and
# multi-graph queries (Q5/Q8/Q9) verify non-trivial survivor counts —
# with one graph their oracles were constants that could not fail
_KG_PAGES_B = 60
_KG_GRAPH_ID_B = "graph_fixed_b"
_KG_USER_B = "user_002"


#: single small parquet files (one row-group) scan as ONE task no
#: matter how many cores exist — Spark cannot split below row-group
#: granularity. Production inputs arrive as many files/row-groups and
#: never hit this branch; for the bench corpora, spreading the rows
#: restores the at-scale plan shape (row-local tokenize/regex/hash
#: work across all cores) at the cost of one tiny exchange.
_SMALL_INPUT_BYTES = 64 << 20


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    try:
        small = os.path.getsize(path) < _SMALL_INPUT_BYTES
    except OSError:
        small = False
    if small:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def _warehouse(spark: SparkSession, sf_dir: str):
    """Run the KG pipeline once per sf_dir on the deterministic synthetic
    pages corpus — TWO graphs for TWO users over disjoint page slices
    (the second run also exercises the update/merge path of the
    extracted table); later KG queries read the persisted tables."""
    from knowledge_graph_spark.pipeline import KGWarehouse, run_pipeline
    from knowledge_graph_spark.sources.pages import generate_spark

    if sf_dir not in _WAREHOUSES:
        root = tempfile.mkdtemp(prefix="kg_wh_")
        wh = KGWarehouse(root)
        pages_a = generate_spark(spark, _KG_PAGES, partitions=8)
        run_pipeline(spark, pages_a, wh, graph_id=_KG_GRAPH_ID,
                     link_entities=True)
        pages_b = generate_spark(spark, _KG_PAGES_B, partitions=2,
                                 start=_KG_PAGES)
        run_pipeline(spark, pages_b, wh, graph_id=_KG_GRAPH_ID_B,
                     user_id=_KG_USER_B, link_entities=True)
        _WAREHOUSES[sf_dir] = root
    from knowledge_graph_spark.pipeline import KGWarehouse as _W

    return _W(_WAREHOUSES[sf_dir])


# documents with planted duplicates — SAME construction on both sides so
# the dedup queries verify against a DuckDB oracle (doc_id % 50 == 0
# rows are cloned with id+1_000_000).
def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    clones = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    # the bench corpus is ONE small parquet file (single row group ->
    # single scan partition); spread the CPU-bound sketch work across
    # cores. Production corpora arrive in thousands of file splits and
    # never need this.
    return docs.unionByName(clones).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )


_DOCS_DUP_SQL = (
    "SELECT doc_id, text, lang, source, n_chars FROM documents "
    "UNION ALL "
    "SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars "
    "FROM documents WHERE doc_id % 50 = 0"
)


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: pages -> html2text+extract -> triples (sf0.001 scale)."""
    from knowledge_graph_spark.operators.extraction import extract, triples_table
    from knowledge_graph_spark.sources.pages import generate_spark

    pages = generate_spark(spark, 100, partitions=4)
    return triples_table(extract(pages))


# ---------------------------------------------------------------------------
# relational queries (classical operator coverage; all DuckDB-oracled)
# ---------------------------------------------------------------------------


def _q_pricing_summary(spark, sf_dir):
    """Scan + filter + groupBy aggregate (TPC-H Q1 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)                         AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)                    AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 4)                         AS avg_qty,
       COUNT(*)                                          AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def _q_nation_revenue(spark, sf_dir):
    """Multi-way equi join (broadcast dims) + aggregate."""
    li, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    c, n = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("n_name")
    )


_SQL_NATION_REVENUE = """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


def _q_customers_without_orders(spark, sf_dir):
    """Anti join (reference S5 endpoint-validation shape): customers
    with no order since 1998 (lapsed customers — non-empty at every sf)."""
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    recent = o.filter(F.col("o_orderdate") >= "1998-01-01").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        c.join(recent, "c_custkey", "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


_SQL_CUST_NO_ORDERS = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey NOT IN (
  SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
)
ORDER BY c_custkey
"""


def _q_top_parts_per_brand(spark, sf_dir):
    """Window function: row_number per partition (reference needs this
    for per-doc numbering at scale; SURVEY.md §2.5)."""
    from pyspark.sql import Window

    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    )
    return (
        p.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("p_brand", "rank", "p_partkey", "p_name", "p_retailprice")
        .orderBy("p_brand", "rank")
    )


_SQL_TOP_PARTS = """
SELECT p_brand, rank, p_partkey, p_name, p_retailprice
FROM (
  SELECT p_brand, p_partkey, p_name, p_retailprice,
         ROW_NUMBER() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey) AS rank
  FROM part
) WHERE rank <= 3
ORDER BY p_brand, rank
"""


def _q_events_daily(spark, sf_dir):
    """Date functions + distinct aggregate over the events stream table."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.to_date("ts").alias("day"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("day", "event_type")
    )


_SQL_EVENTS_DAILY = """
SELECT CAST(ts AS DATE) AS day, event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(SUM(value), 4) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY day, event_type
"""


def _q_supplier_nation_union(spark, sf_dir):
    """Union + distinct: all party names per nation (supplier ∪ customer)."""
    s, c = _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    parties = (
        s.select(F.col("s_nationkey").alias("nk"), F.lit("supplier").alias("kind"))
        .unionByName(
            c.select(F.col("c_nationkey").alias("nk"), F.lit("customer").alias("kind"))
        )
    )
    return (
        parties.join(F.broadcast(n), parties.nk == n.n_nationkey)
        .groupBy("n_name", "kind")
        .agg(F.count("*").alias("n_parties"))
        .orderBy("n_name", "kind")
    )


_SQL_SUPPLIER_NATION_UNION = """
SELECT n_name, kind, COUNT(*) AS n_parties
FROM (
  SELECT s_nationkey AS nk, 'supplier' AS kind FROM supplier
  UNION ALL
  SELECT c_nationkey AS nk, 'customer' AS kind FROM customer
) p JOIN nation ON p.nk = n_nationkey
GROUP BY n_name, kind
ORDER BY n_name, kind
"""


def _q_order_priority_semi(spark, sf_dir):
    """Left-semi join (EXISTS): orders having at least one line item
    shipped after the order half-year (TPC-H Q4 shape)."""
    o, li = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    late = li.filter(F.col("l_shipdate") >= "1997-01-01").select("l_orderkey")
    return (
        o.join(late.withColumnRenamed("l_orderkey", "o_orderkey"),
               "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


_SQL_ORDER_PRIORITY = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate >= TIMESTAMP '1997-01-01'
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def _q_events_windowed(spark, sf_dir):
    """Epoch-aligned tumbling-window aggregation (batch twin of the
    streaming windowed_event_counts)."""
    from knowledge_graph_spark.operators.events import windowed_counts

    out = windowed_counts(_t(spark, sf_dir, "events"), hours=6)
    return out.select(
        F.unix_timestamp("window_start").alias("window_epoch"),
        "event_type", "n_events", "n_users", "total_value",
    ).orderBy("window_epoch", "event_type")


_SQL_EVENTS_WINDOWED = """
SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 21600) * 21600 AS window_epoch,
       event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(SUM(value), 4) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY window_epoch, event_type
"""


def _q_events_sessions(spark, sf_dir):
    """Gap-based sessionization (30-min gap) summarized per user."""
    from knowledge_graph_spark.operators.events import session_stats

    return session_stats(_t(spark, sf_dir, "events"), gap_minutes=30).orderBy(
        "user_id"
    )


_SQL_EVENTS_SESSIONS = """
WITH g AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
),
sess AS (
  SELECT user_id, session_id,
         MIN(ts) AS session_start, MAX(ts) AS session_end,
         COUNT(*) AS n_events
  FROM s GROUP BY user_id, session_id
)
SELECT user_id,
       COUNT(*) AS n_sessions,
       ROUND(AVG((epoch_us(session_end) - epoch_us(session_start)) / 1000000.0), 4) AS avg_session_sec,
       ROUND(AVG(n_events), 4) AS avg_events_per_session
FROM sess GROUP BY user_id ORDER BY user_id
"""


def _q_asof_purchases(spark, sf_dir):
    """AS-OF join (Spark lacks it natively): every purchase joined to
    the user's most recent prior-or-simultaneous click; NULL when none.
    Oracled against DuckDB's native ASOF LEFT JOIN."""
    from knowledge_graph_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id")
    out = asof_join(purchases, clicks, payload=["event_id", "ts"],
                    tiebreak="event_id")
    return out.select(
        "event_id", "user_id",
        F.col("r_event_id"),
        (F.unix_micros(F.col("ts").cast("timestamp"))
         - F.unix_micros(F.col("r_ts").cast("timestamp"))).alias("gap_us"),
    ).orderBy("event_id")


_SQL_ASOF = """
SELECT l.event_id, l.user_id, r.event_id AS r_event_id,
       epoch_us(l.ts) - epoch_us(r.ts) AS gap_us
FROM (SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id
"""


def _q_range_view_clicks(spark, sf_dir):
    """Bounded range join (theta join made equi via Δ-width time
    buckets): clicks within 4 h after a view by the same user."""
    from knowledge_graph_spark.operators.temporal import range_join

    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "ts", "user_id")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id")
    out = range_join(views, clicks, delta_seconds=4 * 3600)
    return out.select(
        "event_id", "user_id", "r_event_id",
        (F.unix_micros(F.col("r_ts").cast("timestamp"))
         - F.unix_micros(F.col("ts").cast("timestamp"))).alias("gap_us"),
    ).orderBy("event_id", "r_event_id")


_SQL_RANGE = """
SELECT l.event_id, l.user_id, r.event_id AS r_event_id,
       epoch_us(r.ts) - epoch_us(l.ts) AS gap_us
FROM (SELECT event_id, ts, user_id FROM events WHERE event_type = 'view') l
JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND r.ts > l.ts
 AND epoch_us(r.ts) <= epoch_us(l.ts) + 14400000000
ORDER BY l.event_id, r_event_id
"""


# ---------------------------------------------------------------------------
# training-data operators over documents/embeddings (oracled where SQL can)
# ---------------------------------------------------------------------------


def _q_dedup_exact_groups(spark, sf_dir):
    from knowledge_graph_spark.operators.dedup import exact_duplicates

    out = exact_duplicates(_docs_with_dups(spark, sf_dir))
    return out.select("content_hash", "n_dups", "keep_id").orderBy("keep_id")


_SQL_DEDUP_EXACT = f"""
WITH d AS ({_DOCS_DUP_SQL})
SELECT sha256(text) AS content_hash,
       COUNT(*) AS n_dups,
       MIN(doc_id) AS keep_id
FROM d
GROUP BY sha256(text)
HAVING COUNT(*) > 1
ORDER BY keep_id
"""


def _q_dedup_exact_survivors(spark, sf_dir):
    from knowledge_graph_spark.operators.dedup import dedup_exact

    return (
        dedup_exact(_docs_with_dups(spark, sf_dir))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


_SQL_DEDUP_SURVIVORS = f"""
WITH d AS ({_DOCS_DUP_SQL}),
r AS (SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM d)
SELECT doc_id, lang, source FROM r WHERE rn = 1 ORDER BY doc_id
"""


def _q_dedup_best_survivors(spark, sf_dir):
    """Exact dedup keeping the BEST copy per content hash
    (SlimPajama-style): highest priority, ties to min id. Priority is
    a deterministic pseudo-random metadata stand-in so the choice is
    genuinely exercised (content-derived priorities tie on exact
    dupes by definition)."""
    from knowledge_graph_spark.operators.dedup import dedup_exact_best

    docs = _docs_with_dups(spark, sf_dir).withColumn(
        "prio", (F.col("doc_id") * F.lit(2654435761)) % 1000
    )
    return (
        dedup_exact_best(docs, "prio")
        .select("doc_id", "source", "prio")
        .orderBy("doc_id")
    )


_SQL_DEDUP_BEST = f"""
WITH d AS ({_DOCS_DUP_SQL}),
p AS (SELECT *, (doc_id * 2654435761) % 1000 AS prio FROM d),
r AS (SELECT doc_id, source, prio,
             ROW_NUMBER() OVER (PARTITION BY text
                                ORDER BY prio DESC, doc_id) AS rn
      FROM p)
SELECT doc_id, source, prio FROM r WHERE rn = 1 ORDER BY doc_id
"""


def _q_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard on adjacent-doc pairs (the verification
    stage of MinHash dedup, on a deterministic pair set so DuckDB can
    replicate it)."""
    from knowledge_graph_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    pairs = docs.select(F.col("doc_id").alias("id_a")).filter(
        F.col("id_a") % 2 == 0
    ).withColumn("id_b", F.col("id_a") + 1)
    return (
        ngram_jaccard_pairs(docs, pairs, n=3)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a")
    )


_SQL_NGRAM_JACCARD = r"""
WITH d AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), x -> x != '')) >= 3
           THEN list_transform(
             range(len(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), x -> x != '')) - 2),
             i -> list_aggregate(list_slice(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), x -> x != ''), i + 1, i + 3), 'string_agg', ' '))
           ELSE [list_aggregate(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), x -> x != ''), 'string_agg', ' ')]
           END) AS sh
  FROM documents WHERE doc_id < 60
),
p AS (SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents
      WHERE doc_id < 60 AND doc_id % 2 = 0)
SELECT id_a, id_b,
       ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
FROM p JOIN d a ON p.id_a = a.doc_id JOIN d b ON p.id_b = b.doc_id
ORDER BY id_a
"""


def _q_token_counts(spark, sf_dir):
    from knowledge_graph_spark.operators.textstats import with_token_counts

    return (
        with_token_counts(_t(spark, sf_dir, "documents"))
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
    )


_SQL_TOKEN_COUNTS = r"""
SELECT doc_id,
       len(list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')) AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[\x{4e00}-\x{9fff}]')) AS n_bpe_tokens
FROM documents
ORDER BY doc_id
"""


def _q_language_id(spark, sf_dir):
    from knowledge_graph_spark.operators.textstats import with_language_id

    return (
        with_language_id(_t(spark, sf_dir, "documents"))
        .groupBy("lang_pred")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang_pred")
    )


_SQL_LANGUAGE_ID = r"""
WITH s AS (
  SELECT doc_id,
         GREATEST(length(text), 1) AS total,
         length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS cjk,
         length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS asc_letters,
         (CASE WHEN ' ' || lower(text) || ' ' LIKE '% the %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(text) || ' ' LIKE '% and %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(text) || ' ' LIKE '% of %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(text) || ' ' LIKE '% to %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(text) || ' ' LIKE '% in %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(text) || ' ' LIKE '% is %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(text) || ' ' LIKE '% that %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(text) || ' ' LIKE '% for %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(text) || ' ' LIKE '% with %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(text) || ' ' LIKE '% was %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(text) || ' ' LIKE '% are %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(text) || ' ' LIKE '% this %' THEN 1 ELSE 0 END) AS stop_hits
  FROM documents
)
SELECT lang_pred, COUNT(*) AS n_docs FROM (
  SELECT CASE WHEN CAST(cjk AS DOUBLE) / total > 0.25 THEN 'zh'
              WHEN CAST(asc_letters AS DOUBLE) / total > 0.5 AND stop_hits >= 1 THEN 'en'
              ELSE 'other' END AS lang_pred
  FROM s
) GROUP BY lang_pred ORDER BY lang_pred
"""


def _q_quality_scores(spark, sf_dir):
    from knowledge_graph_spark.operators.textstats import with_quality_score

    return (
        with_quality_score(_t(spark, sf_dir, "documents"))
        .groupBy("source")
        .agg(
            F.round(F.avg("quality"), 4).alias("avg_quality"),
            F.round(F.avg("punct_ratio"), 4).alias("avg_punct_ratio"),
            F.count("*").alias("n_docs"),
        )
        .orderBy("source")
    )


_SQL_QUALITY = r"""
WITH s AS (
  SELECT source,
         GREATEST(length(text), 1) AS total,
         length(text) AS len,
         length(text) - length(regexp_replace(text, '[[:punct:]，。、；：！？“”‘’（）《》【】]', '', 'g')) AS punct,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x != '') AS words
  FROM documents
),
s2 AS (
  SELECT source, total, len, punct, digits,
         len(words) AS n_words,
         CASE WHEN len(words) > 0
              THEN CAST(list_aggregate(list_transform(words, w -> length(w)), 'sum') AS DOUBLE) / len(words)
              ELSE 0.0 END AS mean_wl
  FROM s
)
SELECT source,
       ROUND(AVG(GREATEST(0.0, 1.0
         - CASE WHEN len < 20 THEN 0.5 ELSE 0.0 END
         - CASE WHEN CAST(punct AS DOUBLE) / total > 0.3 THEN 0.25 ELSE 0.0 END
         - CASE WHEN CAST(digits AS DOUBLE) / total > 0.3 THEN 0.25 ELSE 0.0 END
         - CASE WHEN n_words >= 5 AND (mean_wl < 2 OR mean_wl > 12) THEN 0.25 ELSE 0.0 END)), 4) AS avg_quality,
       ROUND(AVG(CAST(punct AS DOUBLE) / total), 4) AS avg_punct_ratio,
       COUNT(*) AS n_docs
FROM s2 GROUP BY source ORDER BY source
"""


def _q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition filters: top-2-gram dominance and
    duplicate-3-gram fraction per document."""
    from knowledge_graph_spark.operators.textstats import repetition_stats

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return (
        repetition_stats(docs)
        .select(
            "doc_id",
            F.round("top_2gram_frac", 6).alias("top_2gram_frac"),
            F.round("dup_3gram_frac", 6).alias("dup_3gram_frac"),
        )
        .orderBy("doc_id")
    )


def _q_corpus_profile(spark, sf_dir):
    """Per-source length profile: count, mean, exact interpolated
    p50/p95, min, max of n_chars."""
    from knowledge_graph_spark.operators.textstats import corpus_profile

    return corpus_profile(_t(spark, sf_dir, "documents")).orderBy("source")


_SQL_PROFILE = """
SELECT source,
       COUNT(*) AS n_docs,
       ROUND(AVG(n_chars), 4) AS avg_len,
       ROUND(quantile_cont(n_chars, 0.5), 4) AS p50_len,
       ROUND(quantile_cont(n_chars, 0.95), 4) AS p95_len,
       MIN(n_chars) AS min_len,
       MAX(n_chars) AS max_len
FROM documents
GROUP BY source
ORDER BY source
"""


def _q_cross_dup(spark, sf_dir):
    """Cross-document n-gram duplication (CCNet-style corpus-level
    boilerplate signal): per doc, distinct word-3-grams and how many
    are shared with >=1 other doc. The operator also derives
    ``shared_frac`` (= n_shared/n_grams, a ROUND-ed double); the driver
    query deliberately exposes only the two integer counts — a 6-dp
    ROUND of an exact binary tie (1/128 = 0.0078125) is legitimately
    rounded differently by Spark (HALF_UP) and other engines, and the
    round-3 driver hash mismatch on this query was float
    canonicalization, not logic. No double reaches the hasher."""
    from knowledge_graph_spark.operators.dedup import cross_doc_gram_stats

    # single-file corpus -> single scan partition; spread the
    # CPU-bound gram explode (same note as _docs_with_dups)
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return (cross_doc_gram_stats(docs)
            .select("doc_id", "n_grams", "n_shared")
            .orderBy("doc_id"))


def _q_containment(spark, sf_dir):
    """Asymmetric containment verification (Broder): every 5th doc
    gets a deterministic EXCERPT twin (first half of its tokens) and
    the pair (excerpt, original) must come back with inter == sz_a
    (full containment) even though Jaccard ~ 0.5; every 3rd doc is
    also paired with its neighbor as a low-overlap control. Integer
    ingredients only (inter, sz_a, sz_b) — both containment
    directions and Jaccard are row-local divisions downstream."""
    from knowledge_graph_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.withColumn(
        "w",
        F.expr("filter(split(lower(text), '[^\\\\p{L}\\\\p{N}]+'), "
               "x -> x != '')"),
    ).filter(F.size("w") > 0)
    base = toks.select("doc_id", "text")
    exc = (
        toks.filter(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + 10000000).alias("doc_id"),
            F.expr("array_join(slice(w, 1, greatest(int(size(w)/2), 1)), "
                   "' ')").alias("text"),
        )
    )
    corpus = base.unionByName(exc)
    p1 = (toks.filter(F.col("doc_id") % 5 == 0)
          .select((F.col("doc_id") + 10000000).alias("id_a"),
                  F.col("doc_id").alias("id_b")))
    p2 = (toks.filter(F.col("doc_id") % 3 == 0)
          .select(F.col("doc_id").alias("id_a"),
                  (F.col("doc_id") + 1).alias("id_b")))
    pairs = p1.unionByName(p2)
    return containment_pairs(corpus, pairs).orderBy("id_a", "id_b")


# excerpt construction is token-slice identity: tokens are [L N]+ runs
# joined by ' ', so re-tokenizing the excerpt text returns the slice —
# the oracle grams the sliced token list directly
_SQL_CONTAINMENT = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
                     x -> x != '') AS w
  FROM documents
),
tok AS (SELECT doc_id, w FROM base WHERE len(w) > 0),
corpus AS (
  SELECT doc_id, w FROM tok
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id,
         list_slice(w, 1, greatest(len(w) // 2, 1)) AS w
  FROM tok WHERE doc_id % 5 = 0
),
grams AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(w) >= 3
    THEN list_transform(range(len(w) - 2),
         i -> list_aggregate(list_slice(w, i + 1, i + 3), 'string_agg', ' '))
    ELSE [list_aggregate(w, 'string_agg', ' ')] END) AS g
  FROM corpus
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
pairs AS (
  SELECT doc_id + 10000000 AS id_a, doc_id AS id_b
  FROM tok WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id AS id_a, doc_id + 1 AS id_b
  FROM tok WHERE doc_id % 3 = 0
),
i AS (
  SELECT p.id_a, p.id_b, COUNT(*) AS inter
  FROM pairs p
  JOIN grams ga ON ga.doc_id = p.id_a
  JOIN grams gb ON gb.doc_id = p.id_b AND gb.g = ga.g
  GROUP BY p.id_a, p.id_b
)
SELECT p.id_a, p.id_b,
       CAST(COALESCE(i.inter, 0) AS BIGINT) AS inter,
       CAST(za.sz AS BIGINT) AS sz_a,
       CAST(zb.sz AS BIGINT) AS sz_b
FROM pairs p
LEFT JOIN i ON i.id_a = p.id_a AND i.id_b = p.id_b
JOIN sizes za ON za.doc_id = p.id_a
JOIN sizes zb ON zb.doc_id = p.id_b
ORDER BY p.id_a, p.id_b
"""


def _q_boilerplate_strip(spark, sf_dir):
    """CCNet/RefinedWeb-style line-level page cleaning: each doc is
    wrapped into a deterministic multi-line page (global nav header on
    every page, cookie banner on every 2nd, one of 4 mirror footers,
    a short unique 'Ref N' junk line on every 3rd, plus the doc's two
    real content lines). strip_boilerplate must drop the header /
    banner / footer by CORPUS FREQUENCY (>15% of docs share the
    line), drop 'Ref N' by the short-no-punctuation rule, and keep
    the content. Integer counters + reassembled clean_text."""
    from knowledge_graph_spark.operators.cleaning import strip_boilerplate
    from knowledge_graph_spark.functions.vectors import ws_tokens

    docs = _t(spark, sf_dir, "documents")
    w = F.coalesce(ws_tokens("text"), F.array())
    pages = (
        docs.select("doc_id", w.alias("_w"))
        .select(
            "doc_id",
            F.concat_ws(
                "\n",
                F.lit("Home | About | Contact"),
                F.concat(F.expr("array_join(slice(_w, 1, "
                                "int(ceil(size(_w) / 2))), ' ')"),
                         F.lit(".")),
                F.when(F.col("doc_id") % 2 == 0,
                       F.lit("We use cookies to improve your "
                             "experience.")),
                F.concat(F.expr(
                    "array_join(slice(_w, int(ceil(size(_w) / 2)) + 1, "
                    "greatest(size(_w) - int(ceil(size(_w) / 2)), 0)), "
                    "' ')"), F.lit(".")),
                F.concat(F.lit("(c) 2026 mirror-"),
                         (F.col("doc_id") % 4).cast("string"),
                         F.lit(".example.org")),
                F.when(F.col("doc_id") % 3 == 0,
                       F.concat(F.lit("Ref "),
                                F.col("doc_id").cast("string"))),
            ).alias("text"),
        )
    )
    return strip_boilerplate(
        pages, min_line_chars=20, max_doc_frac=0.15, min_docs=2
    ).orderBy("doc_id")


_SQL_BOILERPLATE = r"""
WITH w0 AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(COALESCE(text, ''), '\s+'),
                     x -> x != '') AS w
  FROM documents
),
inj AS (
  SELECT doc_id,
    concat_ws(chr(10),
      'Home | About | Contact',
      array_to_string(w[1 : (len(w) + 1) // 2], ' ') || '.',
      CASE WHEN doc_id % 2 = 0
           THEN 'We use cookies to improve your experience.' END,
      array_to_string(w[(len(w) + 1) // 2 + 1 : len(w)], ' ') || '.',
      '(c) 2026 mirror-' || CAST(doc_id % 4 AS VARCHAR) || '.example.org',
      CASE WHEN doc_id % 3 = 0
           THEN 'Ref ' || CAST(doc_id AS VARCHAR) END
    ) AS text
  FROM w0
),
l AS (
  SELECT doc_id, i, ls[i] AS line, lower(trim(ls[i])) AS nline
  FROM (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i
        FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM inj))
),
freq AS (
  SELECT nline
  FROM (SELECT nline, COUNT(DISTINCT doc_id) AS nd FROM l GROUP BY nline)
  WHERE nd > GREATEST(2, CAST(CAST(0.15 AS DOUBLE)
                              * (SELECT COUNT(*) FROM documents) AS BIGINT))
),
f AS (
  SELECT doc_id, i, line,
         (nline IN (SELECT nline FROM freq)) AS drop_freq,
         (nline NOT IN (SELECT nline FROM freq)
          AND length(trim(line)) < 20
          AND NOT regexp_matches(trim(line), '[.!?。！？]$')) AS drop_short
  FROM l
)
SELECT doc_id,
       COUNT(*)::BIGINT AS n_lines,
       SUM(CASE WHEN NOT drop_freq AND NOT drop_short THEN 1
                ELSE 0 END)::BIGINT AS n_kept,
       SUM(CASE WHEN drop_freq THEN 1 ELSE 0 END)::BIGINT AS n_dropped_freq,
       SUM(CASE WHEN drop_short THEN 1 ELSE 0 END)::BIGINT
         AS n_dropped_short,
       COALESCE(string_agg(
         CASE WHEN NOT drop_freq AND NOT drop_short THEN line END,
         chr(10) ORDER BY i), '') AS clean_text
FROM f GROUP BY doc_id ORDER BY doc_id
"""


def _q_span_corruption(spark, sf_dir):
    """T5 span-corruption denoising pairs over the documents table:
    deterministic spans (positions [20k+3, 20k+6) per doc), sentinel
    input/target assembly exactly in T5's format. Integer counts +
    sentinel strings only — nothing hash-fragile."""
    from knowledge_graph_spark.operators.packing import span_corruption

    return span_corruption(
        _t(spark, sf_dir, "documents")).orderBy("doc_id")


_SQL_SPAN_CORRUPTION = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(COALESCE(text, ''), '\s+'),
                     x -> x != '') AS w
  FROM documents
),
n AS (
  SELECT doc_id, w, len(w) AS n,
         CASE WHEN len(w) > 3 THEN (len(w) - 4) // 20 + 1
              ELSE 0 END AS ns
  FROM t
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(ns AS BIGINT) AS n_spans,
       array_to_string(list_filter(list_transform(range(n), i ->
         CASE WHEN i % 20 = 3
              THEN '<extra_id_' || CAST(i // 20 AS VARCHAR) || '>'
              WHEN i % 20 >= 3 AND i % 20 < 6 THEN NULL
              ELSE w[i + 1] END), x -> x IS NOT NULL), ' ')
         AS input_text,
       CASE WHEN ns > 0 THEN
         array_to_string(list_transform(range(ns), k ->
           '<extra_id_' || CAST(k AS VARCHAR) || '> ' ||
           array_to_string(w[k * 20 + 4 : k * 20 + 6], ' ')), ' ')
         || ' <extra_id_' || CAST(ns AS VARCHAR) || '>'
       ELSE '<extra_id_0>' END AS target_text
FROM n ORDER BY doc_id
"""


def _q_robots_filter(spark, sf_dir):
    """RFC 9309 robots verdicts over a synthesized frontier: 7 hosts,
    5 path families per host (private doc, private pub- exception,
    open, empty path, tmp), rules exercising longest-prefix-wins
    (Allow /private/pub- inside Disallow /private/), allow-on-tie,
    host-scoped Disallow /tmp on even hosts only, and the no-match
    default. Booleans + strings only — hash-safe."""
    from knowledge_graph_spark.operators.crawl import robots_filter

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id").cast("string")
    path = (
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("/private/doc-"), k))
        .when(F.col("doc_id") % 5 == 1, F.concat(F.lit("/private/pub-"), k))
        .when(F.col("doc_id") % 5 == 2, F.concat(F.lit("/open/doc-"), k))
        .when(F.col("doc_id") % 5 == 3, F.lit(""))
        .otherwise(F.concat(F.lit("/tmp/doc-"), k))
    )
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("https://site-"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".example.org"), path).alias("url"),
    )
    hosts = (spark.range(7)
             .select(F.concat(F.lit("site-"), F.col("id").cast("string"),
                              F.lit(".example.org")).alias("host"),
                     F.col("id")))
    rules = (
        hosts.select("host", F.lit("/private/").alias("path_prefix"),
                     F.lit(False).alias("allow"))
        .unionByName(hosts.select(
            "host", F.lit("/private/pub-").alias("path_prefix"),
            F.lit(True).alias("allow")))
        .unionByName(hosts.filter(F.col("id") % 2 == 0).select(
            "host", F.lit("/tmp/").alias("path_prefix"),
            F.lit(False).alias("allow")))
    )
    return robots_filter(urls, rules).orderBy("doc_id")


_SQL_ROBOTS = r"""
WITH u AS (
  SELECT doc_id,
         'https://site-' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' ||
         CASE CAST(doc_id % 5 AS INT)
           WHEN 0 THEN '/private/doc-' || CAST(doc_id AS VARCHAR)
           WHEN 1 THEN '/private/pub-' || CAST(doc_id AS VARCHAR)
           WHEN 2 THEN '/open/doc-' || CAST(doc_id AS VARCHAR)
           WHEN 3 THEN ''
           ELSE '/tmp/doc-' || CAST(doc_id AS VARCHAR) END AS url
  FROM documents
),
hp AS (
  SELECT doc_id, url,
         lower(regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.\-]*://([^/:?#]*)', 1)) AS host,
         CASE WHEN regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^#]*)', 1) = ''
           THEN '/' ELSE regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^#]*)', 1) END AS path
  FROM u
),
h AS (SELECT 'site-' || CAST(i AS VARCHAR) || '.example.org' AS host, i
      FROM range(7) t(i)),
rules AS (
  SELECT host, '/private/' AS path_prefix, FALSE AS allow FROM h
  UNION ALL
  SELECT host, '/private/pub-', TRUE FROM h
  UNION ALL
  SELECT host, '/tmp/', FALSE FROM h WHERE i % 2 = 0
),
cand AS (
  SELECT hp.doc_id, hp.url, hp.host, hp.path, r.path_prefix, r.allow,
         row_number() OVER (
           PARTITION BY hp.doc_id
           ORDER BY (r.path_prefix IS NOT NULL
                     AND starts_with(hp.path, r.path_prefix)) DESC,
                    strlen(r.path_prefix) DESC, r.allow DESC,
                    r.path_prefix DESC) AS rn,
         (r.path_prefix IS NOT NULL
          AND starts_with(hp.path, r.path_prefix)) AS m
  FROM hp LEFT JOIN rules r ON r.host = hp.host
)
SELECT doc_id, url, host, path,
       CASE WHEN m THEN allow ELSE TRUE END AS allowed,
       CASE WHEN m THEN path_prefix END AS rule_prefix
FROM cand WHERE rn = 1 ORDER BY doc_id
"""


def _q_crawl_frontier(spark, sf_dir):
    """Politeness-wave schedule over the same 7-host frontier:
    priority = document length (longest first), wave = 1-based rank
    within the host — wave w touches each host at most once. Integer
    wave; the per-host window partitions on the politeness key, so
    the plan scales with hosts, not corpus."""
    from knowledge_graph_spark.operators.crawl import crawl_frontier

    docs = _t(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("https://site-"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".example.org/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    return (crawl_frontier(urls, F.col("n_chars"), key_col="url")
            .orderBy("doc_id"))


_SQL_FRONTIER = r"""
WITH u AS (
  SELECT doc_id,
         'https://site-' || CAST(doc_id % 7 AS VARCHAR) ||
         '.example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
         CAST(n_chars AS BIGINT) AS n_chars
  FROM documents
)
SELECT doc_id, url, n_chars,
       'site-' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' AS host,
       CAST(row_number() OVER (
         PARTITION BY doc_id % 7
         ORDER BY n_chars DESC, url) AS BIGINT) AS wave
FROM u ORDER BY doc_id
"""


def _q_dup_spans(spark, sf_dir):
    """Lee-et-al exact-substring duplication coverage with a planted
    repeated passage: every 3rd doc gets the same 10-token slogan
    appended, so its 3 fully-inside overlapping 8-token windows are
    corpus-duplicated and must merge to exactly 10 covered tokens
    (boundary windows mixing original tail + slogan head stay
    unique). Integer-only output."""
    from knowledge_graph_spark.operators.dedup import dup_span_coverage

    slog = "zero one two three four five six seven eight nine"
    docs = _t(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.col("text"), F.lit(" " + slog)))
        .otherwise(F.col("text")).alias("text"),
    )
    return dup_span_coverage(injected, w=8).orderBy("doc_id")


_SQL_DUP_SPANS = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(COALESCE(
           CASE WHEN doc_id % 3 = 0 THEN text ||
             ' zero one two three four five six seven eight nine'
           ELSE text END, ''), '\s+'), x -> x != '') AS w
  FROM documents
),
n AS (SELECT doc_id, w, len(w) AS n FROM t),
wins AS (
  SELECT doc_id, s AS start,
         CAST(concat('0x', substring(
           md5(array_to_string(w[s + 1 : s + 8], ' ')), 1, 13))
           AS BIGINT) AS hh
  FROM (SELECT doc_id, w, unnest(range(0, n - 7)) AS s FROM n)
),
occ AS (SELECT hh FROM wins GROUP BY hh HAVING COUNT(*) > 1),
d AS (SELECT doc_id, start FROM wins WHERE hh IN (SELECT hh FROM occ)),
m AS (SELECT doc_id, start,
             lag(start) OVER (PARTITION BY doc_id ORDER BY start) AS prev
      FROM d),
cov AS (
  SELECT doc_id, COUNT(*) AS ndw,
         SUM(CASE WHEN prev IS NULL THEN 8
                  ELSE LEAST(8, start - prev) END) AS cv
  FROM m GROUP BY doc_id
)
SELECT n.doc_id,
       CAST(n.n AS BIGINT) AS n_tokens,
       CAST(GREATEST(n.n - 7, 0) AS BIGINT) AS n_windows,
       CAST(COALESCE(cov.ndw, 0) AS BIGINT) AS n_dup_windows,
       CAST(COALESCE(cov.cv, 0) AS BIGINT) AS covered_tokens
FROM n LEFT JOIN cov ON cov.doc_id = n.doc_id
ORDER BY n.doc_id
"""


def _q_source_overlap(spark, sf_dir):
    """Corpus-governance overlap matrix: per unordered source pair,
    KMV-estimated shingle-set overlap from per-source k=128 sketches
    (190 pairs over 20 sources at sf0.01) — answered entirely from
    bounded summaries. Integer ingredients only (n_kept, n_both,
    kth_min); Jaccard and union estimates are row-local divisions."""
    from knowledge_graph_spark.functions.vectors import word_ngrams
    from knowledge_graph_spark.operators.sketches import (
        kmv_pairwise_overlap, kmv_sketch)

    docs = _t(spark, sf_dir, "documents")
    items = docs.select(
        "source", F.explode(word_ngrams("text", 3)).alias("shingle"))
    sk = kmv_sketch(items, "shingle", group_cols=["source"], k=128)
    return (kmv_pairwise_overlap(sk, "source", k=128)
            .orderBy("group_a", "group_b"))


_SQL_SOURCE_OVERLAP = r"""
WITH lw AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
                     x -> x != '') AS w
  FROM documents
),
g AS (
  SELECT source, unnest(
    CASE WHEN len(w) >= 3
    THEN list_transform(range(len(w) - 2),
         i -> list_aggregate(list_slice(w, i + 1, i + 3),
                             'string_agg', ' '))
    ELSE [list_aggregate(w, 'string_agg', ' ')] END) AS sh
  FROM lw
),
sk AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS r
    FROM (SELECT DISTINCT source,
                 CAST(concat('0x', substring(md5(sh), 1, 13)) AS BIGINT)
                   AS h
          FROM g WHERE sh IS NOT NULL))
  WHERE r <= 128
),
pairs AS (
  SELECT a.source AS ga, b.source AS gb
  FROM (SELECT DISTINCT source FROM sk) a
  JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source
),
memb AS (
  SELECT p.ga, p.gb, s.h,
         MAX(CASE WHEN s.source = p.ga THEN 1 ELSE 0 END) AS ia,
         MAX(CASE WHEN s.source = p.gb THEN 1 ELSE 0 END) AS ib
  FROM pairs p JOIN sk s ON s.source IN (p.ga, p.gb)
  GROUP BY p.ga, p.gb, s.h
),
kept AS (
  SELECT ga, gb, h, ia, ib,
         row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS r
  FROM memb
)
SELECT ga AS group_a, gb AS group_b,
       COUNT(*)::BIGINT AS n_kept,
       SUM(ia * ib)::BIGINT AS n_both,
       MAX(h) AS kth_min
FROM kept WHERE r <= 128
GROUP BY ga, gb ORDER BY ga, gb
"""


def _q_incr_dedup(spark, sf_dir):
    """Incremental-ingestion dedup: existing = even doc_ids, incoming
    = odd doc_ids (mostly new) plus planted exact copies (every 10th
    even doc re-sent verbatim at id+100000) and planted near-dups
    (every doc_id%10==4 doc with its last word dropped, at
    id+200000). Verdicts exact/near/new with match counts; the oracle
    replays the md5 content keys, the seeded md5-52 MinHash bands,
    and the Jaccard verification."""
    from knowledge_graph_spark.operators.dedup import dedup_incremental

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    existing = docs.filter(F.col("doc_id") % 2 == 0)
    drop_last = F.expr(
        "array_join(slice(split(text, ' '), 1, "
        "size(split(text, ' ')) - 1), ' ')")
    incoming = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .unionByName(docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"))
        .unionByName(docs.filter(F.col("doc_id") % 10 == 4).select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            drop_last.alias("text")))
    )
    return dedup_incremental(existing, incoming).orderBy("doc_id")


_SQL_INCR_DEDUP = r"""
WITH ex AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
inc AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 200000,
         array_to_string(list_slice(string_split(text, ' '), 1,
           len(string_split(text, ' ')) - 1), ' ')
  FROM documents WHERE doc_id % 10 = 4
),
exk AS (SELECT doc_id, md5(COALESCE(text, '')) AS ck FROM ex),
inck AS (SELECT doc_id, md5(COALESCE(text, '')) AS ck FROM inc),
exact AS (
  SELECT i.doc_id, COUNT(*) AS ne
  FROM inck i JOIN exk e ON e.ck = i.ck GROUP BY i.doc_id
),
u AS (SELECT doc_id, text FROM ex UNION ALL SELECT doc_id, text FROM inc),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(lw) >= 3
    THEN list_transform(range(len(lw) - 2),
         i -> list_aggregate(list_slice(lw, i + 1, i + 3),
                             'string_agg', ' '))
    ELSE [list_aggregate(lw, 'string_agg', ' ')] END)) AS g
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text),
                 '[^\p{L}\p{N}]+'), x -> x != '') AS lw
        FROM u)
),
mh AS (
  SELECT doc_id, k,
         MIN(CAST(concat('0x', substring(
           md5(CAST(k AS VARCHAR) || ':' || g), 1, 13)) AS BIGINT)) AS v
  FROM sh CROSS JOIN range(8) t(k) GROUP BY doc_id, k
),
bk AS (
  SELECT doc_id, CAST(k // 2 AS INT) AS band,
         string_agg(CAST(v AS VARCHAR), ',' ORDER BY k) AS bkey
  FROM mh GROUP BY doc_id, k // 2
),
cand AS (
  SELECT DISTINCT i.doc_id AS id_a, e.doc_id AS id_b
  FROM bk i JOIN bk e ON e.band = i.band AND e.bkey = i.bkey
  WHERE i.doc_id IN (SELECT doc_id FROM inc)
    AND e.doc_id IN (SELECT doc_id FROM ex)
),
szs AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS it
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.g = a.g
  GROUP BY c.id_a, c.id_b
),
ver AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  LEFT JOIN inter ON inter.id_a = c.id_a AND inter.id_b = c.id_b
  JOIN szs za ON za.doc_id = c.id_a
  JOIN szs zb ON zb.doc_id = c.id_b
  WHERE CAST(COALESCE(inter.it, 0) AS DOUBLE)
        / (za.sz + zb.sz - COALESCE(inter.it, 0))
        >= CAST(0.7 AS DOUBLE)
),
nearm AS (
  SELECT v.id_a AS doc_id, COUNT(*) AS nn
  FROM ver v
  JOIN inck i ON i.doc_id = v.id_a
  JOIN exk e ON e.doc_id = v.id_b
  WHERE i.ck != e.ck
  GROUP BY v.id_a
)
SELECT i.doc_id,
       CASE WHEN exact.ne IS NOT NULL THEN 'exact'
            WHEN nearm.nn IS NOT NULL THEN 'near'
            ELSE 'new' END AS verdict,
       CAST(COALESCE(exact.ne, 0) AS BIGINT) AS n_exact_matches,
       CAST(COALESCE(nearm.nn, 0) AS BIGINT) AS n_near_matches
FROM inc i
LEFT JOIN exact ON exact.doc_id = i.doc_id
LEFT JOIN nearm ON nearm.doc_id = i.doc_id
ORDER BY i.doc_id
"""


def _q_phrase_search(spark, sf_dir):
    """Exact positional phrase search for "table part" over the raw
    corpus (the phrase occurs naturally in the synthetic word stream):
    matching docs with match counts and earliest 0-based position.
    Integer-only output."""
    from knowledge_graph_spark.operators.search import phrase_search

    return phrase_search(
        _t(spark, sf_dir, "documents"), "table part").orderBy("doc_id")


_SQL_PHRASE = r"""
WITH w0 AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(COALESCE(text, ''), '\s+'),
                     x -> x != '') AS w
  FROM documents
),
toks AS (
  SELECT doc_id, i - 1 AS pos, w[i] AS term
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM w0)
),
slots(slot, term) AS (VALUES (0, 'table'), (1, 'part')),
votes AS (
  SELECT DISTINCT t.doc_id, t.pos - s.slot AS start, s.slot
  FROM toks t JOIN slots s ON s.term = t.term
  WHERE t.pos - s.slot >= 0
),
m AS (
  SELECT doc_id, start FROM votes
  GROUP BY doc_id, start HAVING COUNT(*) = 2
)
SELECT doc_id, COUNT(*)::BIGINT AS n_matches,
       CAST(MIN(start) AS BIGINT) AS first_pos
FROM m GROUP BY doc_id ORDER BY doc_id
"""


def _q_winnow_census(spark, sf_dir):
    """MOSS winnowing fingerprints over the raw documents table
    (3-gram hashes, 4-gram windows): per doc the gram count, selected
    fingerprint count (~2/(k+1) density), and how many fingerprints
    are shared with other docs — the small-vocabulary corpus overlaps
    naturally, so sharing is non-trivial. Integer-only."""
    from knowledge_graph_spark.operators.textstats import winnow_fingerprints

    return winnow_fingerprints(
        _t(spark, sf_dir, "documents")).orderBy("doc_id")


_SQL_WINNOW = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(COALESCE(text, ''), '\s+'),
                     x -> x != '') AS w
  FROM documents
),
g AS (
  SELECT doc_id, s AS pos, len(w) - 2 AS n_grams,
         CAST(concat('0x', substring(
           md5(array_to_string(w[s + 1 : s + 3], ' ')), 1, 13))
           AS BIGINT) AS h
  FROM (SELECT doc_id, w, unnest(range(0, len(w) - 2)) AS s FROM t)
),
wm AS (
  SELECT doc_id, pos, n_grams,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM g
),
fps AS (SELECT DISTINCT doc_id, fp FROM wm WHERE pos <= n_grams - 4),
sh AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) > 1),
per AS (
  SELECT doc_id, COUNT(*) AS nf,
         SUM(CASE WHEN fp IN (SELECT fp FROM sh) THEN 1 ELSE 0 END) AS ns
  FROM fps GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(GREATEST(len(list_filter(regexp_split_to_array(
         COALESCE(d.text, ''), '\s+'), x -> x != '')) - 2, 0) AS BIGINT)
         AS n_grams,
       CAST(COALESCE(per.nf, 0) AS BIGINT) AS n_fingerprints,
       CAST(COALESCE(per.ns, 0) AS BIGINT) AS n_shared
FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
ORDER BY d.doc_id
"""


def _q_lang_consistency(spark, sf_dir):
    """CCNet paragraph-level language consistency over injected
    multi-line pages: two content half-lines per doc (word soup —
    'en' when a stopword lands in the half, else 'other'), a Chinese
    paragraph on every 3rd doc, a digit-junk line on every 5th.
    Majority tag + minority line count per doc; the oracle replays
    the per-line LID rule and the max(struct) majority."""
    from knowledge_graph_spark.functions.vectors import ws_tokens
    from knowledge_graph_spark.operators.textstats import (
        line_language_profile)

    docs = _t(spark, sf_dir, "documents")
    w = F.coalesce(ws_tokens("text"), F.array())
    pages = (
        docs.select("doc_id", w.alias("_w"))
        .select(
            "doc_id",
            F.concat_ws(
                "\n",
                F.expr("array_join(slice(_w, 1, "
                       "int(ceil(size(_w) / 2))), ' ')"),
                F.when(F.col("doc_id") % 3 == 0,
                       F.lit("这是一个中文段落，其中包含丰富的汉字内容。")),
                F.expr(
                    "array_join(slice(_w, int(ceil(size(_w) / 2)) + 1, "
                    "greatest(size(_w) - int(ceil(size(_w) / 2)), 0)), "
                    "' ')"),
                F.when(F.col("doc_id") % 5 == 0, F.lit("12345 67890 ???")),
            ).alias("text"),
        )
    )
    return line_language_profile(pages).orderBy("doc_id")


_SQL_LANG_CONSISTENCY = r"""
WITH w0 AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(COALESCE(text, ''), '\s+'),
                     x -> x != '') AS w
  FROM documents
),
inj AS (
  SELECT doc_id,
    concat_ws(chr(10),
      array_to_string(w[1 : (len(w) + 1) // 2], ' '),
      CASE WHEN doc_id % 3 = 0
           THEN '这是一个中文段落，其中包含丰富的汉字内容。' END,
      array_to_string(w[(len(w) + 1) // 2 + 1 : len(w)], ' '),
      CASE WHEN doc_id % 5 = 0 THEN '12345 67890 ???' END
    ) AS text
  FROM w0
),
l AS (
  SELECT doc_id, ls[i] AS line
  FROM (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i
        FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM inj))
  WHERE trim(ls[i]) <> ''
),
tag AS (
  SELECT doc_id,
    CASE WHEN CAST(length(line) - length(regexp_replace(line,
           '[\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE)
         / GREATEST(length(line), 1) > 0.25 THEN 'zh'
         WHEN CAST(length(line) - length(regexp_replace(line,
           '[A-Za-z]', '', 'g')) AS DOUBLE)
         / GREATEST(length(line), 1) > 0.5
         AND (CASE WHEN ' ' || lower(line) || ' ' LIKE '% the %' THEN 1 ELSE 0 END
            + CASE WHEN ' ' || lower(line) || ' ' LIKE '% and %' THEN 1 ELSE 0 END
            + CASE WHEN ' ' || lower(line) || ' ' LIKE '% of %' THEN 1 ELSE 0 END
            + CASE WHEN ' ' || lower(line) || ' ' LIKE '% to %' THEN 1 ELSE 0 END
            + CASE WHEN ' ' || lower(line) || ' ' LIKE '% in %' THEN 1 ELSE 0 END
            + CASE WHEN ' ' || lower(line) || ' ' LIKE '% is %' THEN 1 ELSE 0 END
            + CASE WHEN ' ' || lower(line) || ' ' LIKE '% that %' THEN 1 ELSE 0 END
            + CASE WHEN ' ' || lower(line) || ' ' LIKE '% for %' THEN 1 ELSE 0 END
            + CASE WHEN ' ' || lower(line) || ' ' LIKE '% with %' THEN 1 ELSE 0 END
            + CASE WHEN ' ' || lower(line) || ' ' LIKE '% was %' THEN 1 ELSE 0 END
            + CASE WHEN ' ' || lower(line) || ' ' LIKE '% are %' THEN 1 ELSE 0 END
            + CASE WHEN ' ' || lower(line) || ' ' LIKE '% this %' THEN 1 ELSE 0 END
           ) >= 1 THEN 'en'
         ELSE 'other' END AS lang_pred
  FROM l
),
per AS (SELECT doc_id, lang_pred, COUNT(*) AS c
        FROM tag GROUP BY doc_id, lang_pred),
maj AS (
  SELECT doc_id, lang_pred, c,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY c DESC, lang_pred DESC) AS rn,
         SUM(c) OVER (PARTITION BY doc_id) AS n_lines
  FROM per
)
SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
       lang_pred AS majority_lang,
       CAST(c AS BIGINT) AS n_majority,
       CAST(n_lines - c AS BIGINT) AS n_minority
FROM maj WHERE rn = 1 ORDER BY doc_id
"""


def _q_doc_dates(spark, sf_dir):
    """Temporal-expression extraction over pages with three injected
    date forms (ISO on every doc, a month-name form on every doc, a
    numeric US form on every 2nd) plus a calendar-invalid
    'February 30, 2024' on every 10th that try-semantics must drop
    identically in both engines. Output is (doc_id, raw, date) with a
    real DATE column."""
    from knowledge_graph_spark.operators.temporal import extract_dates

    docs = _t(spark, sf_dir, "documents")
    months = ("January", "February", "March", "April", "May", "June",
              "July", "August", "September", "October", "November",
              "December")
    mname = F.element_at(F.array(*[F.lit(m) for m in months]),
                         (F.col("doc_id") % 12 + 1).cast("int"))
    pages = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" dated 2024-0"), (F.col("doc_id") % 9 + 1).cast("string"),
            F.lit("-1"), (F.col("doc_id") % 9).cast("string"),
            F.lit(" on "), mname, F.lit(" "),
            (F.col("doc_id") % 28 + 1).cast("string"), F.lit(", 2023"),
            F.when(F.col("doc_id") % 2 == 0, F.concat(
                F.lit(" at "), (F.col("doc_id") % 12 + 1).cast("string"),
                F.lit("/"), (F.col("doc_id") % 28 + 1).cast("string"),
                F.lit("/2022"))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 10 == 0,
                   F.lit(" bad February 30, 2024")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return extract_dates(pages).orderBy("doc_id", "raw")


_SQL_DOC_DATES = r"""
WITH inj AS (
  SELECT doc_id,
    text || ' dated 2024-0' || (doc_id % 9 + 1) || '-1' || (doc_id % 9)
    || ' on '
    || (['January','February','March','April','May','June','July',
         'August','September','October','November','December'])
         [doc_id % 12 + 1]
    || ' ' || (doc_id % 28 + 1) || ', 2023'
    || CASE WHEN doc_id % 2 = 0 THEN
         ' at ' || (doc_id % 12 + 1) || '/' || (doc_id % 28 + 1)
         || '/2022' ELSE '' END
    || CASE WHEN doc_id % 10 = 0 THEN ' bad February 30, 2024'
       ELSE '' END AS text
  FROM documents
),
m AS (
  SELECT doc_id, x AS raw, TRY_CAST(x AS DATE) AS date
  FROM (SELECT doc_id, unnest(regexp_extract_all(text,
          '\b(\d{4}-\d{2}-\d{2})\b', 1)) AS x FROM inj)
  UNION ALL
  SELECT doc_id, x,
    TRY_CAST(regexp_extract(x,
        '(January|February|March|April|May|June|July|August|September|October|November|December) (\d{1,2}), (\d{4})', 3)
      || '-' || list_position(
        ['January','February','March','April','May','June','July',
         'August','September','October','November','December'],
        regexp_extract(x,
        '(January|February|March|April|May|June|July|August|September|October|November|December) (\d{1,2}), (\d{4})', 1))
      || '-' || regexp_extract(x,
        '(January|February|March|April|May|June|July|August|September|October|November|December) (\d{1,2}), (\d{4})', 2)
      AS DATE)
  FROM (SELECT doc_id, unnest(regexp_extract_all(text,
          '(January|February|March|April|May|June|July|August|September|October|November|December) (\d{1,2}), (\d{4})', 0)) AS x
        FROM inj)
  UNION ALL
  SELECT doc_id, x,
    TRY_CAST(regexp_extract(x, '\b(\d{1,2})/(\d{1,2})/(\d{4})\b', 3)
      || '-' || regexp_extract(x, '\b(\d{1,2})/(\d{1,2})/(\d{4})\b', 1)
      || '-' || regexp_extract(x, '\b(\d{1,2})/(\d{1,2})/(\d{4})\b', 2)
      AS DATE)
  FROM (SELECT doc_id, unnest(regexp_extract_all(text,
          '\b(\d{1,2})/(\d{1,2})/(\d{4})\b', 0)) AS x FROM inj)
)
SELECT doc_id, raw, date FROM m WHERE date IS NOT NULL
ORDER BY doc_id, raw
"""


def _q_acronyms(spark, sf_dir):
    """Schwartz-Hearst acronym-definition mining over injected
    'Long Form (ACRO)' sentences: a rotating matching pair on every
    doc plus a deliberately mismatched pair on every 4th doc that the
    strict initials rule must drop. The oracle replays the regex and
    the initials fold."""
    from knowledge_graph_spark.operators.patterns import extract_acronyms

    docs = _t(spark, sf_dir, "documents")
    lf = F.element_at(
        F.array(F.lit("Global Data Fund"), F.lit("World Trade Council"),
                F.lit("Open Source Alliance")),
        (F.col("doc_id") % 3 + 1).cast("int"))
    ac = F.element_at(
        F.array(F.lit("GDF"), F.lit("WTC"), F.lit("OSA")),
        (F.col("doc_id") % 3 + 1).cast("int"))
    pages = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" the "), lf, F.lit(" ("), ac,
            F.lit(") announced results"),
            F.when(F.col("doc_id") % 4 == 0,
                   F.lit(" and the National Audit Office (XQZ) "
                         "did not")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return extract_acronyms(pages).orderBy("doc_id", "acronym")


_SQL_ACRONYMS = r"""
WITH inj AS (
  SELECT doc_id,
    text || ' the '
    || (['Global Data Fund', 'World Trade Council',
         'Open Source Alliance'])[doc_id % 3 + 1]
    || ' (' || (['GDF', 'WTC', 'OSA'])[doc_id % 3 + 1]
    || ') announced results'
    || CASE WHEN doc_id % 4 = 0
            THEN ' and the National Audit Office (XQZ) did not'
            ELSE '' END AS text
  FROM documents
),
cand AS (
  SELECT doc_id,
    regexp_extract(m,
      '((?:[A-Z][a-z]+ ){1,5}[A-Z][a-z]+) \(([A-Z]{2,6})\)', 1)
      AS long_form,
    regexp_extract(m,
      '((?:[A-Z][a-z]+ ){1,5}[A-Z][a-z]+) \(([A-Z]{2,6})\)', 2)
      AS acronym
  FROM (SELECT doc_id, unnest(regexp_extract_all(text,
          '((?:[A-Z][a-z]+ ){1,5}[A-Z][a-z]+) \(([A-Z]{2,6})\)', 0))
          AS m
        FROM inj)
)
SELECT doc_id, acronym, long_form
FROM cand
WHERE upper(array_to_string(
        list_transform(string_split(long_form, ' '),
                       w -> substr(w, 1, 1)), '')) = acronym
ORDER BY doc_id, acronym
"""


def _q_distant_ner(spark, sf_dir):
    """Distant-supervision mention labeling (Mintz et al. 2009) over
    the documents table with a 6-entry literal alias dictionary whose
    keys occur NATURALLY in the corpus vocabulary — including a
    bigram ('merge batch') that overlaps its unigram ('batch'), so
    maximal munch fires on real adjacencies. The oracle replays the
    n-gram candidate generation, the dictionary join, and the
    longest-match argmax."""
    from knowledge_graph_spark.operators.wikilinks import distant_labels

    docs = _t(spark, sf_dir, "documents")
    d = spark.createDataFrame(
        [("spark", "Apache Spark"), ("merge batch", "MergeBatch Op"),
         ("batch", "Batch Generic"), ("table", "Table Entity"),
         ("hash join", "HashJoin Op"), ("join", "Join Generic")],
        "anchor_key string, target string")
    return distant_labels(docs, d).orderBy("doc_id", "pos")


_SQL_DISTANT_NER = r"""
WITH w AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(COALESCE(text, ''), '\s+'),
                x -> x != '') AS a
  FROM documents
),
uni AS (
  SELECT doc_id, i - 1 AS pos, 1 AS n_words, a[i] AS surface
  FROM (SELECT doc_id, a, unnest(generate_series(1, len(a))) AS i
        FROM w)
),
bi AS (
  SELECT doc_id, i - 1 AS pos, 2 AS n_words,
         a[i] || ' ' || a[i + 1] AS surface
  FROM (SELECT doc_id, a, unnest(generate_series(1, len(a))) AS i
        FROM w)
  WHERE i + 1 <= len(a)
),
cand AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
d(anchor_key, target) AS (VALUES
  ('spark', 'Apache Spark'), ('merge batch', 'MergeBatch Op'),
  ('batch', 'Batch Generic'), ('table', 'Table Entity'),
  ('hash join', 'HashJoin Op'), ('join', 'Join Generic')),
hits AS (
  SELECT c.doc_id, c.pos, c.n_words, c.surface, d.target,
    row_number() OVER (PARTITION BY c.doc_id, c.pos
                       ORDER BY c.n_words DESC, c.surface DESC,
                                d.target DESC) AS rn
  FROM cand c JOIN d ON lower(c.surface) = d.anchor_key
)
SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       CAST(n_words AS BIGINT) AS n_words, surface, target
FROM hits WHERE rn = 1 ORDER BY doc_id, pos
"""


def _q_quotes(spark, sf_dir):
    """Attributed-quotation harvest over injected reported speech:
    every doc carries a 'Speaker said, "..."' sentence with a
    rotating two-word speaker and rotating reporting verb; every 3rd
    doc adds the inverted '"...," argued Speaker' form. The oracle
    replays both templates' regexes and group extraction."""
    from knowledge_graph_spark.operators.patterns import extract_quotes

    docs = _t(spark, sf_dir, "documents")
    speaker = F.element_at(
        F.array(F.lit("Jane Roe"), F.lit("Bob Stone"),
                F.lit("Ada Lovelace")),
        (F.col("doc_id") % 3 + 1).cast("int"))
    verb = F.element_at(
        F.array(F.lit("said"), F.lit("wrote"), F.lit("argued"),
                F.lit("noted")),
        (F.col("doc_id") % 4 + 1).cast("int"))
    pages = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" "), speaker, F.lit(" "), verb,
            F.lit(', "statement number '),
            (F.col("doc_id") % 9).cast("string"), F.lit('"'),
            F.when(F.col("doc_id") % 3 == 0, F.concat(
                F.lit(' "a contrary view '),
                (F.col("doc_id") % 5).cast("string"),
                F.lit('," claimed '), speaker)).otherwise(F.lit("")),
        ).alias("text"),
    )
    return extract_quotes(pages).orderBy(
        "doc_id", "position", "speaker", "quote")


_SQL_QUOTES = r"""
WITH inj AS (
  SELECT doc_id,
    text || ' '
    || (['Jane Roe', 'Bob Stone', 'Ada Lovelace'])[doc_id % 3 + 1]
    || ' ' || (['said', 'wrote', 'argued', 'noted'])[doc_id % 4 + 1]
    || ', "statement number ' || (doc_id % 9) || '"'
    || CASE WHEN doc_id % 3 = 0 THEN
         ' "a contrary view ' || (doc_id % 5) || '," claimed '
         || (['Jane Roe', 'Bob Stone', 'Ada Lovelace'])[doc_id % 3 + 1]
       ELSE '' END AS text
  FROM documents
),
a AS (
  SELECT doc_id,
    regexp_extract(m, '([A-Z][a-z]+(?: [A-Z][a-z]+)?) (?:said|says|wrote|argued|claimed|noted|added),? "([^"]+)"', 1) AS speaker,
    regexp_extract(m, '([A-Z][a-z]+(?: [A-Z][a-z]+)?) (?:said|says|wrote|argued|claimed|noted|added),? "([^"]+)"', 2) AS quote,
    'before' AS position
  FROM (SELECT doc_id, unnest(regexp_extract_all(text,
          '([A-Z][a-z]+(?: [A-Z][a-z]+)?) (?:said|says|wrote|argued|claimed|noted|added),? "([^"]+)"', 0)) AS m
        FROM inj)
  UNION ALL
  SELECT doc_id,
    regexp_extract(m, '"([^"]+?),?" (?:said|says|wrote|argued|claimed|noted|added) ([A-Z][a-z]+(?: [A-Z][a-z]+)?)', 2),
    regexp_extract(m, '"([^"]+?),?" (?:said|says|wrote|argued|claimed|noted|added) ([A-Z][a-z]+(?: [A-Z][a-z]+)?)', 1),
    'after'
  FROM (SELECT doc_id, unnest(regexp_extract_all(text,
          '"([^"]+?),?" (?:said|says|wrote|argued|claimed|noted|added) ([A-Z][a-z]+(?: [A-Z][a-z]+)?)', 0)) AS m
        FROM inj)
)
SELECT doc_id, speaker, quote, position FROM a
ORDER BY doc_id, position, speaker, quote
"""


def _q_corpus_report(spark, sf_dir):
    """Per-source governance report card composing language ID,
    quality, the Gopher battery, and an exact-dup census — what a
    data team reads before touching mixture weights. All counts; the
    oracle replays each component rule (the same replays that back
    language_id / quality_scores / gopher_rules) plus a text-equality
    dup census."""
    from knowledge_graph_spark.operators.curate import corpus_report

    return corpus_report(_t(spark, sf_dir, "documents")) \
        .orderBy("source")


_SQL_CORPUS_REPORT = r"""
WITH b AS (
  SELECT source, doc_id, text,
    COALESCE(text, '') AS t,
    list_filter(regexp_split_to_array(COALESCE(text, ''), '\s+'),
                x -> x != '') AS w,
    string_split(COALESCE(text, ''), chr(10)) AS ls
  FROM documents
),
lid AS (
  SELECT doc_id,
    CASE WHEN CAST(length(text) - length(regexp_replace(text,
           '[\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE)
           / GREATEST(length(text), 1) > 0.25 THEN 'zh'
         WHEN CAST(length(text) - length(regexp_replace(text,
           '[A-Za-z]', '', 'g')) AS DOUBLE)
           / GREATEST(length(text), 1) > 0.5
          AND (CASE WHEN ' ' || lower(text) || ' ' LIKE '% the %' THEN 1 ELSE 0 END
             + CASE WHEN ' ' || lower(text) || ' ' LIKE '% and %' THEN 1 ELSE 0 END
             + CASE WHEN ' ' || lower(text) || ' ' LIKE '% of %' THEN 1 ELSE 0 END
             + CASE WHEN ' ' || lower(text) || ' ' LIKE '% to %' THEN 1 ELSE 0 END
             + CASE WHEN ' ' || lower(text) || ' ' LIKE '% in %' THEN 1 ELSE 0 END
             + CASE WHEN ' ' || lower(text) || ' ' LIKE '% is %' THEN 1 ELSE 0 END
             + CASE WHEN ' ' || lower(text) || ' ' LIKE '% that %' THEN 1 ELSE 0 END
             + CASE WHEN ' ' || lower(text) || ' ' LIKE '% for %' THEN 1 ELSE 0 END
             + CASE WHEN ' ' || lower(text) || ' ' LIKE '% with %' THEN 1 ELSE 0 END
             + CASE WHEN ' ' || lower(text) || ' ' LIKE '% was %' THEN 1 ELSE 0 END
             + CASE WHEN ' ' || lower(text) || ' ' LIKE '% are %' THEN 1 ELSE 0 END
             + CASE WHEN ' ' || lower(text) || ' ' LIKE '% this %' THEN 1 ELSE 0 END
            ) >= 1 THEN 'en'
         ELSE 'other' END AS lang_pred
  FROM documents
),
q AS (
  SELECT doc_id,
    CASE WHEN text IS NULL THEN NULL
         ELSE GREATEST(0.0, 1.0
           - CASE WHEN length(text) < 20 THEN 0.5 ELSE 0.0 END
           - CASE WHEN CAST(length(text) - length(regexp_replace(text,
               '[[:punct:]，。、；：！？“”‘’（）《》【】]', '', 'g')) AS DOUBLE)
               / GREATEST(length(text), 1) > 0.3 THEN 0.25 ELSE 0.0 END
           - CASE WHEN CAST(length(text) - length(regexp_replace(text,
               '[0-9]', '', 'g')) AS DOUBLE)
               / GREATEST(length(text), 1) > 0.3 THEN 0.25 ELSE 0.0 END
           - CASE WHEN len(list_filter(regexp_split_to_array(text,
               '\s+'), x -> x != '')) >= 5
              AND (CAST(list_aggregate(list_transform(
                     list_filter(regexp_split_to_array(text, '\s+'),
                                 x -> x != ''),
                     x -> length(x)), 'sum') AS DOUBLE)
                   / len(list_filter(regexp_split_to_array(text,
                       '\s+'), x -> x != '')) < 2
               OR CAST(list_aggregate(list_transform(
                     list_filter(regexp_split_to_array(text, '\s+'),
                                 x -> x != ''),
                     x -> length(x)), 'sum') AS DOUBLE)
                   / len(list_filter(regexp_split_to_array(text,
                       '\s+'), x -> x != '')) > 12)
              THEN 0.25 ELSE 0.0 END) END AS quality
  FROM documents
),
gm AS (
  SELECT doc_id,
    CAST(len(w) AS BIGINT) AS n_words,
    CAST(len(ls) AS BIGINT) AS n_lines,
    CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0)
         AS BIGINT) AS sum_wl,
    CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
         AS BIGINT) AS n_alpha,
    CAST(len(list_filter(ls, l -> regexp_matches(trim(l), '^[-*•]')))
         AS BIGINT) AS n_bullet,
    CAST(len(list_filter(ls,
         l -> regexp_matches(rtrim(l), '(\.\.\.|…)$')))
         AS BIGINT) AS n_ellipsis,
    CAST(length(t) - length(replace(t, '#', ''))
      + (length(t) - length(replace(t, '...', ''))) // 3
      + length(t) - length(replace(t, '…', '')) AS BIGINT) AS n_sym,
    CAST((CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'the')  THEN 1 ELSE 0 END
        + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'be')   THEN 1 ELSE 0 END
        + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'to')   THEN 1 ELSE 0 END
        + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'of')   THEN 1 ELSE 0 END
        + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'and')  THEN 1 ELSE 0 END
        + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'that') THEN 1 ELSE 0 END
        + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'have') THEN 1 ELSE 0 END
        + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'with') THEN 1 ELSE 0 END
      ) AS BIGINT) AS n_stop
  FROM b
),
g AS (
  SELECT doc_id,
    ((n_words >= 50 AND n_words <= 100000)
     AND (sum_wl >= 3 * n_words AND sum_wl <= 10 * n_words
          AND n_words > 0)
     AND (10 * n_sym <= n_words AND n_words > 0)
     AND (10 * n_bullet <= 9 * n_lines)
     AND (10 * n_ellipsis <= 3 * n_lines)
     AND (10 * n_alpha >= 8 * n_words AND n_words > 0)
     AND (n_stop >= 2)) AS pass_gopher
  FROM gm
),
dup AS (
  SELECT source, t, COUNT(*) AS n FROM b GROUP BY source, t
)
SELECT b.source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(len(b.w)) AS BIGINT) AS n_tokens,
  CAST(SUM(CASE WHEN lid.lang_pred = 'en' THEN 1 ELSE 0 END)
       AS BIGINT) AS n_en,
  CAST(SUM(CASE WHEN lid.lang_pred = 'zh' THEN 1 ELSE 0 END)
       AS BIGINT) AS n_zh,
  CAST(SUM(CASE WHEN lid.lang_pred NOT IN ('en', 'zh') THEN 1
           ELSE 0 END) AS BIGINT) AS n_other,
  CAST(SUM(CASE WHEN q.quality >= 0.75 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_quality_hi,
  CAST(SUM(CASE WHEN g.pass_gopher THEN 1 ELSE 0 END) AS BIGINT)
    AS n_gopher_pass,
  CAST(SUM(CASE WHEN dup.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dup_docs
FROM b
JOIN lid USING (doc_id) JOIN q USING (doc_id) JOIN g USING (doc_id)
JOIN dup ON dup.source = b.source AND dup.t = b.t
GROUP BY b.source ORDER BY b.source
"""


def _q_readability(spark, sf_dir):
    """Flesch-Kincaid ingredient counts over punctuated pages (the
    soup text gains '. ... ! ... ?' sentence breaks, plus a '!!' run
    on every 4th doc — runs collapse to one sentence boundary).
    Counts only; the grade formula stays with the caller. Oracle
    replays the inverse-split sentence runs and the vowel-group +
    silent-e syllable rule per word."""
    from knowledge_graph_spark.operators.textstats import (
        readability_counts)

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(". The second sentence rides here! A third one?"),
            F.when(F.col("doc_id") % 4 == 0,
                   F.lit(" Extra exclamation!!")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return readability_counts(pages).orderBy("doc_id")


_SQL_READABILITY = r"""
WITH inj AS (
  SELECT doc_id,
    text || '. The second sentence rides here! A third one?'
         || CASE WHEN doc_id % 4 = 0 THEN ' Extra exclamation!!'
            ELSE '' END AS text
  FROM documents
),
b AS (
  SELECT doc_id, COALESCE(text, '') AS t,
    list_filter(regexp_split_to_array(COALESCE(text, ''), '\s+'),
                x -> x != '') AS words
  FROM inj
)
SELECT doc_id,
  CAST(len(words) AS BIGINT) AS n_words,
  CAST(GREATEST(1, len(list_filter(
    regexp_split_to_array(t, '[^.!?]+'), s -> s != ''))) AS BIGINT)
    AS n_sentences,
  CAST(COALESCE(list_sum(list_transform(words, w ->
    GREATEST(
      CASE WHEN regexp_replace(lower(w), '[^a-z]', '', 'g') != ''
           THEN 1 ELSE 0 END,
      len(list_filter(regexp_split_to_array(
            regexp_replace(lower(w), '[^a-z]', '', 'g'),
            '[^aeiouy]+'), s -> s != ''))
      - CASE WHEN regexp_matches(
               regexp_replace(lower(w), '[^a-z]', '', 'g'),
               '[aeiouy].*[aeiouy]')
             AND regexp_matches(
               regexp_replace(lower(w), '[^a-z]', '', 'g'), '[^l]e$')
             THEN 1 ELSE 0 END))), 0) AS BIGINT) AS n_syllables
FROM b ORDER BY doc_id
"""


def _q_scd2_status(spark, sf_dir):
    """SCD Type-2 fact history over the events stream: each user's
    event_type sequence collapses into validity intervals (runs of
    consecutive equal values, half-open, NULL-terminated current
    run), tie-broken by event_id at equal timestamps. The oracle
    replays the change-flag prefix sum and the lead() interval
    closure."""
    from knowledge_graph_spark.operators.temporal import scd2_history

    ev = _t(spark, sf_dir, "events")
    return scd2_history(ev, tiebreak_col="event_id").orderBy(
        "user_id", "valid_from")


_SQL_SCD2 = r"""
WITH r AS (
  SELECT user_id, event_type, ts,
    SUM(CASE WHEN prev IS NULL OR event_type != prev THEN 1 ELSE 0
        END) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS run
  FROM (SELECT user_id, event_type, ts, event_id,
          lag(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS prev
        FROM events)
),
s AS (
  SELECT user_id, MIN(event_type) AS event_type,
         MIN(ts) AS valid_from,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM r GROUP BY user_id, run
)
SELECT user_id, event_type, valid_from,
  lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
    AS valid_to,
  n_events,
  (lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
   IS NULL) AS is_current
FROM s ORDER BY user_id, valid_from
"""


def _q_snapshot_diff(spark, sf_dir):
    """Recrawl snapshot diff (Cho & Garcia-Molina change-rate signal)
    between the documents table and a synthesized second crawl: every
    13th page disappears, every 7th changes (text appended), every
    11th spawns a brand-new page at doc_id+1000000. Per-source
    added/removed/changed/same counts; the oracle replays the full
    outer join comparing raw text (digest equality == text equality
    on this corpus)."""
    from knowledge_graph_spark.operators.crawl import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    survivors = (
        docs.filter(F.col("doc_id") % 13 != 0)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.col("text"), F.lit(" updated")))
            .otherwise(F.col("text")).alias("text"),
            "source",
        )
    )
    fresh = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("fresh page "), F.col("doc_id").cast("string"))
        .alias("text"),
        "source",
    )
    return snapshot_diff(docs, survivors.unionAll(fresh)) \
        .orderBy("source")


_SQL_SNAPSHOT_DIFF = r"""
WITH new_snap AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN text || ' updated' ELSE text END
      AS text,
    source
  FROM documents WHERE doc_id % 13 != 0
  UNION ALL
  SELECT doc_id + 1000000, 'fresh page ' || doc_id, source
  FROM documents WHERE doc_id % 11 = 0
),
j AS (
  SELECT COALESCE(n.source, o.source) AS source,
    CASE WHEN o.doc_id IS NULL THEN 'added'
         WHEN n.doc_id IS NULL THEN 'removed'
         WHEN COALESCE(o.text, '') != COALESCE(n.text, '')
           THEN 'changed'
         ELSE 'same' END AS v
  FROM documents o FULL OUTER JOIN new_snap n USING (doc_id)
)
SELECT source,
  CAST(SUM(CASE WHEN v = 'added' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_added,
  CAST(SUM(CASE WHEN v = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_removed,
  CAST(SUM(CASE WHEN v = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_changed,
  CAST(SUM(CASE WHEN v = 'same' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_same
FROM j GROUP BY source ORDER BY source
"""


def _q_lp_eval(spark, sf_dir):
    """Link-prediction eval metrics (Bordes et al. 2013 protocol,
    pessimistic ties per Sun et al. 2020) over synthesized candidate
    sets: every document is a query with 20 candidates scored
    (q*31 + i*7) mod 100, the positive at slot q mod 20 — score ties
    occur by construction (mod-100 collisions), exercising the tie
    rule. One all-integer summary row; MRR's float stays with the
    caller. Oracle replays the two-pass conditional-count rank."""
    from knowledge_graph_spark.operators.kg_export import ranking_metrics

    docs = _t(spark, sf_dir, "documents")
    cands = docs.select(
        F.col("doc_id").alias("query_id"),
        F.explode(F.sequence(F.lit(0), F.lit(19))).alias("i"),
    ).select(
        "query_id",
        ((F.col("query_id") * 31 + F.col("i") * 7) % 100).cast("long")
        .alias("score"),
        (F.col("i") == F.col("query_id") % 20).alias("is_positive"),
    )
    return ranking_metrics(cands)


_SQL_LP_EVAL = r"""
WITH c AS (
  SELECT doc_id AS query_id, i,
         CAST((doc_id * 31 + i * 7) % 100 AS BIGINT) AS s,
         (i = doc_id % 20) AS p
  FROM (SELECT doc_id, unnest(generate_series(0, 19)) AS i
        FROM documents)
),
ps AS (
  SELECT query_id, MAX(s) AS ps FROM c WHERE p GROUP BY query_id
),
r AS (
  SELECT c.query_id,
    CAST(1 + SUM(CASE WHEN c.s > ps.ps
                        OR (c.s = ps.ps AND NOT c.p)
                      THEN 1 ELSE 0 END) AS BIGINT) AS rank
  FROM c JOIN ps USING (query_id)
  GROUP BY c.query_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(rank) AS BIGINT) AS sum_rank,
       CAST(SUM(CASE WHEN rank <= 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS hits_at_1,
       CAST(SUM(CASE WHEN rank <= 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS hits_at_3,
       CAST(SUM(CASE WHEN rank <= 10 THEN 1 ELSE 0 END) AS BIGINT)
         AS hits_at_10
FROM r
"""


def _q_postings(spark, sf_dir):
    """Inverted-index postings export (IIR ch.4) over the documents
    table: delta-encoded posting lists for every term with df >= 2,
    stopword band capped at df <= 450. The oracle rebuilds the same
    ordered lists and gap encoding in SQL. ``gaps`` is space-joined
    to a plain string at this driver boundary (the operator returns
    array<long>) — the gate's pandas canonicalizer cannot sort list
    cells."""
    from knowledge_graph_spark.operators.search import postings_export

    docs = _t(spark, sf_dir, "documents")
    return (postings_export(docs, min_df=2, max_df=450)
            .withColumn(
                "gaps",
                F.array_join(
                    F.transform("gaps", lambda x: x.cast("string")),
                    " "))
            .orderBy("term"))


_SQL_POSTINGS = r"""
WITH p AS (
  SELECT DISTINCT lower(w) AS term, doc_id AS doc
  FROM (SELECT doc_id,
          unnest(list_filter(regexp_split_to_array(COALESCE(text, ''),
                                                   '\s+'),
                 x -> x != '')) AS w
        FROM documents)
),
l AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
         list(doc ORDER BY doc) AS ds
  FROM p GROUP BY term
)
SELECT term, df, CAST(ds[1] AS BIGINT) AS first_doc,
  array_to_string(
    CASE WHEN len(ds) >= 2
         THEN list_transform(generate_series(2, len(ds)),
                             i -> CAST(ds[i] - ds[i - 1] AS BIGINT))
         ELSE CAST([] AS BIGINT[]) END, ' ') AS gaps
FROM l WHERE df >= 2 AND df <= 450 ORDER BY term
"""


def _q_triple_fusion(spark, sf_dir):
    """Knowledge-fusion voting (Dong et al. 2014) over synthesized
    conflicting assertions: each document asserts one triple whose
    subject/predicate collide across docs (mod residues) while the
    object and the integer confidence rotate on different moduli, so
    every (subj, pred) accumulates genuinely conflicting candidates;
    the documents table's real source column is the voting source.
    The oracle replays dedup-before-vote, the weighted tally, and the
    (support desc, obj asc) argmax."""
    from knowledge_graph_spark.operators.fusion import fuse_triples

    docs = _t(spark, sf_dir, "documents")
    assertions = docs.select(
        F.col("source").alias("source_id"),
        F.concat(F.lit("e"), (F.col("doc_id") % 23).cast("string"))
        .alias("subj"),
        F.element_at(
            F.array(F.lit("founded_by"), F.lit("hq_city"), F.lit("ceo")),
            (F.col("doc_id") % 3 + 1).cast("int")).alias("pred"),
        F.concat(F.lit("v"), ((F.col("doc_id") * 7) % 5).cast("string"))
        .alias("obj"),
        ((F.col("doc_id") % 4 + 1) * 10).cast("long").alias("conf"),
    )
    return (
        fuse_triples(assertions, confidence_col="conf")
        .orderBy("subj", "pred")
    )


_SQL_TRIPLE_FUSION = r"""
WITH a AS (
  SELECT source AS source_id,
    'e' || (doc_id % 23) AS subj,
    (['founded_by', 'hq_city', 'ceo'])[doc_id % 3 + 1] AS pred,
    'v' || ((doc_id * 7) % 5) AS obj,
    CAST((doc_id % 4 + 1) * 10 AS BIGINT) AS conf
  FROM documents
),
v AS (
  SELECT subj, pred, obj, source_id, MAX(conf) AS c
  FROM a GROUP BY 1, 2, 3, 4
),
cand AS (
  SELECT subj, pred, obj,
         CAST(SUM(c) AS BIGINT) AS support,
         CAST(COUNT(DISTINCT source_id) AS BIGINT) AS n_sources
  FROM v GROUP BY 1, 2, 3
),
r AS (
  SELECT *,
    row_number() OVER (PARTITION BY subj, pred
                       ORDER BY support DESC, obj ASC) AS rn,
    CAST(COUNT(*) OVER (PARTITION BY subj, pred) AS BIGINT)
      AS n_objects,
    CAST(SUM(support) OVER (PARTITION BY subj, pred) AS BIGINT)
      AS support_total
  FROM cand
)
SELECT subj, pred, obj, support, n_sources, n_objects, support_total
FROM r WHERE rn = 1 ORDER BY subj, pred
"""


def _q_main_content(spark, sf_dir):
    """Boilerpipe-style largest-content-block extraction over pages
    wrapped in link-dense chrome: three chrome lines (pure [[...]]
    spans — they fail the link-density rule, not the word count)
    sandwich two content lines built from the doc's word halves; the
    second half gains four extra words on every 3rd doc so the argmax
    flips between blocks, and disappears entirely on every 6th doc.
    The oracle replays the content rule, the islands, and the
    (words desc, start asc) argmax."""
    from knowledge_graph_spark.functions.vectors import ws_tokens
    from knowledge_graph_spark.operators.cleaning import (
        main_content_block)

    docs = _t(spark, sf_dir, "documents")
    chrome = "[[Home]] [[About]] [[Contact]] [[Login]] [[Search]]"
    w = F.coalesce(ws_tokens("text"), F.array())
    pages = (
        docs.select("doc_id", w.alias("_w"))
        .select(
            "doc_id",
            F.concat_ws(
                "\n",
                F.lit(chrome),
                F.expr("array_join(slice(_w, 1, "
                       "int(ceil(size(_w) / 2))), ' ')"),
                F.lit(chrome),
                F.when(
                    F.col("doc_id") % 6 != 0,
                    F.concat(
                        F.expr(
                            "array_join(slice(_w, "
                            "int(ceil(size(_w) / 2)) + 1, "
                            "greatest(size(_w) - "
                            "int(ceil(size(_w) / 2)), 0)), ' ')"),
                        F.when(F.col("doc_id") % 3 == 0,
                               F.lit(" plus four extra trailing words"))
                        .otherwise(F.lit("")),
                    )),
                F.lit(chrome),
            ).alias("text"),
        )
    )
    return main_content_block(pages).orderBy("doc_id")


_SQL_MAIN_CONTENT = r"""
WITH w0 AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(COALESCE(text, ''), '\s+'),
                     x -> x != '') AS w
  FROM documents
),
inj AS (
  SELECT doc_id,
    concat_ws(chr(10),
      '[[Home]] [[About]] [[Contact]] [[Login]] [[Search]]',
      array_to_string(w[1 : (len(w) + 1) // 2], ' '),
      '[[Home]] [[About]] [[Contact]] [[Login]] [[Search]]',
      CASE WHEN doc_id % 6 != 0 THEN
        array_to_string(w[(len(w) + 1) // 2 + 1 : len(w)], ' ')
        || CASE WHEN doc_id % 3 = 0
                THEN ' plus four extra trailing words' ELSE '' END END,
      '[[Home]] [[About]] [[Contact]] [[Login]] [[Search]]'
    ) AS text
  FROM w0
),
l AS (
  SELECT doc_id, i - 1 AS idx, ls[i] AS line, len(ls) AS n_lines
  FROM (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i
        FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
              FROM inj))
),
flag AS (
  SELECT doc_id, idx, line, n_lines,
    len(list_filter(regexp_split_to_array(trim(line), '\s+'),
                    x -> x != '')) AS nw,
    length(line) - length(regexp_replace(line,
      '\[\[[^\]]*\]\]', '', 'g')) AS lc
  FROM l
),
content AS (
  SELECT doc_id, idx, line, nw,
    idx - row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS grp
  FROM flag
  WHERE nw >= 5 AND 3 * lc <= GREATEST(length(line), 1)
),
blocks AS (
  SELECT doc_id, grp,
    CAST(MIN(idx) AS BIGINT) AS block_start,
    CAST(COUNT(*) AS BIGINT) AS block_lines,
    CAST(SUM(nw) AS BIGINT) AS block_words,
    string_agg(line, chr(10) ORDER BY idx) AS main_text
  FROM content GROUP BY doc_id, grp
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
    ORDER BY block_words DESC, block_start ASC) AS rn
  FROM blocks
)
SELECT d.doc_id,
  CAST(nl.n_lines AS BIGINT) AS n_lines,
  COALESCE(b.block_start, -1) AS block_start,
  COALESCE(b.block_lines, 0) AS block_lines,
  COALESCE(b.block_words, 0) AS block_words,
  COALESCE(b.main_text, '') AS main_text
FROM documents d
JOIN (SELECT doc_id, MAX(n_lines) AS n_lines FROM l GROUP BY doc_id) nl
  USING (doc_id)
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
ORDER BY d.doc_id
"""


def _q_hearst_isa(spark, sf_dir):
    """Hearst-pattern is-a census (Hearst 1992 / WebIsADB) over pages
    with injected taxonomy sentences drawn from small rotating
    vocabularies: a 'such as' assertion on every doc, 'and other' on
    every 2nd, 'including' on every 3rd, 'especially' on every 7th —
    support counts then aggregate corpus-wide. The oracle replays the
    four regexes and the rotation."""
    from knowledge_graph_spark.operators.patterns import hyponym_census

    docs = _t(spark, sf_dir, "documents")
    pick = (lambda arr, mod: F.element_at(
        F.array(*[F.lit(x) for x in arr]),
        (F.col("doc_id") % mod + 1).cast("int")))
    pages = docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.col("text"),
            F.concat(pick(("institutions", "companies", "vendors"), 3),
                     F.lit(" such as "),
                     pick(("banks", "museums", "libraries",
                           "startups"), 4)),
            F.when(F.col("doc_id") % 2 == 0, F.concat(
                pick(("cats", "sparrows", "oaks", "ferns", "crows"), 5),
                F.lit(" and other "),
                pick(("animals", "plants"), 2))),
            F.when(F.col("doc_id") % 3 == 0, F.concat(
                F.lit("metrics including "),
                pick(("latency", "throughput"), 2))),
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit("systems especially databases")),
        ).alias("text"),
    )
    return hyponym_census(pages).orderBy(
        "hypernym", "hyponym", "pattern")


_SQL_HEARST = r"""
WITH inj AS (
  SELECT doc_id,
    concat_ws(' ',
      text,
      (['institutions', 'companies', 'vendors'])[doc_id % 3 + 1]
        || ' such as '
        || (['banks', 'museums', 'libraries', 'startups'])[doc_id % 4 + 1],
      CASE WHEN doc_id % 2 = 0 THEN
        (['cats', 'sparrows', 'oaks', 'ferns', 'crows'])[doc_id % 5 + 1]
        || ' and other ' || (['animals', 'plants'])[doc_id % 2 + 1] END,
      CASE WHEN doc_id % 3 = 0 THEN
        'metrics including '
        || (['latency', 'throughput'])[doc_id % 2 + 1] END,
      CASE WHEN doc_id % 7 = 0 THEN 'systems especially databases' END
    ) AS text
  FROM documents
),
m AS (
  SELECT doc_id, 'such_as' AS pattern,
    lower(regexp_extract(x, '([A-Za-z]+) such as ([A-Za-z]+)', 1))
      AS hypernym,
    lower(regexp_extract(x, '([A-Za-z]+) such as ([A-Za-z]+)', 2))
      AS hyponym
  FROM (SELECT doc_id, unnest(regexp_extract_all(text,
          '([A-Za-z]+) such as ([A-Za-z]+)', 0)) AS x FROM inj)
  UNION ALL
  SELECT doc_id, 'and_other',
    lower(regexp_extract(x, '([A-Za-z]+) and other ([A-Za-z]+)', 2)),
    lower(regexp_extract(x, '([A-Za-z]+) and other ([A-Za-z]+)', 1))
  FROM (SELECT doc_id, unnest(regexp_extract_all(text,
          '([A-Za-z]+) and other ([A-Za-z]+)', 0)) AS x FROM inj)
  UNION ALL
  SELECT doc_id, 'including',
    lower(regexp_extract(x, '([A-Za-z]+) including ([A-Za-z]+)', 1)),
    lower(regexp_extract(x, '([A-Za-z]+) including ([A-Za-z]+)', 2))
  FROM (SELECT doc_id, unnest(regexp_extract_all(text,
          '([A-Za-z]+) including ([A-Za-z]+)', 0)) AS x FROM inj)
  UNION ALL
  SELECT doc_id, 'especially',
    lower(regexp_extract(x, '([A-Za-z]+) especially ([A-Za-z]+)', 1)),
    lower(regexp_extract(x, '([A-Za-z]+) especially ([A-Za-z]+)', 2))
  FROM (SELECT doc_id, unnest(regexp_extract_all(text,
          '([A-Za-z]+) especially ([A-Za-z]+)', 0)) AS x FROM inj)
)
SELECT hypernym, hyponym, pattern,
       CAST(COUNT(*) AS BIGINT) AS n_mentions,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM m GROUP BY 1, 2, 3
ORDER BY hypernym, hyponym, pattern
"""


def _q_repetition_plan(spark, sf_dir):
    """Data-constrained epoch schedule (Muennighoff et al. 2023) over
    the documents table's real source dimension: whitespace-token
    masses per source, a 100k-token budget, 3-epoch cap. The
    corpus-sized work is one aggregation; the greedy fill itself runs
    on the handful of source rows. Oracle replays the closed-form
    prefix-sum fill with integer arithmetic."""
    from knowledge_graph_spark.operators.sampling import repetition_plan

    docs = _t(spark, sf_dir, "documents")
    return repetition_plan(
        docs, budget_tokens=100_000, max_epochs=3).orderBy("source")


_SQL_REPETITION_PLAN = r"""
WITH per AS (
  SELECT source,
    CAST(SUM(len(list_filter(regexp_split_to_array(COALESCE(text, ''),
        '\s+'), x -> x != ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
c AS (
  SELECT source, n_tokens,
         CAST(n_tokens * 3 AS BIGINT) AS cap_tokens,
         CAST(COALESCE(SUM(n_tokens * 3) OVER (
            ORDER BY n_tokens DESC, source ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS prev
  FROM per
),
u AS (
  SELECT source, n_tokens, cap_tokens,
    CAST(GREATEST(0, LEAST(cap_tokens, 100000 - prev)) AS BIGINT)
      AS tokens_used
  FROM c
)
SELECT source, n_tokens, cap_tokens, tokens_used,
  CAST(CASE WHEN n_tokens > 0 THEN tokens_used // n_tokens
       ELSE 0 END AS BIGINT) AS epochs_full,
  CAST(CASE WHEN n_tokens > 0 THEN tokens_used % n_tokens
       ELSE 0 END AS BIGINT) AS extra_tokens
FROM u ORDER BY source
"""


def _q_script_profiles(spark, sf_dir):
    """Unicode script composition over pages with injected non-Latin
    snippets (Cyrillic on every 3rd doc — REPEATED id%9+1 times so
    some docs flip majority — CJK on every 4th, Arabic on every 5th,
    Hangul on every 7th, Kana on every 8th). Counts only + a declared
    tie-break tag; the oracle counts the same BMP ranges via
    regexp_replace and takes list_max over (count, name) structs."""
    from knowledge_graph_spark.operators.textstats import script_profile

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.repeat(F.lit("русский текст про данные "),
                            (F.col("doc_id") % 9 + 1).cast("int"))),
            F.when(F.col("doc_id") % 4 == 0, F.lit("数据处理引擎")),
            F.when(F.col("doc_id") % 5 == 0, F.lit("معالجة البيانات")),
            F.when(F.col("doc_id") % 7 == 0, F.lit("데이터 처리")),
            F.when(F.col("doc_id") % 8 == 0, F.lit("データしょり")),
        ).alias("text"),
    )
    return script_profile(pages).orderBy("doc_id")


_SQL_SCRIPT_PROFILES = r"""
WITH inj AS (
  SELECT doc_id,
    concat_ws(' ',
      text,
      CASE WHEN doc_id % 3 = 0
           THEN repeat('русский текст про данные ', doc_id % 9 + 1) END,
      CASE WHEN doc_id % 4 = 0 THEN '数据处理引擎' END,
      CASE WHEN doc_id % 5 = 0 THEN 'معالجة البيانات' END,
      CASE WHEN doc_id % 7 = 0 THEN '데이터 처리' END,
      CASE WHEN doc_id % 8 = 0 THEN 'データしょり' END
    ) AS text
  FROM documents
),
m AS (
  SELECT doc_id, COALESCE(text, '') AS t FROM inj
),
c AS (
  SELECT doc_id,
    CAST(length(t) AS BIGINT) AS n_chars,
    CAST(length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g'))
         AS BIGINT) AS n_latin,
    CAST(length(t) - length(regexp_replace(t, '[\x{0400}-\x{04FF}]',
         '', 'g')) AS BIGINT) AS n_cyrillic,
    CAST(length(t) - length(regexp_replace(t, '[\x{0370}-\x{03FF}]',
         '', 'g')) AS BIGINT) AS n_greek,
    CAST(length(t) - length(regexp_replace(t, '[\x{0600}-\x{06FF}]',
         '', 'g')) AS BIGINT) AS n_arabic,
    CAST(length(t) - length(regexp_replace(t, '[\x{4E00}-\x{9FFF}]',
         '', 'g')) AS BIGINT) AS n_cjk,
    CAST(length(t) - length(regexp_replace(t, '[\x{AC00}-\x{D7AF}]',
         '', 'g')) AS BIGINT) AS n_hangul,
    CAST(length(t) - length(regexp_replace(t, '[\x{3040}-\x{30FF}]',
         '', 'g')) AS BIGINT) AS n_kana,
    CAST(length(t) - length(regexp_replace(t, '[0-9]', '', 'g'))
         AS BIGINT) AS n_digit
  FROM m
)
SELECT doc_id, n_chars, n_latin, n_cyrillic, n_greek, n_arabic, n_cjk,
  n_hangul, n_kana, n_digit,
  CAST(n_chars - n_latin - n_cyrillic - n_greek - n_arabic - n_cjk
       - n_hangul - n_kana - n_digit AS BIGINT) AS n_other,
  list_max([
    struct_pack(c := n_latin, s := 'latin'),
    struct_pack(c := n_cyrillic, s := 'cyrillic'),
    struct_pack(c := n_greek, s := 'greek'),
    struct_pack(c := n_arabic, s := 'arabic'),
    struct_pack(c := n_cjk, s := 'cjk'),
    struct_pack(c := n_hangul, s := 'hangul'),
    struct_pack(c := n_kana, s := 'kana'),
    struct_pack(c := n_digit, s := 'digit'),
    struct_pack(c := n_chars - n_latin - n_cyrillic - n_greek
                     - n_arabic - n_cjk - n_hangul - n_kana - n_digit,
                s := 'other')]).s AS majority_script
FROM c ORDER BY doc_id
"""


def _q_web_tables(spark, sf_dir):
    """WebTables harvest (Cafarella et al. 2008) over injected
    markdown pipe tables: every doc carries a two-column
    Metric/Value table (with separator row), every 5th doc adds a
    second single-column table with a ragged two-cell data row (its
    second cell must surface with a NULL header). The oracle replays
    the gaps-and-islands run detection, separator drop, and
    positional header lookup."""
    from knowledge_graph_spark.operators.structured import extract_tables

    docs = _t(spark, sf_dir, "documents")
    t1 = F.concat(
        F.lit("| Metric | Value |\n|---|---|\n| tokens | "),
        (F.col("doc_id") % 97).cast("string"),
        F.lit(" |\n| chars | "),
        (F.col("doc_id") % 13).cast("string"), F.lit(" |"),
    )
    t2 = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.lit("afterthought prose\n| K |\n| "),
                 (F.col("doc_id") % 3).cast("string"),
                 F.lit(" | extra |")),
    )
    pages = docs.select(
        "doc_id",
        F.concat_ws("\n", F.col("text"), t1, t2).alias("text"),
    )
    return extract_tables(pages).orderBy(
        "doc_id", "table_id", "row_idx", "col_idx")


_SQL_WEB_TABLES = r"""
WITH inj AS (
  SELECT doc_id,
    text || chr(10)
    || '| Metric | Value |' || chr(10) || '|---|---|' || chr(10)
    || '| tokens | ' || (doc_id % 97) || ' |' || chr(10)
    || '| chars | ' || (doc_id % 13) || ' |'
    || CASE WHEN doc_id % 5 = 0 THEN
         chr(10) || 'afterthought prose' || chr(10) || '| K |'
         || chr(10) || '| ' || (doc_id % 3) || ' | extra |'
       ELSE '' END AS text
  FROM documents
),
l AS (
  SELECT doc_id, i AS idx, trim(ls[i]) AS t
  FROM (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i
        FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
              FROM inj))
),
tl AS (
  SELECT doc_id, idx, t,
         idx - row_number() OVER (PARTITION BY doc_id ORDER BY idx)
           AS grp
  FROM l WHERE regexp_matches(t, '^\|.*\|$')
),
tl2 AS (
  SELECT *,
    dense_rank() OVER (PARTITION BY doc_id ORDER BY grp) AS table_id,
    row_number() OVER (PARTITION BY doc_id, grp ORDER BY idx) AS rn,
    first_value(t) OVER (PARTITION BY doc_id, grp ORDER BY idx)
      AS hline
  FROM tl
),
d AS (
  SELECT doc_id, CAST(table_id AS BIGINT) AS table_id,
    CAST(row_number() OVER (PARTITION BY doc_id, grp ORDER BY idx)
         AS BIGINT) AS row_idx,
    list_transform(string_split(regexp_replace(t, '^\||\|$', '', 'g'),
                                '|'), x -> trim(x)) AS cs,
    list_transform(string_split(regexp_replace(hline, '^\||\|$', '',
                                               'g'), '|'),
                   x -> trim(x)) AS hc
  FROM tl2
  WHERE rn > 1 AND NOT regexp_matches(t, '^\|[-:| ]+\|$')
)
SELECT doc_id, table_id, row_idx, CAST(i - 1 AS BIGINT) AS col_idx,
       hc[i] AS header, cs[i] AS cell
FROM (SELECT *, unnest(generate_series(1, len(cs))) AS i FROM d)
ORDER BY doc_id, table_id, row_idx, col_idx
"""


def _q_entity_linking(spark, sf_dir):
    """Commonness-baseline entity linking over the same wikilink
    injection as anchor_texts: the dictionary is built from the
    injected links, then three mention families resolve against it —
    an ambiguous cased alias shared by ~17 targets (argmax + declared
    tie-break), an unambiguous pipe-less anchor, and an unlinkable
    surface that must abstain with NULLs. Counts only; the commonness
    ratio never materializes as a float."""
    from knowledge_graph_spark.operators.wikilinks import (
        commonness_dictionary, extract_wikilinks, link_mentions)

    docs = _t(spark, sf_dir, "documents")
    m17 = (F.col("doc_id") % 17).cast("string")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" cites [[node_"), m17,
            F.lit("|alias "), (F.col("doc_id") % 3).cast("string"),
            F.lit(" term]] and [[Topic "),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("]] then [[node_"), m17, F.lit("]] again"),
        ).alias("text"),
    )
    d = commonness_dictionary(extract_wikilinks(pages))
    base = docs.select("doc_id")
    mentions = (
        base.select(
            (F.col("doc_id") * 10 + 1).alias("mention_id"),
            F.concat(F.lit("Alias "),
                     (F.col("doc_id") % 3).cast("string"),
                     F.lit(" TERM")).alias("surface"))
        .unionAll(base.filter(F.col("doc_id") % 2 == 0).select(
            (F.col("doc_id") * 10 + 2).alias("mention_id"),
            F.concat(F.lit("node_"), (F.col("doc_id") % 17)
                     .cast("string")).alias("surface")))
        .unionAll(base.filter(F.col("doc_id") % 9 == 0).select(
            (F.col("doc_id") * 10 + 3).alias("mention_id"),
            F.lit("never linked anywhere").alias("surface")))
    )
    return link_mentions(mentions, d).orderBy("mention_id")


_SQL_ENTITY_LINKING = r"""
WITH inj AS (
  SELECT doc_id,
    text || ' cites [[node_' || (doc_id % 17) || '|alias '
         || (doc_id % 3) || ' term]] and [[Topic ' || (doc_id % 5)
         || ']] then [[node_' || (doc_id % 17) || ']] again' AS text
  FROM documents
),
raw AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text, '\[\[([^\[\]]+)\]\]', 1)) AS x
  FROM inj
),
lk AS (
  SELECT doc_id,
    CASE WHEN position('|' IN x) > 0
         THEN substr(x, 1, position('|' IN x) - 1) ELSE x END AS traw,
    trim(CASE WHEN position('|' IN x) > 0
              THEN substr(x, position('|' IN x) + 1) ELSE x END) AS anchor
  FROM raw
),
links AS (
  SELECT doc_id,
    upper(substr(t, 1, 1)) || substr(t, 2) AS target, anchor
  FROM (SELECT doc_id, anchor,
          trim(regexp_replace(replace(traw, '_', ' '), '\s+', ' ', 'g'))
            AS t
        FROM lk)
),
pairs AS (
  SELECT lower(regexp_replace(trim(anchor), '\s+', ' ', 'g'))
           AS anchor_key, target,
         CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM links WHERE lower(trim(anchor)) != '' AND target <> ''
  GROUP BY 1, 2
),
best AS (
  SELECT anchor_key, target, n_pair,
         CAST(SUM(n_pair) OVER (PARTITION BY anchor_key) AS BIGINT)
           AS n_anchor,
         row_number() OVER (PARTITION BY anchor_key
                            ORDER BY n_pair DESC, target ASC) AS rn
  FROM pairs
),
mentions AS (
  SELECT doc_id * 10 + 1 AS mention_id,
         'Alias ' || (doc_id % 3) || ' TERM' AS surface FROM documents
  UNION ALL
  SELECT doc_id * 10 + 2, 'node_' || (doc_id % 17)
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id * 10 + 3, 'never linked anywhere'
  FROM documents WHERE doc_id % 9 = 0
)
SELECT m.mention_id, m.surface, b.target, b.n_pair, b.n_anchor
FROM mentions m
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
  ON lower(trim(m.surface)) = b.anchor_key
ORDER BY m.mention_id
"""


def _q_jsonld_entities(spark, sf_dir):
    """schema.org JSON-LD harvest (Web Data Commons model) over pages
    with injected script blocks: an Organization block on every doc, a
    Person block on every 3rd, a malformed block on every 10th and a
    typeless block on every 7th (both must drop under the shared
    validity rule — parseable object with non-null @type). The oracle
    replays the lazy regex and DuckDB's json_valid + @type gate."""
    from knowledge_graph_spark.operators.structured import extract_jsonld

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id").cast("string")
    org = F.concat(
        F.lit('<script type="application/ld+json">'
              '{"@type":"Organization","name":"Org '),
        (F.col("doc_id") % 13).cast("string"),
        F.lit('","url":"https://w'), (F.col("doc_id") % 4).cast("string"),
        F.lit(".example.org/p/"), k, F.lit('"}</script>'),
    )
    person = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit('<script type="application/ld+json">'
                  '{"@type":"Person","name":"Person '),
            (F.col("doc_id") % 11).cast("string"),
            F.lit('"}</script>'),
        ))
    broken = F.when(F.col("doc_id") % 10 == 0,
                    F.lit('<script type="application/ld+json">'
                          '{broken</script>'))
    typeless = F.when(F.col("doc_id") % 7 == 0,
                      F.lit('<script type="application/ld+json">'
                            '{"name":"typeless"}</script>'))
    pages = docs.select(
        "doc_id",
        F.concat_ws(" ", F.col("text"), org, person, broken, typeless)
        .alias("text"),
    )
    return extract_jsonld(pages).orderBy("doc_id", "ld_type")


_SQL_JSONLD = r"""
WITH inj AS (
  SELECT doc_id,
    text
    || ' <script type="application/ld+json">{"@type":"Organization","name":"Org '
    || (doc_id % 13) || '","url":"https://w' || (doc_id % 4)
    || '.example.org/p/' || doc_id || '"}</script>'
    || CASE WHEN doc_id % 3 = 0 THEN
         ' <script type="application/ld+json">{"@type":"Person","name":"Person '
         || (doc_id % 11) || '"}</script>' ELSE '' END
    || CASE WHEN doc_id % 10 = 0 THEN
         ' <script type="application/ld+json">{broken</script>'
       ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN
         ' <script type="application/ld+json">{"name":"typeless"}</script>'
       ELSE '' END AS text
  FROM documents
),
raw AS (
  SELECT doc_id,
    unnest(regexp_extract_all(text,
      '(?s)<script type="application/ld\+json">(.*?)</script>', 1)) AS b
  FROM inj
),
p AS (
  SELECT doc_id,
    CASE WHEN json_valid(b)
         THEN json_extract_string(b, '$."@type"') END AS ld_type,
    CASE WHEN json_valid(b)
         THEN json_extract_string(b, '$.name') END AS ld_name,
    CASE WHEN json_valid(b)
         THEN json_extract_string(b, '$.url') END AS ld_url
  FROM raw
)
SELECT doc_id, ld_type, ld_name, ld_url
FROM p WHERE ld_type IS NOT NULL
ORDER BY doc_id, ld_type
"""


def _q_anchor_texts(spark, sf_dir):
    """Wikilink anchor-dictionary inversion (Spitkovsky & Chang 2012)
    over injected ``[[target|anchor]]`` links: every doc cites
    node_(id%17) twice — once with a rotating alias anchor, once
    pipe-less — and Topic (id%5) once pipe-less. The inverted table
    yields per-target inlink/doc counts and the top-5 anchor terms
    (count desc, term asc — deterministic). Oracle replays the regex,
    the MediaWiki title normalization, and the ordered top-k.
    ``top_anchor_terms`` is space-joined to a plain string at this
    driver boundary (the operator returns array<string>) because the
    gate's pandas canonicalizer cannot sort list cells."""
    from knowledge_graph_spark.operators.wikilinks import (
        anchor_summary, extract_wikilinks)

    docs = _t(spark, sf_dir, "documents")
    m17 = (F.col("doc_id") % 17).cast("string")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" cites [[node_"), m17,
            F.lit("|alias "), (F.col("doc_id") % 3).cast("string"),
            F.lit(" term]] and [[Topic "),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("]] then [[node_"), m17, F.lit("]] again"),
        ).alias("text"),
    )
    return (
        anchor_summary(extract_wikilinks(pages), k=5)
        .withColumn("top_anchor_terms",
                    F.array_join("top_anchor_terms", " "))
        .orderBy("target")
    )


_SQL_ANCHOR_TEXTS = r"""
WITH inj AS (
  SELECT doc_id,
    text || ' cites [[node_' || (doc_id % 17) || '|alias '
         || (doc_id % 3) || ' term]] and [[Topic ' || (doc_id % 5)
         || ']] then [[node_' || (doc_id % 17) || ']] again' AS text
  FROM documents
),
raw AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text, '\[\[([^\[\]]+)\]\]', 1)) AS x
  FROM inj
),
lk AS (
  SELECT doc_id,
    CASE WHEN position('|' IN x) > 0
         THEN substr(x, 1, position('|' IN x) - 1) ELSE x END AS traw,
    trim(CASE WHEN position('|' IN x) > 0
              THEN substr(x, position('|' IN x) + 1) ELSE x END) AS anchor
  FROM raw
),
links AS (
  SELECT doc_id,
    upper(substr(t, 1, 1)) || substr(t, 2) AS target, anchor
  FROM (SELECT doc_id, anchor,
          trim(regexp_replace(replace(traw, '_', ' '), '\s+', ' ', 'g'))
            AS t
        FROM lk)
),
terms AS (
  SELECT target, lower(w) AS term
  FROM (SELECT target,
          unnest(list_filter(regexp_split_to_array(anchor, '\s+'),
                             x -> x != '')) AS w
        FROM links)
),
tc AS (SELECT target, term, COUNT(*) AS c
       FROM terms GROUP BY target, term),
top AS (
  SELECT target,
    CAST(COUNT(*) AS BIGINT) AS n_anchor_terms,
    array_to_string((list(term ORDER BY c DESC, term ASC))[1:5], ' ')
      AS top_anchor_terms
  FROM tc GROUP BY target
),
stats AS (
  SELECT target, CAST(COUNT(*) AS BIGINT) AS n_inlinks,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM links GROUP BY target
)
SELECT s.target, s.n_inlinks, s.n_docs,
       COALESCE(t.n_anchor_terms, 0) AS n_anchor_terms,
       COALESCE(t.top_anchor_terms, '') AS top_anchor_terms
FROM stats s LEFT JOIN top t USING (target)
ORDER BY s.target
"""


def _q_c4_filters(spark, sf_dir):
    """C4 row-local cleaning rules (Raffel et al. 2020 §2.2) over
    injected multi-line pages: a punctuated first-half prose line
    (kept), the unpunctuated second half (drop_punct), 'Click here.'
    on every 4th doc (drop_short), a JavaScript notice on every 6th
    (drop_js), 'lorem ipsum' on every 7th and a '{' on every 11th
    (page kills), and the two constant filler sentences withheld on
    every 13th doc (too_few_lines). The oracle replays the identical
    per-line CASE cascade."""
    from knowledge_graph_spark.functions.vectors import ws_tokens
    from knowledge_graph_spark.operators.cleaning import c4_line_filter

    docs = _t(spark, sf_dir, "documents")
    w = F.coalesce(ws_tokens("text"), F.array())
    filler = ("Another fine filler sentence sits right here.\n"
              "Yet another filler sentence completes the page.")
    pages = (
        docs.select("doc_id", w.alias("_w"))
        .select(
            "doc_id",
            F.concat_ws(
                "\n",
                F.concat(
                    F.expr("array_join(slice(_w, 1, "
                           "int(ceil(size(_w) / 2))), ' ')"),
                    F.lit("."),
                ),
                F.expr(
                    "array_join(slice(_w, int(ceil(size(_w) / 2)) + 1, "
                    "greatest(size(_w) - int(ceil(size(_w) / 2)), 0)), "
                    "' ')"),
                F.when(F.col("doc_id") % 4 == 0, F.lit("Click here.")),
                F.when(F.col("doc_id") % 6 == 0,
                       F.lit("This page requires JavaScript to display "
                             "correctly.")),
                F.when(F.col("doc_id") % 7 == 0,
                       F.lit("lorem ipsum dolor sit amet consectetur.")),
                F.when(F.col("doc_id") % 11 == 0,
                       F.lit("template placeholder { unresolved.")),
                F.when(F.col("doc_id") % 13 != 0, F.lit(filler)),
            ).alias("text"),
        )
    )
    return c4_line_filter(pages).orderBy("doc_id")


_SQL_C4_FILTERS = r"""
WITH w0 AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(COALESCE(text, ''), '\s+'),
                     x -> x != '') AS w
  FROM documents
),
inj AS (
  SELECT doc_id,
    concat_ws(chr(10),
      array_to_string(w[1 : (len(w) + 1) // 2], ' ') || '.',
      array_to_string(w[(len(w) + 1) // 2 + 1 : len(w)], ' '),
      CASE WHEN doc_id % 4 = 0 THEN 'Click here.' END,
      CASE WHEN doc_id % 6 = 0
           THEN 'This page requires JavaScript to display correctly.' END,
      CASE WHEN doc_id % 7 = 0
           THEN 'lorem ipsum dolor sit amet consectetur.' END,
      CASE WHEN doc_id % 11 = 0
           THEN 'template placeholder { unresolved.' END,
      CASE WHEN doc_id % 13 != 0 THEN
        'Another fine filler sentence sits right here.' || chr(10) ||
        'Yet another filler sentence completes the page.' END
    ) AS text
  FROM w0
),
b AS (
  SELECT doc_id, COALESCE(text, '') AS t,
         string_split(COALESCE(text, ''), chr(10)) AS ls
  FROM inj
),
v AS (
  SELECT doc_id, t, ls,
    list_transform(ls, l ->
      CASE WHEN NOT regexp_matches(trim(l), '[.!?"。！？”]$') THEN 1
           WHEN len(list_filter(regexp_split_to_array(trim(l), '\s+'),
                                x -> x != '')) < 5 THEN 2
           WHEN contains(lower(l), 'javascript') THEN 3
           ELSE 0 END) AS vd
  FROM b
),
m AS (
  SELECT doc_id,
    CAST(len(ls) AS BIGINT) AS n_lines,
    CAST(len(list_filter(vd, x -> x = 0)) AS BIGINT) AS n_kept,
    CAST(len(list_filter(vd, x -> x = 1)) AS BIGINT) AS n_drop_punct,
    CAST(len(list_filter(vd, x -> x = 2)) AS BIGINT) AS n_drop_short,
    CAST(len(list_filter(vd, x -> x = 3)) AS BIGINT) AS n_drop_js,
    CASE WHEN contains(lower(t), 'lorem ipsum') THEN 'lorem_ipsum'
         WHEN contains(t, '{') THEN 'brace'
         WHEN len(list_filter(vd, x -> x = 0)) < 3 THEN 'too_few_lines'
         ELSE 'ok' END AS page_verdict,
    array_to_string(
      list_filter(list_transform(generate_series(1, len(ls)),
                                 i -> CASE WHEN vd[i] = 0
                                           THEN ls[i] END),
                  x -> x IS NOT NULL),
      chr(10)) AS kept_text
  FROM v
)
SELECT doc_id, n_lines, n_kept, n_drop_punct, n_drop_short, n_drop_js,
       page_verdict,
       CASE WHEN page_verdict = 'ok' THEN kept_text ELSE '' END
         AS clean_text
FROM m ORDER BY doc_id
"""


def _q_gopher_rules(spark, sf_dir):
    """Gopher quality-rule battery (Rae et al. 2021 A1.1) over pages
    with deterministic rule-exercising injections: two bullet lines on
    every 4th doc, a 9-bullet block on every 20th (pushing past the
    90% bullet cap), an ellipsis line on every 6th, hash-symbol noise
    on every 9th. Word counts 10-99 in this corpus, so min_words=50
    splits naturally. All flags are integer-exact (cross-multiplied
    thresholds) — no float reaches the driver hasher."""
    from knowledge_graph_spark.operators.textstats import gopher_rules

    docs = _t(spark, sf_dir, "documents")
    bullets9 = "\n".join(f"- bullet row {i}" for i in range(9))
    pages = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.when(F.col("doc_id") % 4 == 0,
                   F.lit("- alpha point\n- beta point")),
            F.when(F.col("doc_id") % 20 == 0, F.lit(bullets9)),
            F.when(F.col("doc_id") % 6 == 0,
                   F.lit("to be continued...")),
            F.when(F.col("doc_id") % 9 == 0,
                   F.lit("### symbol noise #")),
        ).alias("text"),
    )
    return gopher_rules(pages).orderBy("doc_id")


_SQL_GOPHER_RULES = r"""
WITH inj AS (
  SELECT doc_id,
    concat_ws(chr(10),
      text,
      CASE WHEN doc_id % 4 = 0
           THEN '- alpha point' || chr(10) || '- beta point' END,
      CASE WHEN doc_id % 20 = 0 THEN
        list_aggregate(list_transform(generate_series(0, 8),
          i -> '- bullet row ' || i), 'string_agg', chr(10)) END,
      CASE WHEN doc_id % 6 = 0 THEN 'to be continued...' END,
      CASE WHEN doc_id % 9 = 0 THEN '### symbol noise #' END
    ) AS text
  FROM documents
),
base AS (
  SELECT doc_id, COALESCE(text, '') AS t,
    list_filter(regexp_split_to_array(COALESCE(text, ''), '\s+'),
                x -> x != '') AS w,
    string_split(COALESCE(text, ''), chr(10)) AS ls
  FROM inj
),
m AS (
  SELECT doc_id,
    CAST(len(w) AS BIGINT) AS n_words,
    CAST(len(ls) AS BIGINT) AS n_lines,
    CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0)
         AS BIGINT) AS sum_wl,
    CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
         AS BIGINT) AS n_alpha,
    CAST(len(list_filter(ls, l -> regexp_matches(trim(l), '^[-*•]')))
         AS BIGINT) AS n_bullet,
    CAST(len(list_filter(ls,
         l -> regexp_matches(rtrim(l), '(\.\.\.|…)$')))
         AS BIGINT) AS n_ellipsis,
    CAST(length(t) - length(replace(t, '#', ''))
      + (length(t) - length(replace(t, '...', ''))) // 3
      + length(t) - length(replace(t, '…', '')) AS BIGINT) AS n_sym,
    CAST((CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'the')  THEN 1 ELSE 0 END
        + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'be')   THEN 1 ELSE 0 END
        + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'to')   THEN 1 ELSE 0 END
        + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'of')   THEN 1 ELSE 0 END
        + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'and')  THEN 1 ELSE 0 END
        + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'that') THEN 1 ELSE 0 END
        + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'have') THEN 1 ELSE 0 END
        + CASE WHEN list_contains(list_transform(w, x -> lower(x)), 'with') THEN 1 ELSE 0 END
      ) AS BIGINT) AS n_stop
  FROM base
),
f AS (
  SELECT doc_id, n_words, n_lines, n_alpha AS n_alpha_words,
    n_stop AS n_stop_hits,
    (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
    (sum_wl >= 3 * n_words AND sum_wl <= 10 * n_words
     AND n_words > 0) AS ok_mean_wl,
    (10 * n_sym <= n_words AND n_words > 0) AS ok_symbols,
    (10 * n_bullet <= 9 * n_lines) AS ok_bullets,
    (10 * n_ellipsis <= 3 * n_lines) AS ok_ellipsis,
    (10 * n_alpha >= 8 * n_words AND n_words > 0) AS ok_alpha,
    (n_stop >= 2) AS ok_stopwords
  FROM m
)
SELECT *,
  (ok_word_count AND ok_mean_wl AND ok_symbols AND ok_bullets
   AND ok_ellipsis AND ok_alpha AND ok_stopwords) AS pass_gopher
FROM f ORDER BY doc_id
"""


def _q_redirects(spark, sf_dir):
    """Redirect-chain resolution via pointer doubling: synthetic
    chains doc_id -> doc_id+1 for doc_id % 4 != 3 (lengths 1-3,
    terminals at doc_id % 4 == 3); every source must resolve to its
    chain's terminal with the exact hop count in O(log chain)
    doubling rounds. The oracle walks the same chains with a
    recursive CTE."""
    from knowledge_graph_spark.operators.crawl import resolve_redirects

    docs = _t(spark, sf_dir, "documents")
    edges = docs.filter(F.col("doc_id") % 4 != 3).select(
        F.col("doc_id").alias("src"),
        (F.col("doc_id") + 1).alias("dst"))
    return resolve_redirects(edges, max_rounds=8).orderBy("src")


_SQL_REDIRECTS = r"""
WITH RECURSIVE e AS (
  SELECT doc_id AS src, doc_id + 1 AS dst
  FROM documents WHERE doc_id % 4 != 3
),
r AS (
  SELECT src, dst AS cur, 1 AS hops FROM e
  UNION ALL
  SELECT r.src, e.dst, r.hops + 1 FROM r JOIN e ON e.src = r.cur
)
SELECT src, cur AS target, CAST(hops AS BIGINT) AS hops,
       TRUE AS resolved
FROM (SELECT src, cur, hops,
             row_number() OVER (PARTITION BY src
                                ORDER BY hops DESC) AS rn
      FROM r)
WHERE rn = 1 ORDER BY src
"""


def _q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail terciles per language (perplexity under
    the English-trained bigram LM), rolled up to (lang, bucket)
    census rows. Cut points are exact interpolated percentiles over
    6-dp-rounded cross-entropies — deterministic cross-engine (see
    perplexity_buckets docstring for the ulp argument)."""
    from knowledge_graph_spark.operators.textstats import perplexity_buckets

    docs = _t(spark, sf_dir, "documents")
    return (
        perplexity_buckets(docs, F.col("lang") == "en")
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("xent_r").alias("min_xent"),
            F.max("xent_r").alias("max_xent"),
        )
        .orderBy("lang", "bucket")
    )


# replays the full lm_perplexity model (same CTEs as _SQL_LM_PPL),
# then the tercile cuts via quantile_cont over the 6-dp-rounded
# scores; list literals CAST to DOUBLE (DuckDB types bare 1.0/3 as
# DECIMAL, whose exact arithmetic diverges from IEEE doubles)
_SQL_CCNET_BUCKETS = r"""
WITH d AS (
  SELECT doc_id, lang = 'en' AS is_t,
         list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
                     x -> x != '') AS ws
  FROM documents
),
tr AS (SELECT list_concat(['<s>'], ws) AS a
       FROM d WHERE is_t AND len(ws) >= 1),
bi AS (
  SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS c_bi FROM (
    SELECT unnest(list_transform(range(1, len(a)),
                                 i -> {'w1': a[i], 'w2': a[i + 1]})) AS p
    FROM tr)
  GROUP BY 1, 2
),
pre AS (SELECT w1, SUM(c_bi) AS c_pre FROM bi GROUP BY w1),
v AS (SELECT COUNT(DISTINCT w2) + 1 AS vsize FROM bi),
st AS (
  SELECT s.doc_id, s.i AS pos, COALESCE(vo.w, '<unk>') AS cur
  FROM (SELECT doc_id, unnest(ws) AS raw,
               unnest(range(1, len(ws) + 1)) AS i
        FROM d WHERE len(ws) >= 1) s
  LEFT JOIN (SELECT DISTINCT w2 AS w FROM bi) vo ON vo.w = s.raw
),
bg AS (SELECT doc_id,
              LAG(cur, 1, '<s>') OVER (PARTITION BY doc_id
                                       ORDER BY pos) AS prev,
              cur
       FROM st),
sc AS (
  SELECT bg.doc_id,
         -ln((COALESCE(bi.c_bi, 0) + 0.1)
             / (COALESCE(pre.c_pre, 0) + 0.1 * v.vsize)) AS nll
  FROM bg CROSS JOIN v
  LEFT JOIN bi ON bi.w1 = bg.prev AND bi.w2 = bg.cur
  LEFT JOIN pre ON pre.w1 = bg.prev
),
agg AS (SELECT doc_id, COUNT(*) AS n_scored, AVG(nll) AS xent
        FROM sc GROUP BY doc_id),
sx AS (
  SELECT doc.lang AS lang, doc.doc_id AS doc_id,
         ROUND(agg.xent, 6) AS xr
  FROM documents doc JOIN agg ON agg.doc_id = doc.doc_id
  WHERE agg.n_scored >= 1
),
cuts AS (
  SELECT lang,
         quantile_cont(xr, [CAST(1 AS DOUBLE)/3, CAST(2 AS DOUBLE)/3]) AS c
  FROM sx GROUP BY lang
),
b AS (
  SELECT sx.lang,
         CASE WHEN xr <= c[1] THEN 'head'
              WHEN xr <= c[2] THEN 'middle'
              ELSE 'tail' END AS bucket,
         xr
  FROM sx JOIN cuts ON cuts.lang = sx.lang
)
SELECT lang, bucket, COUNT(*)::BIGINT AS n_docs,
       MIN(xr) AS min_xent, MAX(xr) AS max_xent
FROM b GROUP BY lang, bucket ORDER BY lang, bucket
"""


def _q_ngram_novelty(spark, sf_dir):
    """First-occurrence n-gram novelty (incremental-crawl signal): per
    doc, distinct word-3-grams and how many occur in NO earlier doc
    (gram's min doc_id = this doc). Integer-only output — the novelty
    ratio is derivable and a double would be hash-fragile."""
    from knowledge_graph_spark.operators.dedup import gram_novelty

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return (gram_novelty(docs)
            .select("doc_id", "n_grams", "n_new")
            .orderBy("doc_id"))


# same gram recomputation as _SQL_CROSS_DUP; attribution flips from
# "shared with any other doc" to "first doc by min(doc_id)"
_SQL_NGRAM_NOVELTY = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
                     x -> x != '') AS w
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(w) >= 3
    THEN list_transform(range(len(w) - 2),
         i -> list_aggregate(list_slice(w, i + 1, i + 3), 'string_agg', ' '))
    ELSE [list_aggregate(w, 'string_agg', ' ')] END) AS g
  FROM toks
),
g2 AS (SELECT doc_id, g FROM grams WHERE g IS NOT NULL AND g != ''),
first AS (SELECT g, MIN(doc_id) AS first_doc FROM g2 GROUP BY g)
SELECT doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new
FROM g2 JOIN first USING (g)
GROUP BY doc_id
ORDER BY doc_id
"""


# oracle recomputes gram->doc-count sharing on the raw gram strings;
# the Spark side groups on xxhash64(gram) (the at-scale shape), which
# is count-identical absent a 64-bit collision (~N^2/2^64)
_SQL_CROSS_DUP = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
                     x -> x != '') AS w
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(w) >= 3
    THEN list_transform(range(len(w) - 2),
         i -> list_aggregate(list_slice(w, i + 1, i + 3), 'string_agg', ' '))
    ELSE [list_aggregate(w, 'string_agg', ' ')] END) AS g
  FROM toks
),
-- zero-token docs shingle to NULL/'' (both engines exclude them)
g2 AS (SELECT doc_id, g FROM grams WHERE g IS NOT NULL AND g != ''),
freq AS (SELECT g, COUNT(*) AS ndocs FROM g2 GROUP BY g)
SELECT doc_id,
       COUNT(*) AS n_grams,
       -- CAST: DuckDB promotes SUM(INTEGER) to HUGEINT, a type Spark
       -- has no counterpart for; some fetch paths (Arrow) canonicalize
       -- HUGEINT differently from BIGINT, so the value hash diverges
       -- even when every value is equal. BIGINT on both sides.
       CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
FROM g2 JOIN freq USING (g)
GROUP BY doc_id
ORDER BY doc_id
"""


_SQL_REPETITION = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
                     x -> x != '') AS w
  FROM documents WHERE doc_id < 200
),
e2 AS (
  SELECT doc_id,
         unnest(list_transform(range(len(w) - 1),
           i -> list_aggregate(list_slice(w, i + 1, i + 2),
                               'string_agg', ' '))) AS g
  FROM toks WHERE len(w) >= 2
),
c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM e2 GROUP BY 1, 2),
t2 AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_2gram_frac
       FROM c2 GROUP BY 1),
e3 AS (
  SELECT doc_id,
         unnest(list_transform(range(len(w) - 2),
           i -> list_aggregate(list_slice(w, i + 1, i + 3),
                               'string_agg', ' '))) AS g
  FROM toks WHERE len(w) >= 3
),
d3 AS (SELECT doc_id,
              1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*) AS dup_3gram_frac
       FROM e3 GROUP BY 1)
SELECT toks.doc_id,
       ROUND(COALESCE(top_2gram_frac, 0.0), 6) AS top_2gram_frac,
       ROUND(COALESCE(dup_3gram_frac, 0.0), 6) AS dup_3gram_frac
FROM toks LEFT JOIN t2 USING (doc_id) LEFT JOIN d3 USING (doc_id)
ORDER BY doc_id
"""


# deterministic PII injection — SAME construction on both sides so the
# detection/redaction queries verify against a DuckDB oracle (the raw
# corpus contains no PII-shaped spans)
def _docs_with_pii(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    txt = F.col("text")
    txt = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(txt, F.lit(" contact u"),
                 F.col("doc_id").cast("string"), F.lit("@example.com")),
    ).otherwise(txt)
    txt = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(txt, F.lit(" tel 13800138000")),
    ).otherwise(txt)
    return docs.withColumn("text", txt)


_DOCS_PII_SQL = (
    "SELECT doc_id, source, "
    "CASE WHEN doc_id % 11 = 0 THEN "
    "  (CASE WHEN doc_id % 7 = 0 THEN text || ' contact u' || doc_id || '@example.com' ELSE text END) || ' tel 13800138000' "
    "ELSE "
    "  (CASE WHEN doc_id % 7 = 0 THEN text || ' contact u' || doc_id || '@example.com' ELSE text END) "
    "END AS text FROM documents"
)


def _q_pii_scrub(spark, sf_dir):
    """PII detection + redaction audit: per source, how many docs carry
    email/phone spans, total spans, and the residual count AFTER
    redaction (must be zero — the scrub is verified, not assumed)."""
    from knowledge_graph_spark.operators.textstats import (
        redact_pii, with_pii_counts,
    )

    docs = with_pii_counts(_docs_with_pii(spark, sf_dir))
    residual = with_pii_counts(
        redact_pii(docs.select("doc_id", "source", "text"))
    ).select(
        "doc_id",
        (F.col("n_emails") + F.col("n_phones")).alias("n_residual"),
    )
    return (
        docs.join(residual, "doc_id")
        .groupBy("source")
        .agg(
            F.sum(F.when((F.col("n_emails") > 0) | (F.col("n_phones") > 0), 1)
                  .otherwise(0)).alias("n_docs_with_pii"),
            F.sum("n_emails").alias("total_emails"),
            F.sum("n_phones").alias("total_phones"),
            F.sum("n_residual").alias("residual_after_redaction"),
        )
        .orderBy("source")
    )


_SQL_PII = rf"""
WITH d AS ({_DOCS_PII_SQL}),
c AS (
  SELECT doc_id, source,
         len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}')) AS n_emails,
         len(regexp_extract_all(text, '1[0-9]{{10}}')) AS n_phones,
         regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
             '1[0-9]{{10}}', '<PHONE>', 'g') AS redacted
  FROM d
)
SELECT source,
       -- CAST: SUM(INTEGER/BIGINT) is HUGEINT in DuckDB — hash-unsafe
       -- vs Spark's BIGINT on Arrow-style fetch paths (see cross_dup)
       CAST(SUM(CASE WHEN n_emails > 0 OR n_phones > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
       CAST(SUM(n_emails) AS BIGINT) AS total_emails,
       CAST(SUM(n_phones) AS BIGINT) AS total_phones,
       CAST(SUM(len(regexp_extract_all(redacted, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}'))
         + len(regexp_extract_all(redacted, '1[0-9]{{10}}'))) AS BIGINT) AS residual_after_redaction
FROM c GROUP BY source ORDER BY source
"""


def _q_curate_corpus(spark, sf_dir):
    """The training-data operators composed end-to-end: language gate ->
    quality gate -> Gopher repetition gates -> exact-dedup survivors,
    over the planted-duplicate corpus. Verifies the CASCADE, not just
    the stages."""
    from knowledge_graph_spark.operators.curate import curate_corpus

    out = curate_corpus(_docs_with_dups(spark, sf_dir))
    return (
        out.select(
            "doc_id", "lang_pred",
            F.round("quality", 4).alias("quality"),
            F.round("top_2gram_frac", 6).alias("top_2gram_frac"),
        )
        .orderBy("doc_id")
    )


_SQL_CURATE = rf"""
WITH d AS ({_DOCS_DUP_SQL}),
sig AS (
  SELECT doc_id, text,
         GREATEST(length(text), 1) AS total,
         length(text) AS len,
         length(text) - length(regexp_replace(text, '[\x{{4e00}}-\x{{9fff}}]', '', 'g')) AS cjk,
         length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS asc_letters,
         (CASE WHEN ' ' || lower(text) || ' ' LIKE '% the %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(text) || ' ' LIKE '% and %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(text) || ' ' LIKE '% of %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(text) || ' ' LIKE '% to %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(text) || ' ' LIKE '% in %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(text) || ' ' LIKE '% is %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(text) || ' ' LIKE '% that %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(text) || ' ' LIKE '% for %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(text) || ' ' LIKE '% with %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(text) || ' ' LIKE '% was %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(text) || ' ' LIKE '% are %' THEN 1 ELSE 0 END
        + CASE WHEN ' ' || lower(text) || ' ' LIKE '% this %' THEN 1 ELSE 0 END) AS stop_hits,
         length(text) - length(regexp_replace(text, '[!-/:-@\[-`{{-~，。、；：！？“”‘’（）《》【】]', '', 'g')) AS punct,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x != '') AS words
  FROM d
),
scored AS (
  SELECT doc_id, text,
         CASE WHEN CAST(cjk AS DOUBLE) / total > 0.25 THEN 'zh'
              WHEN CAST(asc_letters AS DOUBLE) / total > 0.5 AND stop_hits >= 1 THEN 'en'
              ELSE 'other' END AS lang_pred,
         GREATEST(0.0, 1.0
           - CASE WHEN len < 20 THEN 0.5 ELSE 0.0 END
           - CASE WHEN CAST(punct AS DOUBLE) / total > 0.3 THEN 0.25 ELSE 0.0 END
           - CASE WHEN CAST(digits AS DOUBLE) / total > 0.3 THEN 0.25 ELSE 0.0 END
           - CASE WHEN len(words) >= 5 AND (
                 CAST(list_aggregate(list_transform(words, w -> length(w)), 'sum') AS DOUBLE) / len(words) < 2
              OR CAST(list_aggregate(list_transform(words, w -> length(w)), 'sum') AS DOUBLE) / len(words) > 12)
             THEN 0.25 ELSE 0.0 END) AS quality
  FROM sig
),
cand AS (
  SELECT doc_id, text, lang_pred, quality FROM scored
  WHERE lang_pred = 'en' AND quality >= 0.75
),
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}\p{{N}}]+'),
                     x -> x != '') AS w
  FROM cand
),
e2 AS (
  SELECT doc_id, unnest(
    CASE WHEN len(w) >= 2
    THEN list_transform(range(len(w) - 1),
         i -> list_aggregate(list_slice(w, i + 1, i + 2), 'string_agg', ' '))
    ELSE [list_aggregate(w, 'string_agg', ' ')] END) AS g
  FROM toks
),
c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM e2 GROUP BY 1, 2),
t2 AS (SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top2 FROM c2 GROUP BY 1),
e3 AS (
  SELECT doc_id, unnest(
    CASE WHEN len(w) >= 3
    THEN list_transform(range(len(w) - 2),
         i -> list_aggregate(list_slice(w, i + 1, i + 3), 'string_agg', ' '))
    ELSE [list_aggregate(w, 'string_agg', ' ')] END) AS g
  FROM toks
),
d3 AS (SELECT doc_id,
              1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*) AS dup3
       FROM e3 GROUP BY 1),
keep AS (
  SELECT cand.doc_id, cand.text, cand.lang_pred, cand.quality, t2.top2
  FROM cand JOIN t2 USING (doc_id) JOIN d3 USING (doc_id)
  WHERE top2 <= 0.07 AND dup3 <= 0.6
),
surv AS (
  SELECT doc_id, lang_pred, quality, top2,
         ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM keep
)
SELECT doc_id, lang_pred,
       ROUND(quality, 4) AS quality,
       ROUND(top2, 6) AS top_2gram_frac
FROM surv WHERE rn = 1 ORDER BY doc_id
"""


# deterministic contamination plant — SAME construction on both sides
# (the raw corpus is random-vocab text; real benchmark leakage is
# simulated by appending known eval passages to a doc_id-keyed subset)
_EVAL_PASSAGES = [
    (1, "the quick brown fox jumps over the lazy dog near the old riverbank"),
    (2, "four score and seven years ago our fathers brought forth a new nation"),
]


def _docs_with_contamination(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    txt = F.col("text")
    txt = F.when(F.col("doc_id") % 17 == 0,
                 F.concat(txt, F.lit(" " + _EVAL_PASSAGES[0][1]))).otherwise(txt)
    txt = F.when(F.col("doc_id") % 23 == 0,
                 F.concat(txt, F.lit(" " + _EVAL_PASSAGES[1][1]))).otherwise(txt)
    return docs.withColumn("text", txt)


def _q_decontamination(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing 8-grams with the
    eval set (planted leakage), with distinct-gram and eval-doc counts
    per contaminated document."""
    from knowledge_graph_spark.operators.decontam import ngram_decontaminate

    docs = _docs_with_contamination(spark, sf_dir)
    evals = spark.createDataFrame(_EVAL_PASSAGES, "eval_id long, text string")
    return ngram_decontaminate(docs, evals, n=8).orderBy("doc_id")


_SQL_DECONTAM = rf"""
WITH d AS (
  SELECT doc_id,
    CASE WHEN doc_id % 23 = 0 THEN
      (CASE WHEN doc_id % 17 = 0 THEN text || ' {_EVAL_PASSAGES[0][1]}' ELSE text END)
        || ' {_EVAL_PASSAGES[1][1]}'
    ELSE
      (CASE WHEN doc_id % 17 = 0 THEN text || ' {_EVAL_PASSAGES[0][1]}' ELSE text END)
    END AS text
  FROM documents
),
evals(eval_id, text) AS (VALUES
  (1, '{_EVAL_PASSAGES[0][1]}'), (2, '{_EVAL_PASSAGES[1][1]}')),
etoks AS (
  SELECT eval_id,
         list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}\p{{N}}]+'),
                     x -> x != '') AS w
  FROM evals
),
eg AS (
  SELECT DISTINCT * FROM (
    SELECT eval_id, unnest(
      CASE WHEN len(w) >= 8
      THEN list_transform(range(len(w) - 7),
           i -> list_aggregate(list_slice(w, i + 1, i + 8), 'string_agg', ' '))
      ELSE [list_aggregate(w, 'string_agg', ' ')] END) AS g
    FROM etoks)
),
dtoks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\p{{L}}\p{{N}}]+'),
                     x -> x != '') AS w
  FROM d
),
dg AS (
  SELECT DISTINCT * FROM (
    SELECT doc_id, unnest(
      CASE WHEN len(w) >= 8
      THEN list_transform(range(len(w) - 7),
           i -> list_aggregate(list_slice(w, i + 1, i + 8), 'string_agg', ' '))
      ELSE [list_aggregate(w, 'string_agg', ' ')] END) AS g
    FROM dtoks)
)
SELECT doc_id,
       COUNT(DISTINCT g) AS n_hit_grams,
       COUNT(DISTINCT eval_id) AS n_eval_docs
FROM dg JOIN eg USING (g)
GROUP BY doc_id
HAVING COUNT(DISTINCT g) >= 1
ORDER BY doc_id
"""


# fixed mixture recipe for the driver gate: named strata at distinct
# rates + a default for the other sources. The golden twin reproduces
# the exact keep set via the pure-Python xxhash64 twin.
_MIXTURE_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
_MIXTURE_DEFAULT = 0.04


def _q_mixture_sample(spark, sf_dir):
    """Deterministic domain-mixture sampling audit: per source, total
    docs, docs the mixture keeps (content-keyed xxhash64 Bernoulli),
    and the realized rate."""
    from knowledge_graph_spark.operators.sampling import mixture_report

    docs = _t(spark, sf_dir, "documents")
    return mixture_report(docs, _MIXTURE_RATES,
                          default_rate=_MIXTURE_DEFAULT).orderBy("source")


_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


def _q_hash_split(spark, sf_dir):
    """Deterministic train/val/test holdout: per (source, split), row
    counts — the same document lands in the same split on every run."""
    from knowledge_graph_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    return (
        hash_split(docs, _SPLIT_WEIGHTS)
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source", "split")
    )


_BM25_TERMS = ["spark", "table", "row"]


def _q_bm25_search(spark, sf_dir):
    """Okapi BM25 ranked retrieval over the documents table for a
    fixed 3-term query; only matching postings reach an exchange."""
    from knowledge_graph_spark.operators.search import bm25_search

    docs = _t(spark, sf_dir, "documents")
    return bm25_search(docs, _BM25_TERMS).orderBy("doc_id")


_SQL_BM25 = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
                     x -> x != '') AS w
  FROM documents
),
dl AS (SELECT doc_id, len(w) AS dl FROM toks),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
terms AS (SELECT doc_id, unnest(w) AS term FROM toks),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms
       WHERE term IN ('spark', 'table', 'row') GROUP BY 1, 2),
dfs AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1)
SELECT t.doc_id,
       ROUND(SUM(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * (1.2 + 1.0)
                 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / avgdl))),
             6) AS score
FROM tf t JOIN dfs USING (term) JOIN dl d ON t.doc_id = d.doc_id
CROSS JOIN stats
GROUP BY t.doc_id
ORDER BY t.doc_id
"""


def _q_hybrid_search(spark, sf_dir):
    """Hybrid retrieval: RRF fusion (k=60) of the BM25 lexical ranking
    (top 50 for the fixed 3-term query) with the dense cosine ranking
    (top 50 around embedding 0; vec_id ≡ doc_id). Full SQL oracle
    recomputes both rankings and the fusion."""
    from pyspark.sql import Window

    from knowledge_graph_spark.operators.search import bm25_search, rrf_fuse
    from knowledge_graph_spark.operators.simsearch import brute_force_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    # salted two-phase top-k for the lexical side, symmetric with the
    # dense side's _per_query_topk: per-salt top 50 first (each salt
    # partition prunes to 50 rows map-side), then a global top 50 over
    # the ≤ 32·50-row survivor set (constant-keyed single partition) —
    # the global ordered window never sees more than salt_buckets·k rows
    lex = (
        bm25_search(docs, _BM25_TERMS)
        .withColumn("_salt", F.pmod(F.xxhash64("doc_id"), F.lit(32)))
        .withColumn("_lr", F.row_number().over(
            Window.partitionBy("_salt")
            .orderBy(F.col("score").desc(), "doc_id")))
        .filter(F.col("_lr") <= 50)
        .withColumn("rank", F.row_number().over(
            # pmod(id, 1): constant-valued, non-foldable (lit(0) or
            # id*0 get optimized away, emptying the partition spec)
            Window.partitionBy(F.pmod(F.col("doc_id"), F.lit(1)))
            .orderBy(F.col("score").desc(), "doc_id")))
        .filter(F.col("rank") <= 50)
        .drop("_salt", "_lr")
    )
    q0 = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    dense = brute_force_topk(emb, q0, k=50).select(
        F.col("vec_id").alias("doc_id"), "rank")
    fused = rrf_fuse([lex.select("doc_id", "rank"), dense])
    return (
        fused.select("doc_id", F.round("rrf_score", 6).alias("rrf_score"),
                     "n_lists")
        .orderBy("doc_id")
    )


_SQL_HYBRID = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
                     x -> x != '') AS w
  FROM documents
),
dl AS (SELECT doc_id, len(w) AS dl FROM toks),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
terms AS (SELECT doc_id, unnest(w) AS term FROM toks),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms
       WHERE term IN ('spark', 'table', 'row') GROUP BY 1, 2),
dfs AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
bm AS (
  SELECT t.doc_id,
         SUM(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
             * tf * (1.2 + 1.0)
             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / avgdl))) AS score
  FROM tf t JOIN dfs USING (term) JOIN dl d ON t.doc_id = d.doc_id
  CROSS JOIN stats
  GROUP BY t.doc_id
),
-- rank the 6-dp ROUNDED score: bm25_search() emits round(score, 6)
-- (search.py), so the engine's rank ties on the rounded grid — ranking
-- the raw score here could swap near-equal docs vs the engine
lex AS (SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY ROUND(score, 6) DESC, doc_id) AS r
        FROM bm QUALIFY r <= 50),
q0 AS (SELECT CAST(embedding AS DOUBLE[]) AS qvec
       FROM embeddings WHERE vec_id = 0),
dense AS (
  SELECT e.vec_id AS doc_id,
         ROW_NUMBER() OVER (
           ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                           q0.qvec) DESC, e.vec_id) AS r
  FROM embeddings e CROSS JOIN q0
  QUALIFY r <= 50
),
u AS (SELECT doc_id, r FROM lex UNION ALL SELECT doc_id, r FROM dense)
SELECT doc_id, ROUND(SUM(1.0 / (60 + r)), 6) AS rrf_score,
       COUNT(*) AS n_lists
FROM u GROUP BY doc_id ORDER BY doc_id
"""


def _q_tfidf_terms(spark, sf_dir):
    """Per-document top-3 TF-IDF terms (smooth idf, deterministic
    tie-break); full SQL oracle."""
    from knowledge_graph_spark.operators.search import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    return (
        tfidf_top_terms(docs, k=3)
        .select("doc_id", F.col("rank").cast("long").alias("rank"),
                "term", "tfidf")
        .orderBy("doc_id", "rank")
    )


_SQL_TFIDF = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
                     x -> x != '') AS w
  FROM documents
),
tfc AS (SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(w) AS term FROM toks)
        GROUP BY 1, 2),
dfs AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tfc GROUP BY 1),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tfc),
scored AS (
  SELECT doc_id, term,
         ROUND(tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0), 6) AS tfidf
  FROM tfc JOIN dfs USING (term) CROSS JOIN nd
),
ranked AS (
  SELECT doc_id, term, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term) AS rank
  FROM scored
)
SELECT doc_id, rank, term, tfidf FROM ranked
WHERE rank <= 3
ORDER BY doc_id, rank
"""


def _q_bpe_pairs(spark, sf_dir):
    """First BPE merge-step statistics: top-50 adjacent character pairs
    within words, weighted by word frequency; full SQL oracle."""
    from knowledge_graph_spark.operators.textstats import bpe_pair_counts

    docs = _t(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, top_n=50)


_SQL_BPE = r"""
WITH words AS (
  SELECT unnest(list_filter(
           regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
           x -> x != '')) AS w
  FROM documents
),
wc AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
idx AS (SELECT w, c, unnest(generate_series(1, length(w) - 1)) AS i
        FROM wc WHERE length(w) >= 2)
SELECT substring(w, i, 1) AS lhs, substring(w, i + 1, 1) AS rhs,
       SUM(c)::BIGINT AS pair_count
FROM idx
GROUP BY 1, 2
ORDER BY pair_count DESC, lhs, rhs
LIMIT 50
"""


def _q_bpe_merges(spark, sf_dir):
    """Full BPE tokenizer training (20 merge rounds) over the documents
    corpus — the iterative loop whose single step is ``bpe_pairs``.
    Oracled against an independent pure-Python twin of the whole
    training loop (tools/make_goldens.golden_bpe_merges)."""
    from knowledge_graph_spark.operators.textstats import bpe_train

    return bpe_train(_t(spark, sf_dir, "documents"),
                     n_merges=20).orderBy("step")


def _q_bpe_encoded(spark, sf_dir):
    """Tokenize the corpus with the freshly trained 20-merge BPE list
    (train + apply: the full tokenizer round trip). Per doc, word and
    subword-token counts — oracled against a pure-Python twin that
    replays both halves (tools/make_goldens.golden_bpe_encoded)."""
    from knowledge_graph_spark.operators.textstats import bpe_encode, bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges = [(r["lhs"], r["rhs"])
              for r in bpe_train(docs, n_merges=20).orderBy("step").collect()]
    return bpe_encode(docs, merges).orderBy("doc_id")


def _q_nb_predictions(spark, sf_dir):
    """Classifier-based routing: multinomial Naive Bayes trained to
    predict a document's source on the ~50% md5 split, scored on the
    whole corpus (md5 keeps the split SQL-recomputable). Full SQL
    oracle replays priors, smoothing, and the argmax."""
    from knowledge_graph_spark.operators.classify import nb_train_score

    docs = _t(spark, sf_dir, "documents")
    is_train = F.md5(F.col("doc_id").cast("string")) < "8"
    preds = nb_train_score(
        docs.filter(is_train).select(F.col("source").alias("label"),
                                     "text"),
        docs,
    )
    return (
        preds.join(docs.select("doc_id", F.col("source").alias("actual")),
                   "doc_id")
        .select("doc_id", "predicted",
                F.round("log_score", 6).alias("log_score"), "actual",
                (F.col("predicted") == F.col("actual")).alias("correct"))
        .orderBy("doc_id")
    )


_SQL_NB = r"""
WITH d0 AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
                     x -> x != '') AS ws,
         md5(CAST(doc_id AS VARCHAR)) < '8' AS is_train
  FROM documents
),
trc AS (SELECT source AS label, w AS word, COUNT(*) AS c
        FROM (SELECT source, unnest(ws) AS w FROM d0 WHERE is_train)
        GROUP BY 1, 2),
ltot AS (SELECT label, SUM(c) AS tok FROM trc GROUP BY 1),
voc AS (SELECT DISTINCT word FROM trc),
v AS (SELECT COUNT(*) + 1 AS vs FROM voc),
pri AS (SELECT source AS label, COUNT(*) AS nd FROM d0
        WHERE is_train GROUP BY 1),
ptot AS (SELECT SUM(nd) AS t FROM pri),
consts AS (
  SELECT p.label, ln(p.nd / CAST(ptot.t AS DOUBLE)) AS log_prior,
         -ln(l.tok + v.vs) AS log_unseen,
         CAST(l.tok + v.vs AS DOUBLE) AS denom
  FROM pri p CROSS JOIN ptot JOIN ltot l ON l.label = p.label CROSS JOIN v
),
st AS (SELECT doc_id, w AS word, COUNT(*) AS n
       FROM (SELECT doc_id, unnest(ws) AS w FROM d0) GROUP BY 1, 2),
known AS (
  SELECT st.doc_id, c2.label,
         SUM(st.n * ln((COALESCE(trc.c, 0) + 1) / c2.denom)) AS mk
  FROM st JOIN voc ON voc.word = st.word
  CROSS JOIN consts c2
  LEFT JOIN trc ON trc.word = st.word AND trc.label = c2.label
  GROUP BY 1, 2
),
uns AS (SELECT st.doc_id, SUM(st.n) AS nu
        FROM st LEFT JOIN voc ON voc.word = st.word
        WHERE voc.word IS NULL GROUP BY 1),
sc AS (
  SELECT d.doc_id, c2.label,
         c2.log_prior + COALESCE(k.mk, 0)
           + COALESCE(u.nu, 0) * c2.log_unseen AS s
  FROM (SELECT DISTINCT doc_id FROM documents) d
  CROSS JOIN consts c2
  LEFT JOIN known k ON k.doc_id = d.doc_id AND k.label = c2.label
  LEFT JOIN uns u ON u.doc_id = d.doc_id
),
best AS (
  SELECT doc_id, label AS predicted, s
  FROM sc
  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                             ORDER BY s DESC, label) = 1
)
SELECT b.doc_id, b.predicted, ROUND(b.s, 6) AS log_score,
       doc.source AS actual, b.predicted = doc.source AS correct
FROM best b JOIN documents doc ON doc.doc_id = b.doc_id
ORDER BY b.doc_id
"""


_SQL_NB_CONFUSION = r"""
WITH nb AS MATERIALIZED (

WITH d0 AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
                     x -> x != '') AS ws,
         md5(CAST(doc_id AS VARCHAR)) < '8' AS is_train
  FROM documents
),
trc AS (SELECT source AS label, w AS word, COUNT(*) AS c
        FROM (SELECT source, unnest(ws) AS w FROM d0 WHERE is_train)
        GROUP BY 1, 2),
ltot AS (SELECT label, SUM(c) AS tok FROM trc GROUP BY 1),
voc AS (SELECT DISTINCT word FROM trc),
v AS (SELECT COUNT(*) + 1 AS vs FROM voc),
pri AS (SELECT source AS label, COUNT(*) AS nd FROM d0
        WHERE is_train GROUP BY 1),
ptot AS (SELECT SUM(nd) AS t FROM pri),
consts AS (
  SELECT p.label, ln(p.nd / CAST(ptot.t AS DOUBLE)) AS log_prior,
         -ln(l.tok + v.vs) AS log_unseen,
         CAST(l.tok + v.vs AS DOUBLE) AS denom
  FROM pri p CROSS JOIN ptot JOIN ltot l ON l.label = p.label CROSS JOIN v
),
st AS (SELECT doc_id, w AS word, COUNT(*) AS n
       FROM (SELECT doc_id, unnest(ws) AS w FROM d0) GROUP BY 1, 2),
known AS (
  SELECT st.doc_id, c2.label,
         SUM(st.n * ln((COALESCE(trc.c, 0) + 1) / c2.denom)) AS mk
  FROM st JOIN voc ON voc.word = st.word
  CROSS JOIN consts c2
  LEFT JOIN trc ON trc.word = st.word AND trc.label = c2.label
  GROUP BY 1, 2
),
uns AS (SELECT st.doc_id, SUM(st.n) AS nu
        FROM st LEFT JOIN voc ON voc.word = st.word
        WHERE voc.word IS NULL GROUP BY 1),
sc AS (
  SELECT d.doc_id, c2.label,
         c2.log_prior + COALESCE(k.mk, 0)
           + COALESCE(u.nu, 0) * c2.log_unseen AS s
  FROM (SELECT DISTINCT doc_id FROM documents) d
  CROSS JOIN consts c2
  LEFT JOIN known k ON k.doc_id = d.doc_id AND k.label = c2.label
  LEFT JOIN uns u ON u.doc_id = d.doc_id
),
best AS (
  SELECT doc_id, label AS predicted, s
  FROM sc
  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                             ORDER BY s DESC, label) = 1
)
SELECT b.doc_id, b.predicted, ROUND(b.s, 6) AS log_score,
       doc.source AS actual, b.predicted = doc.source AS correct
FROM best b JOIN documents doc ON doc.doc_id = b.doc_id
ORDER BY b.doc_id
),
labels AS (SELECT DISTINCT source AS l FROM documents),
grid AS (SELECT a.l AS actual, p.l AS predicted
         FROM labels a CROSS JOIN labels p),
counts AS (SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n
           FROM nb GROUP BY 1, 2)
SELECT g.actual, g.predicted, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
FROM grid g LEFT JOIN counts c
  ON c.actual = g.actual AND c.predicted = g.predicted
ORDER BY g.actual, g.predicted
"""



def _q_lm_perplexity(spark, sf_dir):
    """CCNet-style bigram-LM cross-entropy per document, model trained
    on the English slice (add-0.1 smoothing, <unk> mapping, BOS). Full
    SQL oracle recomputing the model and every score."""
    from knowledge_graph_spark.operators.textstats import lm_perplexity

    docs = _t(spark, sf_dir, "documents")
    return (
        lm_perplexity(docs, F.col("lang") == "en")
        .select("doc_id", "n_scored", F.round("xent", 6).alias("xent"))
        .orderBy("doc_id")
    )


_SQL_LM_PPL = r"""
WITH d AS (
  SELECT doc_id, lang = 'en' AS is_t,
         list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
                     x -> x != '') AS ws
  FROM documents
),
tr AS (SELECT list_concat(['<s>'], ws) AS a
       FROM d WHERE is_t AND len(ws) >= 1),
bi AS (
  SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS c_bi FROM (
    SELECT unnest(list_transform(range(1, len(a)),
                                 i -> {'w1': a[i], 'w2': a[i + 1]})) AS p
    FROM tr)
  GROUP BY 1, 2
),
pre AS (SELECT w1, SUM(c_bi) AS c_pre FROM bi GROUP BY w1),
v AS (SELECT COUNT(DISTINCT w2) + 1 AS vsize FROM bi),
st AS (
  SELECT s.doc_id, s.i AS pos, COALESCE(vo.w, '<unk>') AS cur
  FROM (SELECT doc_id, unnest(ws) AS raw,
               unnest(range(1, len(ws) + 1)) AS i
        FROM d WHERE len(ws) >= 1) s
  LEFT JOIN (SELECT DISTINCT w2 AS w FROM bi) vo ON vo.w = s.raw
),
bg AS (SELECT doc_id,
              LAG(cur, 1, '<s>') OVER (PARTITION BY doc_id
                                       ORDER BY pos) AS prev,
              cur
       FROM st),
sc AS (
  SELECT bg.doc_id,
         -ln((COALESCE(bi.c_bi, 0) + 0.1)
             / (COALESCE(pre.c_pre, 0) + 0.1 * v.vsize)) AS nll
  FROM bg CROSS JOIN v
  LEFT JOIN bi ON bi.w1 = bg.prev AND bi.w2 = bg.cur
  LEFT JOIN pre ON pre.w1 = bg.prev
),
agg AS (SELECT doc_id, COUNT(*) AS n_scored, AVG(nll) AS xent
        FROM sc GROUP BY doc_id)
SELECT doc.doc_id AS doc_id, COALESCE(agg.n_scored, 0) AS n_scored,
       ROUND(agg.xent, 6) AS xent
FROM documents doc LEFT JOIN agg ON agg.doc_id = doc.doc_id
ORDER BY doc.doc_id
"""


def _q_pmi_collocations(spark, sf_dir):
    """Top-50 PMI collocations (min pair count 5) over the documents
    corpus — the word2vec-style phrase-mining pass. Full SQL oracle;
    the top-n cut orders by unrounded PMI with the same tie-break."""
    from knowledge_graph_spark.operators.textstats import pmi_collocations

    return (
        pmi_collocations(_t(spark, sf_dir, "documents"))
        .select("lhs", "rhs", "pair_count",
                F.round("pmi", 6).alias("pmi"))
        .orderBy("lhs", "rhs")
    )


_SQL_PMI = r"""
WITH ws AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
                     x -> x != '') AS a
  FROM documents
),
uni AS (SELECT w, COUNT(*) AS c
        FROM (SELECT unnest(a) AS w FROM ws) GROUP BY 1),
nt AS (SELECT SUM(c) AS n FROM uni),
ba AS (SELECT p.lhs AS lhs, p.rhs AS rhs, COUNT(*) AS pair_count FROM (
         SELECT unnest(list_transform(range(1, len(a)),
                       i -> {'lhs': a[i], 'rhs': a[i + 1]})) AS p
         FROM ws WHERE len(a) >= 2)
       GROUP BY 1, 2),
nb AS (SELECT SUM(pair_count) AS b FROM ba),
j AS (
  SELECT ba.lhs, ba.rhs, ba.pair_count,
         ln((ba.pair_count / CAST(nb.b AS DOUBLE))
            / ((u1.c / CAST(nt.n AS DOUBLE))
               * (u2.c / CAST(nt.n AS DOUBLE)))) AS pmi
  FROM ba CROSS JOIN nb CROSS JOIN nt
  JOIN uni u1 ON u1.w = ba.lhs
  JOIN uni u2 ON u2.w = ba.rhs
  WHERE ba.pair_count >= 5
),
topn AS (SELECT * FROM j ORDER BY pmi DESC, lhs, rhs LIMIT 50)
SELECT lhs, rhs, pair_count, ROUND(pmi, 6) AS pmi
FROM topn ORDER BY lhs, rhs
"""


def _q_dsir_weights(spark, sf_dir):
    """DSIR data-selection weights with target = English documents
    (word-unigram LM log ratio, add-1 smoothing); full SQL oracle."""
    from knowledge_graph_spark.operators.sampling import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    return (
        dsir_weights(docs, F.col("lang") == "en")
        .orderBy("doc_id")
    )


_SQL_DSIR = r"""
WITH toks AS (
  SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS is_t, unnest(
           list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
                       x -> x != '')) AS term
  FROM documents
),
vocab AS (SELECT term, COUNT(*) AS c_raw, SUM(is_t) AS c_t
          FROM toks GROUP BY 1),
tot AS (SELECT SUM(c_raw) AS n_raw, SUM(c_t) AS n_t, COUNT(*) AS v
        FROM vocab)
SELECT doc_id, COUNT(*)::BIGINT AS n_terms,
       ROUND(AVG(ln((c_t + 1.0) / (n_t + 1.0 * v))
                 - ln((c_raw + 1.0) / (n_raw + 1.0 * v))), 6) AS dsir_weight
FROM toks JOIN vocab USING (term) CROSS JOIN tot
GROUP BY doc_id
ORDER BY doc_id
"""


def _q_partsupp_bfs(spark, sf_dir):
    """Multi-hop BFS over the bipartite part↔supplier co-purchase
    graph (distinct lineitem pairs, node ids prefixed p/s). Source =
    lexicographically-smallest node id, derived IN-PLAN (the operator's
    default). The oracle recomputes the whole BFS independently with a
    DuckDB recursive CTE — a full recomputation, not a pinned twin."""
    from knowledge_graph_spark.operators.graph_analytics import shortest_paths

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    return (
        shortest_paths(edges, max_hops=8)
        .select("id", F.col("dist").cast("long").alias("dist"))
        .orderBy("id")
    )


_SQL_PARTSUPP_BFS = r"""
WITH RECURSIVE
e AS (SELECT DISTINCT 'p' || l_partkey AS src, 's' || l_suppkey AS dst
      FROM lineitem),
sym AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
walk(id, dist) AS (
  SELECT (SELECT min(src) FROM sym), 0
  UNION
  SELECT s.dst, w.dist + 1
  FROM walk w JOIN sym s ON s.src = w.id
  WHERE w.dist < 8
)
SELECT id, MIN(dist)::BIGINT AS dist FROM walk GROUP BY id ORDER BY id
"""


def _q_order_part_components(spark, sf_dir):
    """Connected components over the sparse order↔part co-purchase
    graph (lineitem rows with l_quantity = 1; node ids 2·orderkey /
    2·partkey+1 keep the two key families disjoint). driver_threshold=0
    forces the DISTRIBUTED alternating-star path, so the oracle
    value-verifies the at-scale code path, not the small-graph
    union-find shortcut. The oracle recomputes the labeling
    independently with a DuckDB recursive CTE (min reachable id per
    node) — a full recomputation, not a pinned twin."""
    from knowledge_graph_spark.operators.components import connected_components

    li = _t(spark, sf_dir, "lineitem")
    edges = li.filter(F.col("l_quantity") == 1).select(
        (F.col("l_orderkey") * 2).alias("u"),
        (F.col("l_partkey") * 2 + 1).alias("v"),
    )
    return connected_components(edges, driver_threshold=0).orderBy("node")


_SQL_ORDER_PART_COMPONENTS = r"""
WITH RECURSIVE
e AS (SELECT DISTINCT l_orderkey*2 AS u, l_partkey*2+1 AS v
      FROM lineitem WHERE l_quantity = 1),
sym AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
reach(node, lab) AS (
  SELECT u, u FROM sym
  UNION
  SELECT s.v, r.lab FROM reach r JOIN sym s ON s.u = r.node
)
SELECT node, MIN(lab)::BIGINT AS component FROM reach GROUP BY node
ORDER BY node
"""


def _q_order_part_aa(spark, sf_dir):
    """Adamic-Adar link prediction over the order↔part co-purchase
    graph (l_quantity <= 10): every UNLINKED pair sharing a neighbor,
    scored Σ 1/ln(deg) over common neighbors with degree in [2, 64].
    Full SQL oracle on the raw lineitem table. Scores here sum at most
    two doubles (commutative in IEEE), so the 6-dp rounding is exact."""
    from knowledge_graph_spark.operators.graph_analytics import adamic_adar

    li = _t(spark, sf_dir, "lineitem")
    edges = li.filter(F.col("l_quantity") <= 10).select(
        (F.col("l_orderkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
    )
    return (
        adamic_adar(edges)
        .select("id_a", "id_b", "common_neighbors",
                F.round("score", 6).alias("score"))
        .orderBy("id_a", "id_b")
    )


_SQL_ORDER_PART_AA = r"""
WITH und AS (
  SELECT DISTINCT least(l_orderkey*2, l_partkey*2+1) AS a,
                  greatest(l_orderkey*2, l_partkey*2+1) AS b
  FROM lineitem WHERE l_quantity <= 10
),
sym AS (SELECT a AS id, b AS nbr FROM und UNION ALL SELECT b, a FROM und),
deg AS (SELECT id, count(*) AS d FROM sym GROUP BY id),
ctr AS (SELECT s.id AS z, s.nbr, 1.0 / ln(d.d) AS w
        FROM sym s JOIN deg d ON d.id = s.id
        WHERE d.d BETWEEN 2 AND 64),
pairs AS (
  SELECT x.nbr AS id_a, y.nbr AS id_b,
         count(*)::BIGINT AS common_neighbors, ROUND(SUM(x.w), 6) AS score
  FROM ctr x JOIN ctr y ON x.z = y.z AND x.nbr < y.nbr
  GROUP BY 1, 2
)
SELECT p.* FROM pairs p
ANTI JOIN und u ON u.a = p.id_a AND u.b = p.id_b
ORDER BY id_a, id_b
"""


def _q_event_funnel(spark, sf_dir):
    """Ordered view→click→purchase funnel per user: each step's
    earliest timestamp strictly after the previous step's. Full SQL
    oracle (the same per-step min-after-previous CTE chain)."""
    from knowledge_graph_spark.operators.events import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel(ev, ["view", "click", "purchase"]).orderBy("user")


_SQL_EVENT_FUNNEL = r"""
WITH s1 AS (SELECT user_id AS "user", MIN(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id AS "user", MIN(e.ts) AS t2
       FROM events e JOIN s1 ON e.user_id = s1."user"
       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
s3 AS (SELECT e.user_id AS "user", MIN(e.ts) AS t3
       FROM events e JOIN s2 ON e.user_id = s2."user"
       WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
SELECT s1."user", t1, t2, t3,
       CASE WHEN t3 IS NOT NULL THEN 3
            WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS steps_completed
FROM s1 LEFT JOIN s2 USING ("user") LEFT JOIN s3 USING ("user")
ORDER BY "user"
"""


def _q_retention(spark, sf_dir):
    """Daily purchase-cohort retention matrix: users grouped by the
    day of their first purchase; per (cohort, k) the distinct members
    purchasing k days later plus the retention rate. Full SQL oracle
    (epoch-aligned day buckets, so no timezone enters)."""
    from knowledge_graph_spark.operators.events import retention_cohorts

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase")
    return retention_cohorts(ev, period_days=1).orderBy(
        "cohort_epoch", "periods_later")


_SQL_RETENTION = r"""
WITH a AS (SELECT DISTINCT user_id AS u,
                  CAST(floor(epoch(ts) / 86400) AS BIGINT) AS p
           FROM events WHERE event_type = 'purchase'),
c AS (SELECT u, MIN(p) AS cohort FROM a GROUP BY u),
s AS (SELECT cohort, COUNT(*)::BIGINT AS cohort_size FROM c GROUP BY cohort)
SELECT c.cohort * 86400 AS cohort_epoch, a.p - c.cohort AS periods_later,
       COUNT(DISTINCT a.u)::BIGINT AS active_users, s.cohort_size,
       ROUND(COUNT(DISTINCT a.u) / CAST(s.cohort_size AS DOUBLE), 6)
         AS retention_rate
FROM a JOIN c USING (u) JOIN s ON s.cohort = c.cohort
GROUP BY 1, 2, s.cohort_size
ORDER BY 1, 2
"""


def _q_event_anomalies(spark, sf_dir):
    """Daily volume anomaly report per event type: each (type, day)
    count z-scored against the type's across-days mean/stddev, flagged
    at |z| >= 2. Full SQL oracle."""
    from knowledge_graph_spark.operators.events import daily_anomalies

    ev = _t(spark, sf_dir, "events")
    return daily_anomalies(ev).orderBy("event_type", "day")


_SQL_EVENT_ANOMALIES = r"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
),
st AS (
  SELECT event_type, day, n_events,
         AVG(n_events) OVER (PARTITION BY event_type) AS m,
         stddev_pop(n_events) OVER (PARTITION BY event_type) AS sd
  FROM daily
)
SELECT event_type, day, n_events,
       ROUND(m, 6) AS mean_events, ROUND(sd, 6) AS stddev_events,
       ROUND(CASE WHEN sd = 0 THEN 0.0 ELSE (n_events - m) / sd END, 6)
         AS zscore,
       CASE WHEN sd = 0 THEN FALSE
            ELSE abs((n_events - m) / sd) >= 2.0 END AS is_anomaly
FROM st ORDER BY event_type, day
"""


def _q_stratified_k(spark, sf_dir):
    """Exactly 7 documents per source, picked by md5(doc_id || '/')
    order — the fixed-size eval-set carve. The oracle recomputes the
    same ranking with QUALIFY."""
    from knowledge_graph_spark.operators.sampling import stratified_exact_k

    docs = _t(spark, sf_dir, "documents")
    return (
        stratified_exact_k(docs, k=7)
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    )


_SQL_STRATIFIED_K = r"""
SELECT source, doc_id FROM documents
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY source
  ORDER BY md5(CAST(doc_id AS VARCHAR) || '/'), doc_id) <= 7
ORDER BY source, doc_id
"""


def _q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over each user's event
    sequence: per (cur, next) event-type pair, count + conditional
    probability. Full SQL oracle."""
    from knowledge_graph_spark.operators.events import transition_matrix

    ev = _t(spark, sf_dir, "events")
    return transition_matrix(ev).orderBy("cur_type", "next_type")


_SQL_EVENT_TRANSITIONS = r"""
WITH seq AS (
  SELECT event_type AS cur_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_type) AS next_type
  FROM events
),
agg AS (SELECT cur_type, next_type, COUNT(*) AS n_transitions
        FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
SELECT cur_type, next_type, n_transitions,
       ROUND(n_transitions / CAST(SUM(n_transitions) OVER (
             PARTITION BY cur_type) AS DOUBLE), 6) AS prob
FROM agg ORDER BY cur_type, next_type
"""


def _q_emb_neighborhood(spark, sf_dir):
    """GraphSAGE-style 1-hop mean aggregation over the vec_id path
    graph (i — i+1): every vector becomes the mean of its neighbors'.
    Reduced to (id, dim, l2 norm, first component) for the value
    compare; full SQL oracle rebuilds every smoothed vector."""
    from knowledge_graph_spark.operators.graph_analytics import (
        neighborhood_mean,
    )

    emb = _t(spark, sf_dir, "embeddings")
    edges = (
        emb.select(F.col("vec_id").alias("src"),
                   (F.col("vec_id") + 1).alias("dst"))
        .join(emb.select(F.col("vec_id").alias("dst")), "dst", "left_semi")
    )
    feats = emb.select(F.col("vec_id").alias("id"),
                       F.col("embedding").alias("vec"))
    out = neighborhood_mean(edges, feats, hops=1)
    norm = F.expr(
        "sqrt(aggregate(vec, cast(0.0 as double), (a, x) -> a + x * x))")
    return out.select(
        "id", F.size("vec").alias("dim"),
        F.round(norm, 6).alias("norm"),
        F.round(F.element_at("vec", 1), 6).alias("v0"),
    ).orderBy("id")


_SQL_EMB_NEIGHBORHOOD = r"""
WITH f AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec
           FROM embeddings),
e0 AS (SELECT a.id AS a, b.id AS b FROM f a JOIN f b ON b.id = a.id + 1),
sym AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
x AS (SELECT id, unnest(vec) AS v,
             unnest(range(1, len(vec) + 1)) AS pos
      FROM f),
nb AS (SELECT s.a AS id, x.pos, AVG(x.v) AS m
       FROM sym s JOIN x ON x.id = s.b
       GROUP BY 1, 2),
newv AS (SELECT id, list(m ORDER BY pos) AS vec FROM nb GROUP BY id)
SELECT id, len(vec) AS dim,
       ROUND(sqrt(list_aggregate(list_transform(vec, y -> y * y),
                                 'sum')), 6) AS norm,
       ROUND(vec[1], 6) AS v0
FROM newv ORDER BY id
"""


def _q_partsupp_sssp(spark, sf_dir):
    """Weighted shortest paths (distributed Bellman-Ford, 8 rounds)
    over the sparse part↔supplier co-purchase graph (l_quantity = 1;
    parallel edges collapse to their min l_linenumber weight). Source =
    smallest node id, derived in-plan. Semantics pinned to ≤8-hop
    paths, which both sides compute exactly: after r rounds the
    operator's dist is the min over paths of at most r edges, and the
    oracle's recursive CTE enumerates exactly those. Integer weights
    keep double sums exact."""
    from knowledge_graph_spark.operators.graph_analytics import (
        weighted_shortest_paths)

    li = _t(spark, sf_dir, "lineitem")
    edges = li.filter(F.col("l_quantity") == 1).select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        F.col("l_linenumber").alias("w"),
    )
    return (
        weighted_shortest_paths(edges, weight="w", max_rounds=8)
        .orderBy("id")
    )


_SQL_PARTSUPP_SSSP = r"""
WITH RECURSIVE
e0 AS (SELECT 'p' || l_partkey AS src, 's' || l_suppkey AS dst,
              MIN(l_linenumber) AS w
       FROM lineitem WHERE l_quantity = 1 GROUP BY 1, 2),
sym AS (SELECT src, dst, MIN(w) AS w FROM (
          SELECT src, dst, w FROM e0
          UNION ALL SELECT dst, src, w FROM e0) GROUP BY 1, 2),
walk(id, dist, hops) AS (
  SELECT (SELECT MIN(src) FROM sym), CAST(0 AS DOUBLE), 0
  UNION
  SELECT s.dst, w.dist + s.w, w.hops + 1
  FROM walk w JOIN sym s ON s.src = w.id
  WHERE w.hops < 8
)
SELECT id, MIN(dist) AS dist FROM walk GROUP BY id ORDER BY id
"""


def _q_span_dedup(spark, sf_dir):
    """Span-level corpus dedup: disjoint 8-word blocks, global
    first-occurrence survives; per doc the block counts and the
    reassembled clean text. Full SQL oracle re-derives the blocks and
    the first-occurrence rule from the raw documents table."""
    from knowledge_graph_spark.operators.dedup import span_dedup

    return span_dedup(_t(spark, sf_dir, "documents"),
                      block_words=8).orderBy("doc_id")


_SQL_SPAN_DEDUP = r"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
n AS (SELECT doc_id, ws,
             unnest(generate_series(0,
                 CAST(ceil(len(ws) / 8.0) AS BIGINT) - 1)) AS bidx
      FROM w),
b AS (SELECT doc_id, CAST(bidx AS INT) AS bidx,
             array_to_string(ws[bidx*8+1 : bidx*8+8], ' ') AS blk FROM n),
f AS (SELECT doc_id, bidx, blk,
             row_number() OVER (PARTITION BY blk
                                ORDER BY doc_id, bidx) AS rn
      FROM b)
SELECT doc_id, COUNT(*)::BIGINT AS n_blocks,
       SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
       COALESCE(string_agg(CASE WHEN rn = 1 THEN blk END, ' '
                           ORDER BY bidx), '') AS clean_text
FROM f GROUP BY doc_id ORDER BY doc_id
"""


def _q_budget_select(spark, sf_dir):
    """Token-budget curation: keep the (score DESC, id) prefix of the
    corpus whose running token total fits a 12k-token budget (score =
    token count, i.e. longest-first — exercises the two-phase prefix
    sum with a mid-bucket boundary cut). The oracle recomputes the
    selection as the one-reducer global cumulative window the operator
    is proven row-identical to."""
    from knowledge_graph_spark.functions.vectors import n_ws_tokens
    from knowledge_graph_spark.operators.sampling import budget_select

    docs = _t(spark, sf_dir, "documents")
    return budget_select(
        docs, 12_000, score=n_ws_tokens("text").cast("double")
    ).orderBy("doc_id")


_SQL_BUDGET_SELECT = r"""
WITH t AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(text, '\s+'),
                         x -> x != ''))::BIGINT AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, CAST(n_tokens AS DOUBLE) AS score, n_tokens,
         SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id) AS cum
  FROM t WHERE n_tokens > 0
)
SELECT doc_id, score, n_tokens FROM c WHERE cum <= 12000 ORDER BY doc_id
"""


# messy-url builder shared (by construction) between the Spark query
# and the DuckDB oracle: four spelling variants per customer key —
# tracking params + fragment + upper-case + default port, bare default
# port, mixed-case host + gclid, and an unparseable string. Both
# engines build the exact same strings, so the canonicalizer is the
# only thing under test.
_URL_VARIANT_SQL = """
  CASE CAST({k} % 4 AS INT)
    WHEN 0 THEN concat('HTTPS://WWW.Shop-', CAST({k} % 20 AS VARCHAR),
      '.Example.COM:443/item/', CAST({k} AS VARCHAR),
      '?utm_source=mail&id=', CAST({k} AS VARCHAR), '&b=2&a=1#frag')
    WHEN 1 THEN concat('http://shop-', CAST({k} % 20 AS VARCHAR),
      '.example.com:80/item/', CAST({k} AS VARCHAR))
    WHEN 2 THEN concat('https://Shop-', CAST({k} % 20 AS VARCHAR),
      '.EXAMPLE.com/item/', CAST({k} AS VARCHAR), '/?z=9&gclid=abc&a=1')
    ELSE concat('not a url ', CAST({k} AS VARCHAR))
  END
"""


def _messy_urls(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"))
    return c.withColumn(
        "url",
        F.expr(_URL_VARIANT_SQL.format(k="id")
               .replace("AS VARCHAR", "AS STRING")),
    )


def _q_url_canonical(spark, sf_dir):
    """URL canonicalization (the key-normalization step every
    web-crawl table needs before urls become merge/dedup keys):
    lower-cased scheme+host, www. stripped, default ports removed,
    fragment dropped, tracking params removed, remaining query params
    sorted, empty path -> '/', unparseable strings passed through.
    Full SQL oracle recomputes every rule in DuckDB."""
    from knowledge_graph_spark.operators.urls import canonicalize_urls

    return (canonicalize_urls(_messy_urls(spark, sf_dir))
            .select("id", "url", "canonical_url").orderBy("id"))


_SQL_URL_PARSE = r"""
p AS (
  SELECT id, url,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)', 1)) AS scheme,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)', 2)) AS hostport,
    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)', 3) AS path,
    regexp_extract(url, '^[^?#]*\?([^#]*)', 1) AS query
  FROM u),
q2 AS (
  SELECT *,
    regexp_extract(hostport, '^([^:]*)', 1) AS hostraw,
    regexp_extract(hostport, ':(\d+)$', 1) AS port,
    COALESCE(list_aggregate(list_sort(list_filter(string_split(query, '&'),
      x -> x != '' AND NOT regexp_matches(lower(x),
        '^(utm_[^=]*|fbclid|gclid|msclkid|mc_eid|igshid|ref|ref_src|spm)(=.*)?$'))),
      'string_agg', '&'), '') AS keptq
  FROM p),
canon AS (
  SELECT id, url,
    CASE WHEN scheme = '' THEN url ELSE
      concat(scheme, '://', regexp_replace(hostraw, '^www\.', ''),
        CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
             OR (scheme = 'https' AND port = '443')
             THEN '' ELSE concat(':', port) END,
        CASE WHEN path = '' THEN '/' ELSE path END,
        CASE WHEN keptq = '' THEN '' ELSE concat('?', keptq) END)
    END AS canonical_url
  FROM q2)
"""

_SQL_URL_CANONICAL = (
    "WITH u AS (SELECT c_custkey AS id, "
    + _URL_VARIANT_SQL.format(k="c_custkey")
    + " AS url FROM customer),\n"
    + _SQL_URL_PARSE
    + "\nSELECT id, url, canonical_url FROM canon ORDER BY id"
)


def _q_doc_links(spark, sf_dir):
    """Outbound-link extraction (the web link-graph edge list): every
    document's text carries two deterministically injected references
    (one messy — uppercase scheme, www., default port, tracking param,
    trailing comma; one clean in parentheses with a trailing period);
    extract_links must find both, strip trailing punctuation, and
    canonicalize. The DuckDB oracle replays the IDENTICAL regex and
    the full canonicalization rule set."""
    from knowledge_graph_spark.operators.urls import extract_links

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id").cast("string")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see HTTP://WWW.Cite-"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".Example.ORG:80/ref/"), k,
            F.lit("?utm_source=x&b=2, (https://mirror-"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".example.net/ref/"), k, F.lit(")."),
        ).alias("text"),
    )
    return extract_links(injected).orderBy("doc_id", "url")


_SQL_DOC_LINKS = r"""
WITH d AS (
  SELECT doc_id,
         concat(text, ' see HTTP://WWW.Cite-', CAST(doc_id % 7 AS VARCHAR),
                '.Example.ORG:80/ref/', CAST(doc_id AS VARCHAR),
                '?utm_source=x&b=2, (https://mirror-',
                CAST(doc_id % 3 AS VARCHAR), '.example.net/ref/',
                CAST(doc_id AS VARCHAR), ').') AS text
  FROM documents),
r AS (
  SELECT doc_id,
         unnest(regexp_extract_all(text,
           '(?i)https?://[^\s<>"'')\]}]+')) AS raw
  FROM d),
u AS (
  SELECT doc_id AS id, regexp_replace(raw, '[.,;:!?]+$', '') AS url
  FROM r),
""" + _SQL_URL_PARSE + r"""
SELECT DISTINCT id AS doc_id, canonical_url AS url,
       regexp_extract(canonical_url,
                      '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1) AS host
FROM canon
ORDER BY doc_id, url
"""


def _q_taxonomy(spark, sf_dir):
    """Taxonomy induction over Hearst-asserted is-a pairs: every doc
    asserts leaf->mid ('birds such as sparrows') and mid->top
    ('animals including birds'), alternating docs assert top->root
    ('organisms including animals/plants'), and every 7th doc asserts
    a COMPETING low-support parent ('creatures including birds') that
    argmax parent-selection must reject. Pointer doubling resolves
    every node to (root, depth); the oracle replays the four Hearst
    regexes, the argmax window, and the chain walk with a recursive
    CTE (depth-capped at 32 on both sides)."""
    from knowledge_graph_spark.operators.patterns import (
        extract_hyponyms, taxonomy_forest,
    )

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    pick = (lambda arr: F.element_at(
        F.array(*[F.lit(x) for x in arr]),
        (k % 3 + 1).cast("int")))
    mid = pick(("birds", "trees", "fish"))
    leaf = F.when(k % 2 == 0, pick(("sparrows", "oaks", "salmon"))) \
        .otherwise(pick(("crows", "ferns", "trout")))
    top = pick(("animals", "plants", "animals"))
    pages = docs.select(
        "doc_id",
        F.concat_ws(
            " ", F.col("text"),
            F.concat(mid, F.lit(" such as "), leaf),
            F.concat(top, F.lit(" including "), mid),
            F.when(k % 2 == 0, F.lit("organisms including animals"))
            .otherwise(F.lit("organisms including plants")),
            F.when(k % 7 == 0, F.lit("creatures including birds")),
        ).alias("text"),
    )
    pairs = (extract_hyponyms(pages)
             .groupBy("hyponym", "hypernym")
             .agg(F.countDistinct("doc_id").cast("long")
                  .alias("support")))
    return (taxonomy_forest(pairs, weight_col="support")
            .orderBy("node"))


_SQL_TAXONOMY = r"""
WITH RECURSIVE inj AS (
  SELECT doc_id,
    concat_ws(' ', text,
      (['birds','trees','fish'])[doc_id % 3 + 1] || ' such as ' ||
        CASE WHEN doc_id % 2 = 0
             THEN (['sparrows','oaks','salmon'])[doc_id % 3 + 1]
             ELSE (['crows','ferns','trout'])[doc_id % 3 + 1] END,
      (['animals','plants','animals'])[doc_id % 3 + 1]
        || ' including ' || (['birds','trees','fish'])[doc_id % 3 + 1],
      CASE WHEN doc_id % 2 = 0 THEN 'organisms including animals'
           ELSE 'organisms including plants' END,
      CASE WHEN doc_id % 7 = 0 THEN 'creatures including birds' END
    ) AS text
  FROM documents
),
m AS (
  SELECT doc_id,
    lower(regexp_extract(x, '([A-Za-z]+) such as ([A-Za-z]+)', 1))
      AS hypernym,
    lower(regexp_extract(x, '([A-Za-z]+) such as ([A-Za-z]+)', 2))
      AS hyponym
  FROM (SELECT doc_id, unnest(regexp_extract_all(text,
          '([A-Za-z]+) such as ([A-Za-z]+)', 0)) AS x FROM inj)
  UNION ALL
  SELECT doc_id,
    lower(regexp_extract(x, '([A-Za-z]+) and other ([A-Za-z]+)', 2)),
    lower(regexp_extract(x, '([A-Za-z]+) and other ([A-Za-z]+)', 1))
  FROM (SELECT doc_id, unnest(regexp_extract_all(text,
          '([A-Za-z]+) and other ([A-Za-z]+)', 0)) AS x FROM inj)
  UNION ALL
  SELECT doc_id,
    lower(regexp_extract(x, '([A-Za-z]+) including ([A-Za-z]+)', 1)),
    lower(regexp_extract(x, '([A-Za-z]+) including ([A-Za-z]+)', 2))
  FROM (SELECT doc_id, unnest(regexp_extract_all(text,
          '([A-Za-z]+) including ([A-Za-z]+)', 0)) AS x FROM inj)
  UNION ALL
  SELECT doc_id,
    lower(regexp_extract(x, '([A-Za-z]+) especially ([A-Za-z]+)', 1)),
    lower(regexp_extract(x, '([A-Za-z]+) especially ([A-Za-z]+)', 2))
  FROM (SELECT doc_id, unnest(regexp_extract_all(text,
          '([A-Za-z]+) especially ([A-Za-z]+)', 0)) AS x FROM inj)
),
pairs AS (
  SELECT hyponym, hypernym,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS support
  FROM m WHERE hyponym != hypernym
  GROUP BY 1, 2),
sel AS (
  SELECT node, anc FROM (
    SELECT hyponym AS node, hypernym AS anc,
      row_number() OVER (PARTITION BY hyponym
                         ORDER BY support DESC, hypernym ASC) AS rn
    FROM pairs) WHERE rn = 1),
walk AS (
  SELECT node, anc AS cur, 1 AS depth FROM sel
  UNION ALL
  SELECT w.node, s.anc, w.depth + 1
  FROM walk w JOIN sel s ON w.cur = s.node
  WHERE w.depth < 32
),
resolved AS (
  SELECT node, cur AS root, depth FROM walk
  WHERE cur NOT IN (SELECT node FROM sel)),
roots AS (
  SELECT DISTINCT anc AS node, anc AS root, 0 AS depth FROM sel
  WHERE anc NOT IN (SELECT node FROM sel))
SELECT node, root, CAST(depth AS INT) AS depth FROM resolved
UNION ALL
SELECT node, root, CAST(depth AS INT) AS depth FROM roots
ORDER BY node
"""


def _q_fact_intervals(spark, sf_dir):
    """Temporal fact scoping (T-YAGO-style validity bounds): every doc
    asserts one Hearst is-a fact from a rotating city vocabulary and
    carries a synthetic publication date (year 2021+k%3, month k%12+1,
    day k%28+1 — always calendar-valid); fact_intervals joins
    assertions to dates and aggregates first/last-seen DATE bounds
    plus support counts per (subj, pred, obj). Full SQL oracle."""
    from knowledge_graph_spark.operators.patterns import extract_hyponyms
    from knowledge_graph_spark.operators.temporal import fact_intervals

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    city = F.element_at(
        F.array(*[F.lit(x) for x in
                  ("lisbon", "porto", "madrid", "seville", "lyon")]),
        (k % 5 + 1).cast("int"))
    kind = F.element_at(
        F.array(F.lit("cities"), F.lit("towns")),
        (k % 2 + 1).cast("int"))
    pages = docs.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" "), kind,
                 F.lit(" such as "), city).alias("text"),
    )
    assertions = extract_hyponyms(pages).select(
        "doc_id", F.col("hyponym").alias("subj"),
        F.col("pattern").alias("pred"), F.col("hypernym").alias("obj"))
    dates = docs.select(
        "doc_id",
        F.make_date((k % 3 + 2021).cast("int"), (k % 12 + 1).cast("int"),
                    (k % 28 + 1).cast("int")).alias("date"))
    return (fact_intervals(assertions, dates)
            .orderBy("subj", "pred", "obj"))


_SQL_FACT_INTERVALS = r"""
WITH inj AS (
  SELECT doc_id,
    text || ' ' || (['cities','towns'])[doc_id % 2 + 1] || ' such as '
         || (['lisbon','porto','madrid','seville','lyon'])
              [doc_id % 5 + 1] AS text
  FROM documents),
a AS (
  SELECT doc_id,
    lower(regexp_extract(x, '([A-Za-z]+) such as ([A-Za-z]+)', 2))
      AS subj,
    'such_as' AS pred,
    lower(regexp_extract(x, '([A-Za-z]+) such as ([A-Za-z]+)', 1))
      AS obj
  FROM (SELECT doc_id, unnest(regexp_extract_all(text,
          '([A-Za-z]+) such as ([A-Za-z]+)', 0)) AS x FROM inj)),
d AS (
  SELECT doc_id,
    make_date(CAST(doc_id % 3 + 2021 AS INT),
              CAST(doc_id % 12 + 1 AS INT),
              CAST(doc_id % 28 + 1 AS INT)) AS date
  FROM documents)
SELECT subj, pred, obj,
       min(date) AS first_seen, max(date) AS last_seen,
       CAST(count(DISTINCT a.doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_mentions
FROM a JOIN d ON a.doc_id = d.doc_id
GROUP BY 1, 2, 3
ORDER BY subj, pred, obj
"""


def _q_truecase(spark, sf_dir):
    """Corpus truecasing model (Lita et al. 2003): every doc injects
    'Paris paris NASA' (an exact casing TIE — broken bytewise to
    'Paris'), every 3rd adds 'Nasa' (NASA must win on count), every
    2nd 'iPhone' and every 4th 'IPHONE' (iPhone wins). Output is the
    per-vocabulary-key best surface form with support counts; the
    oracle replays tokenization, counting, and the windowed argmax."""
    from knowledge_graph_spark.operators.cleaning import truecase_stats

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" Paris paris NASA"),
            F.when(k % 3 == 0, F.lit(" Nasa")).otherwise(F.lit("")),
            F.when(k % 2 == 0, F.lit(" iPhone")).otherwise(F.lit("")),
            F.when(k % 4 == 0, F.lit(" IPHONE")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return truecase_stats(pages).orderBy("token_lc")


_SQL_TRUECASE = r"""
WITH inj AS (
  SELECT doc_id, text || ' Paris paris NASA'
    || CASE WHEN doc_id % 3 = 0 THEN ' Nasa' ELSE '' END
    || CASE WHEN doc_id % 2 = 0 THEN ' iPhone' ELSE '' END
    || CASE WHEN doc_id % 4 = 0 THEN ' IPHONE' ELSE '' END AS text
  FROM documents),
toks AS (
  SELECT unnest(list_filter(
    regexp_split_to_array(text, '[^\p{L}\p{N}]+'),
    x -> x != '' AND regexp_matches(x, '\p{L}'))) AS form
  FROM inj),
counts AS (
  SELECT lower(form) AS token_lc, form, CAST(count(*) AS BIGINT) AS n
  FROM toks GROUP BY 1, 2),
ranked AS (
  SELECT token_lc, form, n,
    row_number() OVER (PARTITION BY token_lc
                       ORDER BY n DESC, form ASC) AS rn,
    CAST(sum(n) OVER (PARTITION BY token_lc) AS BIGINT) AS n_total
  FROM counts)
SELECT token_lc, form AS best_form, n AS n_best, n_total
FROM ranked
WHERE rn = 1 AND n_total >= 2
ORDER BY token_lc
"""


def _q_bitext(spark, sf_dir):
    """Parallel-text candidate mining (ParaCrawl-style): every 2nd
    document injects two long digit anchors keyed doc_id % 97, so
    documents sharing a residue share a fingerprint; candidates are
    cross-language, length-ratio-gated (<= 2x, integer arithmetic),
    generated in-aggregate per fingerprint group under a 32-member
    boilerplate guard. The oracle replays with a fingerprint
    self-join under the same HAVING guard."""
    from knowledge_graph_spark.operators.linking import bitext_candidates

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    r = (k % 97)
    pages = docs.select(
        "doc_id", "lang",
        F.when(k % 2 == 0, F.concat(
            F.col("text"),
            F.lit(" ref "), (r + 100000).cast("string"),
            F.lit(" code "), (r * 7 + 900000).cast("string"),
        )).otherwise(F.col("text")).alias("text"),
    )
    return bitext_candidates(pages).orderBy("doc_a", "doc_b")


_SQL_BITEXT = r"""
WITH inj AS (
  SELECT doc_id, lang,
    CASE WHEN doc_id % 2 = 0 THEN
      text || ' ref ' || (doc_id % 97 + 100000)
           || ' code ' || ((doc_id % 97) * 7 + 900000)
    ELSE text END AS text
  FROM documents),
fp AS (
  SELECT doc_id, lang, length(text) AS len,
    list_aggregate(list_sort(list_distinct(
      regexp_extract_all(text, '[0-9]{3,}'))),
      'string_agg', ',') AS fingerprint
  FROM inj),
ok AS (
  SELECT * FROM fp
  WHERE len(string_split(fingerprint, ',')) >= 2),
g AS (
  SELECT fingerprint FROM ok GROUP BY fingerprint
  HAVING count(*) BETWEEN 2 AND 32)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       a.lang AS lang_a, b.lang AS lang_b, a.fingerprint AS fingerprint
FROM ok a
JOIN ok b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
JOIN g ON g.fingerprint = a.fingerprint
WHERE a.lang != b.lang
  AND a.len * 2 >= b.len AND b.len * 2 >= a.len
ORDER BY doc_a, doc_b
"""


def _q_url_templates(spark, sf_dir):
    """URL path-template mining (DUST-style crawl-structure census,
    Bar-Yossef et al. WWW 2007): every customer key mints an
    /article/{id}/view page, every 2nd a /u/{hex8}/profile page,
    every 5th a static /about page across 13 hosts; hex runs >= 8
    chars generalize to {hex} BEFORE digit runs generalize to {n}
    (order declared — a long digit run is hex-shaped too). Output is
    the per-(host, template) page and distinct-url census. Full SQL
    oracle replays the synthesis and both regex rewrites."""
    from knowledge_graph_spark.operators.urls import path_templates

    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"))
    k, ks = F.col("id"), F.col("id").cast("string")
    host = F.concat(F.lit("https://site-"), (k % 13).cast("string"),
                    F.lit(".example.com"))
    hex8 = F.lpad(F.lower(F.hex(k)), 8, "0")
    pages = (
        c.select(F.concat(host, F.lit("/article/"), ks,
                          F.lit("/view")).alias("url"))
        .unionByName(c.filter(k % 2 == 0).select(
            F.concat(host, F.lit("/u/"), hex8,
                     F.lit("/profile")).alias("url")))
        .unionByName(c.filter(k % 5 == 0).select(
            F.concat(host, F.lit("/about")).alias("url")))
    )
    return path_templates(pages).orderBy("host", "template")


_SQL_URL_TEMPLATES = r"""
WITH c AS (SELECT c_custkey AS id FROM customer),
u AS (
  SELECT 'https://site-' || (id % 13) || '.example.com/article/'
         || id || '/view' AS url FROM c
  UNION ALL
  SELECT 'https://site-' || (id % 13) || '.example.com/u/'
         || lpad(lower(to_hex(id)), 8, '0') || '/profile' FROM c
  WHERE id % 2 = 0
  UNION ALL
  SELECT 'https://site-' || (id % 13) || '.example.com/about' FROM c
  WHERE id % 5 = 0
),
t AS (
  SELECT url,
    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1)
      AS host,
    regexp_replace(regexp_replace(
      CASE WHEN regexp_extract(url,
             '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)', 1) = ''
           THEN '/'
           ELSE regexp_extract(url,
             '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)', 1) END,
      '[0-9a-f]{8,}', '{hex}', 'g'), '[0-9]+', '{n}', 'g') AS template
  FROM u
)
SELECT host, template, CAST(count(*) AS BIGINT) AS n_pages,
       CAST(count(DISTINCT url) AS BIGINT) AS n_urls
FROM t
GROUP BY host, template
ORDER BY host, template
"""


def _q_cocitation(spark, sf_dir):
    """Host co-citation graph (Small 1973; the source-relatedness
    seed for KG source fusion): every document cites three residue-
    class hosts (cite-k%7, mirror-k%3, src-k%5) and every 4th adds a
    fourth — pairs are generated in-aggregate from the sorted
    distinct host set per doc (link-farm guard at 64 hosts), then
    counted corpus-wide. The oracle replays the synthesis with a
    self-join on doc_id under the same guard."""
    from knowledge_graph_spark.operators.urls import cocitation_counts

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id")

    def h(p, expr, d):
        return F.concat(F.lit(p), expr.cast("string"), F.lit(d))

    links = docs.select(
        "doc_id",
        F.explode(F.array(
            h("cite-", k % 7, ".example.org"),
            h("mirror-", k % 3, ".example.net"),
            h("src-", k % 5, ".example.com"),
            # NULL 4th element on 3 of 4 docs — cocitation_counts'
            # NULL filter drops it, exercising that path
            F.when(k % 4 == 0, h("cite-", (k + 1) % 7, ".example.org")),
        )).alias("host"))
    return cocitation_counts(links).orderBy("host_a", "host_b")


_SQL_COCITATION = r"""
WITH d AS (SELECT doc_id FROM documents),
l AS (
  SELECT doc_id, 'cite-' || (doc_id % 7) || '.example.org' AS host
  FROM d
  UNION ALL
  SELECT doc_id, 'mirror-' || (doc_id % 3) || '.example.net' FROM d
  UNION ALL
  SELECT doc_id, 'src-' || (doc_id % 5) || '.example.com' FROM d
  UNION ALL
  SELECT doc_id, 'cite-' || ((doc_id + 1) % 7) || '.example.org'
  FROM d WHERE doc_id % 4 = 0
),
dh AS (SELECT DISTINCT doc_id, host FROM l),
ok AS (
  SELECT doc_id FROM dh GROUP BY doc_id
  HAVING count(*) BETWEEN 2 AND 64
)
SELECT a.host AS host_a, b.host AS host_b,
       CAST(count(*) AS BIGINT) AS n_docs
FROM dh a
JOIN dh b ON a.doc_id = b.doc_id AND a.host < b.host
JOIN ok ON ok.doc_id = a.doc_id
GROUP BY 1, 2
ORDER BY 1, 2
"""


def _q_host_pagerank(spark, sf_dir):
    """Host-graph PageRank (the CommonCrawl-style host authority
    ranking a web-scale KG uses to weight extraction sources): every
    document deterministically contributes four host-level citation
    edges (src -> cite, src -> mirror, cite -> mirror, mirror -> src
    — a cyclic residue-class graph with mild in-degree skew), edges
    dedup to a bounded host graph, and
    :func:`graph_analytics.pagerank` runs its fixed 10 damped power
    iterations. Output is integer-only: the rank POSITION over
    6-dp-rounded scores (ties broken by host) — raw double scores
    would be hash-fragile cross-engine, rank positions over rounded
    scores are not (the same convention as textrank_keywords)."""
    from pyspark.sql import Window

    from knowledge_graph_spark.operators.graph_analytics import pagerank

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def _host(prefix, expr, domain):
        return F.concat(F.lit(prefix), expr.cast("string"), F.lit(domain))

    a, b, c = (F.col("doc_id") % 89), (F.col("doc_id") % 97), \
        (F.col("doc_id") % 83)
    src = _host("src-", a, ".example.com")
    cite = _host("cite-", b, ".example.org")
    mirror = _host("mirror-", c, ".example.net")
    mirror_b = _host("mirror-", b % 83, ".example.net")
    src_c = _host("src-", c, ".example.com")
    edges = (
        docs.select(src.alias("src"), cite.alias("dst"))
        .unionByName(docs.select(src.alias("src"), mirror.alias("dst")))
        .unionByName(docs.select(cite.alias("src"), mirror_b.alias("dst")))
        .unionByName(docs.select(mirror.alias("src"), src_c.alias("dst")))
    )
    pr = pagerank(edges, iterations=10)
    # bounded output (<= 269 hosts): constant NON-FOLDABLE partition
    # key keeps WindowExec quiet without tripping the foldable-key
    # optimizer drop (see BENCH/BASELINE.md round-4 window-key note)
    w = Window.partitionBy(
        F.pmod(F.col("rank").cast("bigint"), F.lit(1))).orderBy(
        F.round("rank", 6).desc(), F.col("id"))
    return (pr.select(F.col("id").alias("host"),
                      F.row_number().over(w).cast("long").alias("pos"))
            .orderBy("pos"))


def _host_pagerank_sql(iters: int = 10) -> str:
    """Unrolled damped power iteration — a LIVE SQL oracle for
    pagerank() (any sf), unlike kg_pagerank's sf-pinned golden twin.
    Replays edge synthesis, out-degree split, dangling feedback and
    all ``iters`` rounds in DuckDB; final ordering over 6-dp-rounded
    scores. All literals cast to DOUBLE (DuckDB types bare 0.85 as
    DECIMAL, whose exact arithmetic diverges from IEEE doubles)."""
    q = r"""WITH docs AS MATERIALIZED (SELECT doc_id FROM documents),
e AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT 'src-' || CAST(doc_id % 89 AS VARCHAR) || '.example.com' AS src,
           'cite-' || CAST(doc_id % 97 AS VARCHAR) || '.example.org' AS dst
    FROM docs
    UNION ALL
    SELECT 'src-' || CAST(doc_id % 89 AS VARCHAR) || '.example.com',
           'mirror-' || CAST(doc_id % 83 AS VARCHAR) || '.example.net'
    FROM docs
    UNION ALL
    SELECT 'cite-' || CAST(doc_id % 97 AS VARCHAR) || '.example.org',
           'mirror-' || CAST((doc_id % 97) % 83 AS VARCHAR) || '.example.net'
    FROM docs
    UNION ALL
    SELECT 'mirror-' || CAST(doc_id % 83 AS VARCHAR) || '.example.net',
           'src-' || CAST(doc_id % 83 AS VARCHAR) || '.example.com'
    FROM docs
  )
),
nodes AS MATERIALIZED (SELECT id FROM
          (SELECT src AS id FROM e UNION SELECT dst AS id FROM e)),
nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
r0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE / (SELECT n FROM nn) AS rank FROM nodes)"""
    for i in range(iters):
        q += f""",
d{i} AS MATERIALIZED (SELECT COALESCE(SUM(rank), 0.0::DOUBLE) AS dm FROM r{i}
         WHERE id NOT IN (SELECT src FROM deg)),
c{i} AS MATERIALIZED (SELECT e.dst AS id, SUM(r.rank / deg.deg) AS c
         FROM e JOIN r{i} r ON e.src = r.id JOIN deg ON e.src = deg.src
         GROUP BY e.dst),
r{i + 1} AS MATERIALIZED (SELECT n.id,
           0.15::DOUBLE / (SELECT n FROM nn)
           + 0.85::DOUBLE * (COALESCE(c.c, 0.0::DOUBLE)
                             + (SELECT dm FROM d{i}) / (SELECT n FROM nn))
             AS rank
           FROM nodes n LEFT JOIN c{i} c ON n.id = c.id)"""
    q += f"""
SELECT id AS host,
       CAST(ROW_NUMBER() OVER (ORDER BY round(rank, 6) DESC, id) AS BIGINT)
         AS pos
FROM r{iters} ORDER BY pos"""
    return q


_SQL_HOST_PAGERANK = _host_pagerank_sql()


def _web_census_edges(docs):
    """Deterministic bowtie-shaped host link graph for the web-census
    queries (host_scc / host_bowtie / host_reach): every document
    contributes residue-class edges that together form the full Broder
    anatomy — a 13-host CORE cycle (with chords), a 29-host IN layer
    fed by a second 7-host SCC ring, a 17-host OUT layer, 5 TUBE hosts
    bypassing the core, 11 TENDRIL hosts hanging off IN, and a 6-host
    disconnected cycle. 88 hosts total, however many documents — the
    bounded-vocabulary shape every census operator here relies on."""
    d = F.col("doc_id")

    def h(prefix, expr):
        return F.concat(F.lit(prefix), expr.cast("string"))

    specs = [
        (h("core-", d % 13), h("core-", (d + 1) % 13), None),
        (h("core-", d % 13), h("core-", (d + 5) % 13), d % 3 == 0),
        (h("in-", d % 29), h("core-", d % 13), None),
        (h("ring2-", d % 7), h("ring2-", (d + 1) % 7), None),
        (h("ring2-", d % 7), h("in-", d % 29), None),
        (h("in-", d % 29), h("tend-", d % 11), None),
        (h("in-", d % 29), h("tube-", d % 5), None),
        (h("tube-", d % 5), h("out-", d % 17), None),
        (h("core-", d % 13), h("out-", d % 17), None),
        (h("disc-", d % 6), h("disc-", (d + 1) % 6), None),
    ]
    out = None
    for s, t, cond in specs:
        base = docs if cond is None else docs.filter(cond)
        part = base.select(s.alias("src"), t.alias("dst"))
        out = part if out is None else out.unionByName(part)
    return out


# DuckDB twin of _web_census_edges — shared by the three census oracles
_WEB_CENSUS_EDGES_CTE = r"""docs AS MATERIALIZED (SELECT doc_id FROM documents),
e AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT 'core-' || CAST(doc_id % 13 AS VARCHAR) AS src,
           'core-' || CAST((doc_id + 1) % 13 AS VARCHAR) AS dst FROM docs
    UNION ALL
    SELECT 'core-' || CAST(doc_id % 13 AS VARCHAR),
           'core-' || CAST((doc_id + 5) % 13 AS VARCHAR)
    FROM docs WHERE doc_id % 3 = 0
    UNION ALL
    SELECT 'in-' || CAST(doc_id % 29 AS VARCHAR),
           'core-' || CAST(doc_id % 13 AS VARCHAR) FROM docs
    UNION ALL
    SELECT 'ring2-' || CAST(doc_id % 7 AS VARCHAR),
           'ring2-' || CAST((doc_id + 1) % 7 AS VARCHAR) FROM docs
    UNION ALL
    SELECT 'ring2-' || CAST(doc_id % 7 AS VARCHAR),
           'in-' || CAST(doc_id % 29 AS VARCHAR) FROM docs
    UNION ALL
    SELECT 'in-' || CAST(doc_id % 29 AS VARCHAR),
           'tend-' || CAST(doc_id % 11 AS VARCHAR) FROM docs
    UNION ALL
    SELECT 'in-' || CAST(doc_id % 29 AS VARCHAR),
           'tube-' || CAST(doc_id % 5 AS VARCHAR) FROM docs
    UNION ALL
    SELECT 'tube-' || CAST(doc_id % 5 AS VARCHAR),
           'out-' || CAST(doc_id % 17 AS VARCHAR) FROM docs
    UNION ALL
    SELECT 'core-' || CAST(doc_id % 13 AS VARCHAR),
           'out-' || CAST(doc_id % 17 AS VARCHAR) FROM docs
    UNION ALL
    SELECT 'disc-' || CAST(doc_id % 6 AS VARCHAR),
           'disc-' || CAST((doc_id + 1) % 6 AS VARCHAR) FROM docs
  )
),
nodes AS MATERIALIZED (
  SELECT DISTINCT id FROM (
    SELECT src AS id FROM e UNION ALL SELECT dst FROM e))"""
# ^ DISTINCT-over-UNION-ALL, not UNION: DuckDB 1.0.0 drops the UNION
#   dedup of NON-recursive CTEs inside a WITH RECURSIVE list


def _q_host_scc(spark, sf_dir):
    """Strongly connected components of the host link graph —
    forward-backward min-label peeling (Fleischer et al. 2000 / the
    MapReduce shape in Rastogi et al. ICDE 2013). The synthesized
    graph has three non-trivial SCCs (13-cycle core, 7-ring, 6-ring
    island) plus 62 singletons; the oracle derives the same labels
    from first principles — mutual reachability over the recursive-CTE
    transitive closure — so it cross-checks the ALGORITHM, not a
    replay of it."""
    from knowledge_graph_spark.operators.graph_analytics import (
        strongly_connected_components)

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = _web_census_edges(docs)
    return (strongly_connected_components(edges)
            .select(F.col("id").alias("host"), "scc_id")
            .orderBy("host"))


_SQL_HOST_SCC = r"""
WITH RECURSIVE """ + _WEB_CENSUS_EDGES_CTE + r""",
reach AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, x.dst FROM reach r JOIN e x ON x.src = r.dst
),
mutual AS (
  SELECT a.src AS id, a.dst AS o
  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
)
SELECT n.id AS host,
       LEAST(n.id, COALESCE(MIN(m.o), n.id)) AS scc_id
FROM nodes n LEFT JOIN mutual m ON m.id = n.id
GROUP BY n.id
ORDER BY host
"""


def _q_host_bowtie(spark, sf_dir):
    """Broder bowtie census of the host graph (Broder et al. 2000):
    per-host region in {CORE, IN, OUT, TUBE, TENDRIL, DISC}. The
    oracle recomputes every region definitionally from recursive-CTE
    closures (directed, core-avoiding, and undirected), independent of
    the engine's SCC-peeling + BFS implementation."""
    from knowledge_graph_spark.operators.graph_analytics import (
        bowtie_regions)

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = _web_census_edges(docs)
    return (bowtie_regions(edges)
            .select(F.col("id").alias("host"), "region")
            .orderBy("host"))


_SQL_HOST_BOWTIE = r"""
WITH RECURSIVE """ + _WEB_CENSUS_EDGES_CTE + r""",
reach AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, x.dst FROM reach r JOIN e x ON x.src = r.dst
),
mutual AS (
  SELECT a.src AS id, a.dst AS o
  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
),
scc AS (
  SELECT n.id, LEAST(n.id, COALESCE(MIN(m.o), n.id)) AS scc_id
  FROM nodes n LEFT JOIN mutual m ON m.id = n.id GROUP BY n.id
),
core AS (
  SELECT id FROM scc WHERE scc_id = (
    SELECT scc_id FROM (
      SELECT scc_id, COUNT(*) AS n FROM scc GROUP BY scc_id)
    ORDER BY n DESC, scc_id LIMIT 1)
),
inset AS (
  SELECT DISTINCT src AS id FROM reach
  WHERE dst IN (SELECT id FROM core)
    AND src NOT IN (SELECT id FROM core)
),
outset AS (
  SELECT DISTINCT dst AS id FROM reach
  WHERE src IN (SELECT id FROM core)
    AND dst NOT IN (SELECT id FROM core)
),
e2 AS MATERIALIZED (
  SELECT src, dst FROM e
  WHERE src NOT IN (SELECT id FROM core)
    AND dst NOT IN (SELECT id FROM core)
),
reach2 AS (
  SELECT src, dst FROM e2
  UNION
  SELECT r.src, x.dst FROM reach2 r JOIN e2 x ON x.src = r.dst
),
fromin AS (
  SELECT DISTINCT id FROM (
    SELECT id FROM inset
    UNION ALL
    SELECT dst AS id FROM reach2 WHERE src IN (SELECT id FROM inset))
),
toout AS (
  SELECT DISTINCT id FROM (
    SELECT id FROM outset
    UNION ALL
    SELECT src AS id FROM reach2 WHERE dst IN (SELECT id FROM outset))
),
sym AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM e
    UNION ALL
    SELECT dst AS src, src AS dst FROM e)
),
ureach AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, s.dst FROM ureach r JOIN sym s ON s.src = r.dst
),
wcc AS (
  SELECT DISTINCT id FROM (
    SELECT id FROM core
    UNION ALL
    SELECT dst AS id FROM ureach WHERE src IN (SELECT id FROM core))
)
SELECT n.id AS host,
       CASE WHEN n.id IN (SELECT id FROM core) THEN 'CORE'
            WHEN n.id IN (SELECT id FROM inset) THEN 'IN'
            WHEN n.id IN (SELECT id FROM outset) THEN 'OUT'
            WHEN n.id IN (SELECT id FROM fromin)
                 AND n.id IN (SELECT id FROM toout) THEN 'TUBE'
            WHEN n.id IN (SELECT id FROM wcc) THEN 'TENDRIL'
            ELSE 'DISC' END AS region
FROM nodes n
ORDER BY host
"""


def _q_host_reach(spark, sf_dir):
    """HyperANF neighborhood function over the host graph (Boldi,
    Rosa & Vigna, WWW 2011): per (round t, host), the HLL-estimated
    out-ball size — the web-scale distance census whose saturation
    point is the effective diameter. p=4 (16 registers/host); the
    oracle replays register seeding, four max-propagation rounds, and
    the integer-exact estimate formula in DuckDB."""
    from knowledge_graph_spark.operators.graph_analytics import (
        neighborhood_function)

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = _web_census_edges(docs)
    return (neighborhood_function(edges, rounds=4, p=4)
            .select("t", F.col("id").alias("host"), "n_registers",
                    "ball_est")
            .orderBy("t", "host"))


def _host_reach_sql(rounds: int = 4) -> str:
    """Unrolled HyperANF oracle: registers seeded exactly as
    sketches.hll_sketch (p=4: register = h % 16, rank = 49 -
    bit_length(h >> 4)), one max-union CTE per round, then the
    hll_estimate formula per round (integer harmonic sum, alpha_16 =
    0.673, linear counting below 2.5m) — the same integer-exact shape
    as _SQL_HLL_DISTINCT."""
    q = "WITH " + _WEB_CENSUS_EDGES_CTE + r""",
h AS (SELECT id, CAST(concat('0x', substring(md5(id), 1, 13)) AS BIGINT) AS h
      FROM nodes),
r0 AS (SELECT id, h % 16 AS register,
              49 - length(regexp_replace(bin(h >> 4), '^0+', '')) AS rank
       FROM h)"""
    for t in range(1, rounds + 1):
        q += f""",
r{t} AS MATERIALIZED (
  SELECT id, register, MAX(rank) AS rank FROM (
    SELECT id, register, rank FROM r{t - 1}
    UNION ALL
    SELECT e.src AS id, r.register, r.rank
    FROM e JOIN r{t - 1} r ON r.id = e.dst
  ) GROUP BY id, register)"""
    ests = []
    for t in range(rounds + 1):
        ests.append(f"""
SELECT {t} AS t, id, n_registers,
       ROUND(CASE WHEN (0.673 * 16 * 16)
                       / (CAST(sum_int AS DOUBLE)
                          / CAST(1::BIGINT << 49 AS DOUBLE)) <= 40.0
                   AND n_registers < 16
             THEN 16.0 * ln(16.0 / CAST(16 - n_registers AS DOUBLE))
             ELSE (0.673 * 16 * 16)
                  / (CAST(sum_int AS DOUBLE)
                     / CAST(1::BIGINT << 49 AS DOUBLE))
             END, 4) AS ball_est
FROM (SELECT id, COUNT(*) AS n_registers,
             SUM(1::BIGINT << (49 - rank))
               + (16 - COUNT(*)) * (1::BIGINT << 49) AS sum_int
      FROM r{t} GROUP BY id)""")
    q += "\nSELECT t, id AS host, n_registers, ball_est FROM ("
    q += "\nUNION ALL".join(ests)
    q += "\n) ORDER BY t, host"
    return q


_SQL_HOST_REACH = _host_reach_sql()


def _q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling (Efraimidis-Spirakis with the
    md5-52bit hash uniform): 10 documents per source, inclusion
    probability proportional to n_chars. Full SQL oracle replays the
    exponential-clock key (-ln(u)/w) and the per-stratum top-k."""
    from knowledge_graph_spark.operators.sampling import weighted_sample_k

    docs = _t(spark, sf_dir, "documents")
    return (
        weighted_sample_k(docs, k=10, weight=F.col("n_chars"),
                          stratum_col="source")
        .select("source", "doc_id", F.col("weight").cast("long")
                .alias("n_chars"))
        .orderBy("source", "doc_id")
    )


_SQL_WEIGHTED_SAMPLE = r"""
WITH w AS (
  SELECT source, doc_id, n_chars,
         -ln((CAST(concat('0x', substring(md5(concat(CAST(doc_id AS VARCHAR),
              '/')), 1, 13)) AS BIGINT) + 0.5) / 4503599627370496.0)
           / CAST(n_chars AS DOUBLE) AS es
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
)
SELECT source, doc_id, n_chars
FROM (SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY es, doc_id) AS rn FROM w)
WHERE rn <= 10
ORDER BY source, doc_id
"""


# shared messy-affix constants (explicit escapes only — no literal
# invisible characters in source): curly quotes, em dash, CRLF, ZWSP,
# tab, CR-run, newline-run. Both engines receive byte-identical
# affixes: Spark as a Python literal, DuckDB as a chr()-rendered SQL
# expression, so the normalizer is the only thing under test.
_MESSY_PRE = "  \u201Cq\u201D \u2014x\u2019s\r\n "
_MESSY_SUF = "\u200B \t end\r\r\n\n\n\ntail  "


def _sql_chr(s: str) -> str:
    """Render a Python string as a DuckDB expression of chr() calls —
    exact code points, no escape/invisible-character ambiguity in the
    SQL text."""
    return " || ".join("chr(%d)" % ord(ch) for ch in s)


def _q_text_normalized(spark, sf_dir):
    """Text normalization (the content-key stabilizer every hash-keyed
    stage depends on): documents deterministically messied with the
    crawl noise the normalizer exists for (CRLF, NBSP, zero-width,
    curly quotes, em-dash, space runs), then normalized
    (functions.textnorm.normalize_text). Exposes lengths + md5 of the
    normalized text; the SQL oracle replays every rule in RE2 with the
    global flag."""
    from knowledge_graph_spark.functions.textnorm import normalize_text

    docs = _t(spark, sf_dir, "documents")
    messy = F.concat(F.lit(_MESSY_PRE), F.col("text"), F.lit(_MESSY_SUF))
    norm = normalize_text(messy)
    return docs.select(
        "doc_id",
        F.length(messy).alias("n_before"),
        F.length(norm).alias("n_after"),
        F.md5(norm).alias("norm_md5"),
    ).orderBy("doc_id")


def _sql_text_normalized() -> str:
    # RE2 char classes with hex escapes, mirroring functions/textnorm
    # rule for rule (DuckDB regexp_replace needs the explicit 'g' flag
    # — it is first-match-only by default). DuckDB single-quoted
    # literals do not interpret backslashes, so the regex engine
    # receives them verbatim.
    bs = chr(92)
    sq = chr(39) * 4            # SQL literal holding one single quote
    dq = chr(39) + chr(34) + chr(39)  # SQL literal: one double quote

    def cc(*points):
        # hex char class: cc(0x2018, ...) or cc((lo, hi), ...)
        parts = []
        for p in points:
            if isinstance(p, tuple):
                parts.append(bs + 'x{%04X}-' % p[0] + bs + 'x{%04X}' % p[1])
            else:
                parts.append(bs + 'x{%04X}' % p)
        return '[' + ''.join(parts) + ']'

    rules = [
        (bs + 'r' + bs + 'n?', 'chr(10)'),
        (cc((0x00, 0x08), (0x0B, 0x1F), (0x7F, 0x9F)), "''"),
        (cc(0x200B, 0x200C, 0x200D, 0xFEFF), "''"),
        (cc(0x2018, 0x2019, 0x201A, 0x201B), sq),
        (cc(0x201C, 0x201D, 0x201E, 0x201F), dq),
        (cc(0x2012, 0x2013, 0x2014, 0x2015, 0x2212), "'-'"),
        (cc(0x00A0, 0x1680, (0x2000, 0x200A), 0x202F, 0x205F, 0x3000),
         "' '"),
        ('[ ' + bs + 't]+', "' '"),
        (' ?' + bs + 'n ?', 'chr(10)'),
        (bs + 'n{3,}', 'chr(10) || chr(10)'),
    ]
    expr = 'messy'
    for pat, rep in rules:
        expr = "regexp_replace(%s, '%s', %s, 'g')" % (expr, pat, rep)
    return (
        "WITH m AS (SELECT doc_id, "
        + _sql_chr(_MESSY_PRE) + " || text || " + _sql_chr(_MESSY_SUF)
        + " AS messy FROM documents),"
        + "n AS (SELECT doc_id, messy, trim(" + expr
        + ", ' ') AS norm FROM m) "
        + "SELECT doc_id, length(messy) AS n_before, "
        + "length(norm) AS n_after, md5(norm) AS norm_md5 "
        + "FROM n ORDER BY doc_id"
    )


_SQL_TEXT_NORMALIZED = _sql_text_normalized()

def _q_textrank_keywords(spark, sf_dir):
    """Corpus keyword extraction by TextRank (Mihalcea & Tarau 2004):
    top-20 words of the documents table by weighted PageRank over the
    word co-occurrence graph (window 2, 10 iterations, d=0.85). The
    oracle is the pure-Python twin's golden
    (tools/make_goldens.golden_textrank) — the fixed-iteration float
    loop replayed end-to-end, ranks computed on 6-dp-rounded scores so
    float-summation order cannot flip near-ties across engines."""
    from knowledge_graph_spark.operators.textstats import textrank_keywords

    return (textrank_keywords(_t(spark, sf_dir, "documents"))
            .orderBy("rank"))


def _q_dd_quantiles(spark, sf_dir):
    """DDSketch relative-error quantiles (Masson et al., VLDB 2019):
    per-source p50/p90/p99 of n_chars from a mergeable log-bucket
    sketch, alpha=0.01. The query exposes (source, q, bucket) —
    integer bucket indexes, not the float estimate — and the SQL
    oracle replays bucketing + cumulative rank + min-bucket exactly
    (log-gamma is a shared precomputed literal, so the only per-engine
    float op is ln(x) itself; measured: the closest ln(x)/ln(gamma)
    to a bucket boundary across all 313 distinct sf0.01 n_chars values
    is 8.4e-4 away — ~1e12 times any cross-build ln ulp difference, so
    the bucketing cannot flip between engines)."""
    from knowledge_graph_spark.operators.sketches import (
        build_dd_sketch, dd_quantile)

    docs = _t(spark, sf_dir, "documents")
    sk = build_dd_sketch(docs, "n_chars", group_cols=["source"], alpha=0.01)
    return (
        dd_quantile(sk, [0.5, 0.9, 0.99], group_cols=["source"], alpha=0.01)
        .select("source", "q", "bucket")
        .orderBy("source", "q")
    )


def _dd_sql(alpha: float = 0.01) -> str:
    import math

    gamma = (1 + alpha) / (1 - alpha)
    lg = repr(math.log(gamma))
    return f"""
WITH v AS (
  SELECT source, CAST(n_chars AS DOUBLE) AS x FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0),
b AS (
  SELECT source, CAST(ceil(ln(x) / {lg}) AS BIGINT) AS bucket,
         COUNT(*) AS n
  FROM v GROUP BY 1, 2),
c AS (
  SELECT source, bucket,
         SUM(n) OVER (PARTITION BY source ORDER BY bucket) AS cum,
         SUM(n) OVER (PARTITION BY source) AS total
  FROM b),
-- CAST to DOUBLE: DuckDB types the literal list DECIMAL(3,2), which
-- is hash-unsafe AND makes ceil(q*total) exact-decimal arithmetic
-- where Spark does IEEE double (0.9*1500 = 1350.0000000000002 -> 1351
-- in double, 1350.00 in decimal) — the rank convention must share
-- the same floating arithmetic to replay exactly
qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q)
SELECT source, q, MIN(bucket) AS bucket
FROM c CROSS JOIN qs
WHERE cum >= greatest(1, CAST(ceil(q * total) AS BIGINT))
GROUP BY source, q
ORDER BY source, q
"""


_SQL_DD_QUANTILES = _dd_sql(0.01)


def _q_url_dup_groups(spark, sf_dir):
    """Spelling-variant groups: two deliberately different spellings
    per customer key (messy variant-0 vs its already-canonical twin)
    must collapse to ONE canonical url with n_spellings = 2 and the
    lexicographically smallest raw spelling as the deterministic
    survivor. Exercises the groupBy shape of url-keyed recrawl merge."""
    from knowledge_graph_spark.operators.urls import url_duplicate_groups

    k = F.col("c_custkey").cast("string")
    host = F.concat(F.lit("shop-"),
                    (F.col("c_custkey") % 20).cast("string"),
                    F.lit(".example.com"))
    messy = F.concat(F.lit("HTTPS://WWW."), F.upper(host),
                     F.lit(":443/item/"), k,
                     F.lit("?utm_source=mail&b=2&a=1#f"))
    clean = F.concat(F.lit("https://"), host, F.lit("/item/"), k,
                     F.lit("?a=1&b=2"))
    urls = (_t(spark, sf_dir, "customer")
            .select(F.explode(F.array(messy, clean)).alias("url")))
    return url_duplicate_groups(urls).orderBy("canonical_url")


_SQL_URL_DUP_GROUPS = r"""
WITH base AS (
  SELECT c_custkey AS k,
         concat('shop-', CAST(c_custkey % 20 AS VARCHAR), '.example.com')
           AS host
  FROM customer),
u AS (
  SELECT 0 AS id, concat('HTTPS://WWW.', upper(host), ':443/item/',
           CAST(k AS VARCHAR), '?utm_source=mail&b=2&a=1#f') AS url
  FROM base
  UNION ALL
  SELECT 0 AS id, concat('https://', host, '/item/', CAST(k AS VARCHAR),
           '?a=1&b=2') AS url
  FROM base),
""" + _SQL_URL_PARSE + r"""
SELECT canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_spellings,
       MIN(url) AS first_url
FROM canon
GROUP BY canonical_url
HAVING COUNT(*) >= 2
ORDER BY canonical_url
"""


def _q_host_profile(spark, sf_dir):
    """Crawl census over 3,000 synthetic web pages: per-host page
    counts, held-out counts, char totals and corpus share — the skew
    map for the url-host partitioning (hub host ~20%). Twin-golden
    oracled via the shared pure page generator."""
    from knowledge_graph_spark.operators.textstats import host_profile
    from knowledge_graph_spark.sources.pages import generate_spark

    return host_profile(generate_spark(spark, 3000)).orderBy("host")


def _q_lpa_communities(spark, sf_dir):
    """Deterministic synchronous label propagation (5 rounds, ties to
    the smallest label) over the same sparse order↔part graph as
    order_part_components — twin-golden oracled (the twin replays the
    whole propagation in pure Python)."""
    from knowledge_graph_spark.operators.graph_analytics import label_propagation

    li = _t(spark, sf_dir, "lineitem")
    edges = li.filter(F.col("l_quantity") == 1).select(
        (F.col("l_orderkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
    )
    return label_propagation(edges).orderBy("id")


_PACK_CAPACITY = 128


def _q_pack_sequences(spark, sf_dir):
    """Deterministic greedy sequence packing (T5-style example
    packing): per doc, its (shard, seq_id, pos) assignment into
    128-token context windows. Oracled by a DuckDB recursive CTE that
    replays the same greedy scan."""
    from knowledge_graph_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, capacity=_PACK_CAPACITY,
                          n_shards=8).orderBy("doc_id")


# the oracle replays the greedy first-fit-sequential scan row by row
# (recursive CTE joining rn -> rn+1 within each shard)
_SQL_PACK = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
         CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                              x -> x != '')) AS INT) AS n_tokens
  FROM documents
),
ord AS (
  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM toks
),
packed AS (
  SELECT shard, rn, doc_id, n_tokens, n_tokens AS acc,
         CAST(0 AS BIGINT) AS seq_id, 0 AS pos
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
         CASE WHEN p.acc + o.n_tokens > 128
              THEN o.n_tokens ELSE p.acc + o.n_tokens END,
         CASE WHEN p.acc + o.n_tokens > 128
              THEN p.seq_id + 1 ELSE p.seq_id END,
         CASE WHEN p.acc + o.n_tokens > 128 THEN 0 ELSE p.pos + 1 END
  FROM ord o JOIN packed p ON o.shard = p.shard AND o.rn = p.rn + 1
)
SELECT doc_id, shard, seq_id, pos, n_tokens FROM packed ORDER BY doc_id
"""


def _q_doc_chunks(spark, sf_dir):
    """Sliding-window document chunking (64-token windows, 16-token
    overlap): every document becomes 1+ fixed-size training/RAG
    examples. Zero-shuffle codegen (explode+slice); full SQL oracle."""
    from knowledge_graph_spark.operators.packing import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=64, overlap_tokens=16) \
        .orderBy("doc_id", "chunk_id")


_SQL_DOC_CHUNKS = r"""
WITH toks AS (
  -- COALESCE: a NULL text tokenizes to NULL, len(NULL) is NULL, and
  -- generate_series(0, NULL-1) emits NO row — silently dropping the
  -- document, while the engine's chunk_documents coalesces to [] and
  -- guarantees one empty chunk per input row. Match that here.
  SELECT doc_id,
         COALESCE(list_filter(regexp_split_to_array(text, '\s+'),
                              x -> x != ''), []) AS t
  FROM documents
),
sized AS (
  SELECT doc_id, t, len(t) AS n,
         CASE WHEN len(t) <= 64 THEN 1
              ELSE 1 + CAST(ceil((len(t) - 64) / 48.0) AS INT)
         END AS n_chunks
  FROM toks
),
expanded AS (
  SELECT doc_id, t, n,
         unnest(generate_series(0, n_chunks - 1)) AS chunk_id
  FROM sized
)
SELECT doc_id, chunk_id,
       array_to_string(list_slice(t, chunk_id * 48 + 1,
                                  chunk_id * 48 + 64), ' ') AS chunk_text,
       LEAST(64, n - chunk_id * 48) AS n_tokens
FROM expanded
ORDER BY doc_id, chunk_id
"""


def _q_pq_codes(spark, sf_dir):
    """Product-quantization encode (m=4 subspaces x 16 codes, init =
    16 smallest ids, n_iter=0 so the oracle replays the EXACT
    computation): per vector, its 4 PQ codes. Codebook quality (Lloyd
    rounds) is pytest-gated; this query value-checks the quantizer
    machinery itself."""
    from knowledge_graph_spark.operators.simsearch import (
        pq_encode, train_pq_codebook)

    emb = _t(spark, sf_dir, "embeddings")
    cb = train_pq_codebook(emb, m=4, n_codes=16, n_iter=0, dim=64)
    return (
        pq_encode(emb, codebook=cb)
        .select(
            "vec_id",
            *[F.col("codes")[j].alias(f"c{j}") for j in range(4)],
        )
        .orderBy("vec_id")
    )


_SQL_PQ_CODES = r"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
subs AS (SELECT unnest(generate_series(0, 3)) AS sub),
cb AS (
  SELECT s.sub, CAST(r.rn - 1 AS INT) AS code_id, r.e AS ce
  FROM (SELECT e, row_number() OVER (ORDER BY vec_id) AS rn
        FROM v ORDER BY vec_id LIMIT 16) r, subs s
),
d AS (
  SELECT v.vec_id, cb.sub, cb.code_id,
         list_sum(list_transform(generate_series(1, 16),
           i -> (v.e[cb.sub*16 + i] - cb.ce[cb.sub*16 + i])
              * (v.e[cb.sub*16 + i] - cb.ce[cb.sub*16 + i]))) AS d2
  FROM v CROSS JOIN cb
),
best AS (
  SELECT vec_id, sub, code_id,
         row_number() OVER (PARTITION BY vec_id, sub
                            ORDER BY d2, code_id) AS rk
  FROM d
)
SELECT vec_id,
       MAX(CASE WHEN sub = 0 THEN code_id END) AS c0,
       MAX(CASE WHEN sub = 1 THEN code_id END) AS c1,
       MAX(CASE WHEN sub = 2 THEN code_id END) AS c2,
       MAX(CASE WHEN sub = 3 THEN code_id END) AS c3
FROM best WHERE rk = 1
GROUP BY vec_id
ORDER BY vec_id
"""


def _q_pq_topk(spark, sf_dir):
    """PQ asymmetric-distance top-k (FAISS ADC): approximate L2
    neighbors from codes + per-query lookup tables alone. The oracle
    replays codes AND distance tables exactly in SQL — this checks the
    ADC machinery, not retrieval quality (that is pytest-gated recall
    vs the exact baseline)."""
    from knowledge_graph_spark.operators.simsearch import (
        pq_adc_topk, pq_encode, train_pq_codebook)

    emb = _t(spark, sf_dir, "embeddings")
    rows = train_pq_codebook(emb, m=4, n_codes=16, n_iter=0,
                             dim=64).collect()
    codes = pq_encode(emb, codebook_rows=rows)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return (
        pq_adc_topk(codes, queries, codebook_rows=rows, k=5)
        .select("query_id", "rank", "vec_id",
                F.round("adc_d2", 6).alias("adc_d2"))
        .orderBy("query_id", "rank")
    )


_SQL_PQ_TOPK = r"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
subs AS (SELECT unnest(generate_series(0, 3)) AS sub),
cb AS (
  SELECT s.sub, CAST(r.rn - 1 AS INT) AS code_id, r.e AS ce
  FROM (SELECT e, row_number() OVER (ORDER BY vec_id) AS rn
        FROM v ORDER BY vec_id LIMIT 16) r, subs s
),
d AS (
  SELECT v.vec_id, cb.sub, cb.code_id,
         list_sum(list_transform(generate_series(1, 16),
           i -> (v.e[cb.sub*16 + i] - cb.ce[cb.sub*16 + i])
              * (v.e[cb.sub*16 + i] - cb.ce[cb.sub*16 + i]))) AS d2
  FROM v CROSS JOIN cb
),
codes AS (
  SELECT vec_id, sub, code_id FROM (
    SELECT vec_id, sub, code_id,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2, code_id) AS rk
    FROM d) WHERE rk = 1
),
qd AS (
  SELECT q.vec_id AS query_id, cb.sub, cb.code_id,
         list_sum(list_transform(generate_series(1, 16),
           i -> (q.e[cb.sub*16 + i] - cb.ce[cb.sub*16 + i])
              * (q.e[cb.sub*16 + i] - cb.ce[cb.sub*16 + i]))) AS d2
  FROM (SELECT * FROM v WHERE vec_id < 8) q CROSS JOIN cb
),
-- left-to-right sum in subspace order, matching the engine's
-- aggregate(sequence(1, m), ...) float association exactly
adc AS (
  SELECT qd.query_id, c.vec_id,
         list_sum(list(qd.d2 ORDER BY qd.sub)) AS adc_d2
  FROM codes c JOIN qd ON qd.sub = c.sub AND qd.code_id = c.code_id
  GROUP BY qd.query_id, c.vec_id
),
ranked AS (
  SELECT query_id, vec_id, adc_d2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_d2, vec_id) AS rank
  FROM adc
)
SELECT query_id, rank, vec_id, ROUND(adc_d2, 6) AS adc_d2
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def _q_kmv_distinct(spark, sf_dir):
    """KMV distinct-count sketch: estimated distinct customers per
    order priority from the 256 smallest md5-52bit hashes per group.
    ~1,300 distinct keys per group at sf0.01, so the sketch FILLS and
    the (k-1)/kth estimator runs (not the small-range exact path).
    The oracle replays the whole sketch + estimate in SQL — the hash
    is deterministic and 52-bit-exact in doubles by construction."""
    from knowledge_graph_spark.operators.sketches import kmv_distinct

    orders = _t(spark, sf_dir, "orders")
    items = orders.select(
        "o_orderpriority", F.col("o_custkey").cast("string").alias("cust"))
    return (
        kmv_distinct(items, "cust", ["o_orderpriority"], k=256)
        .orderBy("o_orderpriority")
    )


_SQL_KMV_DISTINCT = r"""
WITH h AS (
  SELECT DISTINCT o_orderpriority,
         CAST(concat('0x', substring(md5(CAST(o_custkey AS VARCHAR)), 1, 13))
              AS BIGINT) AS h
  FROM orders
),
r AS (
  SELECT o_orderpriority, h,
         row_number() OVER (PARTITION BY o_orderpriority ORDER BY h) AS rk
  FROM h
)
SELECT o_orderpriority, COUNT(*) AS n_kept, MAX(h) AS kth_min,
       ROUND(CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
             ELSE CAST(255 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
                  / CAST(MAX(h) AS DOUBLE)
             END, 4) AS est_distinct
FROM r WHERE rk <= 256
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def _q_kmv_overlap(spark, sf_dir):
    """KMV set-operation estimates (Beyer et al., SIGMOD 2007):
    overlap between the customer sets of urgent/high-priority orders
    and high/medium-priority orders, answered from the two bounded
    sketches alone. The query exposes the three INTEGER columns
    (n_kept, n_both, kth_min) — the float estimates are derivable and
    small-denominator rounded ratios are exactly the cross-engine
    rounding trap driver queries avoid. Full SQL oracle replays both
    sketch builds, the combined K-selection, and the both-membership
    count."""
    from knowledge_graph_spark.operators.sketches import (
        kmv_overlap, kmv_sketch)

    orders = _t(spark, sf_dir, "orders")
    key = F.col("o_custkey").cast("string")
    a = kmv_sketch(
        orders.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(key.alias("ck")), "ck")
    b = kmv_sketch(
        orders.filter(F.col("o_orderpriority").isin("2-HIGH", "3-MEDIUM"))
        .select(key.alias("ck")), "ck")
    return kmv_overlap(a, b).select("n_kept", "n_both", "kth_min")


_SQL_KMV_OVERLAP = r"""
WITH ha AS (
  SELECT DISTINCT CAST(concat('0x',
           substring(md5(CAST(o_custkey AS VARCHAR)), 1, 13)) AS BIGINT) AS h
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')),
ra AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rk
                      FROM ha) WHERE rk <= 256),
hb AS (
  SELECT DISTINCT CAST(concat('0x',
           substring(md5(CAST(o_custkey AS VARCHAR)), 1, 13)) AS BIGINT) AS h
  FROM orders WHERE o_orderpriority IN ('2-HIGH', '3-MEDIUM')),
rb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rk
                      FROM hb) WHERE rk <= 256),
u AS (
  SELECT COALESCE(ra.h, rb.h) AS h,
         CASE WHEN ra.h IS NULL THEN 0 ELSE 1 END AS a,
         CASE WHEN rb.h IS NULL THEN 0 ELSE 1 END AS b
  FROM ra FULL OUTER JOIN rb ON ra.h = rb.h),
ks AS (SELECT * FROM (SELECT u.*, row_number() OVER (ORDER BY h) AS rk
                      FROM u) WHERE rk <= 256)
SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(a * b) AS BIGINT) AS n_both,
       MAX(h) AS kth_min
FROM ks
"""


def _q_kmv_merged(spark, sf_dir):
    """KMV mergeability, oracle-discriminated: Spark sketches the odd
    and even order keys SEPARATELY, merges the two sketches, and
    estimates — while the oracle computes the sketch directly over the
    whole table. They agree only if merge(k-min(A), k-min(B)) really
    equals k-min(A ∪ B): a broken merge hash-mismatches. This is the
    distributed contract (sketch per shard/day, combine without
    re-reading raw data) verified as a value, not asserted."""
    from knowledge_graph_spark.operators.sketches import (
        kmv_estimate, kmv_merge, kmv_sketch)

    orders = _t(spark, sf_dir, "orders")
    items = orders.select(
        "o_orderpriority", F.col("o_custkey").cast("string").alias("cust"),
        (F.col("o_orderkey") % 2).alias("_half"))
    halves = [
        kmv_sketch(items.filter(F.col("_half") == i), "cust",
                   ["o_orderpriority"], k=256)
        for i in (0, 1)
    ]
    merged = kmv_merge(halves, ["o_orderpriority"], k=256)
    return (
        kmv_estimate(merged, ["o_orderpriority"], k=256)
        .orderBy("o_orderpriority")
    )


def _q_cms_freq(spark, sf_dir):
    """Count-Min sketch frequency estimates (4 x 256 counter grid)
    for every token of the first two documents, next to the exact
    counts (CMS is one-sided: est >= exact, over by collision mass).
    Oracle replays sketch build + probe exactly in SQL."""
    from knowledge_graph_spark.operators.sketches import (
        cms_token_frequencies)

    docs = _t(spark, sf_dir, "documents")
    probe = docs.filter(F.col("doc_id") < 2)
    return (
        cms_token_frequencies(docs, probe, depth=4, width=256)
        .orderBy("token")
    )


_SQL_CMS_FREQ = r"""
WITH stream AS (
  SELECT t FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS t
                 FROM documents) WHERE t <> ''
),
cells AS (
  SELECT i.i AS row,
         CAST(concat('0x', substring(md5(concat(i.i, ':', t)), 1, 13))
              AS BIGINT) % 256 AS col
  FROM stream, (SELECT unnest(generate_series(0, 3)) AS i) i
),
sketch AS (SELECT row, col, COUNT(*) AS cnt FROM cells GROUP BY row, col),
probes AS (
  SELECT DISTINCT t FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS t
    FROM documents WHERE doc_id < 2) WHERE t <> ''
),
pc AS (
  SELECT p.t, i.i AS row,
         CAST(concat('0x', substring(md5(concat(i.i, ':', p.t)), 1, 13))
              AS BIGINT) % 256 AS col
  FROM probes p, (SELECT unnest(generate_series(0, 3)) AS i) i
),
est AS (
  SELECT pc.t AS token, MIN(COALESCE(s.cnt, 0)) AS est_count
  FROM pc LEFT JOIN sketch s ON s.row = pc.row AND s.col = pc.col
  GROUP BY pc.t
),
exact AS (SELECT t AS token, COUNT(*) AS exact_count FROM stream GROUP BY t)
SELECT est.token, est.est_count, COALESCE(exact.exact_count, 0) AS exact_count
FROM est LEFT JOIN exact USING (token)
ORDER BY token
"""


def _q_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-count (p=6, 64 registers): estimated
    distinct customers per order priority. ~1,300 true distincts per
    group puts the estimate on the harmonic-mean path (raw > 2.5m), so
    the alpha*m^2/Z estimator is what's verified, not linear counting.
    The oracle replays registers + estimate exactly: rank uses the
    integer bin()-string bit-length (no float log2) and the harmonic
    denominator accumulates as an exact int64, so the only float ops
    are one division and one multiply — order-independent."""
    from knowledge_graph_spark.operators.sketches import hll_distinct

    orders = _t(spark, sf_dir, "orders")
    items = orders.select(
        "o_orderpriority", F.col("o_custkey").cast("string").alias("cust"))
    return (
        hll_distinct(items, "cust", ["o_orderpriority"], p=6)
        .orderBy("o_orderpriority")
    )


_SQL_HLL_DISTINCT = r"""
WITH h AS (
  SELECT o_orderpriority,
         CAST(concat('0x', substring(md5(CAST(o_custkey AS VARCHAR)), 1, 13))
              AS BIGINT) AS h
  FROM orders
),
regs AS (
  SELECT o_orderpriority, h % 64 AS register,
         MAX(47 - length(regexp_replace(bin(h >> 6), '^0+', ''))) AS rank
  FROM h GROUP BY o_orderpriority, h % 64
),
agg AS (
  SELECT o_orderpriority, COUNT(*) AS n_registers,
         SUM(1::BIGINT << (47 - rank))
           + (64 - COUNT(*)) * (1::BIGINT << 47) AS sum_int
  FROM regs GROUP BY o_orderpriority
)
SELECT o_orderpriority, n_registers,
       ROUND(CASE WHEN (0.709 * 64 * 64)
                       / (CAST(sum_int AS DOUBLE)
                          / CAST(1::BIGINT << 47 AS DOUBLE)) <= 160.0
                   AND n_registers < 64
             THEN 64.0 * ln(64.0 / CAST(64 - n_registers AS DOUBLE))
             ELSE (0.709 * 64 * 64)
                  / (CAST(sum_int AS DOUBLE)
                     / CAST(1::BIGINT << 47 AS DOUBLE))
             END, 4) AS est_distinct
FROM agg ORDER BY o_orderpriority
"""


def _q_hll_merged(spark, sf_dir):
    """HLL mergeability, oracle-discriminated: Spark sketches the odd
    and even ORDER keys separately (a customer with orders in both
    halves lands in both sketches — the overlap must collapse under
    register-wise max), merges, and estimates; the oracle computes the
    sketch directly over the whole table. Agreement proves
    merge(HLL(A), HLL(B)) = HLL(A ∪ B) as a value — the shard-and-
    combine contract a 1000-executor rollup relies on."""
    from knowledge_graph_spark.operators.sketches import (
        hll_estimate, hll_merge, hll_sketch)

    orders = _t(spark, sf_dir, "orders")
    items = orders.select(
        "o_orderpriority", F.col("o_custkey").cast("string").alias("cust"),
        (F.col("o_orderkey") % 2).alias("_half"))
    halves = [
        hll_sketch(items.filter(F.col("_half") == i), "cust",
                   ["o_orderpriority"], p=6)
        for i in (0, 1)
    ]
    merged = hll_merge(halves, ["o_orderpriority"])
    return (
        hll_estimate(merged, ["o_orderpriority"], p=6)
        .orderBy("o_orderpriority")
    )


def _q_bloom_members(spark, sf_dir):
    """Bloom-filter membership (4096 bits, k=4) built over the
    customers appearing in the quarter-sample of orders
    (o_orderkey % 4 = 0), probed with EVERY customer ->
    (c_custkey, bloom_member, actual_member). ~5% of customers have no
    order in the sample, so both probe outcomes occur, and at ~67% bit
    occupancy a fifth of the true non-members come back as false
    positives — the bloom_member column disagrees with actual_member
    on exactly the FP set, which the oracle replays bit-for-bit
    (integer hashing + 32-bit lanes, no floats anywhere)."""
    from knowledge_graph_spark.operators.sketches import (
        build_bloom, probe_bloom)

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    sample = orders.filter(F.col("o_orderkey") % 4 == 0)
    keys = sample.select(F.col("o_custkey").cast("string").alias("key"))
    bloom = build_bloom(keys, "key", m_bits=4096, k=4)
    probes = cust.select(F.col("c_custkey").cast("string").alias("key"))
    probed = probe_bloom(bloom, probes, "key", m_bits=4096, k=4)
    actual = sample.select(
        F.col("o_custkey").cast("string").alias("key")).distinct()
    return (
        probed.join(actual.withColumn("_in", F.lit(1)), "key", "left")
        .select(
            F.col("key").cast("long").alias("c_custkey"),
            F.col("bloom_member").cast("int").alias("bloom_member"),
            F.coalesce("_in", F.lit(0)).alias("actual_member"),
        )
        .orderBy("c_custkey")
    )


_SQL_BLOOM_MEMBERS = r"""
WITH sample AS (SELECT * FROM orders WHERE o_orderkey % 4 = 0),
keys AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key FROM sample),
cells AS (
  SELECT (CAST(concat('0x', substring(md5(concat(i.i, ':', key)), 1, 13))
               AS BIGINT) % 4096) AS pos
  FROM keys, (SELECT unnest(generate_series(0, 3)) AS i) i
),
filt AS (
  SELECT pos // 32 AS word,
         bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
  FROM cells GROUP BY pos // 32
),
probes AS (SELECT CAST(c_custkey AS VARCHAR) AS key FROM customer),
pc AS (
  SELECT key,
         (CAST(concat('0x', substring(md5(concat(i.i, ':', key)), 1, 13))
               AS BIGINT) % 4096) AS pos
  FROM probes, (SELECT unnest(generate_series(0, 3)) AS i) i
),
member AS (
  SELECT key,
         bool_and((COALESCE(bits, 0) & (1::BIGINT << CAST(pos % 32 AS INT)))
                  = (1::BIGINT << CAST(pos % 32 AS INT))) AS bloom_member
  FROM pc LEFT JOIN filt ON filt.word = pc.pos // 32
  GROUP BY key
)
SELECT CAST(m.key AS BIGINT) AS c_custkey,
       CAST(m.bloom_member AS INT) AS bloom_member,
       CASE WHEN k.key IS NULL THEN 0 ELSE 1 END AS actual_member
FROM member m LEFT JOIN keys k ON k.key = m.key
ORDER BY c_custkey
"""


def _q_fuzzy_part_names(spark, sf_dir):
    """Blocked fuzzy matching over the part-name vocabulary: distinct
    p_names blocked by head noun (last token), pairs within a block at
    Levenshtein distance <= 4. 2,000 parts dedupe to a 64-name
    vocabulary first; candidate pairs form in-aggregate inside the
    block (no self-join); the DP only ever runs on candidate pairs.
    Spark and DuckDB ship the same classic unweighted Levenshtein, so
    the oracle recomputes blocking + distances end to end."""
    from knowledge_graph_spark.operators.linking import fuzzy_name_matches

    part = _t(spark, sf_dir, "part")
    return (
        fuzzy_name_matches(part, "p_name", max_dist=4)
        .orderBy("name_a", "name_b")
    )


_SQL_FUZZY_PART_NAMES = r"""
WITH names AS (SELECT DISTINCT p_name AS name FROM part
               WHERE p_name IS NOT NULL),
b AS (SELECT name, string_split(name, ' ')[-1] AS blk FROM names)
SELECT a.name AS name_a, b2.name AS name_b,
       levenshtein(a.name, b2.name) AS edit_dist
FROM b a JOIN b b2 ON a.blk = b2.blk AND a.name < b2.name
WHERE levenshtein(a.name, b2.name) <= 4
ORDER BY name_a, name_b
"""


def _q_phonetic_blocks(spark, sf_dir):
    """Soundex-style phonetic blocking census over the part-name word
    vocabulary (Russell/Odell coding, H/W-as-separator variant —
    declared and implemented identically in both engines): per code,
    row/distinct-value counts and the lexicographic extremes.
    ``n_values >= 2`` blocks are the ER candidate space a phonetic
    pass feeds to fuzzy matching. The oracle replays the full
    upper/translate/collapse/pad chain in SQL."""
    from knowledge_graph_spark.operators.linking import phonetic_blocks

    part = _t(spark, sf_dir, "part")
    words = (part.select(F.explode(F.split("p_name", " "))
                         .alias("word"))
             .filter(F.col("word") != ""))
    return phonetic_blocks(words, "word").orderBy("code")


def _phonetic_blocks_sql() -> str:
    from knowledge_graph_spark.operators.linking import (
        SOUNDEX_DIGITS, SOUNDEX_LETTERS)

    up = "regexp_replace(upper(word), '[^A-Z]', '', 'g')"
    d = f"translate({up}, '{SOUNDEX_LETTERS}', '{SOUNDEX_DIGITS}')"
    for ch in "0123456":
        d = f"regexp_replace({d}, '{ch}{ch}+', '{ch}', 'g')"
    noz = f"replace(substr({d}, 2), '0', '')"
    code = (f"CASE WHEN {up} = '' THEN NULL ELSE "
            f"substr({up}, 1, 1) || rpad(substr({noz}, 1, 3), 3, '0') "
            f"END")
    return f"""
WITH words AS (
  SELECT unnest(string_split(p_name, ' ')) AS word FROM part
),
coded AS (
  SELECT word, {code} AS code FROM words WHERE word <> ''
)
SELECT code, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT word) AS BIGINT) AS n_values,
       MIN(word) AS first_value, MAX(word) AS last_value
FROM coded WHERE code IS NOT NULL
GROUP BY code ORDER BY code
"""


_SQL_PHONETIC_BLOCKS = _phonetic_blocks_sql()


def _q_embedding_topk(spark, sf_dir):
    """Brute-force cosine top-k ANN baseline (exact; DuckDB-oracled)."""
    from knowledge_graph_spark.operators.simsearch import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return (
        brute_force_topk(emb, queries, k=5)
        .select("query_id", "rank", "vec_id", F.round("cosine", 6).alias("cosine"))
        .orderBy("query_id", "rank")
    )


_SQL_EMBEDDING_TOPK = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
           FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec) AS cos,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
                            ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec) DESC,
                                     e.vec_id) AS rank
  FROM embeddings e CROSS JOIN q
)
SELECT query_id, rank, vec_id, ROUND(cos, 6) AS cosine
FROM scored WHERE rank <= 5
ORDER BY query_id, rank
"""


def _q_semantic_dedup(spark, sf_dir):
    """SemDeDup over the embedding table augmented with exact copies
    (every 100th vector re-appears under id+1,000,000, as in
    embedding_neardups): k-means into 16 cells with deterministic
    min-id init at n_iter=0 — which makes clustering, assignment,
    within-cluster pairing, and the keep/drop verdict ALL exactly
    replayable in SQL. Every copy lands in its original's cell
    (identical vector, identical argmin) and is dropped; natural
    within-cell pairs past cosine 0.95 are dropped too."""
    from knowledge_graph_spark.operators.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    aug = emb.select("vec_id", "embedding").unionByName(
        emb.filter(F.col("vec_id") % 100 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"))
    return (
        semantic_dedup(aug, n_clusters=16, n_iter=0, threshold=0.95)
        .orderBy("vec_id")
    )


_SQL_SEMANTIC_DEDUP = """
WITH allv AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 100 = 0
),
cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell_id, v AS centroid
  FROM allv ORDER BY vec_id LIMIT 16
),
assigned AS (
  SELECT vec_id, v, cell_id FROM (
    SELECT a.vec_id, a.v, c.cell_id,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
                              ORDER BY list_distance(a.v, c.centroid),
                                       c.cell_id) AS rk
    FROM allv a CROSS JOIN cent c) WHERE rk = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= 0.95
)
SELECT a.vec_id, a.cell_id,
       CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
FROM assigned a LEFT JOIN dropped d USING (vec_id)
ORDER BY a.vec_id
"""


def _q_hard_negatives(spark, sf_dir):
    """Hard-negative mining (DPR-style): per labeled query, the top-5
    most-similar vectors with a DIFFERENT label. Exact O(N·Q) DuckDB
    oracle."""
    from knowledge_graph_spark.operators.simsearch import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("query_vec"),
    )
    return (
        hard_negatives(emb, queries, k=5)
        .select("query_id", "rank", "vec_id", "label",
                F.round("cosine", 6).alias("cosine"))
        .orderBy("query_id", "rank")
    )


_SQL_HARD_NEGATIVES = """
WITH q AS (SELECT vec_id AS query_id, label AS qlabel,
                  CAST(embedding AS DOUBLE[]) AS qvec
           FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id, e.label,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec) AS cos,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
                            ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec) DESC,
                                     e.vec_id) AS rank
  FROM embeddings e JOIN q ON e.label <> q.qlabel
)
SELECT query_id, rank, vec_id, label, ROUND(cos, 6) AS cosine
FROM scored WHERE rank <= 5
ORDER BY query_id, rank
"""


def _q_partsupp_walks(spark, sf_dir):
    """Deterministic DeepWalk corpus: 2 walks of 3 steps from each of
    the 20 lowest part nodes over the sparse co-purchase graph. Next
    hop = md5-ranked neighbor, so the unrolled SQL oracle recomputes
    every step exactly (md5 is engine-portable)."""
    from knowledge_graph_spark.operators.kg_export import random_walks

    li = _t(spark, sf_dir, "lineitem")
    edges = li.filter(F.col("l_quantity") == 1).select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    starts = li.filter(F.col("l_partkey") < 20).select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("id")).distinct()
    return (
        random_walks(edges, length=3, n_walks=2, sources=starts)
        .orderBy("walk_id", "step")
    )


_SQL_PARTSUPP_WALKS = r"""
WITH e0 AS (SELECT DISTINCT 'p' || l_partkey AS src, 's' || l_suppkey AS dst
            FROM lineitem WHERE l_quantity = 1),
sym AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
s0 AS (SELECT DISTINCT ('p' || l_partkey) || '#' || w AS walk_id,
                       'p' || l_partkey AS node
       FROM lineitem, (VALUES (0), (1)) t(w) WHERE l_partkey < 20),
s1 AS (SELECT s0.walk_id, s.dst AS node FROM s0 JOIN sym s ON s.src = s0.node
       QUALIFY ROW_NUMBER() OVER (PARTITION BY s0.walk_id
                ORDER BY md5(s0.walk_id || '/1/' || s.dst)) = 1),
s2 AS (SELECT s1.walk_id, s.dst AS node FROM s1 JOIN sym s ON s.src = s1.node
       QUALIFY ROW_NUMBER() OVER (PARTITION BY s1.walk_id
                ORDER BY md5(s1.walk_id || '/2/' || s.dst)) = 1),
s3 AS (SELECT s2.walk_id, s.dst AS node FROM s2 JOIN sym s ON s.src = s2.node
       QUALIFY ROW_NUMBER() OVER (PARTITION BY s2.walk_id
                ORDER BY md5(s2.walk_id || '/3/' || s.dst)) = 1)
SELECT walk_id, step, node FROM (
  SELECT walk_id, 0 AS step, node FROM s0
  UNION ALL SELECT walk_id, 1, node FROM s1
  UNION ALL SELECT walk_id, 2, node FROM s2
  UNION ALL SELECT walk_id, 3, node FROM s3
) ORDER BY walk_id, step
"""


def _q_partsupp_skipgrams(spark, sf_dir):
    """Skip-gram training pairs (window 2) from the same deterministic
    walk corpus as `partsupp_walks` — the DeepWalk word2vec input. The
    SQL oracle recomputes the walks step by step, then self-joins the
    step table within the window."""
    from knowledge_graph_spark.operators.kg_export import (
        random_walks, skipgram_pairs,
    )

    li = _t(spark, sf_dir, "lineitem")
    edges = li.filter(F.col("l_quantity") == 1).select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    starts = li.filter(F.col("l_partkey") < 20).select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("id")).distinct()
    walks = random_walks(edges, length=3, n_walks=2, sources=starts)
    return skipgram_pairs(walks, window=2).orderBy("center", "context")


_SQL_PARTSUPP_SKIPGRAMS = r"""
WITH e0 AS (SELECT DISTINCT 'p' || l_partkey AS src, 's' || l_suppkey AS dst
            FROM lineitem WHERE l_quantity = 1),
sym AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
s0 AS (SELECT DISTINCT ('p' || l_partkey) || '#' || w AS walk_id,
                       'p' || l_partkey AS node
       FROM lineitem, (VALUES (0), (1)) t(w) WHERE l_partkey < 20),
s1 AS (SELECT s0.walk_id, s.dst AS node FROM s0 JOIN sym s ON s.src = s0.node
       QUALIFY ROW_NUMBER() OVER (PARTITION BY s0.walk_id
                ORDER BY md5(s0.walk_id || '/1/' || s.dst)) = 1),
s2 AS (SELECT s1.walk_id, s.dst AS node FROM s1 JOIN sym s ON s.src = s1.node
       QUALIFY ROW_NUMBER() OVER (PARTITION BY s1.walk_id
                ORDER BY md5(s1.walk_id || '/2/' || s.dst)) = 1),
s3 AS (SELECT s2.walk_id, s.dst AS node FROM s2 JOIN sym s ON s.src = s2.node
       QUALIFY ROW_NUMBER() OVER (PARTITION BY s2.walk_id
                ORDER BY md5(s2.walk_id || '/3/' || s.dst)) = 1),
steps AS (
  SELECT walk_id, 0 AS step, node FROM s0
  UNION ALL SELECT walk_id, 1, node FROM s1
  UNION ALL SELECT walk_id, 2, node FROM s2
  UNION ALL SELECT walk_id, 3, node FROM s3
)
SELECT a.node AS center, b.node AS context, COUNT(*) AS n_pairs
FROM steps a JOIN steps b
  ON a.walk_id = b.walk_id AND a.step <> b.step
 AND abs(a.step - b.step) <= 2
GROUP BY a.node, b.node
ORDER BY center, context
"""


def _q_embedding_label_centroids(spark, sf_dir):
    """Vector aggregate: per-label mean embedding norm + count (array
    math JVM-side; DuckDB mirrors with list_aggregate)."""
    emb = _t(spark, sf_dir, "embeddings")
    norm = F.expr(
        "sqrt(aggregate(embedding, cast(0.0 as double), (a, x) -> a + cast(x as double) * x))"
    )
    return (
        emb.select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("norm"), 4).alias("avg_norm"),
        )
        .orderBy("label")
    )


_SQL_EMB_CENTROIDS = """
SELECT label, COUNT(*) AS n_vecs,
       ROUND(AVG(sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum'))), 4) AS avg_norm
FROM embeddings GROUP BY label ORDER BY label
"""


# ---------------------------------------------------------------------------
# hash-sketch queries — oracled against PINNED GOLDEN PARQUET computed by
# an independent pure-Python twin of the engine (tools/make_goldens.py:
# kernel reused as-is, every Spark-side operator reimplemented with plain
# dicts/sets + the xxhash64 twin). DuckDB reads the pinned files; valid
# at the driver's correctness scale (sf0.01), which the sketch inputs
# are derived from.
# ---------------------------------------------------------------------------

_GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "tests", "golden_tables"
)


def _golden_sql(name: str, order_by: str) -> str:
    return (
        f"SELECT * FROM read_parquet('{_GOLDEN_DIR}/{name}.parquet') "
        f"ORDER BY {order_by}"
    )


def _q_minhash_pairs(spark, sf_dir):
    from knowledge_graph_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs_with_dups(spark, sf_dir)).orderBy("id_a", "id_b")


def _q_dedup_near_survivors(spark, sf_dir):
    """Full near-dup dedup pipeline: LSH candidates -> exact word-3-gram
    Jaccard >= 0.7 -> connected components -> min-id survivor per
    component. Oracled against the pure-Python twin's golden."""
    from knowledge_graph_spark.operators.dedup import dedup_minhash

    return (
        dedup_minhash(_docs_with_dups(spark, sf_dir), threshold=0.7)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def _q_simhash_neardups(spark, sf_dir):
    from knowledge_graph_spark.operators.dedup import simhash_near_duplicates

    return simhash_near_duplicates(
        _docs_with_dups(spark, sf_dir), max_hamming=3
    ).orderBy("id_a", "id_b")


def _q_fingerprints(spark, sf_dir):
    from knowledge_graph_spark.operators.textstats import with_fingerprint

    return (
        with_fingerprint(_t(spark, sf_dir, "documents"))
        .select("doc_id", "content_hash", "fingerprint")
        .orderBy("doc_id")
    )


_EMB_STATS: dict[str, tuple[int, int]] = {}


def _emb_stats(sf_dir: str) -> tuple[int, int]:
    """(n_vectors, dim) of the embeddings table from parquet footers —
    the catalog-stats stand-in (zero Spark jobs; production reads these
    from Iceberg table metadata)."""
    if sf_dir not in _EMB_STATS:
        import pyarrow.parquet as pq

        path = os.path.join(sf_dir, "embeddings.parquet")
        files = []
        if os.path.isdir(path):
            for root, _d, fs in os.walk(path):
                files += [os.path.join(root, f) for f in fs
                          if f.endswith(".parquet")]
        else:
            files = [path]
        n = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        first = pq.ParquetFile(files[0]).read_row_group(0, columns=["embedding"])
        dim = len(first.column(0)[0])
        _EMB_STATS[sf_dir] = (n, dim)
    return _EMB_STATS[sf_dir]


def _q_embedding_neardups(spark, sf_dir):
    from knowledge_graph_spark.operators.dedup import embedding_near_duplicates

    emb = _t(spark, sf_dir, "embeddings")
    clones = emb.filter(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    # corpus size known without a job: footer count + exact clone count
    # (vec_id is contiguous 0..n-1, so multiples of 100 = floor((n-1)/100)+1)
    n, dim = _emb_stats(sf_dir)
    n_total = n + (n - 1) // 100 + 1
    return (
        embedding_near_duplicates(emb.unionByName(clones), threshold=0.999,
                                  n_vectors=n_total, dim=dim)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


def _q_media_frames(spark, sf_dir):
    """Multimodal frame sampling: one row per sampled frame index
    (every 24th) of every decodable synthetic video — the enumeration
    every video-training data loader needs, JVM-side sequence+explode
    (only the stubbed decode is Python). Golden-twin oracled."""
    from knowledge_graph_spark.operators.multimodal import (
        sample_frames, synthetic_media,
    )

    return (sample_frames(synthetic_media(spark, 90), every_n=24)
            .orderBy("media_id", "frame_idx"))


def _q_media_metadata(spark, sf_dir):
    """Multimodal plumbing: deterministic synthetic media -> Arrow-
    batched metadata decode, summarized per kind. The codec is a
    deterministic stub (no image/audio libs in the sandbox); the
    Spark-side schema/batching/error-capture path is fully real."""
    from knowledge_graph_spark.operators.multimodal import (
        decode_metadata, synthetic_media,
    )

    media = synthetic_media(spark, 90)
    return (
        decode_metadata(media)
        .groupBy("kind")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_ok"),
            F.max("width").alias("max_width"),
            F.max("sample_rate").alias("max_sample_rate"),
        )
        .orderBy("kind")
    )


def _q_media_features(spark, sf_dir):
    """Media feature vectors -> similarity search over them: the
    multimodal output feeds the generic ANN operator unchanged."""
    from knowledge_graph_spark.operators.multimodal import (
        extract_features, synthetic_media,
    )
    from knowledge_graph_spark.operators.simsearch import brute_force_topk

    feats = extract_features(synthetic_media(spark, 60))
    queries = feats.filter(F.col("media_id") < 3).select(
        F.col("media_id").alias("query_id"), F.col("feature").alias("query_vec")
    )
    return (
        brute_force_topk(feats, queries, k=3, id_col="media_id",
                         vec_col="feature")
        .select("query_id", "rank", F.col("vec_id").alias("media_id"),
                F.round("cosine", 4).alias("cosine"))
        .orderBy("query_id", "rank")
    )


def _q_ivf_topk(spark, sf_dir):
    """IVF with n_probe = n_cells: the index/probe machinery runs in
    full (train, assign, per-query cell ranking, candidate scan) and the
    result is provably the exact top-k — which gives this query a real
    DuckDB oracle. Pruned-probe recall (n_probe < n_cells) is covered by
    tests/test_dedup_textstats.py::test_ivf_recall_vs_brute_force."""
    from knowledge_graph_spark.operators.simsearch import ivf_index, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assign, cent = ivf_index(emb, n_cells=8, n_iter=2)
    return (
        ivf_topk(assign, cent, queries, k=5, n_probe=8)
        .select("query_id", "rank", "vec_id", F.round("cosine", 4).alias("cosine"))
        .orderBy("query_id", "rank")
    )


_SQL_IVF_TOPK = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
           FROM embeddings WHERE vec_id < 4),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec) AS cos,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
                            ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec) DESC,
                                     e.vec_id) AS rank
  FROM embeddings e CROSS JOIN q
)
SELECT query_id, rank, vec_id, ROUND(cos, 4) AS cosine
FROM scored WHERE rank <= 5
ORDER BY query_id, rank
"""

_SQL_EMBEDDING_NEARDUPS = """
WITH allv AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 100 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.v, b.v), 4) AS cosine
FROM allv a JOIN allv b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.999
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# KG pipeline queries (extraction kernel is non-SQL -> pinned-golden oracles)
# ---------------------------------------------------------------------------


def _q_kg_triples(spark, sf_dir):
    wh = _warehouse(spark, sf_dir)
    return (
        wh.triples.read(spark)
        .select("url", "subj", "pred", "obj")
        .orderBy("url", "subj", "pred", "obj")
    )


def _q_kg_entities(spark, sf_dir):
    from knowledge_graph_spark.operators.extraction import entities_table

    wh = _warehouse(spark, sf_dir)
    return (
        entities_table(wh.extracted.read(spark))
        .orderBy("url", "id")
    )


def _q_kg_graph_links(spark, sf_dir):
    from knowledge_graph_spark.operators.queries import graph_links

    wh = _warehouse(spark, sf_dir)
    return graph_links(
        wh.nodes.read(spark), wh.edges.read(spark), _KG_GRAPH_ID
    ).orderBy("src", "dst", "rel_type")


def _q_kg_degrees(spark, sf_dir):
    """Hub analysis: per graph-A node, out/in/total degree with the
    display name (twin-golden oracled)."""
    from knowledge_graph_spark.operators.queries import node_degrees

    wh = _warehouse(spark, sf_dir)
    return node_degrees(
        wh.nodes.read(spark), wh.edges.read(spark), _KG_GRAPH_ID
    ).orderBy("id")


def _q_kg_pagerank(spark, sf_dir):
    """PageRank over graph A (10 rounds, d=0.85, dangling mass
    redistributed) — twin-golden oracled to 6 dp."""
    from knowledge_graph_spark.operators.graph_analytics import pagerank

    wh = _warehouse(spark, sf_dir)
    edges = wh.edges.read(spark).filter(F.col("graph_id") == _KG_GRAPH_ID)
    return (
        pagerank(edges)
        .select("id", F.round("rank", 6).alias("rank"))
        .orderBy("id")
    )


def _q_kg_ppr(spark, sf_dir):
    """Personalized PageRank around graph A's 5 smallest node ids
    (10 rounds, d=0.85, teleport + dangling mass to the seeds) —
    seed-relative entity importance; twin-golden oracled to 6 dp."""
    from knowledge_graph_spark.operators.graph_analytics import (
        personalized_pagerank,
    )

    wh = _warehouse(spark, sf_dir)
    edges = wh.edges.read(spark).filter(F.col("graph_id") == _KG_GRAPH_ID)
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    seeds = nodes.orderBy("id").limit(5)
    return (
        personalized_pagerank(edges, seeds)
        .select("id", F.round("rank", 6).alias("rank"))
        .orderBy("id")
    )


def _q_lpa_modularity(spark, sf_dir):
    """Community quality: Newman modularity decomposition of the LPA
    communities over the order↔part graph. The engine recomputes the
    communities; the oracle reads the PINNED twin communities and
    recomputes every contribution in SQL from raw lineitem — so both
    the propagation and the modularity algebra are checked."""
    from knowledge_graph_spark.operators.graph_analytics import (
        label_propagation, modularity,
    )

    li = _t(spark, sf_dir, "lineitem")
    edges = li.filter(F.col("l_quantity") == 1).select(
        (F.col("l_orderkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
    )
    comm = label_propagation(edges)
    return (
        modularity(edges, comm)
        # + 0.0 normalizes IEEE -0.0 (ROUND of a tiny negative) to +0.0
        # so both engines hash identically
        .select("label", "n_nodes", "internal_edges", "degree_sum",
                (F.round("contribution", 6) + F.lit(0.0))
                .alias("contribution"))
        .orderBy("label")
    )


_SQL_LPA_MODULARITY_TMPL = r"""
WITH e0 AS (
  SELECT DISTINCT least(l_orderkey * 2, l_partkey * 2 + 1) AS a,
                  greatest(l_orderkey * 2, l_partkey * 2 + 1) AS b
  FROM lineitem WHERE l_quantity = 1
),
lab AS (SELECT id, label FROM read_parquet('{golden}/lpa_communities.parquet')),
mm AS (SELECT COUNT(*) AS m FROM e0),
deg AS (SELECT nid, COUNT(*) AS d FROM (
          SELECT a AS nid FROM e0 UNION ALL SELECT b FROM e0)
        GROUP BY 1),
internal AS (
  SELECT la.label, COUNT(*) AS internal_edges
  FROM e0 JOIN lab la ON la.id = e0.a
          JOIN lab lb ON lb.id = e0.b AND lb.label = la.label
  GROUP BY 1
),
dsum AS (
  SELECT lab.label, COUNT(*) AS n_nodes, SUM(deg.d) AS degree_sum
  FROM lab JOIN deg ON deg.nid = lab.id
  GROUP BY 1
)
SELECT ds.label, ds.n_nodes,
       COALESCE(i.internal_edges, 0) AS internal_edges,
       CAST(ds.degree_sum AS BIGINT) AS degree_sum,
       ROUND(COALESCE(i.internal_edges, 0) / CAST(mm.m AS DOUBLE)
             - (ds.degree_sum / (2.0 * mm.m)) ^ 2, 6) + 0.0
         AS contribution
FROM dsum ds LEFT JOIN internal i ON i.label = ds.label CROSS JOIN mm
ORDER BY ds.label
"""


def _q_kg_triangles(spark, sf_dir):
    """Per-node triangle participation over graph A (degree-ordered
    wedge join; twin-golden oracled)."""
    from knowledge_graph_spark.operators.graph_analytics import triangle_counts

    wh = _warehouse(spark, sf_dir)
    edges = wh.edges.read(spark).filter(F.col("graph_id") == _KG_GRAPH_ID)
    return triangle_counts(edges).orderBy("id")


def _q_kg_clustering(spark, sf_dir):
    """Local clustering coefficient over graph A — per node, degree,
    triangle count and 2t/(d(d-1)); separates boilerplate hubs (coeff
    ~0) from tight entity cliques (coeff ~1). Twin-golden oracled."""
    from knowledge_graph_spark.operators.graph_analytics import (
        clustering_coefficient,
    )

    wh = _warehouse(spark, sf_dir)
    edges = wh.edges.read(spark).filter(F.col("graph_id") == _KG_GRAPH_ID)
    return (
        clustering_coefficient(edges)
        .select("id", "degree", "triangles",
                F.round("coeff", 6).alias("coeff"))
        .orderBy("id")
    )


def _q_kg_kcore(spark, sf_dir):
    """2-core of graph A (nodes surviving iterative degree-<2 peeling
    with their in-core degree) — the cycle skeleton of the extracted
    graph; twin-golden oracled."""
    from knowledge_graph_spark.operators.graph_analytics import k_core

    wh = _warehouse(spark, sf_dir)
    edges = wh.edges.read(spark).filter(F.col("graph_id") == _KG_GRAPH_ID)
    return k_core(edges, 2).orderBy("id")


def _q_kg_ktruss(spark, sf_dir):
    """3-truss of graph A (edges closing >= 1 in-subgraph triangle
    after iterative support peeling, with their in-truss support) —
    edge-level cohesion one notch above the 2-core: spurious
    extracted relations rarely close triangles with real ones, so
    they peel out while genuine entity cliques survive. Twin-golden
    oracled."""
    from knowledge_graph_spark.operators.graph_analytics import k_truss

    wh = _warehouse(spark, sf_dir)
    edges = wh.edges.read(spark).filter(F.col("graph_id") == _KG_GRAPH_ID)
    return (k_truss(edges, 3)
            .select(F.col("a").alias("src"), F.col("b").alias("dst"),
                    "support")
            .orderBy("src", "dst"))


def _q_kg_hits(spark, sf_dir):
    """Hubs/authorities over graph A (Kleinberg HITS, 10 L2-normalized
    rounds) — twin-golden oracled to 6 dp."""
    from knowledge_graph_spark.operators.graph_analytics import hits

    wh = _warehouse(spark, sf_dir)
    edges = wh.edges.read(spark).filter(F.col("graph_id") == _KG_GRAPH_ID)
    return (
        hits(edges)
        .select("id", F.round("hub", 6).alias("hub"),
                F.round("authority", 6).alias("authority"))
        .orderBy("id")
    )


def _q_kg_training_triples(spark, sf_dir):
    """KG → training export: (h_id, r_id, t_id, k, neg_t_id) with
    deterministic dense ids and 2 hashed negative tails per positive —
    twin-golden oracled (bucket id construction + xxh64 twin)."""
    from knowledge_graph_spark.operators.kg_export import training_triples

    wh = _warehouse(spark, sf_dir)
    edges = wh.edges.read(spark).filter(F.col("graph_id") == _KG_GRAPH_ID)
    return training_triples(edges, negatives=2).orderBy(
        "h_id", "r_id", "t_id", "k")


def _q_kg_keyword_search(spark, sf_dir):
    from knowledge_graph_spark.operators.queries import search_entities_by_keyword

    wh = _warehouse(spark, sf_dir)
    return (
        search_entities_by_keyword(wh.nodes.read(spark), "user_001", "公司")
        .select("graph_id", "id", "name", "type")
        .orderBy("id")
    )


def _q_kg_user_graphs(spark, sf_dir):
    from knowledge_graph_spark.operators.queries import query_graphs_by_user

    wh = _warehouse(spark, sf_dir)
    out = query_graphs_by_user(
        wh.nodes.read(spark), wh.edges.read(spark), "user_001"
    )
    return out.select(
        "graph_id",
        F.size("nodes").cast("long").alias("n_nodes"),
        F.size("links").cast("long").alias("n_links"),
    ).orderBy("graph_id")


def _q_kg_all_graphs(spark, sf_dir):
    """Q5 (no user filter) — same aggregation shape as Q4 over every
    graph; the two-graph corpus gives it its own 2-row golden, distinct
    from Q4's user-filtered result."""
    from knowledge_graph_spark.operators.queries import query_all_graphs

    wh = _warehouse(spark, sf_dir)
    out = query_all_graphs(wh.nodes.read(spark), wh.edges.read(spark))
    return out.select(
        "graph_id",
        F.size("nodes").cast("long").alias("n_nodes"),
        F.size("links").cast("long").alias("n_links"),
    ).orderBy("graph_id")


def _q_kg_canonical_entities(spark, sf_dir):
    wh = _warehouse(spark, sf_dir)
    nodes = wh.nodes.read(spark)
    return (
        nodes.groupBy("canonical_id")
        .agg(
            F.countDistinct("name").alias("n_surface_forms"),
            F.count("*").alias("n_mentions"),
        )
        .filter(F.col("n_surface_forms") > 1)
        .orderBy("canonical_id")
    )


def _q_kg_dropped_relations(spark, sf_dir):
    wh = _warehouse(spark, sf_dir)
    return (
        wh.dropped.read(spark)
        .groupBy("reason", "type")
        .agg(F.count("*").alias("n_dropped"))
        .orderBy("reason", "type")
    )


def _q_kg_detach_delete(spark, sf_dir):
    """Q8 DETACH DELETE semantics, evaluated non-destructively: the
    surviving node/edge counts after deleting graph A — with the
    two-graph corpus the survivors are graph B's non-trivial counts
    (computed independently by the pure-Python twin), plus a
    dangling-endpoint check (must be 0): a DETACH bug that leaves
    orphans of ANOTHER graph is now visible."""
    from knowledge_graph_spark.operators.queries import clear_graph_by_id

    wh = _warehouse(spark, sf_dir)
    nodes, edges = wh.nodes.read(spark), wh.edges.read(spark)
    kept_n, kept_e = clear_graph_by_id(nodes, edges, _KG_GRAPH_ID)
    dangling = kept_e.join(
        kept_n.select("graph_id", F.col("id").alias("src")).distinct(),
        on=["graph_id", "src"], how="left_anti",
    )
    return spark.createDataFrame(
        [(kept_n.count(), kept_e.count(), dangling.count())],
        "surviving_nodes long, surviving_edges long, dangling_edges long",
    )


def _q_kg_clear_user(spark, sf_dir):
    """Q9: per-user delete, non-destructive counts — user_001's death
    must leave exactly user_002's graph standing (twin-computed
    golden)."""
    from knowledge_graph_spark.operators.queries import clear_graphs_by_user

    wh = _warehouse(spark, sf_dir)
    kept_n, kept_e = clear_graphs_by_user(
        wh.nodes.read(spark), wh.edges.read(spark), "user_001"
    )
    return spark.createDataFrame(
        [(kept_n.count(), kept_e.count())],
        "surviving_nodes long, surviving_edges long",
    )


def _q_entity_salience(spark, sf_dir):
    """Per-document entity salience (Gamon et al. 2013: mention
    frequency + first-mention position are the load-bearing features)
    against a 6-entry dictionary whose keys occur NATURALLY in the
    corpus vocabulary, so mention counts and first positions vary per
    document. The oracle replays the tokenizer (lower + non-alnum
    split with 0-based positions), the dictionary join, and the
    (mentions DESC, first_pos ASC, entity ASC) rank."""
    from knowledge_graph_spark.operators.linking import entity_salience

    docs = _t(spark, sf_dir, "documents")
    ents = spark.createDataFrame(
        [("spark",), ("table",), ("join",), ("scan",), ("window",),
         ("customer",)], "entity string")
    return entity_salience(docs, ents).orderBy("doc_id", "rank")


_SQL_ENTITY_SALIENCE = r"""
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+') AS a
  FROM documents
),
toks AS (
  SELECT doc_id, i - 1 AS pos, a[i] AS token
  FROM (SELECT doc_id, a, unnest(generate_series(1, len(a))) AS i
        FROM t)
),
d(entity) AS (VALUES ('spark'), ('table'), ('join'), ('scan'),
                     ('window'), ('customer')),
per AS (
  SELECT doc_id, token AS entity,
         CAST(count(*) AS BIGINT) AS n_mentions,
         CAST(min(pos) + 1 AS BIGINT) AS first_pos
  FROM toks JOIN d ON toks.token = d.entity
  GROUP BY doc_id, token
)
SELECT doc_id, entity, n_mentions, first_pos,
       CAST(row_number() OVER (
              PARTITION BY doc_id
              ORDER BY n_mentions DESC, first_pos ASC, entity ASC)
            AS BIGINT) AS "rank"
FROM per
ORDER BY doc_id, "rank"
"""


def _q_infobox(spark, sf_dir):
    """Infobox-style triple harvest (the DBpedia shape — Lehmann et
    al. 2015): the web_tables injection (a two-column Metric/Value
    pipe table per doc, plus every 5th doc's second table whose
    ragged data row also spans two columns and so qualifies) is
    pivoted into (page_subject, attribute, value) triples; subjects
    rotate over 11 synthetic page anchors. The oracle wraps the full
    web_tables replay as a subquery and re-applies the width
    qualifier, the key/value pivot, and the subject attach."""
    from knowledge_graph_spark.operators.structured import (
        extract_tables, infobox_triples)

    docs = _t(spark, sf_dir, "documents")
    t1 = F.concat(
        F.lit("| Metric | Value |\n|---|---|\n| tokens | "),
        (F.col("doc_id") % 97).cast("string"),
        F.lit(" |\n| chars | "),
        (F.col("doc_id") % 13).cast("string"), F.lit(" |"),
    )
    t2 = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.lit("afterthought prose\n| K |\n| "),
                 (F.col("doc_id") % 3).cast("string"),
                 F.lit(" | extra |")),
    )
    pages = docs.select(
        "doc_id", F.concat_ws("\n", F.col("text"), t1, t2).alias("text"))
    subjects = docs.select(
        "doc_id",
        F.concat(F.lit("page-"), (F.col("doc_id") % 11).cast("string"))
        .alias("subj"))
    return (infobox_triples(extract_tables(pages), subjects)
            .orderBy("doc_id", "key"))


_SQL_INFOBOX = (
    "WITH cells AS (\n" + _SQL_WEB_TABLES + "),\n"
    + r"""
w AS (SELECT doc_id, table_id, max(col_idx) AS mw
      FROM cells GROUP BY doc_id, table_id),
kv AS (
  SELECT c.doc_id, c.table_id, c.row_idx,
         max(CASE WHEN c.col_idx = 0 THEN c.cell END) AS "key",
         max(CASE WHEN c.col_idx = 1 THEN c.cell END) AS "value"
  FROM cells c
  JOIN w ON c.doc_id = w.doc_id AND c.table_id = w.table_id
  WHERE w.mw = 1
  GROUP BY c.doc_id, c.table_id, c.row_idx
)
SELECT doc_id, 'page-' || (doc_id % 11) AS subj, "key", "value"
FROM kv
WHERE "key" <> '' AND "value" IS NOT NULL
ORDER BY doc_id, "key"
""")


def _q_type_check(spark, sf_dir):
    """Ontology domain/range validation: synthetic triples over a
    10-entity typed vocabulary (one entity deliberately multi-typed),
    an unconstrained predicate (vacuous pass with NULL flags), and
    every 5th doc an UNTYPED subject that must fail strict mode. The
    oracle replays the type-set fold, both attachments, and the
    three-valued flag algebra."""
    from knowledge_graph_spark.operators.fusion import type_check_triples

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    e = lambda m: F.concat(F.lit("e"), (k % m).cast("string"))
    t1 = F.struct(e(10).alias("subj"), F.lit("employs").alias("pred"),
                  e(7).alias("obj"))
    t2 = F.struct(e(10).alias("subj"), F.lit("likes").alias("pred"),
                  e(3).alias("obj"))
    t3 = F.when(k % 5 == 0, F.struct(
        F.concat(F.lit("u"), (k % 4).cast("string")).alias("subj"),
        F.lit("employs").alias("pred"), e(6).alias("obj")))
    triples = (docs.select(F.explode(F.array(t1, t2, t3)).alias("t"))
               .filter(F.col("t.subj").isNotNull())
               .select("t.subj", "t.pred", "t.obj"))
    ents = spark.createDataFrame(
        [(f"e{i}", "Org" if i % 2 == 0 else "Person")
         for i in range(10)] + [("e2", "Person")],
        "entity string, type string")
    cons = spark.createDataFrame(
        [("employs", "Org", "Person"), ("acquired", "Org", "Org")],
        "pred string, domain string, range string")
    return (type_check_triples(triples, ents, cons)
            .orderBy("subj", "pred", "obj", "ok"))


_SQL_TYPE_CHECK = r"""
WITH tr AS (
  SELECT 'e' || (doc_id % 10) AS subj, 'employs' AS pred,
         'e' || (doc_id % 7) AS obj
  FROM documents
  UNION ALL
  SELECT 'e' || (doc_id % 10), 'likes', 'e' || (doc_id % 3)
  FROM documents
  UNION ALL
  SELECT 'u' || (doc_id % 4), 'employs', 'e' || (doc_id % 6)
  FROM documents WHERE doc_id % 5 = 0
),
et(entity, typ) AS (VALUES
  ('e0','Org'), ('e1','Person'), ('e2','Org'), ('e3','Person'),
  ('e4','Org'), ('e5','Person'), ('e6','Org'), ('e7','Person'),
  ('e8','Org'), ('e9','Person'), ('e2','Person')),
tl AS (SELECT entity, list(DISTINCT typ) AS types
       FROM et GROUP BY entity),
c(pred, dom, rng) AS (VALUES ('employs', 'Org', 'Person'),
                             ('acquired', 'Org', 'Org'))
SELECT tr.subj AS subj, tr.pred AS pred, tr.obj AS obj,
  CASE WHEN c.dom IS NOT NULL
       THEN COALESCE(list_contains(ts.types, c.dom), false)
  END AS domain_ok,
  CASE WHEN c.rng IS NOT NULL
       THEN COALESCE(list_contains(tos.types, c.rng), false)
  END AS range_ok,
  (COALESCE(CASE WHEN c.dom IS NOT NULL
     THEN COALESCE(list_contains(ts.types, c.dom), false) END, true)
   AND
   COALESCE(CASE WHEN c.rng IS NOT NULL
     THEN COALESCE(list_contains(tos.types, c.rng), false) END, true))
    AS ok
FROM tr
LEFT JOIN c ON tr.pred = c.pred
LEFT JOIN tl ts ON tr.subj = ts.entity
LEFT JOIN tl tos ON tr.obj = tos.entity
ORDER BY tr.subj, tr.pred, tr.obj, ok
"""


def _q_polarity(spark, sf_dir):
    """Negation-scoped relation extraction: every doc asserts a
    rotating positive 'X acquired Y', every 2nd doc a negated 'X did
    not acquire Z', every 3rd a 'never'-cued buy and every 5th a
    merge with the optional 'with' particle. The oracle replays the
    shared regex, the tense-folding lemma CASE, and the cue flag."""
    from knowledge_graph_spark.operators.patterns import (
        polarity_triples)

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")

    def pick(arr, m):
        return F.element_at(
            F.array(*[F.lit(x) for x in arr]), (k % m + 1).cast("int"))

    a = pick(("Acme", "Globex", "Initech"), 3)
    b = pick(("Zeta", "Omni"), 2)
    inj = F.concat_ws(
        " ", F.col("text"),
        a, F.lit("acquired"), b,
        F.when(k % 2 == 0, F.concat_ws(
            " ", a, F.lit("did not acquire Hooli"))),
        F.when(k % 3 == 0, F.concat_ws(
            " ", b, F.lit("never bought"), a)),
        F.when(k % 5 == 0, F.concat_ws(
            " ", a, F.lit("merged with"), b)),
    )
    pages = docs.select("doc_id", inj.alias("text"))
    return (polarity_triples(pages)
            .orderBy("doc_id", "subj", "verb", "obj", "negated"))


_SQL_POLARITY = r"""
WITH inj AS (
  SELECT doc_id, concat_ws(' ', text,
    (['Acme','Globex','Initech'])[doc_id % 3 + 1], 'acquired',
    (['Zeta','Omni'])[doc_id % 2 + 1],
    CASE WHEN doc_id % 2 = 0 THEN
      (['Acme','Globex','Initech'])[doc_id % 3 + 1]
      || ' did not acquire Hooli' END,
    CASE WHEN doc_id % 3 = 0 THEN
      (['Zeta','Omni'])[doc_id % 2 + 1] || ' never bought '
      || (['Acme','Globex','Initech'])[doc_id % 3 + 1] END,
    CASE WHEN doc_id % 5 = 0 THEN
      (['Acme','Globex','Initech'])[doc_id % 3 + 1]
      || ' merged with ' || (['Zeta','Omni'])[doc_id % 2 + 1] END)
    AS text
  FROM documents
),
m AS (
  SELECT doc_id, unnest(regexp_extract_all(text,
    '([A-Za-z][A-Za-z0-9_-]*) (?:(did not|never|no longer) )?(acquired|acquire|bought|buy|sued|sue|hired|hire|merged|merge) (?:with )?([A-Za-z][A-Za-z0-9_-]*)',
    0)) AS m
  FROM inj
),
g AS (
  SELECT doc_id,
    regexp_extract(m, '([A-Za-z][A-Za-z0-9_-]*) (?:(did not|never|no longer) )?(acquired|acquire|bought|buy|sued|sue|hired|hire|merged|merge) (?:with )?([A-Za-z][A-Za-z0-9_-]*)', 1) AS subj,
    regexp_extract(m, '([A-Za-z][A-Za-z0-9_-]*) (?:(did not|never|no longer) )?(acquired|acquire|bought|buy|sued|sue|hired|hire|merged|merge) (?:with )?([A-Za-z][A-Za-z0-9_-]*)', 2) AS cue,
    regexp_extract(m, '([A-Za-z][A-Za-z0-9_-]*) (?:(did not|never|no longer) )?(acquired|acquire|bought|buy|sued|sue|hired|hire|merged|merge) (?:with )?([A-Za-z][A-Za-z0-9_-]*)', 3) AS v,
    regexp_extract(m, '([A-Za-z][A-Za-z0-9_-]*) (?:(did not|never|no longer) )?(acquired|acquire|bought|buy|sued|sue|hired|hire|merged|merge) (?:with )?([A-Za-z][A-Za-z0-9_-]*)', 4) AS obj
  FROM m
)
SELECT doc_id, subj,
  CASE v WHEN 'acquired' THEN 'acquire' WHEN 'acquire' THEN 'acquire'
         WHEN 'bought' THEN 'buy' WHEN 'buy' THEN 'buy'
         WHEN 'sued' THEN 'sue' WHEN 'sue' THEN 'sue'
         WHEN 'hired' THEN 'hire' WHEN 'hire' THEN 'hire'
         ELSE 'merge' END AS verb,
  obj, (cue <> '') AS negated
FROM g
ORDER BY doc_id, subj, verb, obj, negated
"""


def _q_quantities(spark, sf_dir):
    """Quantity extraction over injected measurements: comma-grouped
    integers, decimal + scale-word forms, bare '%' (normalizes to
    'percent'), and a unitless number that must NOT match. The oracle
    replays the shared RE2 pattern, the comma strip, the scale fold,
    and the integer-thousandths arithmetic."""
    from knowledge_graph_spark.operators.measures import (
        extract_quantities)

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    inj = F.concat(
        F.col("text"),
        F.lit(" raised 1,"),
        F.lpad((k % 1000).cast("string"), 3, "0"),
        F.lit(" dollars and grew "),
        (k % 90).cast("string"), F.lit("% serving "),
        (k % 9).cast("string"), F.lit("."), (k % 10).cast("string"),
        F.lit(" million users across "),
        (k % 40).cast("string"), F.lit(" km plus "),
        (k % 5).cast("string"), F.lit(" unmatched widgets"),
    )
    pages = docs.select("doc_id", inj.alias("text"))
    return extract_quantities(pages).orderBy(
        "doc_id", "raw", "unit", "value_milli")


_SQL_QUANTITIES = r"""
WITH inj AS (
  SELECT doc_id,
    text || ' raised 1,' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
    || ' dollars and grew ' || (doc_id % 90) || '% serving '
    || (doc_id % 9) || '.' || (doc_id % 10)
    || ' million users across ' || (doc_id % 40)
    || ' km plus ' || (doc_id % 5) || ' unmatched widgets' AS text
  FROM documents
),
m AS (
  SELECT doc_id, unnest(regexp_extract_all(text,
    '(\d+(?:,\d{3})*(?:\.\d+)?) ?(thousand|million|billion)? ?(km|kg|percent|users|people|dollars|%)',
    0)) AS raw
  FROM inj
),
g AS (
  SELECT doc_id, raw,
    replace(regexp_extract(raw,
      '(\d+(?:,\d{3})*(?:\.\d+)?) ?(thousand|million|billion)? ?(km|kg|percent|users|people|dollars|%)',
      1), ',', '') AS mantissa,
    regexp_extract(raw,
      '(\d+(?:,\d{3})*(?:\.\d+)?) ?(thousand|million|billion)? ?(km|kg|percent|users|people|dollars|%)',
      2) AS sw,
    regexp_extract(raw,
      '(\d+(?:,\d{3})*(?:\.\d+)?) ?(thousand|million|billion)? ?(km|kg|percent|users|people|dollars|%)',
      3) AS unit
  FROM m
)
SELECT doc_id, raw, mantissa,
       CASE WHEN sw <> '' THEN sw END AS scale_word,
       CASE WHEN unit = '%' THEN 'percent' ELSE unit END AS unit,
       TRY_CAST(round(TRY_CAST(mantissa AS DECIMAL(32,6))
         * CASE sw WHEN 'thousand' THEN 1000
                   WHEN 'million' THEN 1000000
                   WHEN 'billion' THEN 1000000000 ELSE 1 END
         * 1000, 0) AS BIGINT) AS value_milli
FROM g
ORDER BY doc_id, raw, unit, value_milli
"""


def _q_comparatives(spark, sf_dir):
    """Comparative-relation mining with antonym folding: every doc
    asserts a rotating 'X is faster than Y', every 2nd doc asserts
    the SAME fact in slower-than form (must fold onto one canonical
    edge and add support), and every 5th doc asserts a quality edge.
    The oracle replays the regex, the antonym swap, and the census."""
    from knowledge_graph_spark.operators.patterns import (
        comparative_edges)

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")

    def pick(arr, m):
        return F.element_at(
            F.array(*[F.lit(x) for x in arr]), (k % m + 1).cast("int"))

    fast = pick(("redis", "duckdb", "spark"), 3)
    slow = pick(("postgres", "mysql"), 2)
    inj = F.concat_ws(
        " ", F.col("text"),
        fast, F.lit("is faster than"), slow,
        F.when(k % 2 == 0, F.concat_ws(
            " ", slow, F.lit("is slower than"), fast)),
        F.when(k % 5 == 0, F.concat_ws(
            " ", fast, F.lit("is worse than"), slow)),
    )
    pages = docs.select("doc_id", inj.alias("text"))
    return comparative_edges(pages).orderBy(
        "superior", "dimension", "inferior")


_SQL_COMPARATIVES = r"""
WITH inj AS (
  SELECT doc_id, concat_ws(' ', text,
    (['redis','duckdb','spark'])[doc_id % 3 + 1], 'is faster than',
    (['postgres','mysql'])[doc_id % 2 + 1],
    CASE WHEN doc_id % 2 = 0 THEN
      (['postgres','mysql'])[doc_id % 2 + 1] || ' is slower than '
      || (['redis','duckdb','spark'])[doc_id % 3 + 1] END,
    CASE WHEN doc_id % 5 = 0 THEN
      (['redis','duckdb','spark'])[doc_id % 3 + 1]
      || ' is worse than '
      || (['postgres','mysql'])[doc_id % 2 + 1] END) AS text
  FROM documents
),
m AS (
  SELECT doc_id, unnest(regexp_extract_all(text,
    '([A-Za-z0-9_-]+) is (faster|slower|bigger|smaller|cheaper|pricier|better|worse) than ([A-Za-z0-9_-]+)',
    0)) AS m
  FROM inj
),
g AS (
  SELECT doc_id,
    regexp_extract(m, '([A-Za-z0-9_-]+) is (faster|slower|bigger|smaller|cheaper|pricier|better|worse) than ([A-Za-z0-9_-]+)', 1) AS l,
    regexp_extract(m, '([A-Za-z0-9_-]+) is (faster|slower|bigger|smaller|cheaper|pricier|better|worse) than ([A-Za-z0-9_-]+)', 2) AS c,
    regexp_extract(m, '([A-Za-z0-9_-]+) is (faster|slower|bigger|smaller|cheaper|pricier|better|worse) than ([A-Za-z0-9_-]+)', 3) AS r
  FROM m
),
canon AS (
  SELECT doc_id,
    CASE WHEN c IN ('faster','bigger','cheaper','better') THEN l
         ELSE r END AS superior,
    CASE WHEN c IN ('faster','slower') THEN 'speed'
         WHEN c IN ('bigger','smaller') THEN 'size'
         WHEN c IN ('cheaper','pricier') THEN 'cost'
         ELSE 'quality' END AS dimension,
    CASE WHEN c IN ('faster','bigger','cheaper','better') THEN r
         ELSE l END AS inferior
  FROM g
)
SELECT superior, dimension, inferior,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM canon
GROUP BY superior, dimension, inferior
ORDER BY superior, dimension, inferior
"""


def _q_coordination(spark, sf_dir):
    """Coordination sibling mining: a rotating 'A, B and C' list per
    doc (one item shared with the Hearst vocabulary), every 4th doc a
    duplicate-item list 'x, x, and y' whose self-pair must drop while
    its cross pairs survive. The oracle replays the regex, the
    3-pair expansion, the canonical orientation, and the census."""
    from knowledge_graph_spark.operators.patterns import (
        coordination_siblings)

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")

    def pick(arr, m):
        return F.element_at(
            F.array(*[F.lit(x) for x in arr]), (k % m + 1).cast("int"))

    a = pick(("Sparrows", "Oaks", "Salmon"), 3)
    b = pick(("crows", "ferns"), 2)
    inj = F.concat_ws(
        " ", F.col("text"),
        F.concat(a, F.lit(",")), b, F.lit("and trout."),
        F.when(k % 4 == 0, F.lit("dup, dup, and solo end")),
    )
    pages = docs.select("doc_id", inj.alias("text"))
    return coordination_siblings(pages).orderBy("item_a", "item_b")


_SQL_COORDINATION = r"""
WITH inj AS (
  SELECT doc_id, concat_ws(' ', text,
    (['Sparrows','Oaks','Salmon'])[doc_id % 3 + 1] || ',',
    (['crows','ferns'])[doc_id % 2 + 1], 'and trout.',
    CASE WHEN doc_id % 4 = 0 THEN 'dup, dup, and solo end' END)
    AS text
  FROM documents
),
m AS (
  SELECT doc_id, unnest(regexp_extract_all(text,
    '([A-Za-z][A-Za-z0-9_-]*), ([A-Za-z][A-Za-z0-9_-]*),? and ([A-Za-z][A-Za-z0-9_-]*)',
    0)) AS m
  FROM inj
),
g AS (
  SELECT doc_id,
    lower(regexp_extract(m, '([A-Za-z][A-Za-z0-9_-]*), ([A-Za-z][A-Za-z0-9_-]*),? and ([A-Za-z][A-Za-z0-9_-]*)', 1)) AS a,
    lower(regexp_extract(m, '([A-Za-z][A-Za-z0-9_-]*), ([A-Za-z][A-Za-z0-9_-]*),? and ([A-Za-z][A-Za-z0-9_-]*)', 2)) AS b,
    lower(regexp_extract(m, '([A-Za-z][A-Za-z0-9_-]*), ([A-Za-z][A-Za-z0-9_-]*),? and ([A-Za-z][A-Za-z0-9_-]*)', 3)) AS c
  FROM m
),
pairs AS (
  SELECT doc_id, least(a, b) AS item_a, greatest(a, b) AS item_b FROM g
  UNION ALL
  SELECT doc_id, least(a, c), greatest(a, c) FROM g
  UNION ALL
  SELECT doc_id, least(b, c), greatest(b, c) FROM g
)
SELECT item_a, item_b,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM pairs
WHERE item_a <> item_b
GROUP BY item_a, item_b
ORDER BY item_a, item_b
"""


def _q_coref(spark, sf_dir):
    """Recency-baseline pronoun resolution: every doc gets a leading
    'He said' (no antecedent yet — must drop) and a trailing 'it ...
    they' pair that must resolve to the doc's LAST dictionary-entity
    mention, which varies naturally per document. The oracle replays
    the tokenizer, the dictionary join, and the strictly-preceding
    last-mention window."""
    from knowledge_graph_spark.operators.linking import resolve_pronouns

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("He said "), F.col("text"),
                 F.lit(" it scaled fine and they agreed")).alias("text"))
    ents = spark.createDataFrame(
        [("spark",), ("table",), ("customer",)], "entity string")
    return resolve_pronouns(pages, ents).orderBy("doc_id", "pos")


_SQL_COREF = r"""
WITH inj AS (
  SELECT doc_id,
         'He said ' || text || ' it scaled fine and they agreed'
           AS text
  FROM documents
),
t AS (
  SELECT doc_id,
         regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+') AS a
  FROM inj
),
toks AS (
  SELECT doc_id, i - 1 AS pos, a[i] AS token
  FROM (SELECT doc_id, a, unnest(generate_series(1, len(a))) AS i
        FROM t)
),
d(entity) AS (VALUES ('spark'), ('table'), ('customer')),
st AS (
  SELECT toks.doc_id, toks.pos, toks.token, d.entity AS ent
  FROM toks LEFT JOIN d ON toks.token = d.entity
),
res AS (
  SELECT doc_id, pos, token,
         last_value(ent IGNORE NULLS) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS antecedent
  FROM st
)
SELECT doc_id, CAST(pos AS BIGINT) AS pos, token AS pronoun,
       antecedent
FROM res
WHERE token IN ('it', 'he', 'she', 'they')
  AND antecedent IS NOT NULL
ORDER BY doc_id, pos
"""


def _q_bootstrap(spark, sf_dir):
    """One DIPRE/Snowball iteration: two seed pairs assert 'works at'
    in every doc (promoted), 'consults for' in every 3rd doc
    (promoted), and a support-1 junk pattern in doc 1 (rejected);
    rotating non-seed capitalized pairs ride the same sentences and
    must surface as new extractions, while the seed pair itself also
    matches 'consults for' and must be anti-joined away. The oracle
    replays the windowed candidate generation, the support census,
    the entity gate, and the seed exclusion."""
    from knowledge_graph_spark.operators.patterns import (
        bootstrap_relations)

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")

    def pick(arr, m):
        return F.element_at(
            F.array(*[F.lit(x) for x in arr]), (k % m + 1).cast("int"))

    name = pick(("Carol", "Dave", "Erin"), 3)
    co = pick(("Initech", "Umbrella"), 2)
    seed_s = pick(("Alice", "Bob"), 2)
    seed_o = pick(("Acme", "Globex"), 2)
    pages = docs.select(
        "doc_id",
        F.concat_ws(
            " ", F.col("text"),
            seed_s, F.lit("works at"), seed_o,
            name, F.lit("works at"), co,
            F.when(k % 3 == 0, F.concat_ws(
                " ", F.lit("Alice consults for Acme and"), name,
                F.lit("consults for"), co)),
            F.when(k == 1,
                   F.lit("Alice sometimes visits famous Acme")),
        ).alias("text"))
    seeds = spark.createDataFrame(
        [("Alice", "Acme"), ("Bob", "Globex")], "subj string, obj string")
    return (bootstrap_relations(pages, seeds)
            .orderBy("subj", "middle", "obj"))


_SQL_BOOTSTRAP = r"""
WITH inj AS (
  SELECT doc_id, concat_ws(' ', text,
    (['Alice','Bob'])[doc_id % 2 + 1], 'works at',
    (['Acme','Globex'])[doc_id % 2 + 1],
    (['Carol','Dave','Erin'])[doc_id % 3 + 1], 'works at',
    (['Initech','Umbrella'])[doc_id % 2 + 1],
    CASE WHEN doc_id % 3 = 0 THEN
      'Alice consults for Acme and '
      || (['Carol','Dave','Erin'])[doc_id % 3 + 1]
      || ' consults for ' || (['Initech','Umbrella'])[doc_id % 2 + 1]
    END,
    CASE WHEN doc_id = 1
      THEN 'Alice sometimes visits famous Acme' END) AS text
  FROM documents
),
tok AS (
  SELECT doc_id, regexp_split_to_array(text, '\s+') AS a
  FROM inj WHERE text IS NOT NULL
),
cand AS (
  SELECT doc_id, a[i] AS s,
         array_to_string(list_slice(a, i + 1, i + l), ' ') AS middle,
         a[i + l + 1] AS o
  FROM (SELECT doc_id, a, unnest(generate_series(1, len(a) - 1)) AS i
        FROM tok WHERE len(a) >= 3),
       (SELECT unnest(generate_series(1, 3)) AS l)
  WHERE i + l + 1 <= len(a) AND a[i] <> '' AND a[i + l + 1] <> ''
),
d(subj, obj) AS (VALUES ('Alice', 'Acme'), ('Bob', 'Globex')),
pat AS (
  SELECT middle,
         CAST(count(DISTINCT cand.doc_id) AS BIGINT)
           AS pattern_support
  FROM cand JOIN d ON cand.s = d.subj AND cand.o = d.obj
  GROUP BY middle
  HAVING count(DISTINCT cand.doc_id) >= 2
)
SELECT c.s AS subj, c.middle AS middle, c.o AS obj,
       CAST(count(DISTINCT c.doc_id) AS BIGINT) AS n_docs,
       p.pattern_support
FROM cand c JOIN pat p ON c.middle = p.middle
WHERE regexp_matches(c.s, '^[A-Z][a-z]+$')
  AND regexp_matches(c.o, '^[A-Z][a-z]+$')
  AND NOT EXISTS (SELECT 1 FROM d
                  WHERE d.subj = c.s AND d.obj = c.o)
GROUP BY c.s, c.middle, c.o, p.pattern_support
ORDER BY subj, c.middle, obj
"""


def _q_microdata(spark, sf_dir):
    """Schema.org microdata harvest over injected itemscope markup:
    every doc carries a typed scope with a text-valued name span and
    a content-attribute meta rating; every 4th doc adds an empty
    itemprop key (dropped) and a valueless tag (dropped). The oracle
    replays both RE2 regex passes, the content-over-text precedence,
    and the drop rules."""
    from knowledge_graph_spark.operators.structured import (
        extract_microdata)

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    typ = F.element_at(
        F.array(F.lit("Organization"), F.lit("Product"), F.lit("Person")),
        (k % 3 + 1).cast("int"))
    inj = F.concat(
        F.col("text"),
        F.lit(' <div itemscope itemtype="https://schema.org/'), typ,
        F.lit('"><span itemprop="name">Entity '),
        (k % 23).cast("string"),
        F.lit(' </span><meta itemprop="ratingValue" content="'),
        (k % 5).cast("string"), F.lit('"></div>'),
        F.when(k % 4 == 0,
               F.lit(' <link itemprop="" href="x"><b itemprop="empty">'
                     '</b>')).otherwise(F.lit("")),
    )
    pages = docs.select("doc_id", inj.alias("text"))
    return extract_microdata(pages).orderBy(
        "doc_id", "prop", "value", "source")


_SQL_MICRODATA = r"""
WITH inj AS (
  SELECT doc_id,
    text || ' <div itemscope itemtype="https://schema.org/'
    || (['Organization','Product','Person'])[doc_id % 3 + 1]
    || '"><span itemprop="name">Entity ' || (doc_id % 23)
    || ' </span><meta itemprop="ratingValue" content="'
    || (doc_id % 5) || '"></div>'
    || CASE WHEN doc_id % 4 = 0
       THEN ' <link itemprop="" href="x"><b itemprop="empty"></b>'
       ELSE '' END AS text
  FROM documents
),
types AS (
  SELECT doc_id, '@type' AS prop,
         unnest(regexp_extract_all(text, '\sitemtype="([^"]+)"', 1))
           AS value,
         'type' AS source
  FROM inj
),
tags AS (
  SELECT doc_id,
    unnest(regexp_extract_all(text,
      '<[^<>]*\sitemprop="[^"]*"[^<>]*>[^<]*', 0)) AS m
  FROM inj
),
fields AS (
  SELECT doc_id,
         regexp_extract(m, '\sitemprop="([^"]+)"', 1) AS prop,
         regexp_extract(m, '\scontent="([^"]+)"', 1) AS c,
         trim(regexp_extract(m, '>([^<]*)$', 1)) AS t
  FROM tags
),
props AS (
  SELECT doc_id, prop,
         CASE WHEN c <> '' THEN c WHEN t <> '' THEN t END AS value,
         CASE WHEN c <> '' THEN 'content'
              WHEN t <> '' THEN 'text' END AS source
  FROM fields WHERE prop <> ''
)
SELECT * FROM (
  SELECT * FROM types
  UNION ALL
  SELECT * FROM props WHERE value IS NOT NULL
)
ORDER BY doc_id, prop, value, source
"""


def _q_sitemap_urls(spark, sf_dir):
    """Sitemap-protocol harvest (sitemaps.org 0.9) over synthesized
    per-shard sitemap blobs: 25 entry streams with a missing <loc>
    every 11th entry (surfaces as NULL — the quarantine signal, not
    a drop), missing <lastmod> every 5th, and a <priority> on every
    7th. The oracle replays the ordered string_agg assembly, the
    entry split, and all three tag extracts."""
    from knowledge_graph_spark.operators.structured import extract_sitemap

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    entry = F.concat(
        F.lit("<url>"),
        F.when(k % 11 != 0, F.concat(
            F.lit("<loc>https://w"), (k % 4).cast("string"),
            F.lit(".example.org/p/"), k.cast("string"),
            F.lit("</loc>"))).otherwise(F.lit("")),
        F.when(k % 5 != 0, F.concat(
            F.lit("<lastmod>2024-01-"),
            F.lpad((k % 27 + 1).cast("string"), 2, "0"),
            F.lit("</lastmod>"))).otherwise(F.lit("")),
        F.when(k % 7 == 0, F.lit("<priority>0.8</priority>"))
        .otherwise(F.lit("")),
        F.lit("</url>"))
    blobs = (docs.select((k % 25).alias("g"),
                         F.struct(k.alias("_o"), entry.alias("_t"))
                         .alias("_s"))
             .groupBy("g")
             .agg(F.array_join(
                 F.transform(F.sort_array(F.collect_list("_s")),
                             lambda s: s["_t"]), "").alias("xml")))
    return (extract_sitemap(blobs, "g", "xml")
            .orderBy("sitemap_id", "entry_idx"))


_SQL_SITEMAP_URLS = r"""
WITH e AS (
  SELECT doc_id % 25 AS g, doc_id,
    '<url>'
    || CASE WHEN doc_id % 11 <> 0
       THEN '<loc>https://w' || (doc_id % 4) || '.example.org/p/'
            || doc_id || '</loc>' ELSE '' END
    || CASE WHEN doc_id % 5 <> 0
       THEN '<lastmod>2024-01-'
            || lpad(CAST(doc_id % 27 + 1 AS VARCHAR), 2, '0')
            || '</lastmod>' ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN '<priority>0.8</priority>'
       ELSE '' END
    || '</url>' AS t
  FROM documents
),
blobs AS (
  SELECT g AS sitemap_id, string_agg(t, '' ORDER BY doc_id) AS xml
  FROM e GROUP BY g
),
parts AS (
  SELECT sitemap_id,
         regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1) AS a
  FROM blobs
),
recs AS (
  SELECT sitemap_id,
         unnest(generate_series(1, len(a))) - 1 AS entry_idx,
         unnest(a) AS r
  FROM parts
)
SELECT sitemap_id, CAST(entry_idx AS BIGINT) AS entry_idx,
       NULLIF(trim(regexp_extract(r, '(?s)<loc>(.*?)</loc>', 1)), '')
         AS loc,
       NULLIF(trim(regexp_extract(r, '(?s)<lastmod>(.*?)</lastmod>',
                                  1)), '') AS lastmod,
       NULLIF(trim(regexp_extract(r, '(?s)<priority>(.*?)</priority>',
                                  1)), '') AS priority
FROM recs ORDER BY sitemap_id, entry_idx
"""


def _q_og_meta(spark, sf_dir):
    """OpenGraph / canonical-link harvest over injected head markup:
    og:title on every page, og:type on 2 of 3, og:url on 3 of 4,
    rel=canonical on every 2nd; every 9th page repeats og:title with
    a DIFFERENT value to pin the declared first-occurrence-wins tie
    rule (leftmost match in both Java regex and RE2). The oracle
    replays all four extracts."""
    from knowledge_graph_spark.operators.structured import extract_meta

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    head = F.concat(
        F.lit('<meta property="og:title" content="Doc '),
        (k % 13).cast("string"), F.lit('">'),
        F.when(k % 3 != 0, F.concat(
            F.lit('<meta property="og:type" content="'),
            F.when(k % 2 == 0, F.lit("article"))
            .otherwise(F.lit("website")), F.lit('">')))
        .otherwise(F.lit("")),
        F.when(k % 4 != 0, F.concat(
            F.lit('<meta property="og:url" content="https://w'),
            (k % 4).cast("string"), F.lit(".example.org/p/"),
            k.cast("string"), F.lit('">'))).otherwise(F.lit("")),
        F.when(k % 2 == 0, F.concat(
            F.lit('<link rel="canonical" href="https://example.org/c/'),
            (k % 50).cast("string"), F.lit('">'))).otherwise(F.lit("")),
        F.when(k % 9 == 0,
               F.lit('<meta property="og:title" content="SHADOW">'))
        .otherwise(F.lit("")))
    pages = docs.select(
        "doc_id", F.concat(head, F.lit(" "), F.col("text")).alias("text"))
    return extract_meta(pages).orderBy("doc_id")


_SQL_OG_META = r"""
WITH pg AS (
  SELECT doc_id,
    '<meta property="og:title" content="Doc ' || (doc_id % 13) || '">'
    || CASE WHEN doc_id % 3 <> 0
       THEN '<meta property="og:type" content="'
            || CASE WHEN doc_id % 2 = 0 THEN 'article'
               ELSE 'website' END || '">' ELSE '' END
    || CASE WHEN doc_id % 4 <> 0
       THEN '<meta property="og:url" content="https://w'
            || (doc_id % 4) || '.example.org/p/' || doc_id || '">'
       ELSE '' END
    || CASE WHEN doc_id % 2 = 0
       THEN '<link rel="canonical" href="https://example.org/c/'
            || (doc_id % 50) || '">' ELSE '' END
    || CASE WHEN doc_id % 9 = 0
       THEN '<meta property="og:title" content="SHADOW">'
       ELSE '' END
    || ' ' || text AS text
  FROM documents
)
SELECT doc_id,
  NULLIF(regexp_extract(text,
    '<meta property="og:title" content="([^"]*)"', 1), '') AS og_title,
  NULLIF(regexp_extract(text,
    '<meta property="og:type" content="([^"]*)"', 1), '') AS og_type,
  NULLIF(regexp_extract(text,
    '<meta property="og:url" content="([^"]*)"', 1), '') AS og_url,
  NULLIF(regexp_extract(text,
    '<link rel="canonical" href="([^"]*)"', 1), '') AS canonical
FROM pg ORDER BY doc_id
"""


def _q_hreflang_pairs(spark, sf_dir):
    """Markup-declared bitext mining: every page declares an en
    alternate, 1 of 2 a zh, 1 of 3 a de, and every 5th repeats the
    en tag verbatim (must fold before pairing); cross-language pairs
    emit per page with (lang, href)-sorted endpoints. The oracle
    replays the tag extract, the dedup, and the tuple-ordered
    triangular self-join."""
    from knowledge_graph_spark.operators.structured import hreflang_pairs

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")

    def _alt(lang):
        return F.concat(
            F.lit('<link rel="alternate" hreflang="'), F.lit(lang),
            F.lit('" href="https://example.org/'), F.lit(lang),
            F.lit("/"), k.cast("string"), F.lit('">'))

    head = F.concat(
        _alt("en"),
        F.when(k % 2 == 0, _alt("zh")).otherwise(F.lit("")),
        F.when(k % 3 == 0, _alt("de")).otherwise(F.lit("")),
        F.when(k % 5 == 0, _alt("en")).otherwise(F.lit("")))
    pages = docs.select(
        "doc_id", F.concat(head, F.lit(" "), F.col("text")).alias("text"))
    return (hreflang_pairs(pages)
            .orderBy("doc_id", "lang_a", "lang_b"))


_SQL_HREFLANG_PAIRS = r"""
WITH pg AS (
  SELECT doc_id,
    '<link rel="alternate" hreflang="en" href="https://example.org/en/'
      || doc_id || '">'
    || CASE WHEN doc_id % 2 = 0
       THEN '<link rel="alternate" hreflang="zh" '
            || 'href="https://example.org/zh/' || doc_id || '">'
       ELSE '' END
    || CASE WHEN doc_id % 3 = 0
       THEN '<link rel="alternate" hreflang="de" '
            || 'href="https://example.org/de/' || doc_id || '">'
       ELSE '' END
    || CASE WHEN doc_id % 5 = 0
       THEN '<link rel="alternate" hreflang="en" '
            || 'href="https://example.org/en/' || doc_id || '">'
       ELSE '' END AS text
  FROM documents
),
tags AS (
  SELECT DISTINCT doc_id,
    lower(regexp_extract(m,
      '<link rel="alternate" hreflang="([a-zA-Z-]+)" href="([^"]*)"',
      1)) AS lang,
    regexp_extract(m,
      '<link rel="alternate" hreflang="([a-zA-Z-]+)" href="([^"]*)"',
      2) AS href
  FROM (
    SELECT doc_id, unnest(regexp_extract_all(text,
      '<link rel="alternate" hreflang="([a-zA-Z-]+)" href="([^"]*)"',
      0)) AS m
    FROM pg)
)
SELECT a.doc_id, a.lang AS lang_a, a.href AS href_a,
       b.lang AS lang_b, b.href AS href_b
FROM tags a JOIN tags b
  ON a.doc_id = b.doc_id
 AND (a.lang, a.href) < (b.lang, b.href)
 AND a.lang <> b.lang
ORDER BY a.doc_id, lang_a, lang_b
"""


def _q_ntriples(spark, sf_dir):
    """N-Triples serialization of a synthetic edge set that hits
    every escape rule: subjects with internal whitespace (slug to
    '_'), objects carrying quotes, backslashes, newlines, and tabs
    (ECHAR-escaped), and every 6th doc a subject of pure forbidden
    chars that slugs to '' and must drop. Byte-exact lines; the
    oracle rebuilds each line with the same replace chain."""
    from knowledge_graph_spark.operators.rdf import to_ntriples

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    subj = F.when(k % 6 == 0, F.lit('<">')).otherwise(
        F.concat(F.lit("Page "), (k % 11).cast("string")))
    t1 = F.struct(
        subj.alias("subj"), F.lit("has rating").alias("pred"),
        F.concat(F.lit('r "'), (k % 5).cast("string"),
                 F.lit('" \\end')).alias("obj"))
    t2 = F.struct(
        subj.alias("subj"), F.lit("note").alias("pred"),
        F.concat(F.lit("line1\nline2\t"),
                 (k % 3).cast("string")).alias("obj"))
    triples = (docs.select(F.explode(F.array(t1, t2)).alias("t"))
               .select("t.subj", "t.pred", "t.obj"))
    return to_ntriples(triples).orderBy("line", "obj")


_SQL_NTRIPLES = r"""
WITH raw AS (
  SELECT CASE WHEN doc_id % 6 = 0 THEN '<">'
              ELSE 'Page ' || (doc_id % 11) END AS subj,
         'has rating' AS pred,
         'r "' || (doc_id % 5) || '" \end' AS obj
  FROM documents
  UNION ALL
  SELECT CASE WHEN doc_id % 6 = 0 THEN '<">'
              ELSE 'Page ' || (doc_id % 11) END,
         'note',
         'line1' || chr(10) || 'line2' || chr(9) || (doc_id % 3)
  FROM documents
),
slugged AS (
  SELECT
    regexp_replace(regexp_replace(trim(subj), '\s+', '_', 'g'),
                   '[\x00-\x20<>"{}|^`\\]', '', 'g') AS s,
    regexp_replace(regexp_replace(trim(pred), '\s+', '_', 'g'),
                   '[\x00-\x20<>"{}|^`\\]', '', 'g') AS p,
    subj, pred, obj
  FROM raw
)
SELECT subj, pred, obj,
  '<http://kg.example/resource/' || s || '> <http://kg.example/prop/'
  || p || '> "'
  || replace(replace(replace(replace(replace(obj,
       '\', '\\'), '"', '\"'), chr(10), '\n'), chr(13), '\r'),
       chr(9), '\t')
  || '" .' AS line
FROM slugged
WHERE s <> '' AND p <> '' AND obj IS NOT NULL
ORDER BY line, obj
"""


def _q_reciprocal(spark, sf_dir):
    """Host-graph reciprocity census (the link-exchange signal,
    Becchetti et al. 2008) over a deterministic synthetic edge list:
    every doc asserts h(doc_id%10) -> h(doc_id%7) (a self-loop
    whenever the residues coincide — must be dropped), every 3rd doc
    asserts the reverse edge too, so a slice of the host pairs comes
    out reciprocal. The oracle replays the directional fold, the
    canonical a<b orientation, and the full-outer merge."""
    from knowledge_graph_spark.operators.urls import reciprocal_links

    docs = _t(spark, sf_dir, "documents")

    def h(m):
        return F.concat(F.lit("h"), (F.col("doc_id") % m).cast("string"))

    e1 = docs.select(h(10).alias("src"), h(7).alias("dst"))
    e2 = (docs.filter(F.col("doc_id") % 3 == 0)
          .select(h(7).alias("src"), h(10).alias("dst")))
    return (reciprocal_links(e1.unionByName(e2))
            .orderBy("host_a", "host_b"))


_SQL_RECIPROCAL = r"""
WITH e AS (
  SELECT 'h' || (doc_id % 10) AS src, 'h' || (doc_id % 7) AS dst
  FROM documents
  UNION ALL
  SELECT 'h' || (doc_id % 7), 'h' || (doc_id % 10)
  FROM documents WHERE doc_id % 3 = 0
),
agg AS (
  SELECT src AS s, dst AS d, CAST(count(*) AS BIGINT) AS n
  FROM e WHERE src <> dst GROUP BY src, dst
),
fwd AS (SELECT s, d, n FROM agg WHERE s < d),
rev AS (SELECT d AS s, s AS d, n AS n_rev FROM agg WHERE s > d)
SELECT COALESCE(fwd.s, rev.s) AS host_a,
       COALESCE(fwd.d, rev.d) AS host_b,
       CAST(COALESCE(fwd.n, 0) AS BIGINT) AS n_ab,
       CAST(COALESCE(rev.n_rev, 0) AS BIGINT) AS n_ba,
       (COALESCE(fwd.n, 0) > 0 AND COALESCE(rev.n_rev, 0) > 0)
         AS reciprocal
FROM fwd FULL OUTER JOIN rev ON fwd.s = rev.s AND fwd.d = rev.d
ORDER BY host_a, host_b
"""


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------


def _kb_triples(spark, sf_dir):
    """Shared KB for the rule-mining queries: a (subj, pred, obj)
    triple table derived deterministically from the TPC-H relations —
    supplies (distinct lineitem supplier->part), has_brand,
    located_in, in_region as full predicates, plus two DELIBERATELY
    PARTIAL head predicates (makes_brand for even suppliers, based_in
    for every-3rd suppliers) so mined rules carry confidence < 1 and
    the PCA/CWA denominators genuinely differ."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    s = lambda c: F.concat(F.lit("s"), F.col(c).cast("string"))
    p = lambda c: F.concat(F.lit("p"), F.col(c).cast("string"))
    n = lambda c: F.concat(F.lit("n"), F.col(c).cast("string"))
    r = lambda c: F.concat(F.lit("r"), F.col(c).cast("string"))
    supplies = (li.select(s("l_suppkey").alias("subj"),
                          F.lit("supplies").alias("pred"),
                          p("l_partkey").alias("obj")).distinct())
    has_brand = part.select(p("p_partkey").alias("subj"),
                            F.lit("has_brand").alias("pred"),
                            F.col("p_brand").alias("obj"))
    located = sup.select(s("s_suppkey").alias("subj"),
                         F.lit("located_in").alias("pred"),
                         n("s_nationkey").alias("obj"))
    in_reg = nat.select(n("n_nationkey").alias("subj"),
                        F.lit("in_region").alias("pred"),
                        r("n_regionkey").alias("obj"))
    makes = (li.filter(F.col("l_suppkey") % 2 == 0)
             .join(part, li["l_partkey"] == part["p_partkey"])
             .select(s("l_suppkey").alias("subj"),
                     F.lit("makes_brand").alias("pred"),
                     F.col("p_brand").alias("obj")).distinct())
    based = (sup.filter(F.col("s_suppkey") % 3 == 0)
             .join(nat, sup["s_nationkey"] == nat["n_nationkey"])
             .select(s("s_suppkey").alias("subj"),
                     F.lit("based_in").alias("pred"),
                     r("n_regionkey").alias("obj")))
    kb = supplies
    for t in (has_brand, located, in_reg, makes, based):
        kb = kb.unionByName(t)
    return kb


_SQL_KB = r"""
kb AS (
  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS subj,
         'supplies' AS pred, 'p' || CAST(l_partkey AS VARCHAR) AS obj
  FROM lineitem
  UNION ALL
  SELECT 'p' || CAST(p_partkey AS VARCHAR), 'has_brand', p_brand
  FROM part
  UNION ALL
  SELECT 's' || CAST(s_suppkey AS VARCHAR), 'located_in',
         'n' || CAST(s_nationkey AS VARCHAR)
  FROM supplier
  UNION ALL
  SELECT 'n' || CAST(n_nationkey AS VARCHAR), 'in_region',
         'r' || CAST(n_regionkey AS VARCHAR)
  FROM nation
  UNION ALL
  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR), 'makes_brand',
         p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_suppkey % 2 = 0
  UNION ALL
  SELECT 's' || CAST(s_suppkey AS VARCHAR), 'based_in',
         'r' || CAST(n_regionkey AS VARCHAR)
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE s_suppkey % 3 = 0
)"""


def _q_amie_rules(spark, sf_dir):
    """AMIE-style chain-rule mining (Galarraga et al., WWW 2013) over
    the TPC-H-derived KB: the two plantable rules are supplies(x,z) ∧
    has_brand(z,y) ⇒ makes_brand(x,y) (head present only for even
    suppliers — CWA confidence ~0.5) and located_in(x,z) ∧
    in_region(z,y) ⇒ based_in(x,y) (every-3rd suppliers — ~0.33);
    PCA denominators count only x with SOME head edge, so pca_pairs <
    body_pairs on both. Integer ingredients only; the oracle replays
    the distinct body join, the head join, and both denominators."""
    from knowledge_graph_spark.operators.rules import amie_rules

    kb = _kb_triples(spark, sf_dir)
    return (amie_rules(kb, min_support=2)
            .orderBy("r1", "r2", "r3"))


_SQL_AMIE_RULES = r"""
WITH """ + _SQL_KB + r""",
t AS (SELECT DISTINCT subj AS s, pred AS p, obj AS o FROM kb
      WHERE subj IS NOT NULL AND pred IS NOT NULL AND obj IS NOT NULL),
body AS (
  SELECT DISTINCT t1.p AS r1, t2.p AS r2, t1.s AS x, t2.o AS y
  FROM t t1 JOIN t t2 ON t1.o = t2.s
),
sup AS (
  SELECT b.r1, b.r2, h.p AS r3, CAST(COUNT(*) AS BIGINT) AS support
  FROM body b JOIN t h ON h.s = b.x AND h.o = b.y
  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
),
bn AS (
  SELECT r1, r2, CAST(COUNT(*) AS BIGINT) AS body_pairs
  FROM body GROUP BY 1, 2
),
r3x AS (SELECT DISTINCT p AS r3, s AS x FROM t),
pca AS (
  SELECT b.r1, b.r2, r3x.r3, CAST(COUNT(*) AS BIGINT) AS pca_pairs
  FROM body b JOIN r3x ON r3x.x = b.x
  GROUP BY 1, 2, 3
)
SELECT sup.r1, sup.r2, sup.r3, sup.support, bn.body_pairs,
       pca.pca_pairs
FROM sup
JOIN bn ON bn.r1 = sup.r1 AND bn.r2 = sup.r2
JOIN pca ON pca.r1 = sup.r1 AND pca.r2 = sup.r2 AND pca.r3 = sup.r3
ORDER BY sup.r1, sup.r2, sup.r3
"""


def _q_char_sets(spark, sf_dir):
    """Characteristic-set census (Neumann & Moerkotte, ICDE 2011)
    over the same TPC-H-derived KB: subjects group by their distinct
    predicate SET — suppliers split into {located_in, supplies},
    {based_in, located_in, supplies}, {located_in, makes_brand,
    supplies} and the full four-predicate shape depending on the
    mod-2/mod-3 head planting, parts are all {has_brand}, nations
    {in_region}. The census is the RDF cardinality-estimation
    statistic AND an induced soft schema. The oracle replays the
    per-subject set fold and the set-keyed count."""
    from knowledge_graph_spark.operators.rules import characteristic_sets

    kb = _kb_triples(spark, sf_dir)
    return (characteristic_sets(kb)
            .orderBy("char_set"))


_SQL_CHAR_SETS = r"""
WITH """ + _SQL_KB + r""",
per_subj AS (
  SELECT subj,
         string_agg(DISTINCT pred, ',' ORDER BY pred) AS char_set,
         CAST(COUNT(DISTINCT pred) AS BIGINT) AS set_size,
         CAST(COUNT(*) AS BIGINT) AS n_t
  FROM kb WHERE subj IS NOT NULL AND pred IS NOT NULL
  GROUP BY subj
)
SELECT char_set, set_size,
       CAST(COUNT(*) AS BIGINT) AS n_subjects,
       CAST(SUM(n_t) AS BIGINT) AS n_triples
FROM per_subj
GROUP BY char_set, set_size
ORDER BY char_set
"""


def _q_truth_discovery(spark, sf_dir):
    """Iterative source-trust truth discovery (Pasternack & Roth
    2010 "Sums"; the TruthFinder-style pass fusion.py's one-shot
    voter declares out of scope) over synthesized conflicting
    assertions: subjects/predicates collide on mod residues while
    the object rotates on a coprime modulus, so every (subj, pred)
    accumulates competing candidates backed by different source
    sets. Three integer-exact belief/trust rounds — no float ever
    enters, so the oracle replays the recurrence bit-for-bit as
    chained CTEs."""
    from knowledge_graph_spark.operators.fusion import truth_discovery

    docs = _t(spark, sf_dir, "documents")
    assertions = docs.select(
        F.col("source").alias("source_id"),
        F.concat(F.lit("e"), (F.col("doc_id") % 17).cast("string"))
        .alias("subj"),
        F.element_at(
            F.array(F.lit("hq"), F.lit("ceo"), F.lit("founder")),
            (F.col("doc_id") % 3 + 1).cast("int")).alias("pred"),
        F.concat(F.lit("v"), ((F.col("doc_id") * 5) % 6).cast("string"))
        .alias("obj"),
    )
    return (truth_discovery(assertions, n_iters=3)
            .orderBy("subj", "pred"))


_SQL_TRUTH_DISCOVERY = r"""
WITH a AS (
  SELECT DISTINCT source AS src,
    'e' || (doc_id % 17) AS subj,
    (['hq', 'ceo', 'founder'])[doc_id % 3 + 1] AS pred,
    'v' || ((doc_id * 5) % 6) AS obj
  FROM documents
),
c1 AS (SELECT subj, pred, obj, CAST(COUNT(*) AS BIGINT) AS b
       FROM a GROUP BY 1, 2, 3),
t1 AS (SELECT src, CAST(SUM(b) AS BIGINT) AS t
       FROM a JOIN c1 USING (subj, pred, obj) GROUP BY 1),
c2 AS (SELECT subj, pred, obj, CAST(SUM(t) AS BIGINT) AS b
       FROM a JOIN t1 USING (src) GROUP BY 1, 2, 3),
t2 AS (SELECT src, CAST(SUM(b) AS BIGINT) AS t
       FROM a JOIN c2 USING (subj, pred, obj) GROUP BY 1),
c3 AS (SELECT subj, pred, obj, CAST(SUM(t) AS BIGINT) AS b
       FROM a JOIN t2 USING (src) GROUP BY 1, 2, 3),
ns AS (SELECT subj, pred, obj, CAST(COUNT(DISTINCT src) AS BIGINT)
         AS n_sources
       FROM a GROUP BY 1, 2, 3),
ranked AS (
  SELECT c3.subj, c3.pred, c3.obj, c3.b AS belief, ns.n_sources,
         row_number() OVER (PARTITION BY c3.subj, c3.pred
                            ORDER BY c3.b DESC, c3.obj ASC) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY c3.subj, c3.pred) AS BIGINT)
           AS n_objects
  FROM c3 JOIN ns USING (subj, pred, obj)
)
SELECT subj, pred, obj, belief, n_sources, n_objects
FROM ranked WHERE rn = 1 ORDER BY subj, pred
"""


def _q_dirt_paths(spark, sf_dir):
    """DIRT inference-rule mining (Lin & Pantel, KDD 2001) over
    injected paraphrase sentences: every doc asserts '<Name> works at
    <Org>' (names and orgs rotate on mod-3/mod-2), every even doc
    adds the 3-token paraphrase 'is employed by' for the SAME pair,
    and every 5th adds 'consults for' — so paraphrase path pairs
    share argument pairs while real-text windows contribute organic
    noise the entity gate mostly removes. The oracle replays the
    windowed candidate generation, the entity gate, the distinct
    (path, pair) fold, the promiscuous-pair guard, and the
    triangular co-count."""
    from knowledge_graph_spark.operators.patterns import dirt_paths

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    name = F.element_at(
        F.array(F.lit("Alice"), F.lit("Bob"), F.lit("Carol")),
        (k % 3 + 1).cast("int"))
    org = F.element_at(
        F.array(F.lit("Acme"), F.lit("Globex")),
        (k % 2 + 1).cast("int"))
    pages = docs.select(
        "doc_id",
        F.concat_ws(
            " ", F.col("text"),
            name, F.lit("works at"), org,
            F.when(k % 2 == 0,
                   F.concat_ws(" ", name, F.lit("is employed by"), org)),
            F.when(k % 5 == 0,
                   F.concat_ws(" ", name, F.lit("consults for"), org)),
        ).alias("text"))
    return (dirt_paths(pages, max_middle=3, min_shared=2)
            .orderBy("path_a", "path_b"))


_SQL_DIRT_PATHS = r"""
WITH inj AS (
  SELECT doc_id, concat_ws(' ', text,
    (['Alice','Bob','Carol'])[doc_id % 3 + 1], 'works at',
    (['Acme','Globex'])[doc_id % 2 + 1],
    CASE WHEN doc_id % 2 = 0 THEN
      (['Alice','Bob','Carol'])[doc_id % 3 + 1] || ' is employed by '
      || (['Acme','Globex'])[doc_id % 2 + 1] END,
    CASE WHEN doc_id % 5 = 0 THEN
      (['Alice','Bob','Carol'])[doc_id % 3 + 1] || ' consults for '
      || (['Acme','Globex'])[doc_id % 2 + 1] END) AS text
  FROM documents
),
tok AS (
  SELECT doc_id, regexp_split_to_array(text, '\s+') AS a
  FROM inj WHERE text IS NOT NULL
),
cand AS (
  SELECT a[i] AS s,
         array_to_string(list_slice(a, i + 1, i + l), ' ') AS middle,
         a[i + l + 1] AS o
  FROM (SELECT doc_id, a, unnest(generate_series(1, len(a) - 1)) AS i
        FROM tok WHERE len(a) >= 3),
       (SELECT unnest(generate_series(1, 3)) AS l)
  WHERE i + l + 1 <= len(a) AND a[i] <> '' AND a[i + l + 1] <> ''
),
tri AS (
  SELECT DISTINCT middle, s AS a, o AS b FROM cand
  WHERE regexp_matches(s, '^[A-Z][a-z]+$')
    AND regexp_matches(o, '^[A-Z][a-z]+$')
),
sup AS (SELECT middle, CAST(COUNT(*) AS BIGINT) AS n
        FROM tri GROUP BY middle),
bsz AS (SELECT a, b, COUNT(*) AS c FROM tri GROUP BY a, b),
ok AS (SELECT tri.* FROM tri JOIN bsz USING (a, b)
       WHERE bsz.c BETWEEN 2 AND 64),
shared AS (
  SELECT t1.middle AS path_a, t2.middle AS path_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM ok t1 JOIN ok t2
    ON t1.a = t2.a AND t1.b = t2.b AND t1.middle < t2.middle
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT s.path_a, s.path_b, s.n_shared,
       na.n AS n_a, nb.n AS n_b
FROM shared s
JOIN sup na ON na.middle = s.path_a
JOIN sup nb ON nb.middle = s.path_b
ORDER BY s.path_a, s.path_b
"""


def _q_predicate_canon(spark, sf_dir):
    """Open-KB predicate canonicalization (Galarraga et al., CIKM
    2014) chained end-to-end: DIRT paraphrase mining over the same
    injected corpus as `dirt_paths`, an INTEGER-cross-product Jaccard
    gate (>= 1/3), connected components over the synonym graph, and
    the min-path canonical form. The oracle replays the whole chain,
    components included (recursive CTE), so the composition — not
    just each stage — is value-verified."""
    from knowledge_graph_spark.operators.patterns import (
        canonicalize_predicates)

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    name = F.element_at(
        F.array(F.lit("Alice"), F.lit("Bob"), F.lit("Carol")),
        (k % 3 + 1).cast("int"))
    org = F.element_at(
        F.array(F.lit("Acme"), F.lit("Globex")),
        (k % 2 + 1).cast("int"))
    pages = docs.select(
        "doc_id",
        F.concat_ws(
            " ", F.col("text"),
            name, F.lit("works at"), org,
            F.when(k % 2 == 0,
                   F.concat_ws(" ", name, F.lit("is employed by"), org)),
            F.when(k % 5 == 0,
                   F.concat_ws(" ", name, F.lit("consults for"), org)),
        ).alias("text"))
    return (canonicalize_predicates(pages, max_middle=3, min_shared=2,
                                    jaccard_num=1, jaccard_den=3)
            .orderBy("path"))


_SQL_PREDICATE_CANON = r"""
WITH RECURSIVE inj AS (
  SELECT doc_id, concat_ws(' ', text,
    (['Alice','Bob','Carol'])[doc_id % 3 + 1], 'works at',
    (['Acme','Globex'])[doc_id % 2 + 1],
    CASE WHEN doc_id % 2 = 0 THEN
      (['Alice','Bob','Carol'])[doc_id % 3 + 1] || ' is employed by '
      || (['Acme','Globex'])[doc_id % 2 + 1] END,
    CASE WHEN doc_id % 5 = 0 THEN
      (['Alice','Bob','Carol'])[doc_id % 3 + 1] || ' consults for '
      || (['Acme','Globex'])[doc_id % 2 + 1] END) AS text
  FROM documents
),
tok AS (
  SELECT doc_id, regexp_split_to_array(text, '\s+') AS a
  FROM inj WHERE text IS NOT NULL
),
cand AS (
  SELECT a[i] AS s,
         array_to_string(list_slice(a, i + 1, i + l), ' ') AS middle,
         a[i + l + 1] AS o
  FROM (SELECT doc_id, a, unnest(generate_series(1, len(a) - 1)) AS i
        FROM tok WHERE len(a) >= 3),
       (SELECT unnest(generate_series(1, 3)) AS l)
  WHERE i + l + 1 <= len(a) AND a[i] <> '' AND a[i + l + 1] <> ''
),
tri AS (
  SELECT DISTINCT middle, s AS a, o AS b FROM cand
  WHERE regexp_matches(s, '^[A-Z][a-z]+$')
    AND regexp_matches(o, '^[A-Z][a-z]+$')
),
sup AS (SELECT middle, CAST(COUNT(*) AS BIGINT) AS n
        FROM tri GROUP BY middle),
bsz AS (SELECT a, b, COUNT(*) AS c FROM tri GROUP BY a, b),
okt AS (SELECT tri.* FROM tri JOIN bsz USING (a, b)
        WHERE bsz.c BETWEEN 2 AND 64),
shared AS (
  SELECT t1.middle AS pa, t2.middle AS pb,
         CAST(COUNT(*) AS BIGINT) AS ns
  FROM okt t1 JOIN okt t2
    ON t1.a = t2.a AND t1.b = t2.b AND t1.middle < t2.middle
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
edges AS (
  SELECT s.pa AS u, s.pb AS v
  FROM shared s
  JOIN sup na ON na.middle = s.pa
  JOIN sup nb ON nb.middle = s.pb
  WHERE 3 * s.ns >= 1 * (na.n + nb.n - s.ns)
),
sym AS (SELECT u, v FROM edges WHERE u <> v
        UNION SELECT v, u FROM edges WHERE u <> v),
reach(node, lab) AS (
  SELECT u, u FROM sym
  UNION
  SELECT s.v, r.lab FROM reach r JOIN sym s ON s.u = r.node
),
labels AS (SELECT node, MIN(lab) AS component FROM reach GROUP BY node),
canon AS (SELECT component, MIN(node) AS canonical
          FROM labels GROUP BY component)
SELECT l.node AS path, c.canonical
FROM labels l JOIN canon c USING (component)
ORDER BY path
"""


def _q_er_eval(spark, sf_dir):
    """Pairwise entity-resolution evaluation (Menestrina et al., VLDB
    2010) of a planted canonicalization: gold clusters are customer
    nations; the predicted clustering mis-merges every 10th customer
    into the next nation and splits every 13th into a spurious
    singleton (split wins when both fire). TP/FP/FN come from three
    C(n,2) aggregations — no pair is ever materialized — and the
    oracle recomputes all three from the same CASE expression."""
    from knowledge_graph_spark.operators.linking import er_pair_metrics

    cust = _t(spark, sf_dir, "customer")
    gold = cust.select(
        F.col("c_custkey").alias("id"),
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string"))
        .alias("cluster"))
    pred = cust.select(
        F.col("c_custkey").alias("id"),
        F.when(F.col("c_custkey") % 13 == 0,
               F.concat(F.lit("s"), F.col("c_custkey").cast("string")))
        .when(F.col("c_custkey") % 10 == 0,
              F.concat(F.lit("n"),
                       ((F.col("c_nationkey") + 1) % 25).cast("string")))
        .otherwise(F.concat(F.lit("n"),
                            F.col("c_nationkey").cast("string")))
        .alias("cluster"))
    return er_pair_metrics(pred, gold)


def _q_bcubed_eval(spark, sf_dir):
    """B-cubed ER evaluation (Bagga & Baldwin 1998; Amigó et al.
    2009) of the SAME planted canonicalization er_eval grades
    pairwise — the complementary per-item view that weights
    giant-cluster mistakes linearly instead of quadratically.
    Integer ingredients per customer: predicted-cluster size, gold-
    cluster size, overlap; P/R are row-local averages downstream.
    The oracle recomputes the three counts from the same CASE
    expression."""
    from knowledge_graph_spark.operators.linking import bcubed_ingredients

    cust = _t(spark, sf_dir, "customer")
    gold = cust.select(
        F.col("c_custkey").alias("id"),
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string"))
        .alias("cluster"))
    pred = cust.select(
        F.col("c_custkey").alias("id"),
        F.when(F.col("c_custkey") % 13 == 0,
               F.concat(F.lit("s"), F.col("c_custkey").cast("string")))
        .when(F.col("c_custkey") % 10 == 0,
              F.concat(F.lit("n"),
                       ((F.col("c_nationkey") + 1) % 25).cast("string")))
        .otherwise(F.concat(F.lit("n"),
                            F.col("c_nationkey").cast("string")))
        .alias("cluster"))
    return bcubed_ingredients(pred, gold).orderBy("id")


_SQL_BCUBED_EVAL = r"""
WITH j AS (
  SELECT c_custkey AS id,
    CASE WHEN c_custkey % 13 = 0 THEN 's' || CAST(c_custkey AS VARCHAR)
         WHEN c_custkey % 10 = 0
           THEN 'n' || CAST((c_nationkey + 1) % 25 AS VARCHAR)
         ELSE 'n' || CAST(c_nationkey AS VARCHAR) END AS c,
    'n' || CAST(c_nationkey AS VARCHAR) AS g
  FROM customer),
cs AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS c_size FROM j GROUP BY c),
gs AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS g_size FROM j GROUP BY g),
cell AS (SELECT c, g, CAST(COUNT(*) AS BIGINT) AS overlap
         FROM j GROUP BY c, g)
SELECT j.id, cs.c_size, gs.g_size, cell.overlap
FROM j JOIN cs USING (c) JOIN gs USING (g)
       JOIN cell ON cell.c = j.c AND cell.g = j.g
ORDER BY j.id
"""


_SQL_ER_EVAL = r"""
WITH j AS (
  SELECT c_custkey AS id,
    CASE WHEN c_custkey % 13 = 0 THEN 's' || CAST(c_custkey AS VARCHAR)
         WHEN c_custkey % 10 = 0
           THEN 'n' || CAST((c_nationkey + 1) % 25 AS VARCHAR)
         ELSE 'n' || CAST(c_nationkey AS VARCHAR) END AS p,
    'n' || CAST(c_nationkey AS VARCHAR) AS g
  FROM customer
),
pp AS (SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS pairs,
              CAST(COUNT(*) AS BIGINT) AS k
       FROM (SELECT COUNT(*) AS n FROM j GROUP BY p)),
gp AS (SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS pairs,
              CAST(COUNT(*) AS BIGINT) AS k
       FROM (SELECT COUNT(*) AS n FROM j GROUP BY g)),
tp AS (SELECT CAST(COALESCE(SUM(n * (n - 1) // 2), 0) AS BIGINT) AS v
       FROM (SELECT COUNT(*) AS n FROM j GROUP BY p, g))
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM j) AS n_items,
       pp.k AS n_pred_clusters, gp.k AS n_gold_clusters,
       tp.v AS tp, pp.pairs - tp.v AS fp, gp.pairs - tp.v AS fn
FROM pp, gp, tp
"""


def _kb_triples_v2(spark, sf_dir):
    """The 'recrawl' KB version for the diff query: supplies objects
    rotate for partkey%11 rows (edited facts), located_in drops every
    9th supplier (removals), and an `audited` predicate appears for
    every 4th supplier (additions); everything else matches
    :func:`_kb_triples`."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    s = lambda c: F.concat(F.lit("s"), F.col(c).cast("string"))
    p = lambda c: F.concat(F.lit("p"), F.col(c).cast("string"))
    n = lambda c: F.concat(F.lit("n"), F.col(c).cast("string"))
    r = lambda c: F.concat(F.lit("r"), F.col(c).cast("string"))
    supplies = (li.select(
        s("l_suppkey").alias("subj"),
        F.lit("supplies").alias("pred"),
        F.concat(F.lit("p"),
                 F.when(F.col("l_partkey") % 11 == 0,
                        F.col("l_partkey") + 1)
                 .otherwise(F.col("l_partkey")).cast("string"))
        .alias("obj")).distinct())
    has_brand = part.select(p("p_partkey").alias("subj"),
                            F.lit("has_brand").alias("pred"),
                            F.col("p_brand").alias("obj"))
    located = (sup.filter(F.col("s_suppkey") % 9 != 0)
               .select(s("s_suppkey").alias("subj"),
                       F.lit("located_in").alias("pred"),
                       n("s_nationkey").alias("obj")))
    in_reg = nat.select(n("n_nationkey").alias("subj"),
                        F.lit("in_region").alias("pred"),
                        r("n_regionkey").alias("obj"))
    makes = (li.filter(F.col("l_suppkey") % 2 == 0)
             .join(part, li["l_partkey"] == part["p_partkey"])
             .select(s("l_suppkey").alias("subj"),
                     F.lit("makes_brand").alias("pred"),
                     F.col("p_brand").alias("obj")).distinct())
    based = (sup.filter(F.col("s_suppkey") % 3 == 0)
             .join(nat, sup["s_nationkey"] == nat["n_nationkey"])
             .select(s("s_suppkey").alias("subj"),
                     F.lit("based_in").alias("pred"),
                     r("n_regionkey").alias("obj")))
    audited = (sup.filter(F.col("s_suppkey") % 4 == 0)
               .select(s("s_suppkey").alias("subj"),
                       F.lit("audited").alias("pred"),
                       F.concat(F.lit("y"),
                                (F.col("s_suppkey") % 3).cast("string"))
                       .alias("obj")))
    kb = supplies
    for t in (has_brand, located, in_reg, makes, based, audited):
        kb = kb.unionByName(t)
    return kb


_SQL_KB_V2 = r"""
kb2 AS (
  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS subj,
         'supplies' AS pred,
         'p' || CAST(CASE WHEN l_partkey % 11 = 0 THEN l_partkey + 1
                          ELSE l_partkey END AS VARCHAR) AS obj
  FROM lineitem
  UNION ALL
  SELECT 'p' || CAST(p_partkey AS VARCHAR), 'has_brand', p_brand
  FROM part
  UNION ALL
  SELECT 's' || CAST(s_suppkey AS VARCHAR), 'located_in',
         'n' || CAST(s_nationkey AS VARCHAR)
  FROM supplier WHERE s_suppkey % 9 <> 0
  UNION ALL
  SELECT 'n' || CAST(n_nationkey AS VARCHAR), 'in_region',
         'r' || CAST(n_regionkey AS VARCHAR)
  FROM nation
  UNION ALL
  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR), 'makes_brand',
         p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_suppkey % 2 = 0
  UNION ALL
  SELECT 's' || CAST(s_suppkey AS VARCHAR), 'based_in',
         'r' || CAST(n_regionkey AS VARCHAR)
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE s_suppkey % 3 = 0
  UNION ALL
  SELECT 's' || CAST(s_suppkey AS VARCHAR), 'audited',
         'y' || CAST(s_suppkey % 3 AS VARCHAR)
  FROM supplier WHERE s_suppkey % 4 = 0
)"""


def _q_kb_diff(spark, sf_dir):
    """Per-predicate KG-update audit between the base KB and its
    'recrawl' version (edited supplies objects, dropped located_in
    rows, a new audited predicate): added/removed/retained triple
    counts plus the changed-key census — the counters an incremental
    MERGE pipeline publishes per batch. The oracle replays the
    full-outer diff and both aggregates."""
    from knowledge_graph_spark.operators.rules import kb_diff

    return (kb_diff(_kb_triples(spark, sf_dir),
                    _kb_triples_v2(spark, sf_dir))
            .orderBy("pred"))


_SQL_KB_DIFF = r"""
WITH """ + _SQL_KB + r""",
""" + _SQL_KB_V2 + r""",
o AS (SELECT DISTINCT subj AS s, pred AS p, obj AS ob FROM kb
      WHERE subj IS NOT NULL AND pred IS NOT NULL AND obj IS NOT NULL),
n AS (SELECT DISTINCT subj AS s, pred AS p, obj AS ob FROM kb2
      WHERE subj IS NOT NULL AND pred IS NOT NULL AND obj IS NOT NULL),
j AS (
  SELECT COALESCE(o.s, n.s) AS s, COALESCE(o.p, n.p) AS p,
         CASE WHEN o.s IS NULL THEN 0 ELSE 1 END AS in_old,
         CASE WHEN n.s IS NULL THEN 0 ELSE 1 END AS in_new
  FROM o FULL OUTER JOIN n
    ON o.s = n.s AND o.p = n.p AND o.ob = n.ob
),
per_pred AS (
  SELECT p,
         CAST(SUM(CASE WHEN in_new = 1 AND in_old = 0 THEN 1 ELSE 0
                  END) AS BIGINT) AS n_added,
         CAST(SUM(CASE WHEN in_old = 1 AND in_new = 0 THEN 1 ELSE 0
                  END) AS BIGINT) AS n_removed,
         CAST(SUM(CASE WHEN in_old = 1 AND in_new = 1 THEN 1 ELSE 0
                  END) AS BIGINT) AS n_retained
  FROM j GROUP BY p
),
keys AS (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS n_changed_keys
  FROM (SELECT s, p, MAX(in_old) AS ko, MAX(in_new) AS kn,
               MAX(CASE WHEN in_old <> in_new THEN 1 ELSE 0 END) AS df
        FROM j GROUP BY s, p)
  WHERE ko = 1 AND kn = 1 AND df = 1
  GROUP BY p
)
SELECT per_pred.p AS pred, n_added, n_removed, n_retained,
       COALESCE(keys.n_changed_keys, 0) AS n_changed_keys
FROM per_pred LEFT JOIN keys ON keys.p = per_pred.p
ORDER BY pred
"""


def _q_blocking_eval(spark, sf_dir):
    """Blocking-quality evaluation (Christen 2012 §7.4) of a
    two-band blocker over the documents table — band 0 keys on
    (source, n_chars), band 1 on the lowercased first whitespace
    token — against exact-duplicate ground truth (md5 of text).
    Emits the reduction-ratio / pairs-completeness INTEGER
    ingredients; candidate pairs come from the guarded in-aggregate
    generator, true-pair counts from C(n,2) folds. The oracle
    replays both bands, the bucket guard, the pair distinct, and
    the truth joins."""
    from knowledge_graph_spark.functions.vectors import ws_tokens
    from knowledge_graph_spark.operators.linking import blocking_metrics

    docs = _t(spark, sf_dir, "documents")
    items = docs.select(
        "doc_id", F.md5("text").alias("content_key"),
        F.concat_ws("|", "source",
                    F.col("n_chars").cast("string")).alias("_band0"),
        F.lower(F.try_element_at(
            ws_tokens("text"), F.lit(1).cast("int"))).alias("_band1"),
    )
    return blocking_metrics(
        items, [F.col("_band0"), F.col("_band1")],
        truth_col="content_key", max_bucket=256)


_SQL_BLOCKING_EVAL = r"""
WITH base AS (
  SELECT doc_id, md5(text) AS truth,
         concat_ws('|', source, CAST(n_chars AS VARCHAR)) AS b0,
         lower(list_filter(regexp_split_to_array(text, '\s+'),
                           x -> x <> '')[1]) AS b1
  FROM documents
),
keyed AS (
  SELECT 0 AS band, b0 AS key, doc_id FROM base WHERE b0 IS NOT NULL
  UNION ALL
  SELECT 1, b1, doc_id FROM base WHERE b1 IS NOT NULL
),
sz AS (SELECT band, key, COUNT(*) AS c FROM keyed GROUP BY 1, 2),
ok AS (SELECT keyed.* FROM keyed JOIN sz USING (band, key)
       WHERE sz.c BETWEEN 2 AND 256),
cand AS (
  SELECT DISTINCT k1.doc_id AS a, k2.doc_id AS b
  FROM ok k1 JOIN ok k2
    ON k1.band = k2.band AND k1.key = k2.key
   AND k1.doc_id < k2.doc_id
),
hit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
  FROM cand
  JOIN base ba ON ba.doc_id = cand.a
  JOIN base bb ON bb.doc_id = cand.b
  WHERE ba.truth IS NOT NULL AND ba.truth = bb.truth
),
gold AS (
  SELECT CAST(COALESCE(SUM(n * (n - 1) // 2), 0) AS BIGINT) AS n_gold
  FROM (SELECT COUNT(*) AS n FROM base WHERE truth IS NOT NULL
        GROUP BY truth)
),
ni AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items FROM base),
nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand)
SELECT ni.n_items,
       CAST(ni.n_items * (ni.n_items - 1) // 2 AS BIGINT)
         AS total_pairs,
       nc.n_cand, hit.n_hit, gold.n_gold
FROM ni, nc, hit, gold
"""


def _q_pathsim(spark, sf_dir):
    """PathSim meta-path similarity (Sun et al., VLDB 2011) for the
    supplier -supplies-> part -supplies⁻¹-> supplier round trip:
    co-supplier path-instance counts plus both self-path degrees,
    integer ingredients of the hub-robust 2·n_ab/(n_aa+n_bb) score.
    The oracle replays the distinct edge fold, the per-part degree
    guard, the triangular pairing, and the degree joins."""
    from knowledge_graph_spark.operators.graph_analytics import pathsim

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(F.col("l_suppkey").alias("src"),
                      F.col("l_partkey").alias("dst"))
    return (pathsim(edges, min_shared=50, max_dst_degree=256)
            .orderBy("id_a", "id_b"))


_SQL_PATHSIM = r"""
WITH e AS (
  SELECT DISTINCT l_suppkey AS a, l_partkey AS b FROM lineitem
  WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL
),
keep AS (SELECT b FROM e GROUP BY b HAVING COUNT(*) <= 256),
ek AS (SELECT e.* FROM e JOIN keep USING (b)),
deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS n FROM ek GROUP BY a),
shared AS (
  SELECT e1.a AS id_a, e2.a AS id_b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM ek e1 JOIN ek e2 ON e1.b = e2.b AND e1.a < e2.a
  GROUP BY 1, 2 HAVING COUNT(*) >= 50
)
SELECT s.id_a, s.id_b, s.n_ab, da.n AS n_aa, db.n AS n_bb
FROM shared s
JOIN deg da ON da.a = s.id_a
JOIN deg db ON db.a = s.id_b
ORDER BY s.id_a, s.id_b
"""


def _q_set_expansion(spark, sf_dir):
    """SEAL-style entity-set expansion (Wang & Cohen, ICDM 2007)
    over the same injected coordination lists as
    `coordination_pairs`, seeded with {sparrows, crows}: trout and
    ferns must surface ranked by distinct co-list documents and by
    how many DIFFERENT seeds corroborate them, while the seeds
    themselves are anti-joined out. The oracle replays the pair
    extraction, both seed joins, the anti-join, and both distinct
    counts."""
    from knowledge_graph_spark.operators.patterns import set_expansion

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")

    def pick(arr, m):
        return F.element_at(
            F.array(*[F.lit(x) for x in arr]), (k % m + 1).cast("int"))

    a = pick(("Sparrows", "Oaks", "Salmon"), 3)
    b = pick(("crows", "ferns"), 2)
    inj = F.concat_ws(
        " ", F.col("text"),
        F.concat(a, F.lit(",")), b, F.lit("and trout."),
        F.when(k % 4 == 0, F.lit("dup, dup, and solo end")),
    )
    pages = docs.select("doc_id", inj.alias("text"))
    seeds = spark.createDataFrame(
        [("sparrows",), ("crows",)], "item string")
    return set_expansion(pages, seeds).orderBy("item")


_SQL_SET_EXPANSION = r"""
WITH inj AS (
  SELECT doc_id, concat_ws(' ', text,
    (['Sparrows','Oaks','Salmon'])[doc_id % 3 + 1] || ',',
    (['crows','ferns'])[doc_id % 2 + 1], 'and trout.',
    CASE WHEN doc_id % 4 = 0 THEN 'dup, dup, and solo end' END)
    AS text
  FROM documents
),
m AS (
  SELECT doc_id, unnest(regexp_extract_all(text,
    '([A-Za-z][A-Za-z0-9_-]*), ([A-Za-z][A-Za-z0-9_-]*),? and ([A-Za-z][A-Za-z0-9_-]*)',
    0)) AS m
  FROM inj
),
g AS (
  SELECT doc_id,
    lower(regexp_extract(m, '([A-Za-z][A-Za-z0-9_-]*), ([A-Za-z][A-Za-z0-9_-]*),? and ([A-Za-z][A-Za-z0-9_-]*)', 1)) AS a,
    lower(regexp_extract(m, '([A-Za-z][A-Za-z0-9_-]*), ([A-Za-z][A-Za-z0-9_-]*),? and ([A-Za-z][A-Za-z0-9_-]*)', 2)) AS b,
    lower(regexp_extract(m, '([A-Za-z][A-Za-z0-9_-]*), ([A-Za-z][A-Za-z0-9_-]*),? and ([A-Za-z][A-Za-z0-9_-]*)', 3)) AS c
  FROM m
),
pairs AS (
  SELECT doc_id, least(a, b) AS item_a, greatest(a, b) AS item_b FROM g
  UNION ALL
  SELECT doc_id, least(a, c), greatest(a, c) FROM g
  UNION ALL
  SELECT doc_id, least(b, c), greatest(b, c) FROM g
),
p2 AS (SELECT * FROM pairs WHERE item_a <> item_b),
seeds(s) AS (VALUES ('sparrows'), ('crows')),
hits AS (
  SELECT doc_id, item_b AS item, s FROM p2 JOIN seeds ON item_a = s
  UNION ALL
  SELECT doc_id, item_a, s FROM p2 JOIN seeds ON item_b = s
)
SELECT item,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_seed_docs,
       CAST(COUNT(DISTINCT s) AS BIGINT) AS n_seeds
FROM hits
WHERE item NOT IN (SELECT s FROM seeds)
GROUP BY item
ORDER BY item
"""


def _q_seeded_hosts(spark, sf_dir):
    """Semi-supervised domain tagging by seeded label propagation
    (Zhu & Ghahramani 2002): suppliers co-occurring in an order are
    linked; every 5th supplier is seeded with its region label and
    two clamped-seed argmax rounds spread labels across the
    co-occurrence graph (integer votes, ties to the smaller label).
    The oracle replays the edge fold, both rounds, the seed clamp,
    and the tie-break."""
    from knowledge_graph_spark.operators.graph_analytics import (
        seeded_label_propagation)

    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    bi = li.select(F.col("l_orderkey").alias("o"),
                   F.col("l_suppkey").alias("s")).distinct()
    a = bi.select(F.col("o"), F.col("s").alias("src"))
    b = bi.select(F.col("o"), F.col("s").alias("dst"))
    edges = (a.join(b, "o")
             .filter(F.col("src") != F.col("dst"))
             .select("src", "dst"))
    seeds = (sup.filter(F.col("s_suppkey") % 5 == 0)
             .join(nat, sup["s_nationkey"] == nat["n_nationkey"])
             .select(F.col("s_suppkey").alias("node"),
                     F.concat(F.lit("r"),
                              F.col("n_regionkey").cast("string"))
                     .alias("label")))
    return (seeded_label_propagation(edges, seeds, n_rounds=2)
            .orderBy("node"))


_SQL_SEEDED_HOSTS = r"""
WITH e0 AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s
            FROM lineitem),
ed AS (SELECT DISTINCT a.s AS u, b.s AS v
       FROM e0 a JOIN e0 b ON a.o = b.o AND a.s <> b.s),
seeds AS (
  SELECT s_suppkey AS n, 'r' || CAST(n_regionkey AS VARCHAR) AS l
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE s_suppkey % 5 = 0
),
r1v AS (SELECT ed.u AS n, s.l, COUNT(*) AS c
        FROM ed JOIN seeds s ON ed.v = s.n GROUP BY 1, 2),
r1i AS (SELECT n, l FROM (
          SELECT n, l, row_number() OVER (
            PARTITION BY n ORDER BY c DESC, l ASC) AS rn
          FROM r1v WHERE n NOT IN (SELECT n FROM seeds))
        WHERE rn = 1),
l1 AS (SELECT * FROM seeds UNION ALL SELECT * FROM r1i),
r2v AS (SELECT ed.u AS n, t.l, COUNT(*) AS c
        FROM ed JOIN l1 t ON ed.v = t.n GROUP BY 1, 2),
r2i AS (SELECT n, l FROM (
          SELECT n, l, row_number() OVER (
            PARTITION BY n ORDER BY c DESC, l ASC) AS rn
          FROM r2v WHERE n NOT IN (SELECT n FROM seeds))
        WHERE rn = 1),
l2 AS (SELECT * FROM seeds UNION ALL SELECT * FROM r2i)
SELECT n AS node, l AS label FROM l2 ORDER BY node
"""


def _q_basket_pairs(spark, sf_dir):
    """Frequent 2-itemset mining (Agrawal et al., SIGMOD 1993) over
    order baskets with parts folded to 199 pseudo-items so pair
    support accumulates: pair/item/basket counts are the support /
    confidence / lift ingredients, all integers. The oracle replays
    the distinct fold, the basket-size guard, the triangular pair
    generation, and the census."""
    from knowledge_graph_spark.operators.assoc import frequent_item_pairs

    li = _t(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("basket"),
        F.concat(F.lit("i"), (F.col("l_partkey") % 199).cast("string"))
        .alias("item"))
    return (frequent_item_pairs(baskets, min_support=4)
            .orderBy("item_a", "item_b"))


_SQL_BASKET_PAIRS = r"""
WITH bi AS (
  SELECT DISTINCT l_orderkey AS b,
         'i' || CAST(l_partkey % 199 AS VARCHAR) AS i
  FROM lineitem
  WHERE l_orderkey IS NOT NULL
),
sz AS (SELECT b, COUNT(*) AS c FROM bi GROUP BY b),
-- guarded universe: every statistic (supports, basket census, pairs)
-- censuses baskets <= max_basket, mirroring the engine
g AS (SELECT bi.*, sz.c FROM bi JOIN sz USING (b) WHERE sz.c <= 256),
sup AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY i),
census AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n_baskets
           FROM g),
okb AS (SELECT * FROM g WHERE c >= 2),
co AS (
  SELECT t1.i AS item_a, t2.i AS item_b,
         CAST(COUNT(*) AS BIGINT) AS pair_count
  FROM okb t1 JOIN okb t2 ON t1.b = t2.b AND t1.i < t2.i
  GROUP BY 1, 2 HAVING COUNT(*) >= 4
)
SELECT co.item_a, co.item_b, co.pair_count,
       sa.n AS count_a, sb.n AS count_b, census.n_baskets
FROM co
JOIN sup sa ON sa.i = co.item_a
JOIN sup sb ON sb.i = co.item_b
CROSS JOIN census
ORDER BY co.item_a, co.item_b
"""


def _q_rule_inferences(spark, sf_dir):
    """KB completion (Galárraga et al. WWW 2013 §6): the mined AMIE
    chain rules applied BACK to the KB — every body path whose head
    triple is not yet asserted becomes an inferred (subj, pred, obj)
    with full rule provenance (r1, r2 and the integer
    support/body_pairs/pca_pairs counters, so CWA/PCA confidence
    stays a row-local division). On the TPC-H KB the two mined rules
    predict makes_brand for the ODD suppliers (the mod-2 planting
    asserts only even ones) and based_in for the non-mod-3 ones. The
    oracle replays mining, set-at-a-time application, and the
    existing-head anti join."""
    from knowledge_graph_spark.operators.rules import complete_kb

    kb = _kb_triples(spark, sf_dir)
    return (complete_kb(kb, min_support=2)
            .orderBy("subj", "pred", "obj", "r1", "r2"))


_SQL_RULE_INFERENCES = r"""
WITH """ + _SQL_KB + r""",
t AS (SELECT DISTINCT subj AS s, pred AS p, obj AS o FROM kb
      WHERE subj IS NOT NULL AND pred IS NOT NULL AND obj IS NOT NULL),
body AS (
  SELECT DISTINCT t1.p AS r1, t2.p AS r2, t1.s AS x, t2.o AS y
  FROM t t1 JOIN t t2 ON t1.o = t2.s
),
sup AS (
  SELECT b.r1, b.r2, h.p AS r3, CAST(COUNT(*) AS BIGINT) AS support
  FROM body b JOIN t h ON h.s = b.x AND h.o = b.y
  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
),
bn AS (
  SELECT r1, r2, CAST(COUNT(*) AS BIGINT) AS body_pairs
  FROM body GROUP BY 1, 2
),
r3x AS (SELECT DISTINCT p AS r3, s AS x FROM t),
pca AS (
  SELECT b.r1, b.r2, r3x.r3, CAST(COUNT(*) AS BIGINT) AS pca_pairs
  FROM body b JOIN r3x ON r3x.x = b.x
  GROUP BY 1, 2, 3
),
rules AS (
  SELECT sup.r1, sup.r2, sup.r3, sup.support, bn.body_pairs,
         pca.pca_pairs
  FROM sup
  JOIN bn ON bn.r1 = sup.r1 AND bn.r2 = sup.r2
  JOIN pca ON pca.r1 = sup.r1 AND pca.r2 = sup.r2
            AND pca.r3 = sup.r3
),
cand AS (
  SELECT b.x, r.r3 AS p, b.y AS o, r.r1, r.r2, r.support,
         r.body_pairs, r.pca_pairs
  FROM body b JOIN rules r ON r.r1 = b.r1 AND r.r2 = b.r2
)
SELECT c.x AS subj, c.p AS pred, c.o AS obj, c.r1, c.r2, c.support,
       c.body_pairs, c.pca_pairs
FROM cand c
LEFT JOIN t e ON e.s = c.x AND e.p = c.p AND e.o = c.o
WHERE e.s IS NULL
ORDER BY subj, pred, obj, r1, r2
"""


def _q_predicate_profile(spark, sf_dir):
    """Per-predicate cardinality/functionality profile over the
    TPC-H KB (the AMIE §4.2 functionality statistic + the YAGO
    functional-property audit): distinct-triple, subject and object
    counts plus max fan-out/fan-in, all integers. located_in /
    in_region / based_in / has_brand are functional (max_fanout = 1);
    supplies and makes_brand are many-to-many. The oracle replays the
    distinct fold and both grouped maxima."""
    from knowledge_graph_spark.operators.rules import predicate_stats

    kb = _kb_triples(spark, sf_dir)
    return predicate_stats(kb).orderBy("pred")


_SQL_PREDICATE_PROFILE = r"""
WITH """ + _SQL_KB + r""",
t AS (SELECT DISTINCT subj AS s, pred AS p, obj AS o FROM kb
      WHERE subj IS NOT NULL AND pred IS NOT NULL AND obj IS NOT NULL),
by_s AS (SELECT p, s, COUNT(*) AS fo FROM t GROUP BY 1, 2),
by_o AS (SELECT p, o, COUNT(*) AS fi FROM t GROUP BY 1, 2),
a AS (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS n_subjects,
         CAST(SUM(fo) AS BIGINT) AS n_triples,
         CAST(MAX(fo) AS BIGINT) AS max_fanout
  FROM by_s GROUP BY p
),
b AS (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS n_objects,
         CAST(MAX(fi) AS BIGINT) AS max_fanin
  FROM by_o GROUP BY p
)
SELECT a.p AS pred, a.n_triples, a.n_subjects, b.n_objects,
       a.max_fanout, b.max_fanin
FROM a JOIN b ON a.p = b.p
ORDER BY pred
"""


def _q_kg_motif(spark, sf_dir):
    """Cypher-MATCH-style motif query compiled to Catalyst joins
    (the reference answers exactly such patterns via Neo4j Cypher —
    `reference/backend/kgapi/kg_writer.py` query strings): bind
    (s)-[supplies]->(prt); (prt)-[has_brand]->(brand);
    (s)-[located_in]->(nat), then census the (brand, nation) pairs —
    "which brands does each nation's supplier base reach". The
    oracle is the same conjunctive pattern as explicit SQL joins
    over the distinct triple set."""
    from knowledge_graph_spark.operators.graph_analytics import find_motif

    kb = _kb_triples(spark, sf_dir)
    m = find_motif(
        kb,
        "(s)-[supplies]->(prt); (prt)-[has_brand]->(brand); "
        "(s)-[located_in]->(nat)")
    return (m.groupBy("brand", "nat")
            .agg(F.count("*").cast("long").alias("n_bindings"))
            .orderBy("brand", "nat"))


_SQL_KG_MOTIF = r"""
WITH """ + _SQL_KB + r""",
t AS (SELECT DISTINCT subj AS s, pred AS p, obj AS o FROM kb
      WHERE subj IS NOT NULL AND pred IS NOT NULL AND obj IS NOT NULL),
m AS (
  SELECT DISTINCT a1.s AS s, a1.o AS prt, a2.o AS brand, a3.o AS nat
  FROM t a1
  JOIN t a2 ON a2.s = a1.o AND a2.p = 'has_brand'
  JOIN t a3 ON a3.s = a1.s AND a3.p = 'located_in'
  WHERE a1.p = 'supplies'
)
SELECT brand, nat, CAST(COUNT(*) AS BIGINT) AS n_bindings
FROM m GROUP BY brand, nat
ORDER BY brand, nat
"""


def _q_scc_condensation(spark, sf_dir):
    """Condensation (quotient DAG) of the host link graph under its
    SCCs — the object Broder-anatomy analyses traverse: one
    super-edge per ordered component pair with the distinct
    underlying-edge count. The oracle derives SCC labels from first
    principles (mutual reachability over the recursive transitive
    closure, as in host_scc) and folds the edge list over them."""
    from knowledge_graph_spark.operators.graph_analytics import (
        condense, strongly_connected_components)

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = _web_census_edges(docs)
    scc = strongly_connected_components(edges)
    return condense(edges, scc).orderBy("scc_u", "scc_v")


_SQL_SCC_CONDENSATION = r"""
WITH RECURSIVE """ + _WEB_CENSUS_EDGES_CTE + r""",
reach AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, x.dst FROM reach r JOIN e x ON x.src = r.dst
),
mutual AS (
  SELECT a.src AS id, a.dst AS o
  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
),
scc AS (
  SELECT n.id, LEAST(n.id, COALESCE(MIN(m.o), n.id)) AS scc_id
  FROM nodes n LEFT JOIN mutual m ON m.id = n.id
  GROUP BY n.id
)
SELECT su.scc_id AS scc_u, sv.scc_id AS scc_v,
       CAST(COUNT(*) AS BIGINT) AS n_edges
FROM e
JOIN scc su ON su.id = e.src
JOIN scc sv ON sv.id = e.dst
WHERE su.scc_id != sv.scc_id AND e.src != e.dst
GROUP BY 1, 2
ORDER BY 1, 2
"""


def _q_degree_powerlaw(spark, sf_dir):
    """Power-law exponent census of the host graph's undirected
    degree distribution (Clauset-Shalizi-Newman SIAM Rev. 2009 eq.
    3.1 ingredients, integer-exact): one row of BIGINTs — the alpha
    MLE is ``1 + n_tail / (sum_log_1e6 / 1e6)``, a row-local
    division for the caller. The float work is one ln per DISTINCT
    degree, rounded at the integer scale BEFORE the weighted sum, so
    summation order and engine libm can't flip the hash. The oracle
    replays the canonical undirected fold, the degree census, and
    the rounded sum."""
    from knowledge_graph_spark.operators.graph_analytics import (
        degree_powerlaw)

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    edges = _web_census_edges(docs)
    return degree_powerlaw(edges, d_min=2)


_SQL_DEGREE_POWERLAW = r"""
WITH """ + _WEB_CENSUS_EDGES_CTE + r""",
und AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM e WHERE src != dst
),
ids AS (SELECT a AS id FROM und UNION ALL SELECT b FROM und),
deg AS (SELECT id, COUNT(*) AS d FROM ids GROUP BY id),
census AS (SELECT d, COUNT(*) AS n_d FROM deg GROUP BY d)
SELECT CAST(SUM(n_d) AS BIGINT) AS n_nodes,
       CAST(SUM(CASE WHEN d >= 2 THEN n_d ELSE 0 END) AS BIGINT)
         AS n_tail,
       CAST(2 AS BIGINT) AS d_min,
       CAST(MAX(d) AS BIGINT) AS max_degree,
       CAST(SUM(CASE WHEN d >= 2 THEN
                CAST(ROUND(LN(CAST(d AS DOUBLE) / 1.5) * 1000000, 0)
                     AS BIGINT) * n_d
                ELSE 0 END) AS BIGINT) AS sum_log_1e6
FROM census
"""


def _q_entity_cards(spark, sf_dir):
    """KG → RAG-corpus bridge: one verbalized "entity card" per
    subject (KELM-style KG verbalization — Agarwal et al. NAACL
    2021), with sorted predicates/objects and a per-predicate object
    cap so the rendering is byte-deterministic on any engine or
    cluster size. The oracle re-renders every card in DuckDB
    (string_agg ORDER BY = Spark's sorted-struct fold, binary
    collation both sides)."""
    from knowledge_graph_spark.operators.kg_export import entity_cards

    kb = _kb_triples(spark, sf_dir)
    return entity_cards(kb, max_objects=5).orderBy("entity")


_SQL_ENTITY_CARDS = r"""
WITH """ + _SQL_KB + r""",
t AS (SELECT DISTINCT subj AS s, pred AS p, obj AS o FROM kb
      WHERE subj IS NOT NULL AND pred IS NOT NULL AND obj IS NOT NULL),
per_sp AS (
  SELECT s, p, CAST(COUNT(*) AS BIGINT) AS n,
         p || ': ' ||
         array_to_string(list_slice(list_sort(list(o)), 1, 5), ', ')
           AS line
  FROM t GROUP BY s, p
)
SELECT s AS entity, CAST(SUM(n) AS BIGINT) AS n_facts,
       s || chr(10) || string_agg(line, chr(10) ORDER BY p) AS card
FROM per_sp GROUP BY s
ORDER BY entity
"""


_QA_TEMPLATES = {
    "has_brand": "Which brand is {s}?",
    "located_in": "Where is supplier {s} located?",
}


def _q_qa_pairs(spark, sf_dir):
    """Template-based QA synthesis from KG triples (LC-QuAD /
    SimpleQuestions-style dataset construction — Trivedi et al. ISWC
    2017): one question per (subject, templated predicate) with
    sorted capped answers and the uncapped answer count, so ambiguous
    questions stay filterable. The oracle replays the literal
    placeholder replace and the sorted answer fold."""
    from knowledge_graph_spark.operators.kg_export import qa_pairs

    kb = _kb_triples(spark, sf_dir)
    return (qa_pairs(kb, _QA_TEMPLATES, max_answers=8)
            .orderBy("subj", "pred"))


_SQL_QA_PAIRS = r"""
WITH """ + _SQL_KB + r""",
t AS (SELECT DISTINCT subj AS s, pred AS p, obj AS o FROM kb
      WHERE subj IS NOT NULL AND pred IS NOT NULL AND obj IS NOT NULL)
SELECT s AS subj, p AS pred,
       CASE p
         WHEN 'has_brand'
           THEN replace('Which brand is {s}?', '{s}', s)
         WHEN 'located_in'
           THEN replace('Where is supplier {s} located?', '{s}', s)
       END AS question,
       array_to_string(list_slice(list_sort(list(o)), 1, 8), ', ')
         AS answers,
       CAST(COUNT(*) AS BIGINT) AS n_answers
FROM t WHERE p IN ('has_brand', 'located_in')
GROUP BY s, p
ORDER BY subj, pred
"""


def _q_term_powerlaw(spark, sf_dir):
    """Zipf exponent census of the documents corpus term-frequency
    distribution (CSN 2009 eq. 3.1 ingredients, integer-exact — the
    same shared estimator as degree_powerlaw, over the repo-canonical
    word tokenization). One BIGINT-only row; alpha is a row-local
    division for the caller."""
    from knowledge_graph_spark.operators.textstats import term_powerlaw

    docs = _t(spark, sf_dir, "documents").select("text")
    return term_powerlaw(docs, f_min=2)


_SQL_TERM_POWERLAW = r"""
WITH w AS (
  SELECT unnest(list_filter(
    regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
    x -> x != '')) AS w
  FROM documents
),
freqs AS (SELECT w, COUNT(*) AS f FROM w GROUP BY w),
census AS (SELECT f AS d, COUNT(*) AS n_d FROM freqs GROUP BY f)
SELECT CAST(SUM(n_d) AS BIGINT) AS n_nodes,
       CAST(SUM(CASE WHEN d >= 2 THEN n_d ELSE 0 END) AS BIGINT)
         AS n_tail,
       CAST(2 AS BIGINT) AS d_min,
       CAST(MAX(d) AS BIGINT) AS max_degree,
       CAST(SUM(CASE WHEN d >= 2 THEN
                CAST(ROUND(LN(CAST(d AS DOUBLE) / 1.5) * 1000000, 0)
                     AS BIGINT) * n_d
                ELSE 0 END) AS BIGINT) AS sum_log_1e6
FROM census
"""


def _q_entity_alignment(spark, sf_dir):
    """Cross-KB instance alignment by shared (pred, obj) evidence —
    the instance-based core of PARIS (Suchanek et al. VLDB 2012). KB
    A asserts four attribute facts per part ('p'||key); KB B is a
    re-crawl of every 3rd part under a different id scheme
    ('q'||key) with the same facts. True pairs share up to four
    facts; coincidental pairs (same type/container/size) survive only
    past min_shared=2; the (has_brand, Brand#XX) facts exceed the
    per-key degree cap at this corpus size and are dropped BEFORE the
    join — the PARIS stop-literal move — while the per-side fact
    denominators stay uncapped. The oracle replays the guard, the
    evidence join, and both denominators."""
    from knowledge_graph_spark.operators.linking import align_entities

    part = _t(spark, sf_dir, "part")

    def facts(prefix, flt):
        base = part.filter(flt) if flt is not None else part
        subj = F.concat(F.lit(prefix),
                        F.col("p_partkey").cast("string"))
        out = None
        for pred, col in (("has_brand", F.col("p_brand")),
                          ("has_type", F.col("p_type")),
                          ("has_name", F.col("p_name")),
                          ("has_size",
                           F.concat(F.lit("sz"),
                                    F.col("p_size").cast("string")))):
            piece = base.select(subj.alias("subj"),
                                F.lit(pred).alias("pred"),
                                col.alias("obj"))
            out = piece if out is None else out.unionByName(piece)
        return out

    kb_a = facts("p", None)
    kb_b = facts("q", F.col("p_partkey") % 3 == 0)
    return (align_entities(kb_a, kb_b, min_shared=2, max_po_degree=64)
            .orderBy("subj_a", "subj_b"))


_SQL_ENTITY_ALIGNMENT = r"""
WITH a AS (
  SELECT DISTINCT 'p' || CAST(p_partkey AS VARCHAR) AS s, pred, obj
  FROM part, (VALUES ('has_brand'), ('has_type'), ('has_name'),
              ('has_size')) v(pred),
  LATERAL (SELECT CASE v.pred
             WHEN 'has_brand' THEN p_brand
             WHEN 'has_type' THEN p_type
             WHEN 'has_name' THEN p_name
             ELSE 'sz' || CAST(p_size AS VARCHAR) END AS obj) o
),
b AS (
  SELECT DISTINCT 'q' || CAST(p_partkey AS VARCHAR) AS s, pred, obj
  FROM part, (VALUES ('has_brand'), ('has_type'), ('has_name'),
              ('has_size')) v(pred),
  LATERAL (SELECT CASE v.pred
             WHEN 'has_brand' THEN p_brand
             WHEN 'has_type' THEN p_type
             WHEN 'has_name' THEN p_name
             ELSE 'sz' || CAST(p_size AS VARCHAR) END AS obj) o
  WHERE p_partkey % 3 = 0
),
ca AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n_facts_a FROM a GROUP BY s),
cb AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n_facts_b FROM b GROUP BY s),
ga AS (
  SELECT a.* FROM a
  JOIN (SELECT pred, obj FROM a GROUP BY pred, obj
        HAVING COUNT(*) <= 64) k
    ON k.pred = a.pred AND k.obj = a.obj
),
gb AS (
  SELECT b.* FROM b
  JOIN (SELECT pred, obj FROM b GROUP BY pred, obj
        HAVING COUNT(*) <= 64) k
    ON k.pred = b.pred AND k.obj = b.obj
),
shared AS (
  SELECT ga.s AS subj_a, gb.s AS subj_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM ga JOIN gb ON ga.pred = gb.pred AND ga.obj = gb.obj
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT sh.subj_a, sh.subj_b, sh.n_shared, ca.n_facts_a, cb.n_facts_b
FROM shared sh
JOIN ca ON ca.s = sh.subj_a
JOIN cb ON cb.s = sh.subj_b
ORDER BY sh.subj_a, sh.subj_b
"""


def _q_kg_snapshot(spark, sf_dir):
    """Point-in-time KB read over temporally-scoped facts (the
    T-YAGO/YAGO2 validity-window semantics): facts are (customer,
    ordered_status, status) scoped by order dates via
    fact_intervals; the snapshot keeps facts first seen on or before
    1997-06-15 and last seen within 90 grace days of it — the
    retire-stale-facts read an incremental KG update pipeline serves.
    The oracle replays interval derivation and the window filter."""
    from knowledge_graph_spark.operators.temporal import (
        fact_intervals, snapshot_at)

    orders = _t(spark, sf_dir, "orders")
    assertions = orders.select(
        F.col("o_orderkey").alias("doc_id"),
        F.concat(F.lit("c"),
                 F.col("o_custkey").cast("string")).alias("subj"),
        F.lit("ordered_status").alias("pred"),
        F.col("o_orderstatus").alias("obj"))
    dates = orders.select(F.col("o_orderkey").alias("doc_id"),
                          F.to_date("o_orderdate").alias("date"))
    iv = fact_intervals(assertions, dates)
    return (snapshot_at(iv, "1997-06-15", grace_days=90)
            .orderBy("subj", "pred", "obj"))


_SQL_KG_SNAPSHOT = r"""
WITH iv AS (
  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS subj,
         'ordered_status' AS pred, o_orderstatus AS obj,
         MIN(CAST(o_orderdate AS DATE)) AS first_seen,
         MAX(CAST(o_orderdate AS DATE)) AS last_seen,
         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_mentions
  FROM orders GROUP BY 1, 2, 3
)
SELECT subj, pred, obj, first_seen, last_seen, n_docs, n_mentions
FROM iv
WHERE first_seen <= DATE '1997-06-15'
  AND last_seen + INTERVAL 90 DAY >= DATE '1997-06-15'
ORDER BY subj, pred, obj
"""


def _q_wl_roles(spark, sf_dir):
    """Weisfeiler-Leman structural-role refinement (1-WL color
    refinement; Shervashidze et al., JMLR 2011) over the bipartite
    part↔supplier graph: 2 rounds of label = md5(old, commutative
    neighbor-multiset fold). Nodes sharing a role are structurally
    indistinguishable at radius 2 — the blocking signal for
    graph-shaped entity resolution. The oracle replays the degree
    seed and both rounds with the same md5-52 fold."""
    from knowledge_graph_spark.operators.graph_analytics import wl_roles

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    return wl_roles(edges, rounds=2).orderBy("id")


def _wl_roles_sql(rounds: int = 2) -> str:
    """Unrolled 1-WL refinement: same edge fold, same degree seed,
    same per-round md5(old:sum:count) relabel as wl_roles(). The
    neighbor fold is the shared md5-52 convention (sketches.h52)
    reduced mod 2^30 — both engines sum exact BIGINTs."""
    q = r"""WITH e AS (
  SELECT DISTINCT 'p' || l_partkey AS src, 's' || l_suppkey AS dst
  FROM lineitem
),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e WHERE least(src, dst) <> greatest(src, dst)
),
sym AS (SELECT a AS u, b AS v FROM und
        UNION ALL SELECT b AS u, a AS v FROM und),
l0 AS (SELECT u AS id, CAST(COUNT(*) AS VARCHAR) AS role
       FROM sym GROUP BY u)"""
    for i in range(rounds):
        q += f""",
n{i} AS (
  SELECT s.u,
         CAST(SUM(CAST(concat('0x', substring(md5(l.role), 1, 13))
                       AS BIGINT) % 1073741824) AS BIGINT) AS sm,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM sym s JOIN l{i} l ON s.v = l.id GROUP BY s.u
),
l{i + 1} AS (
  SELECT l.id,
         md5(concat_ws(':', l.role, CAST(n.sm AS VARCHAR),
                       CAST(n.c AS VARCHAR))) AS role
  FROM l{i} l JOIN n{i} n ON l.id = n.u
)"""
    q += f"""
SELECT id, role FROM l{rounds} ORDER BY id"""
    return q


_SQL_WL_ROLES = _wl_roles_sql()


def _q_host_spam_mass(spark, sf_dir):
    """Spam-mass ranking (Gyongyi et al., VLDB 2006) over the same
    synthesized host-citation graph as host_pagerank: global
    PageRank minus TrustRank (personalized PageRank teleporting to
    the trusted core = src hosts with residue % 7 == 0) — the rank
    share the trusted core can't account for. Output is the integer
    rank POSITION over 6-dp-rounded mass (ties by host), the same
    hash-stable convention as host_pagerank; the oracle unrolls
    BOTH damped power iterations."""
    from pyspark.sql import Window

    from knowledge_graph_spark.operators.graph_analytics import spam_mass

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def _host(prefix, expr, domain):
        return F.concat(F.lit(prefix), expr.cast("string"), F.lit(domain))

    a, b, c = (F.col("doc_id") % 89), (F.col("doc_id") % 97), \
        (F.col("doc_id") % 83)
    src = _host("src-", a, ".example.com")
    cite = _host("cite-", b, ".example.org")
    mirror = _host("mirror-", c, ".example.net")
    mirror_b = _host("mirror-", b % 83, ".example.net")
    src_c = _host("src-", c, ".example.com")
    edges = (
        docs.select(src.alias("src"), cite.alias("dst"))
        .unionByName(docs.select(src.alias("src"), mirror.alias("dst")))
        .unionByName(docs.select(cite.alias("src"), mirror_b.alias("dst")))
        .unionByName(docs.select(mirror.alias("src"), src_c.alias("dst")))
    )
    trusted = (docs.filter((a % 7) == 0)
               .select(src.alias("id")).distinct())
    sm = spam_mass(edges, trusted, iterations=10)
    w = Window.partitionBy(
        F.pmod(F.col("pr").cast("bigint"), F.lit(1))).orderBy(
        F.round(F.col("mass"), 6).desc(), F.col("id"))
    return (sm.select(F.col("id").alias("host"),
                      F.row_number().over(w).cast("long").alias("pos"))
            .orderBy("pos"))


def _host_spam_mass_sql(iters: int = 10) -> str:
    """Unrolled PR + TrustRank chains over the synthesized host
    graph; mass = pr - tr ranked over 6-dp rounding. Literals follow
    the ENGINE's float sequencing: Spark computes (1.0 - damping) in
    Python, so the oracle writes (1.0::DOUBLE - 0.85::DOUBLE), not a
    bare 0.15 (1 ulp apart — enough to flip a 6-dp tie)."""
    q = r"""WITH docs AS MATERIALIZED (SELECT doc_id FROM documents),
e AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT 'src-' || CAST(doc_id % 89 AS VARCHAR) || '.example.com' AS src,
           'cite-' || CAST(doc_id % 97 AS VARCHAR) || '.example.org' AS dst
    FROM docs
    UNION ALL
    SELECT 'src-' || CAST(doc_id % 89 AS VARCHAR) || '.example.com',
           'mirror-' || CAST(doc_id % 83 AS VARCHAR) || '.example.net'
    FROM docs
    UNION ALL
    SELECT 'cite-' || CAST(doc_id % 97 AS VARCHAR) || '.example.org',
           'mirror-' || CAST((doc_id % 97) % 83 AS VARCHAR) || '.example.net'
    FROM docs
    UNION ALL
    SELECT 'mirror-' || CAST(doc_id % 83 AS VARCHAR) || '.example.net',
           'src-' || CAST(doc_id % 83 AS VARCHAR) || '.example.com'
    FROM docs
  )
),
nodes AS MATERIALIZED (SELECT id FROM
          (SELECT src AS id FROM e UNION SELECT dst AS id FROM e)),
nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
seeds AS MATERIALIZED (
  SELECT DISTINCT 'src-' || CAST(doc_id % 89 AS VARCHAR) || '.example.com'
    AS id
  FROM docs WHERE (doc_id % 89) % 7 = 0
),
flags AS MATERIALIZED (
  SELECT n.id, CASE WHEN s.id IS NOT NULL THEN 1 ELSE 0 END AS f
  FROM nodes n LEFT JOIN seeds s ON n.id = s.id
),
ns AS MATERIALIZED (SELECT CAST(SUM(f) AS DOUBLE) AS m FROM flags),
tele AS MATERIALIZED (
  SELECT id, CAST(f AS DOUBLE) / (SELECT m FROM ns) AS t FROM flags),
r0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE / (SELECT n FROM nn) AS rank
                    FROM nodes),
p0 AS MATERIALIZED (SELECT id, t AS rank FROM tele)"""
    for i in range(iters):
        q += f""",
d{i} AS MATERIALIZED (SELECT COALESCE(SUM(rank), 0.0::DOUBLE) AS dm FROM r{i}
         WHERE id NOT IN (SELECT src FROM deg)),
c{i} AS MATERIALIZED (SELECT e.dst AS id, SUM(r.rank / deg.deg) AS c
         FROM e JOIN r{i} r ON e.src = r.id JOIN deg ON e.src = deg.src
         GROUP BY e.dst),
r{i + 1} AS MATERIALIZED (SELECT n.id,
           (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
           + 0.85::DOUBLE * (COALESCE(c.c, 0.0::DOUBLE)
                             + (SELECT dm FROM d{i})
                               / CAST((SELECT n FROM nn) AS DOUBLE))
             AS rank
           FROM nodes n LEFT JOIN c{i} c ON n.id = c.id),
pd{i} AS MATERIALIZED (SELECT COALESCE(SUM(rank), 0.0::DOUBLE) AS dm
         FROM p{i} WHERE id NOT IN (SELECT src FROM deg)),
pc{i} AS MATERIALIZED (SELECT e.dst AS id, SUM(r.rank / deg.deg) AS c
         FROM e JOIN p{i} r ON e.src = r.id JOIN deg ON e.src = deg.src
         GROUP BY e.dst),
p{i + 1} AS MATERIALIZED (SELECT tl.id,
           (1.0::DOUBLE - 0.85::DOUBLE) * tl.t
           + 0.85::DOUBLE * (COALESCE(c.c, 0.0::DOUBLE)
                             + (SELECT dm FROM pd{i}) * tl.t)
             AS rank
           FROM tele tl LEFT JOIN pc{i} c ON tl.id = c.id)"""
    q += f"""
SELECT r.id AS host,
       CAST(ROW_NUMBER() OVER (ORDER BY round(r.rank - p.rank, 6) DESC,
                               r.id) AS BIGINT) AS pos
FROM r{iters} r JOIN p{iters} p ON r.id = p.id ORDER BY pos"""
    return q


_SQL_HOST_SPAM_MASS = _host_spam_mass_sql()


def _q_host_salsa(spark, sf_dir):
    """SALSA hub/authority analysis (Lempel & Moran, WWW 2000) over
    the same synthesized host-citation graph as host_pagerank,
    via the exact closed form (component share × within-component
    degree fraction) instead of power iteration. The driver surface
    is the integer-exact ingredient tuple — the double score is one
    row-local division for API users — and the oracle recomputes
    degrees, the star-reduced support components (recursive CTE),
    and the component folds."""
    from knowledge_graph_spark.operators.graph_analytics import salsa

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def _host(prefix, expr, domain):
        return F.concat(F.lit(prefix), expr.cast("string"), F.lit(domain))

    a, b, c = (F.col("doc_id") % 89), (F.col("doc_id") % 97), \
        (F.col("doc_id") % 83)
    src = _host("src-", a, ".example.com")
    cite = _host("cite-", b, ".example.org")
    mirror = _host("mirror-", c, ".example.net")
    mirror_b = _host("mirror-", b % 83, ".example.net")
    src_c = _host("src-", c, ".example.com")
    edges = (
        docs.select(src.alias("src"), cite.alias("dst"))
        .unionByName(docs.select(src.alias("src"), mirror.alias("dst")))
        .unionByName(docs.select(cite.alias("src"),
                                 mirror_b.alias("dst")))
        .unionByName(docs.select(mirror.alias("src"),
                                 src_c.alias("dst")))
    )
    return (salsa(edges)
            .select("id", "side", "deg", "comp_size", "comp_deg",
                    "n_side")
            .orderBy("side", "id"))


_SQL_HOST_SALSA = r"""
WITH RECURSIVE docs AS MATERIALIZED (SELECT doc_id FROM documents),
e AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT 'src-' || CAST(doc_id % 89 AS VARCHAR) || '.example.com' AS src,
           'cite-' || CAST(doc_id % 97 AS VARCHAR) || '.example.org' AS dst
    FROM docs
    UNION ALL
    SELECT 'src-' || CAST(doc_id % 89 AS VARCHAR) || '.example.com',
           'mirror-' || CAST(doc_id % 83 AS VARCHAR) || '.example.net'
    FROM docs
    UNION ALL
    SELECT 'cite-' || CAST(doc_id % 97 AS VARCHAR) || '.example.org',
           'mirror-' || CAST((doc_id % 97) % 83 AS VARCHAR) || '.example.net'
    FROM docs
    UNION ALL
    SELECT 'mirror-' || CAST(doc_id % 83 AS VARCHAR) || '.example.net',
           'src-' || CAST(doc_id % 83 AS VARCHAR) || '.example.com'
    FROM docs
  )
),
din AS MATERIALIZED (SELECT dst AS id, CAST(COUNT(*) AS BIGINT) AS deg
                     FROM e GROUP BY dst),
dout AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg
                      FROM e GROUP BY src),
ar AS MATERIALIZED (SELECT src, MIN(dst) AS root FROM e GROUP BY src),
astar AS MATERIALIZED (
  SELECT DISTINCT r.root AS u, e.dst AS v
  FROM e JOIN ar r ON e.src = r.src WHERE r.root <> e.dst),
asym AS MATERIALIZED (SELECT u, v FROM astar
                      UNION SELECT v AS u, u AS v FROM astar),
areach(node, lab) AS (
  SELECT u, u FROM asym
  UNION
  SELECT s.v, r.lab FROM areach r JOIN asym s ON s.u = r.node),
acomp AS MATERIALIZED (SELECT node, MIN(lab) AS comp FROM areach
                       GROUP BY node),
alab AS MATERIALIZED (
  SELECT d.id, d.deg, COALESCE(c.comp, d.id) AS comp
  FROM din d LEFT JOIN acomp c ON c.node = d.id),
astats AS MATERIALIZED (
  SELECT comp, CAST(COUNT(*) AS BIGINT) AS comp_size,
         CAST(SUM(deg) AS BIGINT) AS comp_deg
  FROM alab GROUP BY comp),
hr AS MATERIALIZED (SELECT dst, MIN(src) AS root FROM e GROUP BY dst),
hstar AS MATERIALIZED (
  SELECT DISTINCT r.root AS u, e.src AS v
  FROM e JOIN hr r ON e.dst = r.dst WHERE r.root <> e.src),
hsym AS MATERIALIZED (SELECT u, v FROM hstar
                      UNION SELECT v AS u, u AS v FROM hstar),
hreach(node, lab) AS (
  SELECT u, u FROM hsym
  UNION
  SELECT s.v, r.lab FROM hreach r JOIN hsym s ON s.u = r.node),
hcomp AS MATERIALIZED (SELECT node, MIN(lab) AS comp FROM hreach
                       GROUP BY node),
hlab AS MATERIALIZED (
  SELECT d.id, d.deg, COALESCE(c.comp, d.id) AS comp
  FROM dout d LEFT JOIN hcomp c ON c.node = d.id),
hstats AS MATERIALIZED (
  SELECT comp, CAST(COUNT(*) AS BIGINT) AS comp_size,
         CAST(SUM(deg) AS BIGINT) AS comp_deg
  FROM hlab GROUP BY comp)
SELECT id, 'authority' AS side, deg, comp_size, comp_deg,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM alab) AS n_side
FROM alab JOIN astats USING (comp)
UNION ALL
SELECT id, 'hub' AS side, deg, comp_size, comp_deg,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM hlab) AS n_side
FROM hlab JOIN hstats USING (comp)
ORDER BY side, id
"""


def _q_ds_labels(spark, sf_dir):
    """Dawid-Skene crowd-label aggregation (Dawid & Skene, JRSS-C
    1979) over five synthetic raters of deterministic reliability
    (noise rates 5/10/20/35/50% via an integer hash of (doc, rater))
    voting on a binary document property: 10 EM iterations re-synced
    to a 9-dp lattice each step (module convention — see
    operators/labels.py), driver surface integer-only (vote counts
    + hard label). The oracle replays the vote synthesis and unrolls
    all ten EM rounds with the engine's exact arithmetic shape."""
    from knowledge_graph_spark.operators.labels import dawid_skene

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    raters = spark.createDataFrame(
        [(0, 5), (1, 10), (2, 20), (3, 35), (4, 50)],
        "w long, noise long")
    t = F.when(F.col("doc_id") % 3 == 0, F.lit(1)).otherwise(F.lit(0))
    flip = F.when(
        ((F.col("doc_id") + F.col("w")) * F.lit(2654435761)) % 100
        < F.col("noise"), F.lit(1)).otherwise(F.lit(0))
    votes = (docs.crossJoin(F.broadcast(raters))
             .select(F.col("doc_id").alias("item"),
                     F.col("w").alias("worker"),
                     ((t + flip) % 2).alias("label")))
    items, _workers = dawid_skene(votes, iterations=10)
    return (items.select("item", "n_votes", "n_pos", "label_hat")
            .orderBy("item"))


def _ds_labels_sql(iters: int = 10) -> str:
    """Unrolled 10-round EM replay of :func:`dawid_skene` over the
    synthesized rater votes. Every update rounds to 9 dp exactly
    where the engine does, clamps with the same literals, and keeps
    products in log space (ln/exp of identical 9-dp inputs), so the
    replay stays on the engine's lattice."""
    cl = "LEAST(GREATEST(round({x}, 9), 1e-6), 1.0 - 1e-6)"
    q = r"""WITH docs AS MATERIALIZED (SELECT doc_id FROM documents),
raters(w, noise) AS (VALUES (0, 5), (1, 10), (2, 20), (3, 35),
                            (4, 50)),
v AS MATERIALIZED (
  SELECT doc_id AS item, w AS worker,
         ((CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
          + (CASE WHEN ((doc_id + w) * 2654435761) % 100 < noise
             THEN 1 ELSE 0 END)) % 2 AS y
  FROM docs CROSS JOIN raters),
q0 AS MATERIALIZED (SELECT item, round(AVG(y), 9) AS q FROM v
                    GROUP BY item),
ni AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM q0)"""
    for i in range(iters):
        # GREATEST floor mirrors the engine's _mstep zero-denominator
        # guard (identical whenever the denominator is non-degenerate)
        alpha = cl.format(
            x="SUM(q.q * v.y) / GREATEST(SUM(q.q), 1e-6)")
        beta = cl.format(
            x="SUM((1.0 - q.q) * (1 - v.y)) "
              "/ GREATEST(SUM(1.0 - q.q), 1e-6)")
        p = cl.format(x="SUM(q) / (SELECT n FROM ni)")
        q += f""",
par{i} AS MATERIALIZED (
  SELECT v.worker, {alpha} AS alpha, {beta} AS beta
  FROM v JOIN q{i} q ON q.item = v.item GROUP BY v.worker),
pr{i} AS MATERIALIZED (SELECT {p} AS p FROM q{i}),
q{i + 1} AS MATERIALIZED (
  SELECT s.item, round(1.0 / (1.0 + exp(-s.z)), 9) AS q FROM (
    SELECT v.item,
           round(SUM(CASE WHEN v.y = 1 THEN ln(p.alpha)
                          ELSE ln(1.0 - p.alpha) END
                   - CASE WHEN v.y = 1 THEN ln(1.0 - p.beta)
                          ELSE ln(p.beta) END)
                 + ln((SELECT p FROM pr{i}))
                 - ln(1.0 - (SELECT p FROM pr{i})), 9) AS z
    FROM v JOIN par{i} p ON p.worker = v.worker
    GROUP BY v.item) s)"""
    q += f"""
SELECT v.item, CAST(COUNT(*) AS BIGINT) AS n_votes,
       CAST(SUM(v.y) AS BIGINT) AS n_pos,
       CAST(CASE WHEN MIN(q.q) > 0.5 THEN 1 ELSE 0 END AS BIGINT)
         AS label_hat
FROM v JOIN q{iters} q ON q.item = v.item
GROUP BY v.item ORDER BY v.item"""
    return q


_SQL_DS_LABELS = _ds_labels_sql()


def _q_rich_club(spark, sf_dir):
    """Rich-club census (Zhou & Mondragón 2004) over the
    part↔supplier graph at degree thresholds 1/2/4/8/16/32: node
    and edge counts above each threshold — phi(k) is a row-local
    division. The oracle recomputes the canonical undirected edge
    set, both degree tags, and every threshold fold."""
    from knowledge_graph_spark.operators.graph_analytics import (
        rich_club_census)

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    return (rich_club_census(edges, [1, 2, 4, 8, 16, 32])
            .orderBy("k"))


_SQL_RICH_CLUB = r"""
WITH e AS (SELECT DISTINCT 'p' || l_partkey AS src, 's' || l_suppkey AS dst
           FROM lineitem),
und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM e WHERE src <> dst),
sym AS (SELECT a AS u, b AS v FROM und
        UNION ALL SELECT b AS u, a AS v FROM und),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u),
tagged AS (SELECT da.d AS pa, db.d AS pb
           FROM und JOIN deg da ON da.u = und.a
                    JOIN deg db ON db.u = und.b),
ks(k) AS (VALUES (1), (2), (4), (8), (16), (32))
SELECT CAST(k AS BIGINT) AS k,
       (SELECT CAST(COALESCE(SUM(CASE WHEN d > k THEN 1 ELSE 0 END), 0)
               AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(COALESCE(SUM(CASE WHEN pa > k AND pb > k
                             THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM tagged) AS n_edges
FROM ks ORDER BY k
"""


def _q_yule_census(spark, sf_dir):
    """Yule's characteristic K ingredients per language slice (Yule
    1944) — the length-robust lexical-diversity / template-content
    alarm, integer-only over the repo-canonical word tokenization.
    The oracle recomputes the per-slice term frequencies and the
    three folds."""
    from knowledge_graph_spark.operators.textstats import yule_census

    docs = _t(spark, sf_dir, "documents").select("lang", "text")
    return yule_census(docs).orderBy("slice")


_SQL_YULE_CENSUS = r"""
WITH w AS (
  SELECT lang AS slice,
         unnest(list_filter(
           regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
           x -> x != '')) AS w
  FROM documents),
f AS (SELECT slice, w, CAST(COUNT(*) AS BIGINT) AS f
      FROM w GROUP BY slice, w)
SELECT slice, CAST(SUM(f) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(f * f) AS BIGINT) AS sum_f_sq
FROM f GROUP BY slice ORDER BY slice
"""


def _q_distinct_terms(spark, sf_dir):
    """Distinctive-term extraction English-vs-Romance/Germanic via
    log-odds with informative Dirichlet prior (Monroe, Colaresi &
    Quinn 2008 "Fightin' Words"): top-50 most-English terms by
    z-scored prior-smoothed log-odds. Counts are exact integers, z
    is row-local arithmetic on them rounded to 6 dp, ranks break
    ties by term — hash-stable. The oracle replays the counts, the
    formula (same literal shapes), and the ranking."""
    from knowledge_graph_spark.operators.textstats import log_odds_terms

    docs = _t(spark, sf_dir, "documents").select("lang", "text")
    return (log_odds_terms(docs, "en", ["de", "es", "fr"],
                           min_count=5, top_k=50)
            .orderBy("rank"))


_SQL_DISTINCT_TERMS = r"""
WITH ta AS (
  SELECT unnest(list_filter(
           regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
           x -> x != '')) AS w
  FROM documents WHERE lang IN ('en')),
tb AS (
  SELECT unnest(list_filter(
           regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
           x -> x != '')) AS w
  FROM documents WHERE lang IN ('de', 'es', 'fr')),
ca AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f_a FROM ta GROUP BY w),
cb AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f_b FROM tb GROUP BY w),
na AS (SELECT CAST(COALESCE(SUM(f_a), 0) AS BIGINT) AS n_a FROM ca),
nb AS (SELECT CAST(COALESCE(SUM(f_b), 0) AS BIGINT) AS n_b FROM cb),
j AS (
  SELECT COALESCE(ca.w, cb.w) AS w,
         COALESCE(f_a, 0) AS f_a, COALESCE(f_b, 0) AS f_b
  FROM ca FULL JOIN cb ON ca.w = cb.w
  WHERE COALESCE(f_a, 0) + COALESCE(f_b, 0) >= 5),
s AS (
  SELECT w, f_a, f_b,
         round((ln((f_a + 1e-2) / ((SELECT n_a FROM na) - f_a + 1e-2))
              - ln((f_b + 1e-2) / ((SELECT n_b FROM nb) - f_b + 1e-2)))
               / sqrt(1.0 / (f_a + 1e-2) + 1.0 / (f_b + 1e-2)),
               6) AS z
  FROM j)
SELECT w AS term, f_a, f_b, z,
       CAST(ROW_NUMBER() OVER (ORDER BY z DESC, w) AS BIGINT) AS rank
FROM s QUALIFY rank <= 50 ORDER BY rank
"""


def _q_zorder_layout(spark, sf_dir):
    """Z-order (Morton) layout census of lineitem clustered on
    (l_partkey, l_suppkey) — the Delta/Iceberg OPTIMIZE ZORDER key
    as pure codegen (functions/layout.py): rows fold into 2^8
    z-ranges; each range's distinct-part/supplier spans show the
    hyper-rectangle locality min/max pruning would exploit. The
    oracle shares the exact bit-interleave SQL string with the
    engine, so the layout definition cannot drift."""
    from knowledge_graph_spark.functions.layout import zorder_key2

    li = _t(spark, sf_dir, "lineitem")
    z = zorder_key2("l_partkey", "l_suppkey")
    return (li.select(F.shiftright(z, 14).alias("bucket"),
                      "l_partkey", "l_suppkey")
            .groupBy("bucket")
            .agg(F.count("*").cast("long").alias("n_rows"),
                 F.countDistinct("l_partkey").cast("long")
                 .alias("n_parts"),
                 F.countDistinct("l_suppkey").cast("long")
                 .alias("n_supps"),
                 F.min("l_partkey").cast("long").alias("min_part"),
                 F.max("l_partkey").cast("long").alias("max_part"))
            .orderBy("bucket"))


def _zorder_layout_sql() -> str:
    from knowledge_graph_spark.functions.layout import zorder_key2_sql

    z = zorder_key2_sql("l_partkey", "l_suppkey")
    return f"""
WITH z AS (SELECT ({z} >> 14) AS bucket, l_partkey, l_suppkey
           FROM lineitem)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
       CAST(MIN(l_partkey) AS BIGINT) AS min_part,
       CAST(MAX(l_partkey) AS BIGINT) AS max_part
FROM z GROUP BY bucket ORDER BY bucket
"""


_SQL_ZORDER_LAYOUT = _zorder_layout_sql()


def _q_allen_census(spark, sf_dir):
    """Allen interval-algebra census (Allen, CACM 1983) over each
    user's per-event-type activity spans [min ts, max ts]: every
    within-user ordered type pair classified into the 13 Allen
    primitives by ONE CASE cascade shared verbatim with the oracle
    (operators/temporal.py) — the temporal-consistency fingerprint
    of a fact table."""
    from knowledge_graph_spark.operators.temporal import allen_census

    ev = _t(spark, sf_dir, "events")
    iv = (ev.groupBy("user_id", "event_type")
          .agg(F.min("ts").alias("s"), F.max("ts").alias("e")))
    return (allen_census(iv, "user_id", "event_type", "s", "e")
            .orderBy("relation"))


def _allen_census_sql() -> str:
    from knowledge_graph_spark.operators.temporal import (
        allen_relation_expr)

    rel = allen_relation_expr("a.s", "a.e", "b.s", "b.e")
    return f"""
WITH iv AS (SELECT user_id, event_type, MIN(ts) AS s, MAX(ts) AS e
            FROM events GROUP BY user_id, event_type)
SELECT {rel} AS relation, CAST(COUNT(*) AS BIGINT) AS n
FROM iv a JOIN iv b
  ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY 1 ORDER BY relation
"""


_SQL_ALLEN_CENSUS = _allen_census_sql()


def _q_supply_matching(spark, sf_dir):
    """Locally-dominant greedy matching (Preis 1999; Manne &
    Bisseling 2007) assigning each part its single best supplier by
    total shipped quantity — the distributed 1/2-approx of maximum
    weight matching that enforces 1-1 constraints after ER scoring.
    Deterministic via the (weight, partner) lexicographic order and
    a fixed 8-round horizon; the oracle unrolls all 8 rounds with
    ROW_NUMBER bests and anti-joins."""
    from knowledge_graph_spark.operators.graph_analytics import (
        dominant_matching)

    li = _t(spark, sf_dir, "lineitem")
    edges = (li.groupBy(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"))
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long")
             .alias("w")))
    return (dominant_matching(edges, rounds=8)
            .orderBy("src", "dst"))


def _supply_matching_sql(rounds: int = 8) -> str:
    q = r"""WITH e0 AS MATERIALIZED (
  SELECT 'p' || l_partkey AS u, 's' || l_suppkey AS v,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2)"""
    for r in range(rounds):
        q += f""",
bu{r} AS MATERIALIZED (
  SELECT u, v AS bv FROM (
    SELECT u, v, ROW_NUMBER() OVER (PARTITION BY u
                                    ORDER BY w DESC, v DESC) AS rn
    FROM e{r}) WHERE rn = 1),
bv{r} AS MATERIALIZED (
  SELECT v, u AS bu FROM (
    SELECT u, v, ROW_NUMBER() OVER (PARTITION BY v
                                    ORDER BY w DESC, u DESC) AS rn
    FROM e{r}) WHERE rn = 1),
m{r} AS MATERIALIZED (
  SELECT e.u, e.v, e.w
  FROM e{r} e JOIN bu{r} ON bu{r}.u = e.u AND bu{r}.bv = e.v
              JOIN bv{r} ON bv{r}.v = e.v AND bv{r}.bu = e.u),
e{r + 1} AS MATERIALIZED (
  SELECT * FROM e{r}
  WHERE u NOT IN (SELECT u FROM m{r})
    AND v NOT IN (SELECT v FROM m{r}))"""
    un = " UNION ALL ".join(f"SELECT * FROM m{r}"
                            for r in range(rounds))
    q += f"""
SELECT u AS src, v AS dst, w FROM ({un}) ORDER BY src, dst"""
    return q


_SQL_SUPPLY_MATCHING = _supply_matching_sql()


def _q_kn_counts(spark, sf_dir):
    """Modified Kneser-Ney bigram ingredients (Kneser & Ney 1995;
    Chen & Goodman 1999) over the documents corpus — integer
    sufficient statistics (bigram count, history count, distinct
    continuations, distinct histories) from which the KN
    probability is row-local arithmetic. The oracle replays the
    doc-local bigram build and all three folds."""
    from knowledge_graph_spark.operators.textstats import (
        kneser_ney_ingredients)

    docs = _t(spark, sf_dir, "documents").select("text")
    return (kneser_ney_ingredients(docs, min_count=5)
            .orderBy("w1", "w2"))


_SQL_KN_COUNTS = r"""
WITH toks AS (
  SELECT list_filter(
           regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
           x -> x != '') AS ws
  FROM documents),
big AS (
  SELECT ws[i] AS w1, ws[i + 1] AS w2
  FROM toks, unnest(range(1, len(ws))) AS t(i)),
cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_big
       FROM big GROUP BY w1, w2),
hist AS (SELECT w1, CAST(SUM(c_big) AS BIGINT) AS c_w1,
                CAST(COUNT(*) AS BIGINT) AS n1p_hist
         FROM cb GROUP BY w1),
cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p_cont
         FROM cb GROUP BY w2)
SELECT cb.w1, cb.w2, cb.c_big, hist.c_w1, hist.n1p_hist,
       cont.n1p_cont
FROM cb JOIN hist ON hist.w1 = cb.w1 JOIN cont ON cont.w2 = cb.w2
WHERE cb.c_big >= 5
ORDER BY cb.w1, cb.w2
"""


def _q_golden_record(spark, sf_dir):
    """Field-level survivorship over resolved duplicate clusters
    (Talburt 2011; Bleiholder & Naumann 2008): customers fold to
    deterministic clusters (custkey % 211) with deterministically
    dirtied attributes (nulled-out every 17th, case-corrupted every
    13th segment, nulled every 19th nation) — each attribute
    survives by majority vote, ties to the smaller value. The
    oracle replays the corruption, the melt, the vote, and the
    window-free argmax as a window."""
    from knowledge_graph_spark.operators.fusion import golden_record

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    rec = cust.select(
        (k % 211).alias("cluster_id"),
        F.when(k % 17 == 0, F.lit(None).cast("string"))
        .when(k % 13 == 0, F.lower("c_mktsegment"))
        .otherwise(F.col("c_mktsegment")).alias("seg"),
        F.when(k % 19 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_nationkey").cast("string")).alias("nat"),
        F.when(k % 23 == 0, F.lit(None).cast("string"))
        .otherwise(F.expr("right(c_name, 2)")).alias("ph"),
    )
    return (golden_record(rec, "cluster_id", ["seg", "nat", "ph"])
            .orderBy("cluster_id"))


_SQL_GOLDEN_RECORD = r"""
WITH rec AS (
  SELECT c_custkey % 211 AS k,
         CASE WHEN c_custkey % 17 = 0 THEN NULL
              WHEN c_custkey % 13 = 0 THEN lower(c_mktsegment)
              ELSE c_mktsegment END AS seg,
         CASE WHEN c_custkey % 19 = 0 THEN NULL
              ELSE CAST(c_nationkey AS VARCHAR) END AS nat,
         CASE WHEN c_custkey % 23 = 0 THEN NULL
              ELSE right(c_name, 2) END AS ph
  FROM customer
),
melt AS (
  SELECT k, 'seg' AS a, seg AS v FROM rec
  UNION ALL SELECT k, 'nat', nat FROM rec
  UNION ALL SELECT k, 'ph', ph FROM rec
),
votes AS (
  SELECT k, a, v, CAST(COUNT(*) AS BIGINT) AS n
  FROM melt WHERE v IS NOT NULL GROUP BY k, a, v
),
best AS (
  SELECT k, a, v, n FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY k, a
                                 ORDER BY n DESC, v ASC) AS rn
    FROM votes) WHERE rn = 1
),
sizes AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_records
          FROM rec GROUP BY k)
SELECT s.k AS cluster_id, s.n_records,
       MAX(CASE WHEN b.a = 'seg' THEN b.v END) AS seg,
       COALESCE(CAST(MAX(CASE WHEN b.a = 'seg' THEN b.n END) AS BIGINT),
                0) AS seg_n,
       MAX(CASE WHEN b.a = 'nat' THEN b.v END) AS nat,
       COALESCE(CAST(MAX(CASE WHEN b.a = 'nat' THEN b.n END) AS BIGINT),
                0) AS nat_n,
       MAX(CASE WHEN b.a = 'ph' THEN b.v END) AS ph,
       COALESCE(CAST(MAX(CASE WHEN b.a = 'ph' THEN b.n END) AS BIGINT),
                0) AS ph_n
FROM sizes s LEFT JOIN best b ON s.k = b.k
GROUP BY s.k, s.n_records
ORDER BY cluster_id
"""


def _q_rake_keywords(spark, sf_dir):
    """RAKE candidate keyphrases (Rose et al. 2010): stopword-free
    word runs with the integer score ingredients (sum of word
    degrees / sum of word frequencies — the float ratio is
    derivable). Phrases occurring >= 2 times corpus-wide. The
    oracle replays the regex cascade, both word aggregates, and the
    phrase-word join."""
    from knowledge_graph_spark.operators.textstats import rake_phrases

    docs = _t(spark, sf_dir, "documents")
    return (rake_phrases(docs)
            .filter(F.col("n_occur") >= 2)
            .orderBy("phrase"))


def _rake_keywords_sql() -> str:
    from knowledge_graph_spark.operators.textstats import (
        RAKE_STOPWORDS, rake_stop_pattern)
    alt = rake_stop_pattern(RAKE_STOPWORDS)
    return rf"""
WITH raw AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9]+', ' ', 'g'), '\b({alt})\b', '|', 'g'), '|')) AS p
  FROM documents
),
inst AS (
  SELECT doc_id,
         trim(regexp_replace(p, ' +', ' ', 'g')) AS phrase
  FROM raw
),
inst2 AS (
  SELECT doc_id, phrase,
         CAST(len(string_split(phrase, ' ')) AS BIGINT) AS n_words
  FROM inst WHERE phrase <> ''
),
inst3 AS (SELECT * FROM inst2 WHERE n_words BETWEEN 2 AND 4),
-- word stats over ALL candidate runs (RAKE definition), not the
-- length-banded emitted phrases — mirrors the engine
words AS (SELECT n_words, unnest(string_split(phrase, ' ')) AS w
          FROM inst2),
stats AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
                 CAST(SUM(n_words) AS BIGINT) AS deg
          FROM words GROUP BY w),
phrases AS (
  SELECT phrase, n_words, CAST(COUNT(*) AS BIGINT) AS n_occur,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM inst3 GROUP BY phrase, n_words
),
pw AS (SELECT phrase, unnest(string_split(phrase, ' ')) AS w
       FROM phrases),
scores AS (
  SELECT phrase, CAST(SUM(deg) AS BIGINT) AS sum_deg,
         CAST(SUM(freq) AS BIGINT) AS sum_freq
  FROM pw JOIN stats USING (w) GROUP BY phrase
)
SELECT p.phrase, p.n_words, p.n_occur, p.n_docs, s.sum_deg, s.sum_freq
FROM phrases p JOIN scores s USING (phrase)
WHERE p.n_occur >= 2
ORDER BY p.phrase
"""


_SQL_RAKE_KEYWORDS = _rake_keywords_sql()


def _q_mirror_hosts(spark, sf_dir):
    """Mirror-host detection (Bharat & Broder, WWW 1999): every
    document lands on two synthesized hosts (s<doc_id%13>,
    m<doc_id%7>) keyed by its normalized-content md5 fingerprint;
    host pairs sharing >= 3 distinct fingerprints surface with both
    host sizes. Ubiquitous fingerprints (> 8 hosts — planted
    duplicate groups = sitewide boilerplate) are dropped whole
    before pairing. The oracle replays the synthesis, the ubiquity
    cap, and the triangular pairing."""
    from knowledge_graph_spark.operators.crawl import mirror_hosts

    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(F.trim(F.regexp_replace(F.lower("text"), "[ \t\r\n]+",
                                       " ")))
    pages = (docs.select(
        F.concat(F.lit("s"), (F.col("doc_id") % 13).cast("string"))
        .alias("host"), fp.alias("fingerprint"))
        .unionByName(docs.select(
            F.concat(F.lit("m"), (F.col("doc_id") % 7).cast("string"))
            .alias("host"), fp.alias("fingerprint"))))
    return (mirror_hosts(pages, min_shared=3, max_fp_hosts=8)
            .orderBy("host_a", "host_b"))


_SQL_MIRROR_HOSTS = r"""
WITH pg AS (
  SELECT 's' || CAST(doc_id % 13 AS VARCHAR) AS host,
         md5(trim(regexp_replace(lower(text), '[ \t\r\n]+', ' ', 'g')))
           AS fp
  FROM documents
  UNION ALL
  SELECT 'm' || CAST(doc_id % 7 AS VARCHAR),
         md5(trim(regexp_replace(lower(text), '[ \t\r\n]+', ' ', 'g')))
  FROM documents
),
e AS (SELECT DISTINCT host AS a, fp AS b FROM pg
      WHERE host IS NOT NULL AND fp IS NOT NULL),
keep AS (SELECT b FROM e GROUP BY b HAVING COUNT(*) <= 8),
ek AS (SELECT e.* FROM e JOIN keep USING (b)),
deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS n FROM ek GROUP BY a),
shared AS (
  SELECT e1.a AS host_a, e2.a AS host_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM ek e1 JOIN ek e2 ON e1.b = e2.b AND e1.a < e2.a
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
)
SELECT s.host_a, s.host_b, s.n_shared, da.n AS n_a, db.n AS n_b
FROM shared s
JOIN deg da ON da.a = s.host_a
JOIN deg db ON db.a = s.host_b
ORDER BY s.host_a, s.host_b
"""


def _q_landmark_dists(spark, sf_dir):
    """Landmark BFS index (Potamias et al., CIKM 2009) over the
    part↔supplier graph: per-landmark hop distances from s1/s2/s5,
    all landmarks advancing in ONE composite-key frontier. The
    oracle recomputes the whole index with a recursive CTE carrying
    the landmark column."""
    from knowledge_graph_spark.operators.graph_analytics import (
        landmark_distances)

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    lms = spark.createDataFrame([("s1",), ("s2",), ("s5",)], "id string")
    return (landmark_distances(edges, lms, max_hops=6)
            .orderBy("id", "landmark"))


_SQL_LANDMARK_DISTS = r"""
WITH RECURSIVE
e AS (SELECT DISTINCT 'p' || l_partkey AS src, 's' || l_suppkey AS dst
      FROM lineitem),
sym AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
lms(lm) AS (VALUES ('s1'), ('s2'), ('s5')),
walk(id, lm, dist) AS (
  SELECT lm, lm, 0 FROM lms WHERE lm IN (SELECT src FROM sym)
  UNION
  SELECT s.dst, w.lm, w.dist + 1
  FROM walk w JOIN sym s ON s.src = w.id
  WHERE w.dist < 6
)
SELECT id, lm AS landmark, CAST(MIN(dist) AS BIGINT) AS dist
FROM walk GROUP BY id, lm ORDER BY id, landmark
"""


def _q_landmark_est(spark, sf_dir):
    """Triangle-inequality distance estimates from the landmark
    index (Potamias et al. 2009): min over landmarks of
    d(a,l)+d(l,b) for 25 deterministic part pairs — the at-scale
    answer shape (no per-query BFS). The oracle rebuilds the index
    recursively and replays both joins and the min."""
    from knowledge_graph_spark.operators.graph_analytics import (
        landmark_distances, landmark_estimate)

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    lms = spark.createDataFrame([("s1",), ("s2",), ("s5",)], "id string")
    idx = landmark_distances(edges, lms, max_hops=6)
    pairs = spark.range(1, 26).select(
        F.concat(F.lit("p"), (F.col("id") * 2 - 1).cast("string"))
        .alias("a"),
        F.concat(F.lit("p"), (F.col("id") * 2).cast("string")).alias("b"))
    return landmark_estimate(idx, pairs).orderBy("a", "b")


_SQL_LANDMARK_EST = r"""
WITH RECURSIVE
e AS (SELECT DISTINCT 'p' || l_partkey AS src, 's' || l_suppkey AS dst
      FROM lineitem),
sym AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
lms(lm) AS (VALUES ('s1'), ('s2'), ('s5')),
walk(id, lm, dist) AS (
  SELECT lm, lm, 0 FROM lms WHERE lm IN (SELECT src FROM sym)
  UNION
  SELECT s.dst, w.lm, w.dist + 1
  FROM walk w JOIN sym s ON s.src = w.id
  WHERE w.dist < 6
),
idx AS (SELECT id, lm, MIN(dist) AS d FROM walk GROUP BY id, lm),
pairs AS (SELECT 'p' || CAST(2 * i - 1 AS VARCHAR) AS a,
                 'p' || CAST(2 * i AS VARCHAR) AS b
          FROM range(1, 26) t(i))
SELECT p.a, p.b, CAST(MIN(ia.d + ib.d) AS BIGINT) AS est
FROM pairs p
JOIN idx ia ON ia.id = p.a
JOIN idx ib ON ib.id = p.b AND ib.lm = ia.lm
GROUP BY p.a, p.b
ORDER BY p.a, p.b
"""


def _q_closeness_census(spark, sf_dir):
    """Pivot-sampled closeness/eccentricity census (Eppstein & Wang
    2004) over the part↔supplier graph: BFS from s1/s2/s5 in one
    composite-key sweep, folded per node into integer sufficient
    statistics — pivots reached, closeness denominator, observed
    eccentricity (whose max lower-bounds the diameter). The oracle
    recomputes the whole index with a recursive CTE and replays the
    fold."""
    from knowledge_graph_spark.operators.graph_analytics import (
        centrality_census)

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    lms = spark.createDataFrame([("s1",), ("s2",), ("s5",)], "id string")
    return (centrality_census(edges, lms, max_hops=6)
            .orderBy("id"))


_SQL_CLOSENESS_CENSUS = r"""
WITH RECURSIVE
e AS (SELECT DISTINCT 'p' || l_partkey AS src, 's' || l_suppkey AS dst
      FROM lineitem),
sym AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
lms(lm) AS (VALUES ('s1'), ('s2'), ('s5')),
walk(id, lm, dist) AS (
  SELECT lm, lm, 0 FROM lms WHERE lm IN (SELECT src FROM sym)
  UNION
  SELECT s.dst, w.lm, w.dist + 1
  FROM walk w JOIN sym s ON s.src = w.id
  WHERE w.dist < 6
),
idx AS (SELECT id, lm, MIN(dist) AS d FROM walk GROUP BY id, lm)
SELECT id, CAST(COUNT(*) AS BIGINT) AS n_src,
       CAST(SUM(d) AS BIGINT) AS sum_dist,
       CAST(MAX(d) AS BIGINT) AS ecc
FROM idx GROUP BY id ORDER BY id
"""


def _q_graph_stress(spark, sf_dir):
    """Pivot-sampled stress centrality (Shimbel 1953; Brandes 2001
    backward accumulation; Bader et al. 2007 pivots) over the
    part↔supplier graph: exact BIGINT count of s1/s2/s5-sourced
    shortest paths passing through each node as an interior vertex,
    horizon 4. The betweenness double rides in the operator API;
    the driver surface is the integer-exact count, so the oracle —
    which unrolls the forward sigma levels and the backward r
    levels explicitly — replays it bit-for-bit."""
    from knowledge_graph_spark.operators.graph_analytics import (
        stress_centrality)

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    lms = spark.createDataFrame([("s1",), ("s2",), ("s5",)], "id string")
    return (stress_centrality(edges, lms, max_hops=4)
            .select("id", "stress").orderBy("id"))


def _graph_stress_sql(hops: int = 4) -> str:
    """Unrolled sigma-forward / r-backward replay of
    :func:`stress_centrality` at horizon ``hops``: forward level d
    sums parent sigmas over the symmetric edge list restricted to
    min-dist d; backward level d folds each node's successor count
    ``sum(r_w + 1)`` over the adjacent-depth DAG. Integer-only, so
    the replay is exact; every SUM is cast to BIGINT (DuckDB
    HUGEINT hygiene)."""
    q = r"""WITH RECURSIVE
e AS MATERIALIZED (SELECT DISTINCT 'p' || l_partkey AS src,
                          's' || l_suppkey AS dst FROM lineitem),
sym AS MATERIALIZED (SELECT src, dst FROM e
                     UNION SELECT dst AS src, src AS dst FROM e),
lms(lm) AS (VALUES ('s1'), ('s2'), ('s5')),
walk(id, s, dist) AS (
  SELECT lm, lm, 0 FROM lms WHERE lm IN (SELECT src FROM sym)
  UNION
  SELECT y.dst, w.s, w.dist + 1
  FROM walk w JOIN sym y ON y.src = w.id
  WHERE w.dist < """ + str(hops) + r"""
),
idx AS MATERIALIZED (SELECT id, s, MIN(dist) AS d FROM walk
                     GROUP BY id, s),
sig0 AS MATERIALIZED (SELECT id, s, CAST(1 AS BIGINT) AS sigma
                      FROM idx WHERE d = 0)"""
    for d in range(1, hops + 1):
        q += f""",
sig{d} AS MATERIALIZED (
  SELECT i.id, i.s, CAST(SUM(p.sigma) AS BIGINT) AS sigma
  FROM sig{d - 1} p JOIN sym y ON y.src = p.id
  JOIN idx i ON i.id = y.dst AND i.s = p.s AND i.d = {d}
  GROUP BY i.id, i.s)"""
    parts = " UNION ALL ".join(
        f"SELECT id, s, {d} AS d, sigma FROM sig{d}"
        for d in range(hops + 1))
    q += f""",
allsig AS MATERIALIZED ({parts}),
dag AS MATERIALIZED (
  SELECT a.s, a.id AS u, a.d AS du, b.id AS v
  FROM allsig a JOIN sym y ON y.src = a.id
  JOIN allsig b ON b.id = y.dst AND b.s = a.s AND b.d = a.d + 1),
r{hops} AS MATERIALIZED (SELECT id, s, CAST(0 AS BIGINT) AS r
                         FROM allsig WHERE d = {hops})"""
    for d in range(hops - 1, -1, -1):
        q += f""",
r{d} AS MATERIALIZED (
  SELECT n.id, n.s, CAST(COALESCE(x.r, 0) AS BIGINT) AS r
  FROM (SELECT id, s FROM allsig WHERE d = {d}) n
  LEFT JOIN (
    SELECT g.u AS id, g.s, CAST(SUM(w.r + 1) AS BIGINT) AS r
    FROM dag g JOIN r{d + 1} w ON w.id = g.v AND w.s = g.s
    WHERE g.du = {d} GROUP BY g.u, g.s) x
  ON x.id = n.id AND x.s = n.s)"""
    rall = " UNION ALL ".join(
        f"SELECT * FROM r{d}" for d in range(hops + 1))
    q += f""",
rall AS ({rall})
SELECT a.id, CAST(SUM(a.sigma * r.r) AS BIGINT) AS stress
FROM allsig a JOIN rall r ON r.id = a.id AND r.s = a.s
WHERE a.d > 0 GROUP BY a.id ORDER BY a.id"""
    return q


_SQL_GRAPH_STRESS = _graph_stress_sql()


def _q_fs_linkage(spark, sf_dir):
    """Fellegi-Sunter probabilistic record linkage (Fellegi &
    Sunter, JASA 1969; EM per Winkler 1988) over blocked customer
    pairs (block = custkey % 97): three field comparators
    (nationkey, mktsegment, account-balance cent residue mod 7 — an
    integer-exact proxy for a noisy numeric field) fold to the
    bounded agreement-pattern census, EM fits the latent
    match/non-match mixture driver-side over those ≤ 8 rows (the
    BPE-trainer convention), and the driver surface is the
    integer-exact (pattern, n, w_rank) triple — rank over 6-dp
    weight. The oracle rebuilds the census and unrolls all 15 EM
    iterations with the engine's exact arithmetic shape."""
    from knowledge_graph_spark.operators.linking import fellegi_sunter

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        (F.col("c_custkey") % 97).alias("b"),
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        (F.round(F.col("c_acctbal") * 100).cast("long") % 7)
        .alias("ph"))
    rhs = cust.select(F.col("k").alias("k2"), F.col("b").alias("b2"),
                      F.col("nat").alias("nat2"),
                      F.col("seg").alias("seg2"),
                      F.col("ph").alias("ph2"))
    pairs = (cust.join(rhs, (F.col("b") == F.col("b2"))
                       & (F.col("k") < F.col("k2")))
             .select((F.col("nat") == F.col("nat2")).alias("a_nat"),
                     (F.col("seg") == F.col("seg2")).alias("a_seg"),
                     (F.col("ph") == F.col("ph2")).alias("a_ph")))
    return (fellegi_sunter(pairs, ["a_nat", "a_seg", "a_ph"])
            .select("pattern", "n", "w_rank").orderBy("pattern"))


def _fs_linkage_sql(iters: int = 15) -> str:
    """Unrolled EM replay of :func:`fellegi_sunter` over the
    customer pair census: CASE-selected factors (no pow), products
    left-associated in field order, LEAST/GREATEST clamps with the
    engine's literals, FILTER-ed numerators matching Python's
    conditional sums. Scientific-notation literals keep every
    constant DOUBLE (a bare 0.1 is DECIMAL in DuckDB)."""
    pm = ("(CASE WHEN (c.pattern >> 0) & 1 = 1 THEN pp.m0 "
          "ELSE 1.0::DOUBLE - pp.m0 END) * "
          "(CASE WHEN (c.pattern >> 1) & 1 = 1 THEN pp.m1 "
          "ELSE 1.0::DOUBLE - pp.m1 END) * "
          "(CASE WHEN (c.pattern >> 2) & 1 = 1 THEN pp.m2 "
          "ELSE 1.0::DOUBLE - pp.m2 END)")
    pu = pm.replace("pp.m", "pp.u")
    q = r"""WITH cust AS MATERIALIZED (
  SELECT c_custkey AS k, c_custkey % 97 AS b, c_nationkey AS nat,
         c_mktsegment AS seg,
         CAST(round(c_acctbal * 100) AS BIGINT) % 7 AS ph
  FROM customer),
census AS MATERIALIZED (
  SELECT CAST((CASE WHEN a.nat = b.nat THEN 1 ELSE 0 END)
       + 2 * (CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END)
       + 4 * (CASE WHEN a.ph = b.ph THEN 1 ELSE 0 END) AS BIGINT)
         AS pattern,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM cust a JOIN cust b ON a.b = b.b AND a.k < b.k
  GROUP BY 1),
tot AS MATERIALIZED (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM census),
par0 AS MATERIALIZED (
  SELECT 1e-1::DOUBLE AS p,
         9e-1::DOUBLE AS m0, 9e-1::DOUBLE AS m1, 9e-1::DOUBLE AS m2,
         1e-1::DOUBLE AS u0, 1e-1::DOUBLE AS u1, 1e-1::DOUBLE AS u2)"""
    for t in range(iters):
        q += f""",
w{t} AS MATERIALIZED (
  SELECT c.pattern, c.n,
         (pp.p * ({pm}))
         / (pp.p * ({pm}) + (1.0::DOUBLE - pp.p) * ({pu})) AS post
  FROM census c CROSS JOIN par{t} pp)"""
        clamps = []
        clamps.append(
            "LEAST(GREATEST(SUM(n * post) / (SELECT t FROM tot), "
            "1e-6), 1.0 - 1e-6) AS p")
        for k in range(3):
            clamps.append(
                f"LEAST(GREATEST(COALESCE(SUM(n * post) FILTER "
                f"(WHERE (pattern >> {k}) & 1 = 1), 0.0::DOUBLE) "
                f"/ SUM(n * post), 1e-6), 1.0 - 1e-6) AS m{k}")
        for k in range(3):
            clamps.append(
                f"LEAST(GREATEST(COALESCE(SUM(n * (1.0::DOUBLE - post)) "
                f"FILTER (WHERE (pattern >> {k}) & 1 = 1), 0.0::DOUBLE) "
                f"/ SUM(n * (1.0::DOUBLE - post)), 1e-6), 1.0 - 1e-6) "
                f"AS u{k}")
        q += f""",
par{t + 1} AS MATERIALIZED (SELECT {', '.join(clamps)} FROM w{t})"""
    q += f"""
SELECT pattern, n,
       CAST(ROW_NUMBER() OVER (
         ORDER BY round(log2(({pm.replace('pp.', 'q.')})
                        / ({pu.replace('pp.', 'q.')})), 6) DESC,
                  pattern) AS BIGINT) AS w_rank
FROM census c CROSS JOIN par{iters} q
ORDER BY pattern"""
    return q


_SQL_FS_LINKAGE = _fs_linkage_sql()


def _q_snm_pairs(spark, sf_dir):
    """Sorted-neighborhood ER blocking (Hernández & Stolfo, SIGMOD
    1995) over customers ordered by account-balance cents: every
    pair within a 3-record sliding window of the global sort —
    similar balances become candidate pairs without any equality
    block. The engine ranks via order-preserving range slices (no
    single-node sort); the oracle replays the window with one
    ROW_NUMBER and a rank-band join."""
    from knowledge_graph_spark.operators.linking import (
        sorted_neighborhood)

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"))
    return (sorted_neighborhood(cust, "cents", "id", window=3,
                                slice_width=5000)
            .orderBy("a", "b"))


_SQL_SNM_PAIRS = r"""
WITH c AS (SELECT c_custkey AS id,
                  CAST(round(c_acctbal * 100) AS BIGINT) AS k
           FROM customer),
r AS (SELECT id, ROW_NUMBER() OVER (ORDER BY k, id) - 1 AS g FROM c)
SELECT a.id AS a, b.id AS b, CAST(b.g - a.g AS BIGINT) AS gap
FROM r a JOIN r b ON b.g > a.g AND b.g - a.g < 3
ORDER BY a, b
"""


def _q_fd_census(spark, sf_dir):
    """Functional-dependency census (TANE — Huhtala et al. 1999)
    over the part relation: p_partkey->p_brand and p_name->p_brand
    hold (key / near-key), p_brand->p_type and p_type->p_size fail
    with counted violating keys. The oracle recomputes each pair's
    distinct folds."""
    from knowledge_graph_spark.operators.profiling import fd_profile

    part = _t(spark, sf_dir, "part")
    return fd_profile(part, [
        ("p_partkey", "p_brand"), ("p_name", "p_brand"),
        ("p_brand", "p_type"), ("p_type", "p_size"),
    ]).orderBy("lhs", "rhs")


_SQL_FD_CENSUS = r"""
WITH prof AS (
  SELECT 'p_partkey' AS lhs, 'p_brand' AS rhs,
         CAST(p_partkey AS VARCHAR) AS a, CAST(p_brand AS VARCHAR) AS b
  FROM part
  UNION ALL
  SELECT 'p_name', 'p_brand', CAST(p_name AS VARCHAR),
         CAST(p_brand AS VARCHAR) FROM part
  UNION ALL
  SELECT 'p_brand', 'p_type', CAST(p_brand AS VARCHAR),
         CAST(p_type AS VARCHAR) FROM part
  UNION ALL
  SELECT 'p_type', 'p_size', CAST(p_type AS VARCHAR),
         CAST(p_size AS VARCHAR) FROM part
),
d AS (SELECT DISTINCT lhs, rhs, a, b FROM prof
      WHERE a IS NOT NULL AND b IS NOT NULL),
per_key AS (SELECT lhs, rhs, a, COUNT(*) AS nb
            FROM d GROUP BY lhs, rhs, a),
agg AS (
  SELECT lhs, rhs,
         CAST(COUNT(*) AS BIGINT) AS n_lhs,
         CAST(SUM(nb) AS BIGINT) AS n_pairs,
         CAST(SUM(CASE WHEN nb >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating_keys
  FROM per_key GROUP BY lhs, rhs
),
-- one row per profiled pair even if every row of a pair is NULL
-- (the engine's global-agg-per-pair census always emits the pair)
grid AS (
  SELECT 'p_partkey' AS lhs, 'p_brand' AS rhs
  UNION ALL SELECT 'p_name', 'p_brand'
  UNION ALL SELECT 'p_brand', 'p_type'
  UNION ALL SELECT 'p_type', 'p_size'
)
SELECT g.lhs, g.rhs,
       CAST(COALESCE(a.n_lhs, 0) AS BIGINT) AS n_lhs,
       CAST(COALESCE(a.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(a.n_violating_keys, 0) AS BIGINT)
         AS n_violating_keys
FROM grid g LEFT JOIN agg a ON g.lhs = a.lhs AND g.rhs = a.rhs
ORDER BY g.lhs, g.rhs
"""


def _q_fk_census(spark, sf_dir):
    """Inclusion-dependency / foreign-key discovery census
    (De Marchi et al. 2002): three true FKs (lineitem.partkey ⊆
    part, orders.custkey ⊆ customer, customer.nationkey ⊆ nation)
    and one partial inclusion (part.p_size vs nation keys). The
    oracle replays every distinct fold and semi-join count."""
    from knowledge_graph_spark.operators.profiling import (
        inclusion_profile)

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    return inclusion_profile([
        ("lineitem.l_partkey<part.p_partkey", li, "l_partkey",
         part, "p_partkey"),
        ("orders.o_custkey<customer.c_custkey", orders, "o_custkey",
         cust, "c_custkey"),
        ("customer.c_nationkey<nation.n_nationkey", cust, "c_nationkey",
         nat, "n_nationkey"),
        ("part.p_size<nation.n_nationkey", part, "p_size",
         nat, "n_nationkey"),
    ]).orderBy("candidate")


_SQL_FK_CENSUS = r"""
WITH c1 AS (SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS v
            FROM lineitem WHERE l_partkey IS NOT NULL),
p1 AS (SELECT DISTINCT CAST(p_partkey AS VARCHAR) AS v
       FROM part WHERE p_partkey IS NOT NULL),
c2 AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS v
       FROM orders WHERE o_custkey IS NOT NULL),
p2 AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS v
       FROM customer WHERE c_custkey IS NOT NULL),
c3 AS (SELECT DISTINCT CAST(c_nationkey AS VARCHAR) AS v
       FROM customer WHERE c_nationkey IS NOT NULL),
p3 AS (SELECT DISTINCT CAST(n_nationkey AS VARCHAR) AS v
       FROM nation WHERE n_nationkey IS NOT NULL),
c4 AS (SELECT DISTINCT CAST(p_size AS VARCHAR) AS v
       FROM part WHERE p_size IS NOT NULL)
SELECT 'lineitem.l_partkey<part.p_partkey' AS candidate,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM c1) AS n_child,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM c1
        WHERE v IN (SELECT v FROM p1)) AS n_matched
UNION ALL
SELECT 'orders.o_custkey<customer.c_custkey',
       (SELECT COUNT(*) FROM c2),
       (SELECT COUNT(*) FROM c2 WHERE v IN (SELECT v FROM p2))
UNION ALL
SELECT 'customer.c_nationkey<nation.n_nationkey',
       (SELECT COUNT(*) FROM c3),
       (SELECT COUNT(*) FROM c3 WHERE v IN (SELECT v FROM p3))
UNION ALL
SELECT 'part.p_size<nation.n_nationkey',
       (SELECT COUNT(*) FROM c4),
       (SELECT COUNT(*) FROM c4 WHERE v IN (SELECT v FROM p3))
ORDER BY candidate
"""


def _q_texttiling(spark, sf_dir):
    """TextTiling gap cohesion ingredients (Hearst, CL 1997) over
    the documents table: per 20-word-block gap, the adjacent-block
    term-count dot product and both squared norms (integers; cosine
    is a row-local division). The oracle replays tokenization,
    blocking, both aggregates, and the zero-overlap left join."""
    from knowledge_graph_spark.operators.textstats import (
        texttiling_ingredients)

    docs = _t(spark, sf_dir, "documents")
    return (texttiling_ingredients(docs, block_words=20)
            .orderBy("doc_id", "gap"))


_SQL_TEXTTILING = r"""
WITH arr AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS a
  FROM documents
),
tok AS (
  SELECT doc_id,
         unnest(generate_series(0, len(a) - 1)) // 20 AS b,
         unnest(a) AS w
  FROM arr
),
counts AS (SELECT doc_id, b, w, COUNT(*) AS c
           FROM tok GROUP BY doc_id, b, w),
norms AS (SELECT doc_id, b, SUM(c * c) AS n2
          FROM counts GROUP BY doc_id, b),
gaps AS (
  SELECT na.doc_id, na.b AS gap, na.n2 AS na2, nb.n2 AS nb2
  FROM norms na JOIN norms nb
    ON na.doc_id = nb.doc_id AND nb.b = na.b + 1
),
dots AS (
  SELECT ca.doc_id, ca.b AS gap, SUM(ca.c * cb.c) AS dot
  FROM counts ca JOIN counts cb
    ON ca.doc_id = cb.doc_id AND cb.b = ca.b + 1 AND ca.w = cb.w
  GROUP BY ca.doc_id, ca.b
)
SELECT g.doc_id, CAST(g.gap AS BIGINT) AS gap,
       CAST(COALESCE(d.dot, 0) AS BIGINT) AS dot,
       CAST(g.na2 AS BIGINT) AS na2, CAST(g.nb2 AS BIGINT) AS nb2
FROM gaps g LEFT JOIN dots d ON g.doc_id = d.doc_id AND g.gap = d.gap
ORDER BY g.doc_id, g.gap
"""


def _q_column_census(spark, sf_dir):
    """Single-pass per-column profiling census (the unary leg of
    Abedjan et al.'s VLDB-J 2015 profiling survey) over nation +
    customer + orders: row/null/distinct counts and lexicographic
    min/max of the string form, one union-able shape per table. The
    oracle recomputes every column block independently."""
    from knowledge_graph_spark.operators.profiling import column_profile

    nat = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    prof = (column_profile(nat, table_name="nation")
            .unionByName(column_profile(
                cust, ["c_custkey", "c_name", "c_nationkey",
                       "c_mktsegment"], table_name="customer"))
            .unionByName(column_profile(
                orders, ["o_orderkey", "o_custkey", "o_orderstatus",
                         "o_orderpriority"], table_name="orders")))
    return prof.orderBy("table_col")


def _col_census_sql() -> str:
    blocks = []
    for tbl, col in (
        ("nation", "n_nationkey"), ("nation", "n_name"),
        ("nation", "n_regionkey"),
        ("customer", "c_custkey"), ("customer", "c_name"),
        ("customer", "c_nationkey"), ("customer", "c_mktsegment"),
        ("orders", "o_orderkey"), ("orders", "o_custkey"),
        ("orders", "o_orderstatus"), ("orders", "o_orderpriority"),
    ):
        blocks.append(f"""
SELECT '{tbl}.{col}' AS table_col,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
       MIN(v) AS min_val, MAX(v) AS max_val
FROM (SELECT CAST({col} AS VARCHAR) AS v FROM {tbl})""")
    return "\nUNION ALL".join(blocks) + "\nORDER BY table_col"


_SQL_COLUMN_CENSUS = _col_census_sql()


def _q_event_changepoints(spark, sf_dir):
    """CUSUM level-shift scan (Page 1954 / Hinkley 1970 AMOC) per
    event type: the day maximizing the integer-scaled mean-removed
    cumulative deviation of daily counts, with its strength. The
    oracle replays the daily fold, both prefix windows, and the
    first-max tie-break."""
    from knowledge_graph_spark.operators.events import cusum_ingredients

    ev = _t(spark, sf_dir, "events")
    return cusum_ingredients(ev).orderBy("event_type")


_SQL_EVENT_CHANGEPOINTS = r"""
WITH daily AS (
  SELECT event_type AS k, CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY event_type, CAST(ts AS DATE)
),
cur AS (
  SELECT k, d,
         SUM(n) OVER (PARTITION BY k ORDER BY d
                      ROWS UNBOUNDED PRECEDING) AS pre,
         CAST(ROW_NUMBER() OVER (PARTITION BY k ORDER BY d) AS BIGINT)
           AS i,
         SUM(n) OVER (PARTITION BY k) AS tot,
         CAST(COUNT(*) OVER (PARTITION BY k) AS BIGINT) AS t
  FROM daily
),
s AS (SELECT k, d, t, tot, t * pre - i * tot AS sv FROM cur),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY k
                                   ORDER BY abs(sv) DESC, d ASC) AS rn
      FROM s)
SELECT k AS event_type, CAST(t AS BIGINT) AS n_days,
       CAST(tot AS BIGINT) AS total, d AS cp_day,
       CAST(sv AS BIGINT) AS s_at_cp,
       CAST(abs(sv) AS BIGINT) AS max_abs_s
FROM r WHERE rn = 1 ORDER BY event_type
"""


def _q_event_trends(spark, sf_dir):
    """Per-series OLS trend ingredients over daily event counts —
    the integer sufficient statistics (n, Σx, Σy, Σx², Σxy) of the
    least-squares slope, day indices per-series from each type's
    first active day. The oracle replays the daily fold, the
    per-series origin window, and the sums."""
    from knowledge_graph_spark.operators.events import trend_ingredients

    ev = _t(spark, sf_dir, "events")
    return trend_ingredients(ev).orderBy("event_type")


_SQL_EVENT_TRENDS = r"""
WITH daily AS (
  SELECT event_type AS k, CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY event_type, CAST(ts AS DATE)
),
xy AS (
  SELECT k, CAST(d - MIN(d) OVER (PARTITION BY k) AS BIGINT) AS x,
         n AS y
  FROM daily
)
SELECT k AS event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       CAST(SUM(x * x) AS BIGINT) AS sxx,
       CAST(SUM(x * y) AS BIGINT) AS sxy
FROM xy GROUP BY k ORDER BY event_type
"""


def _q_warc_records(spark, sf_dir):
    """WARC/WET round trip (ISO 28500 text-split convention — the
    step zero of a Common-Crawl pipeline): documents assemble into
    one WET blob per 20-doc shard (ordered records with Type/URI/
    Date headers), then ``parse_warc_text`` splits the blobs back
    into records. Emits per record the three headers + payload
    length; the oracle replays the string_agg assembly, the split,
    and all four extracts."""
    from knowledge_graph_spark.sources.warc import (build_warc_text,
                                                    parse_warc_text)

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    recs = docs.select(
        (k % 20).alias("g"), k.alias("doc_id"),
        F.lit("conversion").alias("wt"),
        F.concat(F.lit("https://example.com/doc/"), k.cast("string"))
        .alias("uri"),
        F.concat(F.lit("2024-01-01T00:00:0"), (k % 10).cast("string"),
                 F.lit("Z")).alias("dt"),
        F.coalesce(F.col("text"), F.lit("")).alias("payload"))
    blobs = build_warc_text(recs, "g", "doc_id", "wt", "uri", "dt",
                            "payload")
    parsed = parse_warc_text(blobs, "warc", "blob_id")
    return (parsed.select(
        "blob_id", "rec_idx", "warc_type", "target_uri", "warc_date",
        F.length("payload").cast("long").alias("n_payload"))
        .orderBy("blob_id", "rec_idx"))


_SQL_WARC_RECORDS = r"""
WITH rec AS (
  SELECT doc_id % 20 AS g, doc_id,
         'WARC/1.0' || chr(13) || chr(10)
         || 'WARC-Type: conversion' || chr(13) || chr(10)
         || 'WARC-Target-URI: https://example.com/doc/'
           || CAST(doc_id AS VARCHAR) || chr(13) || chr(10)
         || 'WARC-Date: 2024-01-01T00:00:0'
           || CAST(doc_id % 10 AS VARCHAR) || 'Z'
           || chr(13) || chr(10)
         || chr(13) || chr(10)
         || COALESCE(text, '') || chr(13) || chr(10)
           || chr(13) || chr(10) AS t
  FROM documents
),
blobs AS (
  SELECT g AS blob_id, string_agg(t, '' ORDER BY doc_id) AS warc
  FROM rec GROUP BY g
),
parts AS (
  SELECT blob_id,
         regexp_split_to_array(warc, '(?m)^WARC/1\.0\r\n') AS a
  FROM blobs
),
recs AS (
  SELECT blob_id,
         unnest(generate_series(1, len(a) - 1)) - 1 AS rec_idx,
         unnest(a[2:]) AS r
  FROM parts
),
split AS (
  SELECT blob_id, rec_idx,
         regexp_extract(r, '(?s)^(.*?)\r\n\r\n(.*)$', 1) AS hdr,
         regexp_extract(r, '(?s)^(.*?)\r\n\r\n(.*)$', 2) AS body
  FROM recs
)
SELECT blob_id, CAST(rec_idx AS BIGINT) AS rec_idx,
       NULLIF(regexp_extract(hdr, '(?im)^WARC-Type: *([^\r\n]*)', 1),
              '') AS warc_type,
       NULLIF(regexp_extract(hdr,
              '(?im)^WARC-Target-URI: *([^\r\n]*)', 1), '')
         AS target_uri,
       NULLIF(regexp_extract(hdr, '(?im)^WARC-Date: *([^\r\n]*)', 1),
              '') AS warc_date,
       CAST(length(regexp_replace(body, '\r\n\r\n\z', '')) AS BIGINT)
         AS n_payload
FROM split
ORDER BY blob_id, rec_idx
"""


def _q_assortativity(spark, sf_dir):
    """Degree-assortativity sufficient statistics (Newman, PRL
    2002) over the part↔supplier graph: one integer row (n_pairs,
    Σx, Σx², Σxy) over both edge orientations — the Pearson r is a
    row-local division. The oracle replays the edge fold, degree
    join, and sums."""
    from knowledge_graph_spark.operators.graph_analytics import (
        assortativity_ingredients)

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    return assortativity_ingredients(edges)


_SQL_ASSORTATIVITY = r"""
WITH e AS (
  SELECT DISTINCT 'p' || l_partkey AS src, 's' || l_suppkey AS dst
  FROM lineitem
),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e WHERE least(src, dst) <> greatest(src, dst)
),
sym AS (SELECT a AS u, b AS v FROM und
        UNION ALL SELECT b, a FROM und),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(du.d) AS BIGINT) AS sx,
       CAST(SUM(du.d * du.d) AS BIGINT) AS sxx,
       CAST(SUM(du.d * dv.d) AS BIGINT) AS sxy
FROM sym s
JOIN deg du ON du.u = s.u
JOIN deg dv ON dv.u = s.v
"""


def _q_heaps_census(spark, sf_dir):
    """Heaps'-law vocabulary-growth census: cumulative tokens vs
    cumulative distinct vocabulary over 10 doc-id-range corpus
    prefixes — prefix vocabulary via one (word -> first slice)
    aggregate, never a per-prefix distinct pass. The oracle replays
    the slice arithmetic, both histograms, and the running sums."""
    from knowledge_graph_spark.operators.textstats import heaps_census

    docs = _t(spark, sf_dir, "documents")
    return heaps_census(docs, buckets=10).orderBy("prefix")


_SQL_HEAPS_CENSUS = r"""
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id IS NOT NULL),
lohi AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM d),
toks AS (
  SELECT least(10, CAST(floor((CAST(doc_id AS DOUBLE)
                               - CAST(lo AS DOUBLE)) * 10
                              / (CAST(hi AS DOUBLE)
                                 - CAST(lo AS DOUBLE) + 1)) AS INT)
                   + 1) AS s,
         unnest(list_filter(regexp_split_to_array(lower(text),
                                                  '[^\p{L}\p{N}]+'),
                            x -> x <> '')) AS w
  FROM d, lohi
),
per_word AS (SELECT w, MIN(s) AS fs FROM toks GROUP BY w),
tok_hist AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS tok
             FROM toks GROUP BY s),
voc_hist AS (SELECT fs AS s, CAST(COUNT(*) AS BIGINT) AS voc
             FROM per_word GROUP BY fs),
grid AS (
  SELECT g.s, COALESCE(t.tok, 0) AS tok, COALESCE(v.voc, 0) AS voc
  FROM (SELECT unnest(generate_series(1, 10)) AS s) g
  LEFT JOIN tok_hist t ON t.s = g.s
  LEFT JOIN voc_hist v ON v.s = g.s
)
SELECT CAST(s AS BIGINT) AS prefix,
       CAST(SUM(tok) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS n_tokens,
       CAST(SUM(voc) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS n_vocab
FROM grid ORDER BY prefix
"""


def _q_term_dispersion(spark, sf_dir):
    """Term burstiness census (Church & Gale 1995): collection
    frequency, document frequency, and peak within-doc frequency
    per term with cf >= 5 — cf/df separates bursty topical words
    from dispersed glue, extreme max_tf flags keyword stuffing. The
    oracle replays tokenization and both aggregates."""
    from knowledge_graph_spark.operators.textstats import term_dispersion

    docs = _t(spark, sf_dir, "documents")
    return term_dispersion(docs, min_cf=5).orderBy("term")


_SQL_TERM_DISPERSION = r"""
WITH tf AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text),
                                                  '[^a-z0-9]+'),
                            x -> x <> '')) AS term
  FROM documents
),
c AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tf GROUP BY doc_id, term)
SELECT term, CAST(SUM(tf) AS BIGINT) AS cf,
       CAST(COUNT(*) AS BIGINT) AS df,
       CAST(MAX(tf) AS BIGINT) AS max_tf
FROM c GROUP BY term HAVING SUM(tf) >= 5
ORDER BY term
"""


def _q_katz(spark, sf_dir):
    """Integer-exact Katz centrality (Katz, Psychometrika 1953) over
    the international trade digraph (customer nation -> supplier
    nation per order line): 4 attenuated-path rounds at alpha = 1/8,
    carried as the scaled BIGINT iterate y_t = 8^t * x_t so every
    round is exact integer arithmetic and the oracle replays the
    recurrence y_{t+1}(v) = sum_{u->v} (8^t + y_t(u)) bit-for-bit."""
    from knowledge_graph_spark.operators.graph_analytics import (
        katz_ingredients)

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    edges = (o.join(li, o["o_orderkey"] == li["l_orderkey"])
             .join(c, o["o_custkey"] == c["c_custkey"])
             .join(s, li["l_suppkey"] == s["s_suppkey"])
             .select(F.col("c_nationkey").cast("long").alias("src"),
                     F.col("s_nationkey").cast("long").alias("dst")))
    return (katz_ingredients(edges, alpha_inv=8, rounds=4)
            .select(F.col("id").cast("long").alias("id"), "katz_num")
            .orderBy("id"))


_SQL_KATZ = r"""
WITH e AS (
  SELECT DISTINCT CAST(c.c_nationkey AS BIGINT) AS u,
                  CAST(s.s_nationkey AS BIGINT) AS v
  FROM orders o
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
),
nodes AS (SELECT u AS id FROM e UNION SELECT v FROM e),
y0 AS (SELECT id, CAST(0 AS BIGINT) AS y FROM nodes),
y1 AS (
  SELECT n.id, CAST(COALESCE(SUM(1 + y.y), 0) AS BIGINT) AS y
  FROM nodes n LEFT JOIN e ON e.v = n.id LEFT JOIN y0 y ON y.id = e.u
  GROUP BY n.id
),
y2 AS (
  SELECT n.id, CAST(COALESCE(SUM(8 + y.y), 0) AS BIGINT) AS y
  FROM nodes n LEFT JOIN e ON e.v = n.id LEFT JOIN y1 y ON y.id = e.u
  GROUP BY n.id
),
y3 AS (
  SELECT n.id, CAST(COALESCE(SUM(64 + y.y), 0) AS BIGINT) AS y
  FROM nodes n LEFT JOIN e ON e.v = n.id LEFT JOIN y2 y ON y.id = e.u
  GROUP BY n.id
),
y4 AS (
  SELECT n.id, CAST(COALESCE(SUM(512 + y.y), 0) AS BIGINT) AS y
  FROM nodes n LEFT JOIN e ON e.v = n.id LEFT JOIN y3 y ON y.id = e.u
  GROUP BY n.id
)
SELECT id, y AS katz_num FROM y4 ORDER BY id
"""


def _q_dyad_census(spark, sf_dir):
    """Holland-Leinhardt M/A/N dyad census (JASA 1976) over the
    trade digraph: one integer row (n_nodes, mutual, asym, null) —
    reciprocity is a row-local division. No pair join: each edge
    folds to its unordered dyad key; null dyads come from C(n,2)
    arithmetic (integer DIV, BIGINT-exact cross-engine)."""
    from knowledge_graph_spark.operators.graph_analytics import dyad_census

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    edges = (o.join(li, o["o_orderkey"] == li["l_orderkey"])
             .join(c, o["o_custkey"] == c["c_custkey"])
             .join(s, li["l_suppkey"] == s["s_suppkey"])
             .select(F.col("c_nationkey").cast("long").alias("src"),
                     F.col("s_nationkey").cast("long").alias("dst")))
    return dyad_census(edges)


_SQL_DYAD_CENSUS = r"""
WITH e AS (
  SELECT DISTINCT CAST(c.c_nationkey AS BIGINT) AS u,
                  CAST(s.s_nationkey AS BIGINT) AS v
  FROM orders o
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
),
d AS (
  SELECT LEAST(u, v) AS a, GREATEST(u, v) AS b, COUNT(*) AS m
  FROM e GROUP BY 1, 2
),
n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT u AS id FROM e UNION SELECT v FROM e)
)
SELECT n.c AS n_nodes,
       CAST(SUM(CASE WHEN d.m = 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS mutual_dyads,
       CAST(SUM(CASE WHEN d.m = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS asym_dyads,
       CAST((n.c * (n.c - 1)) // 2
            - SUM(CASE WHEN d.m = 2 THEN 1 ELSE 0 END)
            - SUM(CASE WHEN d.m = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS null_dyads
FROM d CROSS JOIN n GROUP BY n.c
"""


def _q_conductance(spark, sf_dir):
    """Per-community conductance ingredients (Leskovec et al.,
    Internet Math. 2009 NCP) of the nation partition over the
    customer-supplier trade graph: per nation, n_nodes / volume /
    internal_edges / cut_edges as BIGINTs — phi(C) is row-local.
    The oracle replays the undirected fold, the two label joins,
    and the two-row cross-edge explode."""
    from knowledge_graph_spark.operators.graph_analytics import (
        conductance_census)

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    edges = (o.join(li, o["o_orderkey"] == li["l_orderkey"])
             .select(F.concat(F.lit("c"), o["o_custkey"]).alias("src"),
                     F.concat(F.lit("s"), li["l_suppkey"]).alias("dst")))
    labels = (c.select(F.concat(F.lit("c"), F.col("c_custkey"))
                       .alias("id"),
                       F.col("c_nationkey").cast("long")
                       .alias("community"))
              .unionByName(
                  s.select(F.concat(F.lit("s"), F.col("s_suppkey"))
                           .alias("id"),
                           F.col("s_nationkey").cast("long")
                           .alias("community"))))
    return conductance_census(edges, labels).orderBy("community")


_SQL_CONDUCTANCE = r"""
WITH pairs AS (
  SELECT DISTINCT 'c' || o.o_custkey AS a, 's' || l.l_suppkey AS b
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
lab AS (
  SELECT 'c' || c_custkey AS id, CAST(c_nationkey AS BIGINT) AS c
  FROM customer
  UNION ALL
  SELECT 's' || s_suppkey, CAST(s_nationkey AS BIGINT) FROM supplier
),
tagged AS (
  SELECT la.c AS ca, lb.c AS cb
  FROM pairs p JOIN lab la ON la.id = p.a JOIN lab lb ON lb.id = p.b
),
sides AS (
  SELECT ca AS c, CASE WHEN ca = cb THEN 1 ELSE 0 END AS i,
         CASE WHEN ca = cb THEN 0 ELSE 1 END AS x
  FROM tagged
  UNION ALL
  SELECT cb, 0, 1 FROM tagged WHERE ca <> cb
),
es AS (
  SELECT c, CAST(SUM(i) AS BIGINT) AS internal_edges,
         CAST(SUM(x) AS BIGINT) AS cut_edges
  FROM sides GROUP BY c
),
deg AS (
  SELECT id, COUNT(*) AS d
  FROM (SELECT a AS id FROM pairs UNION ALL SELECT b FROM pairs)
  GROUP BY id
),
ns AS (
  SELECT l.c, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(COALESCE(deg.d, 0)) AS BIGINT) AS volume
  FROM lab l LEFT JOIN deg ON deg.id = l.id GROUP BY l.c
)
SELECT ns.c AS community, ns.n_nodes, ns.volume,
       CAST(COALESCE(es.internal_edges, 0) AS BIGINT)
         AS internal_edges,
       CAST(COALESCE(es.cut_edges, 0) AS BIGINT) AS cut_edges
FROM ns LEFT JOIN es ON es.c = ns.c
ORDER BY community
"""


def _q_good_turing(spark, sf_dir):
    """Simple Good-Turing frequency-of-frequencies census (Good
    1953; Gale & Sampson 1995) over the documents corpus: (r, N_r)
    count-of-counts plus nearest-neighbor frequencies, all BIGINT —
    Z_r and the unseen-mass P_0 = N_1/N are row-local. The oracle
    replays the tokenize, both counting folds, and the lag/lead
    boundary convention."""
    from knowledge_graph_spark.operators.textstats import (
        good_turing_census)

    docs = _t(spark, sf_dir, "documents")
    return good_turing_census(docs).orderBy("r")


_SQL_GOOD_TURING = r"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text),
                                                  '[^a-z0-9]+'),
                            x -> x <> '')) AS w
  FROM documents
),
tf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS r FROM toks GROUP BY w),
coc AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM tf GROUP BY r),
nb AS (
  SELECT r, n_r,
         CAST(COALESCE(LAG(r) OVER (ORDER BY r), 0) AS BIGINT)
           AS r_prev,
         LEAD(r) OVER (ORDER BY r) AS r_next0
  FROM coc
)
SELECT r, n_r, r_prev,
       CAST(COALESCE(r_next0, 2 * r - r_prev) AS BIGINT) AS r_next
FROM nb ORDER BY r
"""



def _q_allpairs_sim(spark, sf_dir):
    """EXACT all-pairs Jaccard similarity join with prefix filtering
    (Bayardo, Ma & Srikant WWW 2007; PPJoin Lemma 1) over the
    documents corpus at t = 1/2 on word-3-gram sets: integer-only
    (id_a, id_b, inter, sz_a, sz_b) — the threshold test is the
    integer cross-multiply 2*inter >= sz_a + sz_b - inter. The oracle
    is the NAIVE exact O(N^2) shingle self-join, so agreement proves
    the prefix filter loses no pair."""
    from knowledge_graph_spark.operators.dedup import allpairs_jaccard

    docs = _t(spark, sf_dir, "documents")
    return (allpairs_jaccard(docs, t_num=1, t_den=2, n=3)
            .orderBy("id_a", "id_b"))


_SQL_ALLPAIRS_SIM = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
                     x -> x != '') AS w
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(w) >= 3
    THEN list_transform(range(len(w) - 2),
         i -> list_aggregate(list_slice(w, i + 1, i + 3), 'string_agg', ' '))
    ELSE [list_aggregate(w, 'string_agg', ' ')] END) AS g
  FROM base
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
i AS (
  SELECT ga.doc_id AS id_a, gb.doc_id AS id_b, COUNT(*) AS inter
  FROM grams ga
  JOIN grams gb ON gb.g = ga.g AND gb.doc_id > ga.doc_id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b, CAST(i.inter AS BIGINT) AS inter,
       CAST(za.sz AS BIGINT) AS sz_a, CAST(zb.sz AS BIGINT) AS sz_b
FROM i
JOIN sizes za ON za.doc_id = i.id_a
JOIN sizes zb ON zb.doc_id = i.id_b
WHERE 2 * i.inter >= za.sz + zb.sz - i.inter
ORDER BY id_a, id_b
"""


def _q_coreness(spark, sf_dir):
    """Full k-core decomposition via the h-index fix-point (Lü et
    al., Nature Communications 2016) over the part-supplier supply
    graph: (id, coreness), integer-exact. The oracle unrolls the
    h-index iteration from degree for a fixed round budget; the
    fix-point is idempotent, so the early-exited Spark loop and the
    fixed-depth SQL replay agree exactly once both have converged
    (round budget verified >= convergence depth at both test
    scales)."""
    from knowledge_graph_spark.operators.graph_analytics import coreness

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"))
    return coreness(edges).orderBy("id")


def _mk_coreness_sql(rounds: int) -> str:
    """Unrolled h-index fix-point SQL: c0 = degree; each round ranks
    neighbor values descending per node and takes max(min(rank,
    value)). Generated, not hand-written, so the round budget is one
    number."""
    parts = [r"""
WITH e AS (
  SELECT DISTINCT 'p' || l_partkey AS a, 's' || l_suppkey AS b
  FROM lineitem
),
sym AS (
  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
),
c0 AS (SELECT u AS id, CAST(COUNT(*) AS INT) AS c FROM sym GROUP BY u)"""]
    for t in range(rounds):
        parts.append(f""",
c{t + 1} AS (
  SELECT id, CAST(MAX(LEAST(r, cv)) AS INT) AS c FROM (
    SELECT s.u AS id, c.c AS cv,
           ROW_NUMBER() OVER (PARTITION BY s.u ORDER BY c.c DESC) AS r
    FROM sym s JOIN c{t} c ON c.id = s.v
  ) GROUP BY id
)""")
    parts.append(f"""
SELECT id, CAST(c AS INT) AS coreness FROM c{rounds} ORDER BY id
""")
    return "".join(parts)


_SQL_CORENESS = _mk_coreness_sql(12)



def _q_triad_census(spark, sf_dir):
    """Full 16-type directed triad census (Holland & Leinhardt 1970;
    Davis & Leinhardt M-A-N labels; Batagelj & Mrvar 2001
    subquadratic enumeration) over the international trade digraph.
    The Spark side never enumerates O(n^3) — wedge-join for >=2-dyad
    triads, per-dyad integer arithmetic for single-dyad triads,
    C(n,3) subtraction for 003 — while the oracle IS the brute-force
    all-triples classifier, so agreement proves the subquadratic
    decomposition exactly."""
    from knowledge_graph_spark.operators.graph_analytics import (
        triad_census)

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    edges = (o.join(li, o["o_orderkey"] == li["l_orderkey"])
             .join(c, o["o_custkey"] == c["c_custkey"])
             .join(s, li["l_suppkey"] == s["s_suppkey"])
             .select(F.concat(F.lit("n"),
                              F.format_string("%02d",
                                              F.col("c_nationkey")))
                     .alias("src"),
                     F.concat(F.lit("n"),
                              F.format_string("%02d",
                                              F.col("s_nationkey")))
                     .alias("dst")))
    return triad_census(edges).orderBy("triad_type")


def _mk_triad_sql() -> str:
    """Brute-force all-triples triad classifier: every node triple,
    six EXISTS probes -> 6-bit code -> 64-row VALUES decode table
    (the same table the engine uses, literal here so the two sides
    stay independently auditable)."""
    from knowledge_graph_spark.operators.graph_analytics import (
        TRIAD_TYPES, _TRIAD_TYPE_BY_CODE)

    map64 = ", ".join(f"({c}, '{t}')"
                      for c, t in sorted(_TRIAD_TYPE_BY_CODE.items()))
    spine = ", ".join(f"('{t}')" for t in TRIAD_TYPES)
    return f"""
WITH e AS (
  SELECT DISTINCT 'n' || lpad(CAST(c.c_nationkey AS VARCHAR), 2, '0') AS u,
                  'n' || lpad(CAST(s.s_nationkey AS VARCHAR), 2, '0') AS v
  FROM orders o
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
),
nodes AS (SELECT u AS id FROM e UNION SELECT v FROM e),
tri AS (
  SELECT n1.id AS i, n2.id AS j, n3.id AS k
  FROM nodes n1
  JOIN nodes n2 ON n2.id > n1.id
  JOIN nodes n3 ON n3.id > n2.id
),
st AS (
  SELECT
    (CASE WHEN EXISTS (SELECT 1 FROM e WHERE u = i AND v = j)
          THEN 1 ELSE 0 END
     + CASE WHEN EXISTS (SELECT 1 FROM e WHERE u = j AND v = i)
            THEN 2 ELSE 0 END) AS mij,
    (CASE WHEN EXISTS (SELECT 1 FROM e WHERE u = i AND v = k)
          THEN 1 ELSE 0 END
     + CASE WHEN EXISTS (SELECT 1 FROM e WHERE u = k AND v = i)
            THEN 2 ELSE 0 END) AS mik,
    (CASE WHEN EXISTS (SELECT 1 FROM e WHERE u = j AND v = k)
          THEN 1 ELSE 0 END
     + CASE WHEN EXISTS (SELECT 1 FROM e WHERE u = k AND v = j)
            THEN 2 ELSE 0 END) AS mjk
  FROM tri
),
decode(code, ttype) AS (VALUES {map64}),
cnt AS (
  SELECT d.ttype AS triad_type, CAST(COUNT(*) AS BIGINT) AS n_triads
  FROM st JOIN decode d ON d.code = st.mij + 4 * st.mik + 16 * st.mjk
  GROUP BY d.ttype
),
spine(triad_type) AS (VALUES {spine})
SELECT s.triad_type,
       CAST(COALESCE(c.n_triads, 0) AS BIGINT) AS n_triads
FROM spine s LEFT JOIN cnt c ON c.triad_type = s.triad_type
ORDER BY 1
"""


_SQL_TRIAD_CENSUS = _mk_triad_sql()



_KB_STEPS = 31


def _kb_tau() -> int:
    import math

    return round(math.log(_KB_STEPS) * 1e6)


def _q_kleinberg(spark, sf_dir):
    """Kleinberg two-state burst detection (KDD 2002 §4, the
    batched-stream automaton) over per-type daily event counts:
    per series the min-cost 0/1 state path, burst-day count, and
    total cost in BIGINT micro-nats. Per-cell costs land on a 1e-6
    lattice before the DP so every sum/argmin is integer-exact; the
    transition toll tau = round(ln(31)*1e6) is one Python-computed
    literal shared verbatim with the oracle; ties break on the
    lower predecessor state via min(struct). The oracle unrolls all
    31 DP steps. Residual cross-engine exposure: one ln() per
    (series, state) pair of rational rates — a 1-ulp ln divergence
    would need to move a cost across a 0.5e-6 lattice edge to
    surface (same exposure class as ccnet_buckets, disclosed)."""
    from knowledge_graph_spark.operators.events import kleinberg_bursts

    ev = _t(spark, sf_dir, "events")
    # plant a deterministic 4x surge of 'click' on days 10-12 so the
    # burst state actually fires (the synthetic stream is uniform);
    # the oracle replays the same UNION ALL boost
    boost = ev.filter((F.col("event_type") == "click")
                      & F.dayofmonth("ts").between(10, 12))
    boosted = (ev.unionByName(boost).unionByName(boost)
               .unionByName(boost))
    return (kleinberg_bursts(boosted, n_steps=_KB_STEPS,
                             tau_scaled=_kb_tau())
            .orderBy("key"))


def _mk_kleinberg_sql() -> str:
    n = _KB_STEPS
    tau = _kb_tau()
    parts = [f"""
WITH raw AS (
  SELECT event_type, ts FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL
),
boost AS (
  SELECT event_type, ts FROM raw
  WHERE event_type = 'click' AND date_part('day', ts) BETWEEN 10 AND 12
),
base AS (
  SELECT event_type AS key, CAST(ts AS DATE) AS d
  FROM (SELECT * FROM raw UNION ALL SELECT * FROM boost
        UNION ALL SELECT * FROM boost UNION ALL SELECT * FROM boost)
),
lo AS (SELECT MIN(d) AS lo FROM base),
counts AS (
  SELECT key, DATEDIFF('day', lo.lo, d) + 1 AS t,
         CAST(COUNT(*) AS BIGINT) AS r
  FROM base, lo
  WHERE DATEDIFF('day', lo.lo, d) + 1 BETWEEN 1 AND {n}
  GROUP BY 1, 2
),
totals AS (SELECT t, CAST(SUM(r) AS BIGINT) AS d FROM counts GROUP BY t),
series AS (SELECT key, CAST(SUM(r) AS BIGINT) AS rtot
           FROM counts GROUP BY key),
grand AS (SELECT CAST(SUM(d) AS BIGINT) AS dtot FROM totals),
tgrid AS (SELECT CAST(unnest(range(1, {n + 1})) AS INT) AS t),
grid AS (
  SELECT s.key, g.t, COALESCE(c.r, 0) AS r, COALESCE(tt.d, 0) AS d,
         s.rtot, gr.dtot
  FROM series s CROSS JOIN tgrid g
  LEFT JOIN counts c ON c.key = s.key AND c.t = g.t
  LEFT JOIN totals tt ON tt.t = g.t
  CROSS JOIN grand gr
),
dc AS MATERIALIZED (
  SELECT key, t,
    CASE WHEN d = 0 THEN CAST(0 AS BIGINT)
         ELSE CAST(ROUND(-(r * ln(rtot / dtot)
                           + (d - r) * ln(1 - rtot / dtot)) * 1e6, 0)
                   AS BIGINT) END AS c0,
    CASE WHEN d = 0 THEN CAST(0 AS BIGINT)
         ELSE CAST(ROUND(-(r * ln(LEAST((rtot / dtot) * 2, 0.999999))
                           + (d - r) * ln(1 - LEAST((rtot / dtot) * 2,
                                                    0.999999))) * 1e6, 0)
                   AS BIGINT) END AS c1
  FROM grid
),
s0 AS (
  SELECT key, qq.q,
         CASE WHEN qq.q = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(1000000000000000 AS BIGINT) END AS cost,
         '' AS path
  FROM series CROSS JOIN (VALUES (0), (1)) qq(q)
)"""]
    for t in range(1, n + 1):
        parts.append(f""",
m{t} AS MATERIALIZED (
  SELECT key, nn.qn,
         MIN(struct_pack(
             c := cost + CASE WHEN nn.qn = 1 AND q = 0
                              THEN {tau} ELSE 0 END,
             q := q, p := path)) AS b
  FROM s{t - 1} CROSS JOIN (VALUES (0), (1)) nn(qn)
  GROUP BY key, nn.qn
),
s{t} AS MATERIALIZED (
  SELECT m.key, m.qn AS q,
         m.b.c + CASE WHEN m.qn = 0 THEN d.c0 ELSE d.c1 END AS cost,
         m.b.p || CAST(m.qn AS VARCHAR) AS path
  FROM m{t} m JOIN dc d ON d.key = m.key AND d.t = {t}
)""")
    parts.append(f"""
SELECT key, b.p AS path,
       CAST(length(b.p) - length(replace(b.p, '1', '')) AS BIGINT)
         AS n_burst_steps,
       b.c AS total_cost_scaled
FROM (SELECT key, MIN(struct_pack(c := cost, q := q, p := path)) AS b
      FROM s{n} GROUP BY key)
ORDER BY key
""")
    return "".join(parts)


_SQL_KLEINBERG = _mk_kleinberg_sql()



def _q_supply_msf(spark, sf_dir):
    """Minimum spanning forest of the part-supplier supply graph
    (weight = min extended price per pair) via distributed Borůvka
    rounds (Borůvka 1926; Lattanzi et al. SPAA 2011) — the single-
    linkage clustering backbone for ER similarity graphs. Oracled
    against an independent pure-Python Kruskal twin: both follow the
    same (weight, src, dst) total order, under which the forest is
    unique, so row equality proves the distributed contraction loop.
    Selection-only output — no arithmetic ever touches the weights,
    so no float drift can exist cross-engine."""
    from knowledge_graph_spark.operators.graph_analytics import (
        boruvka_msf)

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        F.col("l_extendedprice").alias("weight"))
    return boruvka_msf(edges).orderBy("src", "dst")



def _q_sales_cube(spark, sf_dir):
    """OLAP CUBE (Gray et al., Data Mining & Knowledge Discovery
    1997 "Data Cube"): all four grouping sets of (returnflag,
    linestatus) in ONE pass plus the grouping_id bitmask — the
    classical rollup operator (exercises SURVEY §2.5 grouping sets;
    Spark computes it with a single Expand + aggregate, no repeated
    scans). Sums carry the 2-dp convention of pricing_summary."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
             F.count("*").alias("n_rows"),
             F.grouping_id().alias("gid"))
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


_SQL_SALES_CUBE = r"""
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       COUNT(*) AS n_rows,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag, l_linestatus
"""


def _q_events_rolling(spark, sf_dir):
    """7-day rolling event volume per type via a RANGE-frame window
    over the integer day axis (the classical moving-aggregate
    operator; frame = 6 preceding days + current): sparse day gaps
    must NOT contribute — a ROWS frame would silently include
    out-of-range days, which is exactly what RANGE exists for.
    Integer-only output."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = (ev.filter(F.col("event_type").isNotNull()
                       & F.col("ts").isNotNull())
             .groupBy("event_type",
                      F.to_date("ts").alias("d"))
             .agg(F.count("*").cast("long").alias("n")))
    w = (Window.partitionBy("event_type")
         .orderBy(F.datediff(F.col("d"), F.lit("1970-01-01")))
         .rangeBetween(-6, 0))
    return (daily
            .withColumn("roll7", F.sum("n").over(w).cast("long"))
            .select("event_type", "d", "n", "roll7")
            .orderBy("event_type", "d"))


_SQL_EVENTS_ROLLING = r"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
)
SELECT event_type, d, n,
       CAST(SUM(n) OVER (
         PARTITION BY event_type
         ORDER BY DATEDIFF('day', DATE '1970-01-01', d)
         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS roll7
FROM daily
ORDER BY event_type, d
"""



_KC_K = 6


def _q_kcenter(spark, sf_dir):
    """Gonzalez greedy k-center coreset selection (TCS 1985) over
    the embedding table: 6 farthest-point rounds, selection-only
    (rank, center_id) output. The oracle unrolls every round with
    the SAME sequential fold order as functions/vectors.l2_sq
    (DuckDB list_reduce == Spark aggregate left fold, and the
    engine casts to double BEFORE any arithmetic), so the argmax
    replays bit-for-bit; ties break on ascending id."""
    from knowledge_graph_spark.operators.simsearch import kcenter_coreset

    emb = _t(spark, sf_dir, "embeddings")
    return kcenter_coreset(emb, k=_KC_K).orderBy("rank")


def _mk_kcenter_sql() -> str:
    fold = ("ROUND(list_reduce(list_transform(range(1, len({a}) + 1), "
            "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), "
            "(acc, x) -> acc + x), 6)")
    parts = [f"""
WITH allv AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
),
c1 AS (SELECT v FROM allv WHERE vec_id = (SELECT MIN(vec_id) FROM allv)),
d1 AS MATERIALIZED (
  SELECT a.vec_id AS id, a.v, {fold.format(a="a.v", b="c1.v")} AS d6
  FROM allv a CROSS JOIN c1
)"""]
    for r in range(2, _KC_K + 1):
        parts.append(f""",
n{r} AS (SELECT id FROM d{r - 1} ORDER BY d6 DESC, id LIMIT 1),
c{r} AS (SELECT a.v FROM allv a JOIN n{r} ON a.vec_id = n{r}.id),
d{r} AS MATERIALIZED (
  SELECT d.id, d.v,
         LEAST(d.d6, {fold.format(a="d.v", b="c.v")}) AS d6
  FROM d{r - 1} d CROSS JOIN c{r} c
)""")
    sel = ["SELECT CAST(1 AS INT) AS rank, "
           "(SELECT MIN(vec_id) FROM allv) AS center_id"]
    for r in range(2, _KC_K + 1):
        sel.append(f"SELECT CAST({r} AS INT), (SELECT id FROM n{r})")
    parts.append("\n" + "\nUNION ALL\n".join(sel) + "\nORDER BY rank\n")
    return "".join(parts)


_SQL_KCENTER = _mk_kcenter_sql()



def _q_snn_clusters(spark, sf_dir):
    """Jarvis-Patrick shared-nearest-neighbor clustering (IEEE ToC
    1973; Ertöz et al. SDM 2003) over the embedding corpus: exact
    cosine 12-NN lists (the brute tier — IVF/PQ drop in at scale),
    mutual-listing + >=2 shared neighbors -> SNN edges -> connected
    components. Selection-only integer output (vec_id, cluster).
    The oracle replays the k-NN ranking, the mutual and shared-count
    joins, and the component closure via a recursive CTE."""
    from knowledge_graph_spark.operators.simsearch import (
        brute_force_topk, snn_clusters)

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.select(F.col("vec_id").alias("query_id"),
                         F.col("embedding").alias("query_vec"))
    knn = brute_force_topk(emb, queries, k=12)
    return snn_clusters(knn, min_shared=2).orderBy("vec_id")


_SQL_SNN_CLUSTERS = r"""
WITH RECURSIVE
allv AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
),
nz AS (
  SELECT vec_id, v FROM allv
  WHERE sqrt(list_reduce(list_transform(v, x -> x * x),
                         (a, b) -> a + b)) > 0
),
knn AS MATERIALIZED (
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(e.v, q.v) DESC,
                      e.vec_id) AS rk
    FROM nz e CROSS JOIN nz q)
  WHERE rk <= 12
),
pairs AS MATERIALIZED (
  SELECT DISTINCT query_id AS p, vec_id AS n
  FROM knn WHERE query_id <> vec_id
),
mutual AS (
  SELECT a.p AS a, a.n AS b FROM pairs a
  JOIN pairs r ON r.p = a.n AND r.n = a.p
  WHERE a.p < a.n
),
shared AS (
  SELECT x.p AS a, y.p AS b, COUNT(*) AS s
  FROM pairs x JOIN pairs y ON y.n = x.n AND y.p > x.p
  GROUP BY 1, 2
),
edges AS MATERIALIZED (
  SELECT m.a, m.b
  FROM mutual m LEFT JOIN shared s ON s.a = m.a AND s.b = m.b
  WHERE COALESCE(s.s, 0) >= 2
),
sym AS (SELECT a AS u, b AS v FROM edges UNION SELECT b, a FROM edges),
reach(node, lab) AS (
  SELECT u, u FROM sym
  UNION
  SELECT s.v, r.lab FROM reach r JOIN sym s ON s.u = r.node
),
labs AS (SELECT node, MIN(lab) AS component FROM reach GROUP BY node),
pts AS (SELECT DISTINCT query_id AS id FROM knn)
SELECT p.id AS vec_id,
       CAST(COALESCE(l.component, p.id) AS BIGINT) AS cluster
FROM pts p LEFT JOIN labs l ON l.node = p.id
ORDER BY vec_id
"""



def _q_ann_agreement(spark, sf_dir):
    """Kendall rank-agreement census (Kendall 1938) between the
    EXACT cosine top-50 and the PQ-ADC top-50 for the 8 standard
    query vectors — the quantization-quality eval: integer
    (n_common, concordant, discordant, only_a, only_b) per query;
    tau and recall@50 are row-local. Both rankings use the
    deterministic (score, vec_id) tie-break their own oracles
    already pin, so the census replays exactly."""
    from knowledge_graph_spark.operators.search import kendall_agreement
    from knowledge_graph_spark.operators.simsearch import (
        brute_force_topk, pq_adc_topk, pq_encode, train_pq_codebook)

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    exact = brute_force_topk(emb, queries, k=50)
    rows = train_pq_codebook(emb, m=4, n_codes=16, n_iter=0,
                             dim=64).collect()
    codes = pq_encode(emb, codebook_rows=rows)
    approx = pq_adc_topk(codes, queries, codebook_rows=rows, k=50)
    return kendall_agreement(exact, approx).orderBy("query_id")


_SQL_ANN_AGREEMENT = r"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
nz AS (
  SELECT vec_id, e FROM v
  WHERE sqrt(list_reduce(list_transform(e, x -> x * x),
                         (a, b) -> a + b)) > 0
),
q AS (SELECT vec_id AS query_id, e AS qe FROM nz WHERE vec_id < 8),
eranked AS MATERIALIZED (
  SELECT query_id, vec_id, rk AS ra FROM (
    SELECT q.query_id, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(e.e, q.qe) DESC,
                      e.vec_id) AS rk
    FROM nz e CROSS JOIN q) WHERE rk <= 50
),
subs AS (SELECT unnest(generate_series(0, 3)) AS sub),
cb AS (
  SELECT s.sub, CAST(r.rn - 1 AS INT) AS code_id, r.e AS ce
  FROM (SELECT e, row_number() OVER (ORDER BY vec_id) AS rn
        FROM v ORDER BY vec_id LIMIT 16) r, subs s
),
d AS (
  SELECT v.vec_id, cb.sub, cb.code_id,
         list_sum(list_transform(generate_series(1, 16),
           i -> (v.e[cb.sub*16 + i] - cb.ce[cb.sub*16 + i])
              * (v.e[cb.sub*16 + i] - cb.ce[cb.sub*16 + i]))) AS d2
  FROM v CROSS JOIN cb
),
codes AS (
  SELECT vec_id, sub, code_id FROM (
    SELECT vec_id, sub, code_id,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2, code_id) AS rk
    FROM d) WHERE rk = 1
),
qd AS (
  SELECT qq.vec_id AS query_id, cb.sub, cb.code_id,
         list_sum(list_transform(generate_series(1, 16),
           i -> (qq.e[cb.sub*16 + i] - cb.ce[cb.sub*16 + i])
              * (qq.e[cb.sub*16 + i] - cb.ce[cb.sub*16 + i]))) AS d2
  FROM (SELECT * FROM v WHERE vec_id < 8) qq CROSS JOIN cb
),
adc AS (
  SELECT qd.query_id, c.vec_id,
         list_sum(list(qd.d2 ORDER BY qd.sub)) AS adc_d2
  FROM codes c JOIN qd ON qd.sub = c.sub AND qd.code_id = c.code_id
  GROUP BY qd.query_id, c.vec_id
),
pranked AS MATERIALIZED (
  SELECT query_id, vec_id, rk AS rb FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_d2, vec_id) AS rk
    FROM adc) WHERE rk <= 50
),
common AS MATERIALIZED (
  SELECT e.query_id, e.vec_id, e.ra, p.rb
  FROM eranked e JOIN pranked p USING (query_id, vec_id)
),
pairs AS (
  SELECT x.query_id,
         CAST(SUM(CASE WHEN y.rb > x.rb THEN 1 ELSE 0 END) AS BIGINT)
           AS concordant,
         CAST(SUM(CASE WHEN y.rb < x.rb THEN 1 ELSE 0 END) AS BIGINT)
           AS discordant
  FROM common x JOIN common y
    ON y.query_id = x.query_id AND y.ra > x.ra
  GROUP BY x.query_id
),
ncom AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_common
         FROM common GROUP BY query_id),
oa AS (
  SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS only_a
  FROM eranked e LEFT JOIN pranked p USING (query_id, vec_id)
  WHERE p.vec_id IS NULL GROUP BY e.query_id
),
ob AS (
  SELECT p.query_id, CAST(COUNT(*) AS BIGINT) AS only_b
  FROM pranked p LEFT JOIN eranked e USING (query_id, vec_id)
  WHERE e.vec_id IS NULL GROUP BY p.query_id
)
SELECT n.query_id, n.n_common,
       CAST(COALESCE(pr.concordant, 0) AS BIGINT) AS concordant,
       CAST(COALESCE(pr.discordant, 0) AS BIGINT) AS discordant,
       CAST(COALESCE(oa.only_a, 0) AS BIGINT) AS only_a,
       CAST(COALESCE(ob.only_b, 0) AS BIGINT) AS only_b
FROM ncom n
LEFT JOIN pairs pr USING (query_id)
LEFT JOIN oa USING (query_id)
LEFT JOIN ob USING (query_id)
ORDER BY query_id
"""



def _q_nb_confusion(spark, sf_dir):
    """Confusion-matrix census over the NB source-router (the
    standard error-analysis artifact: which sources leak into
    which): dense (actual, predicted, n) grid — all label pairs
    kept, zero-filled, so the matrix shape is stable across
    corpora. Integer-only; recall/precision per class are row-local
    divisions against the marginals."""
    from knowledge_graph_spark.operators.classify import nb_train_score

    docs = _t(spark, sf_dir, "documents")
    is_train = F.md5(F.col("doc_id").cast("string")) < "8"
    preds = nb_train_score(
        docs.filter(is_train).select(F.col("source").alias("label"),
                                     "text"),
        docs,
    )
    joined = preds.join(
        docs.select("doc_id", F.col("source").alias("actual")),
        "doc_id")
    labels = docs.select(F.col("source").alias("_l")).distinct()
    grid = (labels.select(F.col("_l").alias("actual"))
            .crossJoin(labels.select(F.col("_l").alias("predicted"))))
    counts = (joined.groupBy("actual", "predicted")
              .agg(F.count("*").cast("long").alias("n")))
    return (grid.join(counts, ["actual", "predicted"], "left")
            .select("actual", "predicted",
                    F.coalesce("n", F.lit(0).cast("long")).alias("n"))
            .orderBy("actual", "predicted"))



def _q_temporal_conflicts(spark, sf_dir):
    """Temporal functional-constraint violation census (Dylla et al.
    EDBT 2013; YAGO2 functional time checks) over the same injected
    is-a fact stream as fact_intervals: declaring `such_as`
    functional (a city is one kind at a time), every city appears
    under BOTH 'cities' and 'towns' with overlapping validity — the
    census must surface exactly those pairs with their integer
    overlap-day counts. The oracle replays the interval build and
    the overlap self-join."""
    from knowledge_graph_spark.operators.patterns import extract_hyponyms
    from knowledge_graph_spark.operators.temporal import (
        fact_intervals, temporal_conflicts)

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    city = F.element_at(
        F.array(*[F.lit(x) for x in
                  ("lisbon", "porto", "madrid", "seville", "lyon")]),
        (k % 5 + 1).cast("int"))
    kind = F.element_at(
        F.array(F.lit("cities"), F.lit("towns")),
        (k % 2 + 1).cast("int"))
    pages = docs.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" "), kind,
                 F.lit(" such as "), city).alias("text"),
    )
    assertions = extract_hyponyms(pages).select(
        "doc_id", F.col("hyponym").alias("subj"),
        F.col("pattern").alias("pred"), F.col("hypernym").alias("obj"))
    dates = docs.select(
        "doc_id",
        F.make_date((k % 3 + 2021).cast("int"), (k % 12 + 1).cast("int"),
                    (k % 28 + 1).cast("int")).alias("date"))
    iv = fact_intervals(assertions, dates)
    return (temporal_conflicts(iv, ["such_as"])
            .orderBy("subj", "pred", "obj_a", "obj_b"))


_SQL_TEMPORAL_CONFLICTS = r"""
WITH inj AS (
  SELECT doc_id,
    text || ' ' || (['cities','towns'])[doc_id % 2 + 1] || ' such as '
         || (['lisbon','porto','madrid','seville','lyon'])
              [doc_id % 5 + 1] AS text
  FROM documents),
a AS (
  SELECT doc_id,
    lower(regexp_extract(x, '([A-Za-z]+) such as ([A-Za-z]+)', 2))
      AS subj,
    'such_as' AS pred,
    lower(regexp_extract(x, '([A-Za-z]+) such as ([A-Za-z]+)', 1))
      AS obj
  FROM (SELECT doc_id, unnest(regexp_extract_all(text,
          '([A-Za-z]+) such as ([A-Za-z]+)', 0)) AS x FROM inj)),
d AS (
  SELECT doc_id,
    make_date(CAST(doc_id % 3 + 2021 AS INT),
              CAST(doc_id % 12 + 1 AS INT),
              CAST(doc_id % 28 + 1 AS INT)) AS date
  FROM documents),
iv AS (
  SELECT subj, pred, obj,
         min(date) AS f, max(date) AS l
  FROM a JOIN d ON a.doc_id = d.doc_id
  GROUP BY 1, 2, 3)
SELECT x.subj, x.pred, x.obj AS obj_a, y.obj AS obj_b,
       CAST(DATEDIFF('day', GREATEST(x.f, y.f),
                     LEAST(x.l, y.l)) + 1 AS BIGINT) AS overlap_days
FROM iv x JOIN iv y
  ON y.subj = x.subj AND y.pred = x.pred AND y.obj > x.obj
WHERE NOT (x.l < y.f OR y.l < x.f)
ORDER BY 1, 2, 3, 4
"""



def _q_gini(spark, sf_dir):
    """Gini/Lorenz token-inequality ingredients (Gini 1912) over the
    documents corpus: one BIGINT row (n_terms, total_tokens,
    rank_weighted_sum) — the rank sum folds over the count-of-counts
    table via the equal-count-group identity c·(m·o + m(m+1)/2), so
    no per-term rank ever exists; G is a row-local division. The
    oracle replays tokenize, count-of-counts, and the same group
    arithmetic."""
    from knowledge_graph_spark.operators.textstats import gini_ingredients

    docs = _t(spark, sf_dir, "documents")
    return gini_ingredients(docs)


_SQL_GINI = r"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text),
                                                  '[^a-z0-9]+'),
                            x -> x <> '')) AS w
  FROM documents
),
tf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w),
coc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS m FROM tf GROUP BY c),
run AS (
  SELECT c, m,
         CAST(COALESCE(SUM(m) OVER (ORDER BY c
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS o
  FROM coc
)
SELECT CAST(SUM(m) AS BIGINT) AS n_terms,
       CAST(SUM(c * m) AS BIGINT) AS total_tokens,
       CAST(SUM(c * (m * o + (m * (m + 1)) // 2)) AS BIGINT)
         AS rank_weighted_sum
FROM run
"""



def _q_robots_wildcards(spark, sf_dir):
    """RFC 9309 wildcard verdicts (§2.2.3 — `*` and the trailing `$`
    anchor, the part literal robots_filter declares out of scope):
    a frontier of pdf/html/tmp paths over 5 hosts against rules
    exercising `/private/*.pdf$` (segment-spanning star + anchor),
    `/search*`, a `/private/pub-*` Allow exception, and
    specificity-by-pattern-length. The oracle replays the regex
    translation (escape-then-star, detached anchor) in RE2."""
    from knowledge_graph_spark.operators.crawl import (
        robots_filter_wildcards)

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id").cast("string")
    path = (
        F.when(F.col("doc_id") % 6 == 0,
               F.concat(F.lit("/private/a/doc-"), k, F.lit(".pdf")))
        .when(F.col("doc_id") % 6 == 1,
              F.concat(F.lit("/private/doc-"), k, F.lit(".pdfx")))
        .when(F.col("doc_id") % 6 == 2,
              F.concat(F.lit("/private/pub-"), k, F.lit(".pdf")))
        .when(F.col("doc_id") % 6 == 3,
              F.concat(F.lit("/search"), k))
        .when(F.col("doc_id") % 6 == 4,
              F.concat(F.lit("/open/doc-"), k, F.lit(".html")))
        .otherwise(F.concat(F.lit("/doc-"), k, F.lit(".tmp")))
    )
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("https://w-"), (F.col("doc_id") % 5).cast("string"),
                 F.lit(".example.org"), path).alias("url"),
    )
    hosts = (spark.range(5)
             .select(F.concat(F.lit("w-"), F.col("id").cast("string"),
                              F.lit(".example.org")).alias("host"),
                     F.col("id")))
    def rule(pat, allow):
        return hosts.select(
            "host", F.lit(pat).alias("pattern"),
            F.lit(allow).alias("allow"))
    rules = (rule("/private/*.pdf$", False)
             .unionByName(rule("/private/pub-*", True))
             .unionByName(rule("/search*", False))
             .unionByName(
                 hosts.filter(F.col("id") % 2 == 0).select(
                     "host", F.lit("/*.tmp$").alias("pattern"),
                     F.lit(False).alias("allow"))))
    return (robots_filter_wildcards(urls, rules)
            .orderBy("doc_id"))


_SQL_ROBOTS_WILDCARDS = r"""
WITH u AS (
  SELECT doc_id,
         'https://w-' || CAST(doc_id % 5 AS VARCHAR) || '.example.org' ||
         CASE CAST(doc_id % 6 AS INT)
           WHEN 0 THEN '/private/a/doc-' || CAST(doc_id AS VARCHAR) || '.pdf'
           WHEN 1 THEN '/private/doc-' || CAST(doc_id AS VARCHAR) || '.pdfx'
           WHEN 2 THEN '/private/pub-' || CAST(doc_id AS VARCHAR) || '.pdf'
           WHEN 3 THEN '/search' || CAST(doc_id AS VARCHAR)
           WHEN 4 THEN '/open/doc-' || CAST(doc_id AS VARCHAR) || '.html'
           ELSE '/doc-' || CAST(doc_id AS VARCHAR) || '.tmp' END AS url
  FROM documents
),
hp AS (
  SELECT doc_id, url,
         lower(regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.\-]*://([^/:?#]*)', 1)) AS host,
         CASE WHEN regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^#]*)', 1) = ''
           THEN '/' ELSE regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^#]*)', 1) END AS path
  FROM u
),
h AS (SELECT 'w-' || CAST(i AS VARCHAR) || '.example.org' AS host, i
      FROM range(5) t(i)),
rules AS (
  SELECT host, '/private/*.pdf$' AS pattern, FALSE AS allow FROM h
  UNION ALL SELECT host, '/private/pub-*', TRUE FROM h
  UNION ALL SELECT host, '/search*', FALSE FROM h
  UNION ALL SELECT host, '/*.tmp$', FALSE FROM h WHERE i % 2 = 0
),
rx AS (
  SELECT host, pattern, allow,
         '^' || replace(
             regexp_replace(
               CASE WHEN right(pattern, 1) = '$'
                    THEN substring(pattern, 1, length(pattern) - 1)
                    ELSE pattern END,
               '([.\[\]{}()+?^$|\\-])', '\\\1', 'g'),
             '*', '.*')
           || CASE WHEN right(pattern, 1) = '$' THEN '$' ELSE '' END
           AS _rx
  FROM rules
),
cand AS (
  SELECT hp.doc_id, hp.url, hp.host, hp.path, r.pattern, r.allow,
         (r.pattern IS NOT NULL
          AND regexp_matches(hp.path, r._rx)) AS m
  FROM hp LEFT JOIN rx r ON r.host = hp.host
),
best AS (
  SELECT doc_id, url, host, path, pattern, allow,
         row_number() OVER (
           PARTITION BY doc_id
           ORDER BY m DESC, strlen(pattern) DESC, allow DESC,
                    pattern DESC) AS rn, m
  FROM cand
)
SELECT doc_id, url, host, path,
       CASE WHEN m THEN allow ELSE TRUE END AS allowed,
       CASE WHEN m THEN pattern END AS rule_pattern
FROM best WHERE rn = 1
ORDER BY doc_id
"""



def _q_stylometry(spark, sf_dir):
    """Burrows' Delta ingredient matrix (Burrows LLC 2002; Evert et
    al. 2017) over the documents corpus: the top-30 corpus words ×
    every source, integer (n_word, n_source_tokens) — the function-
    word frequency profile behind authorship attribution and
    machine-template detection. Zero rows kept so the matrix shape
    is always F × #sources. The oracle replays marker selection
    (cf desc, word asc) and both count folds."""
    from knowledge_graph_spark.operators.textstats import (
        stylometry_ingredients)

    docs = _t(spark, sf_dir, "documents")
    return (stylometry_ingredients(docs, top_f=30)
            .orderBy("rank", "source"))


_SQL_STYLOMETRY = r"""
WITH toks AS (
  SELECT source,
         unnest(list_filter(regexp_split_to_array(lower(text),
                                                  '[^a-z0-9]+'),
                            x -> x <> '')) AS w
  FROM documents WHERE source IS NOT NULL
),
cf AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
markers AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY c DESC, w ASC) AS BIGINT)
           AS rank, w AS word
  FROM cf ORDER BY c DESC, w ASC LIMIT 30
),
sw AS (SELECT source, w AS word, CAST(COUNT(*) AS BIGINT) AS n_word
       FROM toks GROUP BY 1, 2),
stot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_source_tokens
         FROM toks GROUP BY source)
SELECT m.rank, m.word, g.source,
       CAST(COALESCE(sw.n_word, 0) AS BIGINT) AS n_word,
       g.n_source_tokens
FROM markers m
CROSS JOIN stot g
LEFT JOIN sw ON sw.source = g.source AND sw.word = m.word
ORDER BY m.rank, g.source
"""



def _q_ql_search(spark, sf_dir):
    """Dirichlet-smoothed query-likelihood retrieval (Ponte & Croft
    SIGIR 1998; Zhai & Lafferty SIGIR 2001) for the same 3-term
    query as bm25_search — the language-modeling ranking next to
    the probabilistic one: every query term contributes (absent
    terms pay their smoothed background mass), mu = 2000. The
    oracle replays the collection LM, the candidate x query-term
    grid, and the per-term log sum at 6 dp."""
    from knowledge_graph_spark.operators.search import ql_search

    docs = _t(spark, sf_dir, "documents")
    return ql_search(docs, _BM25_TERMS).orderBy("doc_id")


_SQL_QL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
                     x -> x != '') AS w
  FROM documents
),
base AS (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM toks),
totals AS (SELECT COUNT(*) AS n_tokens FROM base),
q(term) AS (VALUES ('spark'), ('table'), ('row')),
cf AS (
  SELECT b.term, COUNT(*) AS cf FROM base b JOIN q ON q.term = b.term
  GROUP BY b.term
),
lm AS (
  SELECT cf.term, cf.cf / t.n_tokens AS p_c FROM cf CROSS JOIN totals t
),
tf AS (
  SELECT b.doc_id, b.dl, b.term, COUNT(*) AS tf
  FROM base b JOIN q ON q.term = b.term
  GROUP BY 1, 2, 3
),
cand AS (SELECT DISTINCT doc_id, dl FROM tf),
grid AS (
  SELECT c.doc_id, c.dl, l.term, l.p_c, COALESCE(tf.tf, 0) AS tf
  FROM cand c CROSS JOIN lm l
  LEFT JOIN tf ON tf.doc_id = c.doc_id AND tf.term = l.term
)
SELECT doc_id,
       ROUND(SUM(ln((tf + 2000.0 * p_c) / (dl + 2000.0))), 6) AS score
FROM grid GROUP BY doc_id
ORDER BY doc_id
"""



def _q_lexrank(spark, sf_dir):
    """Thresholded-LexRank extractive summaries (Erkan & Radev JAIR
    2004, degree variant) over the documents corpus: per doc the
    highest-degree sentence under the INTEGER-exact cosine-0.3
    adjacency (t_den²·dot² >= t_num²·|a|²·|b|² — no sqrt, no float
    anywhere), ties to the earliest sentence. The oracle replays
    sentence split, tf folds, the integer threshold, degrees, and
    the struct argmax."""
    from knowledge_graph_spark.operators.textstats import lexrank_summary

    docs = _t(spark, sf_dir, "documents")
    return lexrank_summary(docs).orderBy("doc_id")


_SQL_LEXRANK = r"""
WITH base AS (
  SELECT doc_id,
         list_filter(list_transform(
           regexp_split_to_array(text, '[.!?]+'), x -> trim(x)),
           x -> x <> '') AS ss
  FROM documents
),
sents AS (
  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS idx, u.s AS sent
  FROM (SELECT doc_id,
               unnest(list_transform(ss,
                 (x, i) -> struct_pack(i := i, s := x))) AS u
        FROM base)
  WHERE u.i - 1 < 50
),
tf AS (
  SELECT doc_id, idx, w, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, idx,
               unnest(list_filter(regexp_split_to_array(lower(sent),
                 '[^a-z0-9]+'), x -> x <> '')) AS w
        FROM sents)
  GROUP BY 1, 2, 3
),
norms AS (SELECT doc_id, idx, CAST(SUM(tf * tf) AS BIGINT) AS n2
          FROM tf GROUP BY 1, 2),
dots AS (
  SELECT a.doc_id, a.idx AS i, b.idx AS j,
         CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
  FROM tf a JOIN tf b
    ON b.doc_id = a.doc_id AND b.w = a.w AND b.idx > a.idx
  GROUP BY 1, 2, 3
),
edges AS (
  SELECT d.doc_id, d.i, d.j
  FROM dots d
  JOIN norms na ON na.doc_id = d.doc_id AND na.idx = d.i
  JOIN norms nb ON nb.doc_id = d.doc_id AND nb.idx = d.j
  WHERE 100 * d.dot * d.dot >= 9 * na.n2 * nb.n2
),
deg AS (
  SELECT doc_id, idx, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT doc_id, i AS idx FROM edges
        UNION ALL SELECT doc_id, j FROM edges)
  GROUP BY 1, 2
),
counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sents
           FROM sents GROUP BY doc_id),
ranked AS (
  SELECT s.doc_id,
         MAX(struct_pack(d := COALESCE(g.d, 0), ni := -s.idx,
                         s := s.sent)) AS b
  FROM sents s LEFT JOIN deg g
    ON g.doc_id = s.doc_id AND g.idx = s.idx
  GROUP BY s.doc_id
)
SELECT c.doc_id, c.n_sents,
       CAST(-r.b.ni AS BIGINT) AS top_sent_idx,
       CAST(r.b.d AS BIGINT) AS top_degree,
       r.b.s AS summary
FROM counts c JOIN ranked r ON r.doc_id = c.doc_id
ORDER BY c.doc_id
"""



def _q_opic(spark, sf_dir):
    """Integer-exact OPIC crawl priorities (Abiteboul, Preda &
    Cobena WWW 2003) over the international trade digraph: 5 full
    cash sweeps with BIGINT units — cash DIV outdeg per out-link,
    remainder stays home, dangling pages keep their wallet — so
    total cash is conserved exactly and the census replays
    bit-for-bit. The oracle unrolls every sweep."""
    from knowledge_graph_spark.operators.crawl import opic_ingredients

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    edges = (o.join(li, o["o_orderkey"] == li["l_orderkey"])
             .join(c, o["o_custkey"] == c["c_custkey"])
             .join(s, li["l_suppkey"] == s["s_suppkey"])
             .select(F.col("c_nationkey").cast("long").alias("src"),
                     F.col("s_nationkey").cast("long").alias("dst")))
    return opic_ingredients(edges, rounds=5).orderBy("id")


def _mk_opic_sql(rounds: int) -> str:
    parts = [r"""
WITH e AS MATERIALIZED (
  SELECT DISTINCT CAST(c.c_nationkey AS BIGINT) AS u,
                  CAST(s.s_nationkey AS BIGINT) AS v
  FROM orders o
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
),
nodes AS (SELECT u AS id FROM e UNION SELECT v FROM e),
deg AS (
  SELECT n.id, CAST(COALESCE(d.d, 0) AS BIGINT) AS d
  FROM nodes n LEFT JOIN (SELECT u AS id, COUNT(*) AS d FROM e
                          GROUP BY u) d ON d.id = n.id
),
s0 AS (SELECT id, d, CAST(1000000 AS BIGINT) AS cash,
              CAST(0 AS BIGINT) AS history FROM deg)"""]
    for t in range(1, rounds + 1):
        parts.append(f""",
g{t} AS MATERIALIZED (
  SELECT id, d,
         CASE WHEN d > 0 THEN cash // d ELSE CAST(0 AS BIGINT) END
           AS give,
         CASE WHEN d > 0 THEN cash % d ELSE cash END AS keep,
         history
  FROM s{t - 1}
),
r{t} AS (
  SELECT e.v AS id, CAST(SUM(g.give) AS BIGINT) AS rcv
  FROM e JOIN g{t} g ON g.id = e.u GROUP BY e.v
),
s{t} AS MATERIALIZED (
  SELECT g.id, g.d,
         g.keep + COALESCE(r.rcv, 0) AS cash,
         g.history + COALESCE(r.rcv, 0) AS history
  FROM g{t} g LEFT JOIN r{t} r ON r.id = g.id
)""")
    parts.append(f"""
SELECT id, CAST(cash AS BIGINT) AS cash,
       CAST(history AS BIGINT) AS history
FROM s{rounds} ORDER BY id
""")
    return "".join(parts)


_SQL_OPIC = _mk_opic_sql(5)


def _q_stream_windowed_counts(spark, sf_dir):
    """Structured-Streaming windowed aggregation driven END-TO-END
    inside the one-shot query contract: the events table is staged
    as an 8-file parquet drop directory, read back through a REAL
    file-source stream (maxFilesPerTrigger=2 -> 4 micro-batches),
    aggregated by streaming/ingest.py::windowed_event_counts
    (withWatermark + window), and drained into a memory sink under
    trigger(availableNow) in complete mode — so the final table
    must equal the batch tumbling-window aggregation the oracle
    computes. This gives the streaming surface an oracle-checked
    row instead of pytest-only coverage (complete mode emits every
    window; watermark state eviction is exercised by the pytest
    append-mode twin in tests/test_streaming.py)."""
    import tempfile

    from knowledge_graph_spark.streaming.ingest import (
        windowed_event_counts)

    import shutil

    src = tempfile.mkdtemp(prefix="stream_wc_src_")
    ck = tempfile.mkdtemp(prefix="stream_wc_ck_")
    try:
        (_t(spark, sf_dir, "events")
         .select("event_id", "ts", "user_id", "event_type", "value")
         .repartition(8).write.mode("overwrite").parquet(src))
        stream = (spark.readStream
                  .schema("event_id long, ts timestamp, user_id long, "
                          "event_type string, value double")
                  .option("maxFilesPerTrigger", 2).parquet(src))
        out = windowed_event_counts(stream, window="6 hours",
                                    watermark="2 hours")
        sink = "stream_windowed_counts_sink"
        spark.catalog.dropTempView(sink)
        q = (out.writeStream.format("memory").queryName(sink)
             .outputMode("complete")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        # the memory sink holds its rows in driver memory — the
        # staged drop dir and checkpoint are dead weight once the
        # stream terminates (repeated sweeps/benches would otherwise
        # accumulate an sf-sized parquet copy per invocation)
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
    return (spark.table(sink)
            .select(F.unix_timestamp("window_start")
                    .alias("window_epoch"),
                    "event_type",
                    F.col("n_events").cast("long").alias("n_events"),
                    F.round("total_value", 4).alias("total_value"))
            .orderBy("window_epoch", "event_type"))


_SQL_STREAM_WINDOWED_COUNTS = """
SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 21600) * 21600 AS window_epoch,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY window_epoch, event_type
"""


def _q_stream_dedup_replay(spark, sf_dir):
    """Streaming exact-content dedup (dropDuplicatesWithinWatermark)
    driven end-to-end: documents become a crawl-page drop directory
    (every doc_id % 5 == 0 page carries SHARED boilerplate text —
    one large duplicate group — and timestamps span 50 minutes, all
    inside the 1-hour watermark horizon so nothing is ever late),
    streamed through streaming/ingest.py::streaming_dedup over 4
    micro-batches into a memory sink. WHICH row of a duplicate
    group survives is micro-batch-order dependent, so the output is
    the order-free contract: one row (n_in, n_out) where n_out must
    equal the count of DISTINCT page texts — exact streaming dedup,
    no survivor identity exposed."""
    import tempfile

    from knowledge_graph_spark.streaming.ingest import streaming_dedup

    import shutil

    src = tempfile.mkdtemp(prefix="stream_dd_src_")
    ck = tempfile.mkdtemp(prefix="stream_dd_ck_")
    try:
        docs = _t(spark, sf_dir, "documents").filter(
            F.col("text").isNotNull())
        pages = docs.select(
            F.concat(F.lit("https://h"), (F.col("doc_id") % 50)
                     .cast("string"), F.lit(".example/"),
                     F.col("doc_id").cast("string")).alias("url"),
            (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
             + F.make_interval(secs=(F.col("doc_id") % 3000)
                               .cast("double"))).alias("warc_ts"),
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit("SHARED BOILERPLATE PAGE"))
            .otherwise(F.col("text")).alias("text"),
        )
        n_in = pages.count()
        pages.repartition(8).write.mode("overwrite").parquet(src)
        stream = (spark.readStream
                  .schema("url string, warc_ts timestamp, text string")
                  .option("maxFilesPerTrigger", 2).parquet(src))
        deduped = streaming_dedup(stream, watermark="1 hour",
                                  fallback_col=None)
        sink = "stream_dedup_replay_sink"
        spark.catalog.dropTempView(sink)
        q = (deduped.writeStream.format("memory").queryName(sink)
             .outputMode("append")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
    return (spark.table(sink)
            .agg(F.lit(n_in).cast("long").alias("n_in"),
                 F.count("*").cast("long").alias("n_out")))


_SQL_STREAM_DEDUP_REPLAY = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_in,
       CAST(COUNT(DISTINCT CASE WHEN doc_id % 5 = 0
                                THEN 'SHARED BOILERPLATE PAGE'
                                ELSE text END) AS BIGINT) AS n_out
FROM documents WHERE text IS NOT NULL
"""


_Builder = Callable[[SparkSession, str], DataFrame]


def _registry() -> list[tuple[str, _Builder, str]]:
    """The driver contract as one table: ``(name, builder, oracle SQL)``
    per query. Row order is the driver's priority — it checks a prefix
    of this table — so the paper core leads. ``_golden_sql`` oracles
    replay goldens pinned by the independent pure-Python twin
    (tools/make_goldens.py). Built on call, so oracle expressions stay
    lazy."""
    return [
        # paper core: construction, Q1/Q2, Q4-Q6, Q8/Q9, canonical ids
        ("kg_triples", _q_kg_triples,
         _golden_sql("kg_triples", "url, subj, pred, obj")),
        ("kg_entities", _q_kg_entities, _golden_sql("kg_entities", "url, id")),
        ("kg_graph_links", _q_kg_graph_links,
         _golden_sql("kg_graph_links", "src, dst, rel_type")),
        ("kg_user_graphs", _q_kg_user_graphs,
         _golden_sql("kg_user_graphs", "graph_id")),
        ("kg_all_graphs", _q_kg_all_graphs,
         _golden_sql("kg_all_graphs", "graph_id")),
        ("kg_keyword_search", _q_kg_keyword_search,
         _golden_sql("kg_keyword_search", "id")),
        # twin-computed survivor counts: deleting graph A / user_001
        # must leave exactly graph B standing (non-trivial since round 3)
        ("kg_detach_delete", _q_kg_detach_delete,
         _golden_sql("kg_detach_delete", "surviving_nodes")),
        ("kg_clear_user", _q_kg_clear_user,
         _golden_sql("kg_clear_user", "surviving_nodes")),
        ("kg_canonical_entities", _q_kg_canonical_entities,
         _golden_sql("kg_canonical_entities", "canonical_id")),
        ("kg_dropped_relations", _q_kg_dropped_relations,
         _golden_sql("kg_dropped_relations", "reason, type")),
        # classical relational operators
        ("pricing_summary", _q_pricing_summary, _SQL_PRICING),
        ("nation_revenue", _q_nation_revenue, _SQL_NATION_REVENUE),
        ("customers_without_orders", _q_customers_without_orders,
         _SQL_CUST_NO_ORDERS),
        ("top_parts_per_brand", _q_top_parts_per_brand, _SQL_TOP_PARTS),
        ("events_daily", _q_events_daily, _SQL_EVENTS_DAILY),
        ("events_windowed", _q_events_windowed, _SQL_EVENTS_WINDOWED),
        ("events_sessions", _q_events_sessions, _SQL_EVENTS_SESSIONS),
        ("stream_windowed_counts", _q_stream_windowed_counts,
         _SQL_STREAM_WINDOWED_COUNTS),
        ("stream_dedup_replay", _q_stream_dedup_replay,
         _SQL_STREAM_DEDUP_REPLAY),
        ("supplier_nation_union", _q_supplier_nation_union,
         _SQL_SUPPLIER_NATION_UNION),
        ("order_priority_semi", _q_order_priority_semi, _SQL_ORDER_PRIORITY),
        ("asof_purchases", _q_asof_purchases, _SQL_ASOF),
        ("range_view_clicks", _q_range_view_clicks, _SQL_RANGE),
        # training-data operators
        ("dedup_exact_groups", _q_dedup_exact_groups, _SQL_DEDUP_EXACT),
        ("dedup_exact_survivors", _q_dedup_exact_survivors,
         _SQL_DEDUP_SURVIVORS),
        ("dedup_best_survivors", _q_dedup_best_survivors, _SQL_DEDUP_BEST),
        ("ngram_jaccard", _q_ngram_jaccard, _SQL_NGRAM_JACCARD),
        ("token_counts", _q_token_counts, _SQL_TOKEN_COUNTS),
        ("language_id", _q_language_id, _SQL_LANGUAGE_ID),
        ("quality_scores", _q_quality_scores, _SQL_QUALITY),
        ("repetition_stats", _q_repetition_stats, _SQL_REPETITION),
        ("cross_dup", _q_cross_dup, _SQL_CROSS_DUP),
        ("ngram_novelty", _q_ngram_novelty, _SQL_NGRAM_NOVELTY),
        ("containment", _q_containment, _SQL_CONTAINMENT),
        ("boilerplate_strip", _q_boilerplate_strip, _SQL_BOILERPLATE),
        ("span_corruption", _q_span_corruption, _SQL_SPAN_CORRUPTION),
        ("robots_filter", _q_robots_filter, _SQL_ROBOTS),
        ("crawl_frontier", _q_crawl_frontier, _SQL_FRONTIER),
        ("redirects", _q_redirects, _SQL_REDIRECTS),
        ("lang_consistency", _q_lang_consistency, _SQL_LANG_CONSISTENCY),
        ("gopher_rules", _q_gopher_rules, _SQL_GOPHER_RULES),
        ("c4_filters", _q_c4_filters, _SQL_C4_FILTERS),
        ("anchor_texts", _q_anchor_texts, _SQL_ANCHOR_TEXTS),
        ("jsonld_entities", _q_jsonld_entities, _SQL_JSONLD),
        ("entity_linking", _q_entity_linking, _SQL_ENTITY_LINKING),
        ("web_tables", _q_web_tables, _SQL_WEB_TABLES),
        ("script_profiles", _q_script_profiles, _SQL_SCRIPT_PROFILES),
        ("repetition_plan", _q_repetition_plan, _SQL_REPETITION_PLAN),
        ("hearst_isa", _q_hearst_isa, _SQL_HEARST),
        ("main_content", _q_main_content, _SQL_MAIN_CONTENT),
        ("triple_fusion", _q_triple_fusion, _SQL_TRIPLE_FUSION),
        ("truth_discovery", _q_truth_discovery, _SQL_TRUTH_DISCOVERY),
        ("amie_rules", _q_amie_rules, _SQL_AMIE_RULES),
        ("rule_inferences", _q_rule_inferences, _SQL_RULE_INFERENCES),
        ("predicate_profile", _q_predicate_profile, _SQL_PREDICATE_PROFILE),
        ("kg_motif", _q_kg_motif, _SQL_KG_MOTIF),
        ("scc_condensation", _q_scc_condensation, _SQL_SCC_CONDENSATION),
        ("degree_powerlaw", _q_degree_powerlaw, _SQL_DEGREE_POWERLAW),
        ("entity_cards", _q_entity_cards, _SQL_ENTITY_CARDS),
        ("qa_pairs", _q_qa_pairs, _SQL_QA_PAIRS),
        ("term_powerlaw", _q_term_powerlaw, _SQL_TERM_POWERLAW),
        ("entity_alignment", _q_entity_alignment, _SQL_ENTITY_ALIGNMENT),
        ("kg_snapshot", _q_kg_snapshot, _SQL_KG_SNAPSHOT),
        ("wl_roles", _q_wl_roles, _SQL_WL_ROLES),
        ("host_spam_mass", _q_host_spam_mass, _SQL_HOST_SPAM_MASS),
        ("golden_record", _q_golden_record, _SQL_GOLDEN_RECORD),
        ("rake_keywords", _q_rake_keywords, _SQL_RAKE_KEYWORDS),
        ("mirror_hosts", _q_mirror_hosts, _SQL_MIRROR_HOSTS),
        ("landmark_dists", _q_landmark_dists, _SQL_LANDMARK_DISTS),
        ("landmark_est", _q_landmark_est, _SQL_LANDMARK_EST),
        ("closeness_census", _q_closeness_census, _SQL_CLOSENESS_CENSUS),
        ("graph_stress", _q_graph_stress, _SQL_GRAPH_STRESS),
        ("fs_linkage", _q_fs_linkage, _SQL_FS_LINKAGE),
        ("snm_pairs", _q_snm_pairs, _SQL_SNM_PAIRS),
        ("host_salsa", _q_host_salsa, _SQL_HOST_SALSA),
        ("ds_labels", _q_ds_labels, _SQL_DS_LABELS),
        ("rich_club", _q_rich_club, _SQL_RICH_CLUB),
        ("yule_census", _q_yule_census, _SQL_YULE_CENSUS),
        ("distinct_terms", _q_distinct_terms, _SQL_DISTINCT_TERMS),
        ("bcubed_eval", _q_bcubed_eval, _SQL_BCUBED_EVAL),
        ("zorder_layout", _q_zorder_layout, _SQL_ZORDER_LAYOUT),
        ("allen_census", _q_allen_census, _SQL_ALLEN_CENSUS),
        ("supply_matching", _q_supply_matching, _SQL_SUPPLY_MATCHING),
        ("kn_counts", _q_kn_counts, _SQL_KN_COUNTS),
        ("trade_katz", _q_katz, _SQL_KATZ),
        ("dyad_census", _q_dyad_census, _SQL_DYAD_CENSUS),
        ("conductance", _q_conductance, _SQL_CONDUCTANCE),
        ("good_turing", _q_good_turing, _SQL_GOOD_TURING),
        ("allpairs_sim", _q_allpairs_sim, _SQL_ALLPAIRS_SIM),
        ("supply_coreness", _q_coreness, _SQL_CORENESS),
        ("triad_census", _q_triad_census, _SQL_TRIAD_CENSUS),
        ("event_bursts", _q_kleinberg, _SQL_KLEINBERG),
        ("supply_msf", _q_supply_msf, _golden_sql("supply_msf", "src, dst")),
        ("sales_cube", _q_sales_cube, _SQL_SALES_CUBE),
        ("coreset_centers", _q_kcenter, _SQL_KCENTER),
        ("snn_clusters", _q_snn_clusters, _SQL_SNN_CLUSTERS),
        ("ann_agreement", _q_ann_agreement, _SQL_ANN_AGREEMENT),
        ("nb_confusion", _q_nb_confusion, _SQL_NB_CONFUSION),
        ("temporal_conflicts", _q_temporal_conflicts, _SQL_TEMPORAL_CONFLICTS),
        ("token_gini", _q_gini, _SQL_GINI),
        ("robots_wildcards", _q_robots_wildcards, _SQL_ROBOTS_WILDCARDS),
        ("stylometry", _q_stylometry, _SQL_STYLOMETRY),
        ("ql_search", _q_ql_search, _SQL_QL),
        ("lexrank_summaries", _q_lexrank, _SQL_LEXRANK),
        ("opic_priorities", _q_opic, _SQL_OPIC),
        ("events_rolling", _q_events_rolling, _SQL_EVENTS_ROLLING),
        ("fd_census", _q_fd_census, _SQL_FD_CENSUS),
        ("fk_census", _q_fk_census, _SQL_FK_CENSUS),
        ("texttiling", _q_texttiling, _SQL_TEXTTILING),
        ("column_census", _q_column_census, _SQL_COLUMN_CENSUS),
        ("event_changepoints", _q_event_changepoints, _SQL_EVENT_CHANGEPOINTS),
        ("event_trends", _q_event_trends, _SQL_EVENT_TRENDS),
        ("warc_records", _q_warc_records, _SQL_WARC_RECORDS),
        ("assortativity", _q_assortativity, _SQL_ASSORTATIVITY),
        ("heaps_census", _q_heaps_census, _SQL_HEAPS_CENSUS),
        ("term_dispersion", _q_term_dispersion, _SQL_TERM_DISPERSION),
        ("char_sets", _q_char_sets, _SQL_CHAR_SETS),
        ("dirt_paths", _q_dirt_paths, _SQL_DIRT_PATHS),
        ("predicate_canon", _q_predicate_canon, _SQL_PREDICATE_CANON),
        ("er_eval", _q_er_eval, _SQL_ER_EVAL),
        ("kb_diff", _q_kb_diff, _SQL_KB_DIFF),
        ("blocking_eval", _q_blocking_eval, _SQL_BLOCKING_EVAL),
        ("pathsim", _q_pathsim, _SQL_PATHSIM),
        ("set_expansion", _q_set_expansion, _SQL_SET_EXPANSION),
        ("seeded_hosts", _q_seeded_hosts, _SQL_SEEDED_HOSTS),
        ("basket_pairs", _q_basket_pairs, _SQL_BASKET_PAIRS),
        ("postings", _q_postings, _SQL_POSTINGS),
        ("lp_eval", _q_lp_eval, _SQL_LP_EVAL),
        ("snapshot_diff", _q_snapshot_diff, _SQL_SNAPSHOT_DIFF),
        ("scd2_status", _q_scd2_status, _SQL_SCD2),
        ("readability", _q_readability, _SQL_READABILITY),
        ("corpus_report", _q_corpus_report, _SQL_CORPUS_REPORT),
        ("quotes", _q_quotes, _SQL_QUOTES),
        ("distant_ner", _q_distant_ner, _SQL_DISTANT_NER),
        ("acronyms", _q_acronyms, _SQL_ACRONYMS),
        ("doc_dates", _q_doc_dates, _SQL_DOC_DATES),
        ("ccnet_buckets", _q_ccnet_buckets, _SQL_CCNET_BUCKETS),
        ("dup_spans", _q_dup_spans, _SQL_DUP_SPANS),
        ("winnow_census", _q_winnow_census, _SQL_WINNOW),
        ("phrase_search", _q_phrase_search, _SQL_PHRASE),
        ("incr_dedup", _q_incr_dedup, _SQL_INCR_DEDUP),
        ("source_overlap", _q_source_overlap, _SQL_SOURCE_OVERLAP),
        ("corpus_profile", _q_corpus_profile, _SQL_PROFILE),
        ("pii_scrub", _q_pii_scrub, _SQL_PII),
        ("curate_corpus", _q_curate_corpus, _SQL_CURATE),
        ("decontamination", _q_decontamination, _SQL_DECONTAM),
        ("mixture_sample", _q_mixture_sample,
         _golden_sql("mixture_sample", "source")),
        ("hash_split", _q_hash_split,
         _golden_sql("hash_split", "source, split")),
        ("pack_sequences", _q_pack_sequences, _SQL_PACK),
        ("doc_chunks", _q_doc_chunks, _SQL_DOC_CHUNKS),
        ("bm25_search", _q_bm25_search, _SQL_BM25),
        ("hybrid_search", _q_hybrid_search, _SQL_HYBRID),
        ("tfidf_terms", _q_tfidf_terms, _SQL_TFIDF),
        ("bpe_pairs", _q_bpe_pairs, _SQL_BPE),
        ("bpe_merges", _q_bpe_merges, _golden_sql("bpe_merges", "step")),
        ("bpe_encoded", _q_bpe_encoded, _golden_sql("bpe_encoded", "doc_id")),
        ("dsir_weights", _q_dsir_weights, _SQL_DSIR),
        ("lm_perplexity", _q_lm_perplexity, _SQL_LM_PPL),
        ("nb_predictions", _q_nb_predictions, _SQL_NB),
        ("pmi_collocations", _q_pmi_collocations, _SQL_PMI),
        # full BFS recomputation via a recursive CTE — not a pinned twin
        ("partsupp_bfs", _q_partsupp_bfs, _SQL_PARTSUPP_BFS),
        ("order_part_components", _q_order_part_components,
         _SQL_ORDER_PART_COMPONENTS),
        ("order_part_aa", _q_order_part_aa, _SQL_ORDER_PART_AA),
        ("lpa_communities", _q_lpa_communities,
         _golden_sql("lpa_communities", "id")),
        ("host_profile", _q_host_profile, _golden_sql("host_profile", "host")),
        ("url_canonical", _q_url_canonical, _SQL_URL_CANONICAL),
        ("url_dup_groups", _q_url_dup_groups, _SQL_URL_DUP_GROUPS),
        ("url_templates", _q_url_templates, _SQL_URL_TEMPLATES),
        ("cocitation", _q_cocitation, _SQL_COCITATION),
        ("truecase", _q_truecase, _SQL_TRUECASE),
        ("bitext_candidates", _q_bitext, _SQL_BITEXT),
        ("taxonomy_forest", _q_taxonomy, _SQL_TAXONOMY),
        ("entity_salience", _q_entity_salience, _SQL_ENTITY_SALIENCE),
        ("infobox_triples", _q_infobox, _SQL_INFOBOX),
        ("reciprocal_links", _q_reciprocal, _SQL_RECIPROCAL),
        ("microdata_entities", _q_microdata, _SQL_MICRODATA),
        ("sitemap_urls", _q_sitemap_urls, _SQL_SITEMAP_URLS),
        ("og_meta", _q_og_meta, _SQL_OG_META),
        ("hreflang_pairs", _q_hreflang_pairs, _SQL_HREFLANG_PAIRS),
        ("ntriples_export", _q_ntriples, _SQL_NTRIPLES),
        ("coref_pronouns", _q_coref, _SQL_COREF),
        ("bootstrap_relations", _q_bootstrap, _SQL_BOOTSTRAP),
        ("quantities", _q_quantities, _SQL_QUANTITIES),
        ("comparative_edges", _q_comparatives, _SQL_COMPARATIVES),
        ("coordination_pairs", _q_coordination, _SQL_COORDINATION),
        ("polarity_triples", _q_polarity, _SQL_POLARITY),
        ("type_checked_triples", _q_type_check, _SQL_TYPE_CHECK),
        ("fact_intervals", _q_fact_intervals, _SQL_FACT_INTERVALS),
        ("weighted_sample", _q_weighted_sample, _SQL_WEIGHTED_SAMPLE),
        ("doc_links", _q_doc_links, _SQL_DOC_LINKS),
        ("host_pagerank", _q_host_pagerank, _SQL_HOST_PAGERANK),
        ("host_scc", _q_host_scc, _SQL_HOST_SCC),
        ("host_bowtie", _q_host_bowtie, _SQL_HOST_BOWTIE),
        ("host_reach", _q_host_reach, _SQL_HOST_REACH),
        ("dd_quantiles", _q_dd_quantiles, _SQL_DD_QUANTILES),
        ("text_normalized", _q_text_normalized, _SQL_TEXT_NORMALIZED),
        ("textrank_keywords", _q_textrank_keywords,
         _golden_sql("textrank_keywords", "rank")),
        ("budget_select", _q_budget_select, _SQL_BUDGET_SELECT),
        ("event_funnel", _q_event_funnel, _SQL_EVENT_FUNNEL),
        ("event_retention", _q_retention, _SQL_RETENTION),
        ("event_anomalies", _q_event_anomalies, _SQL_EVENT_ANOMALIES),
        ("event_transitions", _q_event_transitions, _SQL_EVENT_TRANSITIONS),
        ("emb_neighborhood", _q_emb_neighborhood, _SQL_EMB_NEIGHBORHOOD),
        ("stratified_k", _q_stratified_k, _SQL_STRATIFIED_K),
        ("partsupp_sssp", _q_partsupp_sssp, _SQL_PARTSUPP_SSSP),
        ("span_dedup", _q_span_dedup, _SQL_SPAN_DEDUP),
        ("hard_negatives", _q_hard_negatives, _SQL_HARD_NEGATIVES),
        ("partsupp_walks", _q_partsupp_walks, _SQL_PARTSUPP_WALKS),
        ("partsupp_skipgrams", _q_partsupp_skipgrams, _SQL_PARTSUPP_SKIPGRAMS),
        ("embedding_topk", _q_embedding_topk, _SQL_EMBEDDING_TOPK),
        ("embedding_label_centroids", _q_embedding_label_centroids,
         _SQL_EMB_CENTROIDS),
        # hash-sketch operators
        ("minhash_pairs", _q_minhash_pairs,
         _golden_sql("minhash_pairs", "id_a, id_b")),
        ("dedup_near_survivors", _q_dedup_near_survivors,
         _golden_sql("dedup_near_survivors", "doc_id")),
        ("simhash_neardups", _q_simhash_neardups,
         _golden_sql("simhash_neardups", "id_a, id_b")),
        ("fingerprints", _q_fingerprints,
         _golden_sql("fingerprints", "doc_id")),
        ("embedding_neardups", _q_embedding_neardups, _SQL_EMBEDDING_NEARDUPS),
        # exact-result oracles (DuckDB recomputes the full answer)
        ("ivf_topk", _q_ivf_topk, _SQL_IVF_TOPK),
        ("pq_codes", _q_pq_codes, _SQL_PQ_CODES),
        ("pq_topk", _q_pq_topk, _SQL_PQ_TOPK),
        ("kmv_distinct", _q_kmv_distinct, _SQL_KMV_DISTINCT),
        ("kmv_overlap", _q_kmv_overlap, _SQL_KMV_OVERLAP),
        # same direct-computation SQL: the Spark side goes through
        # sketch-halves + merge, so agreement proves the merge
        ("kmv_merged", _q_kmv_merged, _SQL_KMV_DISTINCT),
        ("cms_freq", _q_cms_freq, _SQL_CMS_FREQ),
        ("hll_distinct", _q_hll_distinct, _SQL_HLL_DISTINCT),
        # same direct-computation SQL: the Spark side goes through
        # sketch-halves + register-max merge, so agreement proves it
        ("hll_merged", _q_hll_merged, _SQL_HLL_DISTINCT),
        ("bloom_members", _q_bloom_members, _SQL_BLOOM_MEMBERS),
        ("fuzzy_part_names", _q_fuzzy_part_names, _SQL_FUZZY_PART_NAMES),
        ("phonetic_blocks", _q_phonetic_blocks, _SQL_PHONETIC_BLOCKS),
        ("semantic_dedup", _q_semantic_dedup, _SQL_SEMANTIC_DEDUP),
        ("media_metadata", _q_media_metadata,
         _golden_sql("media_metadata", "kind")),
        ("media_frames", _q_media_frames,
         _golden_sql("media_frames", "media_id, frame_idx")),
        ("media_features_topk", _q_media_features,
         _golden_sql("media_features_topk", "query_id, rank")),
        # analytics over the constructed graph
        ("kg_degrees", _q_kg_degrees, _golden_sql("kg_degrees", "id")),
        ("kg_pagerank", _q_kg_pagerank, _golden_sql("kg_pagerank", "id")),
        ("kg_ppr", _q_kg_ppr, _golden_sql("kg_ppr", "id")),
        ("lpa_modularity", _q_lpa_modularity,
         _SQL_LPA_MODULARITY_TMPL.format(golden=_GOLDEN_DIR)),
        ("kg_triangles", _q_kg_triangles, _golden_sql("kg_triangles", "id")),
        ("kg_clustering", _q_kg_clustering,
         _golden_sql("kg_clustering", "id")),
        ("kg_kcore", _q_kg_kcore, _golden_sql("kg_kcore", "id")),
        ("kg_ktruss", _q_kg_ktruss, _golden_sql("kg_ktruss", "src, dst")),
        ("kg_hits", _q_kg_hits, _golden_sql("kg_hits", "id")),
        ("kg_training_triples", _q_kg_training_triples,
         _golden_sql("kg_training_triples", "h_id, r_id, t_id, k")),
    ]


def queries() -> dict[str, _Builder]:
    return {name: builder for name, builder, _ in _registry()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, _, sql in _registry()}
