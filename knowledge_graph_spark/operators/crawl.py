# -*- coding: utf-8 -*-
"""Crawl scheduling: robots exclusion and politeness-wave planning.

A web-scale corpus starts as a crawl, and two operators sit between
"frontier of candidate urls" and "fetch queue": which urls MAY be
fetched (the Robots Exclusion Protocol, RFC 9309), and in what order
they ARE fetched without hammering any one host (politeness waves —
every production crawler from Heritrix to Nutch schedules one fetch
per host per round).

Both are pure relational compositions:

- :func:`robots_filter` — longest-prefix-match of each url's path
  against its host's robots rules, most-specific rule wins, allow
  wins ties, no-match means allowed (RFC 9309 §2.2.2 exactly). The
  rules side (one row per robots.txt line) is tiny relative to the
  frontier — Spark broadcasts it; the verdict is a max(struct) per
  url with map-side combine, so the frontier is scanned once and no
  url row ever carries more than its best-matching rule off a task.
- :func:`crawl_frontier` — per-host fetch waves: the i-th url of a
  host (priority order) goes to wave i, so any single wave touches a
  host at most once. One shuffle keyed by host; the per-host ordered
  rank is the honest semantic (a host's queue IS sequential — the
  politeness constraint itself serializes it), and the reducer only
  ever holds (host, key, priority) triples, never page bodies. Skew
  bound: the largest host's url count — the same quantity that
  bounds real crawl wall-clock, so a host big enough to skew the
  shuffle is already the crawl's critical path.

Not in the reference (it has no crawl stage); semantics follow
RFC 9309 and the public Heritrix/Nutch politeness model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/:?#]*)"
# RFC 9309 match target: the path AND the optional query (fragment
# excluded) — rules like 'Disallow: /*?' target the query, and an
# end anchor must see it ('/doc.pdf?dl=1' does NOT end at .pdf)
_TARGET_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^#]*)"


def url_host(url) -> "F.Column":
    """Lowercased host of an absolute url ('' when unparseable)."""
    u = F.col(url) if isinstance(url, str) else url
    return F.lower(F.regexp_extract(u, _HOST_RE, 1))


def url_match_target(url) -> "F.Column":
    """RFC 9309 rule-match target: path + optional query ('?...'),
    fragment dropped; '/' when empty, and a query-only url
    ('https://h?x=1') normalizes to '/?x=1' like the reference
    Googlebot parser."""
    u = F.col(url) if isinstance(url, str) else url
    p = F.regexp_extract(u, _TARGET_RE, 1)
    return (F.when(p == "", F.lit("/"))
            .when(~p.startswith("/"), F.concat(F.lit("/"), p))
            .otherwise(p))


def robots_filter(urls: DataFrame, rules: DataFrame,
                  url_col: str = "url") -> DataFrame:
    """RFC 9309 verdict per url: ``(…urls cols, host, path, allowed,
    rule_prefix)``.

    ``rules`` is the parsed robots corpus: ``(host, path_prefix,
    allow)`` — one row per Allow/Disallow line, ``path_prefix`` the
    literal prefix (wildcards out of scope, declared). Matching rule
    set = same host AND ``startswith(target, path_prefix)`` where
    the target is the RFC 9309 match target — the PATH PLUS THE
    QUERY STRING (``url_match_target``; rules like ``/search?`` must
    be able to match); the longest prefix wins, a tie goes to Allow,
    and a url with no matching rule is allowed (all RFC 9309
    §2.2.2). ``rule_prefix`` is the winning rule's prefix (NULL when
    no rule matched) so verdicts are auditable. The output ``path``
    column carries that match target. ``urls`` rows are treated as a
    SET: the verdict aggregate groups by the full frontier row, so
    exact duplicate rows collapse to one output row — dedupe or key
    the frontier upstream if per-occurrence output matters.

    Scale shape: rules are broadcast (bounded by total robots.txt
    lines); candidates = one broadcast join + startswith filter; the
    winner is ``max(struct(len, allow, prefix))`` grouped by the
    frontier row — map-side combined, so the exchange carries one
    candidate rule per url per task, not the match set."""
    host = url_host(url_col)
    path = url_match_target(url_col)
    keyed = urls.withColumn("host", host).withColumn("path", path)

    cand = (
        keyed.join(F.broadcast(rules), "host", "left")
        .withColumn(
            "_m",
            F.when(
                F.col("path_prefix").isNotNull()
                & F.col("path").startswith(F.col("path_prefix")),
                F.struct(
                    F.octet_length("path_prefix").alias("l"),
                    F.col("allow").cast("int").alias("a"),
                    F.col("path_prefix").alias("p"),
                ),
            ),
        )
    )
    best = (
        cand.groupBy(*urls.columns, "host", "path")
        .agg(F.max("_m").alias("_w"))
    )
    return best.select(
        *urls.columns, "host", "path",
        F.coalesce(F.col("_w.a") == 1, F.lit(True)).alias("allowed"),
        F.col("_w.p").alias("rule_prefix"),
    )


def resolve_redirects(edges: DataFrame, src_col: str = "src",
                      dst_col: str = "dst",
                      max_rounds: int = 20) -> DataFrame:
    """Redirect-chain resolution by POINTER DOUBLING: every crawl
    accumulates a ``src → dst`` redirect map (301/308/canonical-link
    aliases), and downstream keys must use the TERMINAL target of
    each chain. Following chains one hop per round is O(longest
    chain) sequential rounds; squaring the partial function instead —
    each round joins the map with itself, so after r rounds every
    chain up to 2^r is fully resolved — needs only
    ``ceil(log2(longest chain))`` rounds (the classic parallel
    pointer-jumping / path-halving technique, e.g. Wyllie's list
    ranking; the same trick inside this repo's union-find components).

    Multiple outgoing edges per source (conflicting redirect records)
    resolve deterministically to the MINIMUM destination (declared;
    dedupe upstream if the corpus has a better priority). A chain
    that has not terminated after ``max_rounds`` doublings (a cycle,
    or a chain longer than 2^max_rounds — at the default that is a
    million hops) is reported with ``resolved = false`` and the node
    it last reached, never an infinite loop or a silent drop.

    Returns ``(src, target, hops, resolved)`` — ``hops`` the exact
    chain length walked, ``target`` the terminal url (or the
    last-reached node when unresolved).

    Scale shape: each round is ONE self-join keyed on the current
    target plus a localCheckpoint to cut lineage; exchanged rows are
    ``(node, node, long)`` triples, and the loop exits as soon as a
    round leaves no unresolved row, so round count is logarithmic in
    the longest chain, not the corpus."""
    f = (
        edges.groupBy(F.col(src_col).alias("src"))
        .agg(F.min(F.col(dst_col)).alias("cur"))
        .withColumn("hops", F.lit(1).cast("long"))
    )
    sources = f.select(F.col("src").alias("_s")).localCheckpoint(
        eager=True)

    def unresolved(frame):
        return frame.join(sources, frame["cur"] == sources["_s"],
                          "left_semi")

    f = f.localCheckpoint(eager=True)
    for _ in range(max_rounds):
        if unresolved(f).isEmpty():
            break
        g = f.select(F.col("src").alias("_gsrc"),
                     F.col("cur").alias("_gcur"),
                     F.col("hops").alias("_ghops"))
        f = (
            f.join(g, f["cur"] == g["_gsrc"], "left")
            .select(
                "src",
                F.coalesce("_gcur", "cur").alias("cur"),
                (F.col("hops")
                 + F.coalesce("_ghops", F.lit(0))).alias("hops"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        f.join(sources, f["cur"] == sources["_s"], "left")
        .select(
            "src",
            F.col("cur").alias("target"),
            "hops",
            F.col("_s").isNull().alias("resolved"),
        )
    )


def crawl_frontier(urls: DataFrame, priority, url_col: str = "url",
                   key_col: str | None = None) -> DataFrame:
    """Politeness-wave schedule: ``(…urls cols, host, wave)`` where
    ``wave`` is the 1-based position of the url in its host's fetch
    queue, ordered by ``(priority DESC, tiebreak ASC)`` — fetching
    wave ``w`` across all hosts touches every host at most once.
    ``key_col`` (default ``url_col``) is the deterministic tiebreak.
    """
    tie = key_col or url_col
    w = Window.partitionBy("host").orderBy(
        F.col("_prio").desc(), F.col(tie))
    return (
        urls.withColumn("host", url_host(url_col))
        .withColumn("_prio", priority)
        .withColumn("wave", F.row_number().over(w).cast("long"))
        .drop("_prio")
    )


def snapshot_diff(old: DataFrame, new: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  source_col: str = "source") -> DataFrame:
    """Recrawl snapshot diffing — the CDX-collapse question every
    incremental crawl answers before recomputing anything downstream:
    of the pages in the new snapshot, what was ADDED, what DISAPPEARED,
    what CHANGED, what is byte-identical? (Cho & Garcia-Molina 2000
    estimate page change rates from exactly this signal to schedule
    recrawls; an incremental curation pipeline uses it to touch only
    the changed partition.)

    Content identity is ``xxhash64(text)`` — at diff time the two
    snapshots' BODIES never meet (each side reduces to ``(id, digest,
    source)`` before the join), which is the point at 100 TB: the
    exchange carries three scalar columns, not pages. A 2^-64 digest
    collision would misreport a change as 'same'; every LSH/dedup
    operator in this engine already accepts that trade and the oracle
    corpus cannot manufacture it.

    Returns one row per source: ``(source, n_added, n_removed,
    n_changed, n_same)`` — removed rows are attributed to their OLD
    source (the new snapshot doesn't know them); added/changed/same to
    the new one."""
    def _d(df):
        return df.select(
            F.col(id_col).alias("id"),
            F.xxhash64(F.coalesce(F.col(text_col), F.lit("")))
            .alias("dg"),
            F.col(source_col).alias("src"),
        )

    o, n = _d(old), _d(new)
    j = (
        o.withColumnRenamed("dg", "dg_o").withColumnRenamed("src", "src_o")
        .join(n.withColumnRenamed("dg", "dg_n")
               .withColumnRenamed("src", "src_n"), "id", "full_outer")
    )
    verdict = (
        F.when(F.col("dg_o").isNull(), "added")
        .when(F.col("dg_n").isNull(), "removed")
        .when(F.col("dg_o") != F.col("dg_n"), "changed")
        .otherwise("same")
    )
    return (
        j.select(F.coalesce("src_n", "src_o").alias("source"),
                 verdict.alias("v"))
        .groupBy("source")
        .agg(*[F.sum((F.col("v") == x).cast("long")).cast("long")
               .alias(f"n_{x}")
               for x in ("added", "removed", "changed", "same")])
    )


def mirror_hosts(pages: DataFrame, host_col: str = "host",
                 fp_col: str = "fingerprint", min_shared: int = 2,
                 max_fp_hosts: int | None = 64) -> DataFrame:
    """Mirror-host detection (Bharat & Broder, WWW 1999 "A study of
    host pairs with replicated content"): two hosts serving many
    documents with IDENTICAL content fingerprints are mirrors —
    the crawl-governance signal that lets a scheduler fetch one
    replica instead of n, upstream of any per-document dedup.

    Input is one row per (host, document content fingerprint); the
    output pairs hosts by shared distinct fingerprints:
    ``(host_a, host_b, n_shared, n_a, n_b)`` with ``host_a <
    host_b`` — ``n_shared / min(n_a, n_b)`` (row-local, for API
    users) is the containment that flags partial mirrors.

    This IS the PathSim round-trip shape on the host→fingerprint
    bipartite graph (:func:`graph_analytics.pathsim` — shared
    distinct neighbors + both degrees), so it delegates: same
    in-aggregate triangular pairing, same ubiquity cap
    (fingerprints on more than ``max_fp_hosts`` hosts are sitewide
    boilerplate, dropped whole before pairing), one shuffle.
    """
    from knowledge_graph_spark.operators.graph_analytics import pathsim

    sim = pathsim(
        pages.select(F.col(host_col).alias("src"),
                     F.col(fp_col).alias("dst")),
        min_shared=min_shared, max_dst_degree=max_fp_hosts)
    return sim.select(F.col("id_a").alias("host_a"),
                      F.col("id_b").alias("host_b"),
                      F.col("n_ab").alias("n_shared"),
                      F.col("n_aa").alias("n_a"),
                      F.col("n_bb").alias("n_b"))


def robots_filter_wildcards(urls: DataFrame, rules: DataFrame,
                            url_col: str = "url") -> DataFrame:
    """RFC 9309 verdicts with FULL pattern support — ``*`` (any
    character run) and a trailing ``$`` (end anchor), §2.2.3 — the
    part :func:`robots_filter` declares out of scope; real robots
    corpora use both heavily (``/*.pdf$``, ``/search*``). Rules are
    ``(host, pattern, allow)`` with the RAW robots pattern;
    most-specific-wins is the pattern's OCTET LENGTH (the reference
    Googlebot interpretation), a tie goes to Allow, no match is
    allowed.

    Each pattern compiles to an anchored regex ROW-LOCALLY in-plan:
    a trailing ``$`` is detached first (elsewhere ``$`` is literal,
    per the reference implementation), every regex metacharacter
    except ``*`` is escaped, ``*`` becomes ``.*``. A literal-prefix
    rule therefore matches exactly like ``startswith`` — this
    operator strictly subsumes the literal one.

    Returns ``(…urls cols, host, path, allowed, rule_pattern)``;
    ``path`` is the RFC match target (path + optional query — a
    ``/*.pdf$`` anchor correctly declines ``/doc.pdf?dl=1``), and
    like the literal filter the verdict aggregate treats ``urls``
    rows as a set (exact duplicates collapse).

    Scale shape: same as :func:`robots_filter` — broadcast rules,
    one join, map-side-combined ``max(struct)`` winner. The regex
    match is row-local codegen; candidate fan-out is rules-per-host
    bounded. (Dynamic per-row patterns defeat Spark's single-regex
    cache — at production scale pre-compile the translation into
    the broadcast rules table once, which this plan already does
    structurally: the translation depends only on rule columns, so
    Catalyst evaluates it on the broadcast side of the join.)"""
    host = url_host(url_col)
    path = url_match_target(url_col)
    keyed = urls.withColumn("host", host).withColumn("path", path)

    ends = F.col("pattern").endswith("$")
    body = F.when(ends, F.expr("substring(pattern, 1, length(pattern) - 1)")
                  ).otherwise(F.col("pattern"))
    esc = F.regexp_replace(
        body, r"([.\[\]{}()+?^$|\\-])", r"\\$1")
    rx = F.concat(F.lit("^"),
                  F.replace(esc, F.lit("*"), F.lit(".*")),
                  F.when(ends, F.lit("$")).otherwise(F.lit("")))
    prepared = rules.withColumn("_rx", rx)

    cand = (
        keyed.join(F.broadcast(prepared), "host", "left")
        .withColumn(
            "_m",
            F.when(
                F.col("pattern").isNotNull()
                & F.expr("regexp_like(path, _rx)"),
                F.struct(
                    # octet, not character, length: the documented
                    # Googlebot specificity rule diverges on
                    # multibyte patterns
                    F.octet_length("pattern").alias("l"),
                    F.col("allow").cast("int").alias("a"),
                    F.col("pattern").alias("p"),
                ),
            ),
        )
    )
    best = (
        cand.groupBy(*urls.columns, "host", "path")
        .agg(F.max("_m").alias("_w"))
    )
    return best.select(
        *urls.columns, "host", "path",
        F.coalesce(F.col("_w.a") == 1, F.lit(True)).alias("allowed"),
        F.col("_w.p").alias("rule_pattern"))


def opic_ingredients(edges: DataFrame, rounds: int = 5,
                     init_cash: int = 1_000_000,
                     src: str = "src", dst: str = "dst") -> DataFrame:
    """On-line Page Importance Computation, integer-exact (Abiteboul,
    Preda & Cobena, WWW 2003 "Adaptive on-line page importance
    computation" — the crawl-priority estimator that needs no
    convergence before it is useful: each page holds CASH, spends it
    equally across its out-links when visited, and its accumulated
    HISTORY of received cash estimates importance; frontiers fetch
    highest-cash pages first).

    Determinism is engineered with INTEGER cash units: each round a
    page sends ``cash DIV outdeg`` along every out-link and keeps
    ``cash MOD outdeg`` (the indivisible remainder stays home —
    a documented policy; dangling pages keep everything). All
    arithmetic is BIGINT, so the census hash-replays bit-for-bit —
    no damping float, no convergence tolerance.

    Returns ``(id, cash, history)`` after ``rounds`` full sweeps —
    ``history`` = total cash ever received (the OPIC importance
    numerator), ``cash`` the residual wallet. Total cash is
    conserved by construction (Σ cash stays n·init_cash — a
    self-check the tests pin).

    Scale shape: the distinct edge list and outdegrees compute
    once; each round is one edge join moving ``(id, long)`` pairs
    plus one dst-keyed sum — the PageRank exchange shape without
    the dangling broadcast; per-round localCheckpoint. Hub
    receivers are AQE's skew case.
    """
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .filter(F.col("u").isNotNull() & F.col("v").isNotNull()
                 & (F.col("u") != F.col("v")))
         .distinct().localCheckpoint(eager=True))
    nodes = (e.select(F.col("u").alias("id"))
             .unionByName(e.select(F.col("v").alias("id")))
             .distinct().localCheckpoint(eager=True))
    outdeg = e.groupBy(F.col("u").alias("id")).agg(
        F.count("*").cast("long").alias("_d"))
    state = (nodes.join(outdeg, "id", "left")
             .select("id", F.coalesce("_d", F.lit(0).cast("long"))
                     .alias("_d"),
                     F.lit(int(init_cash)).cast("long").alias("cash"),
                     F.lit(0).cast("long").alias("history"))
             .localCheckpoint(eager=True))
    for _ in range(int(rounds)):
        give = F.when(F.col("_d") > 0,
                      F.expr("cash DIV _d")).otherwise(F.lit(0))
        keep = F.when(F.col("_d") > 0,
                      F.expr("cash % _d")).otherwise(F.col("cash"))
        sender = state.select("id", give.alias("_give"),
                              keep.alias("_keep"))
        recv = (e.join(sender.withColumnRenamed("id", "u"), "u")
                .groupBy(F.col("v").alias("id"))
                .agg(F.sum("_give").cast("long").alias("_in")))
        state = (state.join(sender.select("id", "_keep"), "id")
                 .join(recv, "id", "left")
                 .select("id", "_d",
                         (F.col("_keep")
                          + F.coalesce("_in", F.lit(0).cast("long")))
                         .alias("cash"),
                         (F.col("history")
                          + F.coalesce("_in", F.lit(0).cast("long")))
                         .alias("history"))
                 .localCheckpoint(eager=True))
    return state.select("id", "cash", "history")
