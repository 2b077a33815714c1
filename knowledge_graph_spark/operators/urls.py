# -*- coding: utf-8 -*-
"""URL canonicalization for web-crawl corpora.

A Common-Crawl-style pipeline keys EVERYTHING on the url (recrawl
merge, exact dedup, host partitioning, lineage), so two spellings of
the same resource (``HTTP://WWW.Example.com:80/a?utm_source=x&b=2&a=1``
vs ``http://example.com/a?a=1&b=2``) silently double every downstream
table. Canonicalization is the standard fix (cf. SURT keys in web
archiving, courlan in the trafilatura stack): normalize the url to a
stable spelling BEFORE it becomes a key.

Rules applied (each declared, none lossy beyond its intent):

- scheme and host lowercased; ``www.`` prefix stripped (optional);
- default ports removed (``:80`` for http, ``:443`` for https),
  non-default ports kept;
- empty path normalized to ``/`` (RFC 3986 §6.2.3), other paths kept
  verbatim (trailing slashes are semantic);
- fragment removed (never sent to the server);
- tracking parameters removed (``utm_*``, fbclid, gclid, msclkid,
  mc_eid, igshid, ref, ref_src, spm — the courlan/AdGuard common set),
  remaining query parameters SORTED bytewise so parameter order stops
  mattering; an emptied query drops its ``?``;
- strings that do not parse as ``scheme://authority...`` are returned
  unchanged (a relative or garbage "url" has no canonical form — the
  caller decides whether to quarantine);
- percent-encoding is deliberately NOT re-normalized (%41 vs A): that
  requires a decode-reencode round-trip per RFC 3986 §6.2.2 that
  Spark cannot express in codegen, and over-decoding corrupts urls
  whose encoding is load-bearing — declared out of scope.

Everything is whole-stage-codegen column expressions (regexp_extract /
array ops) — row-local, zero shuffle at ANY corpus scale, and exactly
replayable in ANSI-ish SQL (the driver oracle recomputes it in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# tracking parameter names, matched case-insensitively against the
# part before '='; utm_* is a prefix family
TRACKING_PARAM_RE = (
    r"^(utm_[^=]*|fbclid|gclid|msclkid|mc_eid|igshid|ref|ref_src|spm)(=.*)?$"
)

_SPLIT_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)"


def canonical_url(url, strip_www: bool = True) -> Column:
    """Column expression: the canonical spelling of ``url`` (see
    module docstring for the rule set). Pure codegen."""
    u = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.regexp_extract(u, _SPLIT_RE, 1))
    hostport = F.lower(F.regexp_extract(u, _SPLIT_RE, 2))
    path = F.regexp_extract(u, _SPLIT_RE, 3)
    query = F.regexp_extract(u, r"^[^?#]*\?([^#]*)", 1)

    host = F.regexp_extract(hostport, r"^([^:]*)", 1)
    if strip_www:
        host = F.regexp_replace(host, r"^www\.", "")
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    port_part = F.when(
        (port == "")
        | ((scheme == F.lit("http")) & (port == "80"))
        | ((scheme == F.lit("https")) & (port == "443")),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))

    path_part = F.when(path == "", F.lit("/")).otherwise(path)

    kept = F.array_sort(F.filter(
        F.split(query, "&"),
        lambda x: (x != "")
        & ~F.lower(x).rlike(TRACKING_PARAM_RE),
    ))
    query_part = F.when(
        F.size(kept) > 0,
        F.concat(F.lit("?"), F.array_join(kept, "&")),
    ).otherwise(F.lit(""))

    canon = F.concat(scheme, F.lit("://"), host, port_part,
                     path_part, query_part)
    # unparseable (no scheme://authority): no canonical form — pass
    # through unchanged so the caller can quarantine explicitly
    return F.when(scheme == "", u).otherwise(canon)


def canonicalize_urls(df: DataFrame, url_col: str = "url",
                      out_col: str = "canonical_url",
                      strip_www: bool = True) -> DataFrame:
    """Attach the canonical url column. Row-local; no shuffle."""
    return df.withColumn(out_col, canonical_url(url_col, strip_www))


def url_duplicate_groups(df: DataFrame, url_col: str = "url",
                         strip_www: bool = True) -> DataFrame:
    """Spelling-variant groups: for every canonical url with >= 2
    distinct raw spellings, ``(canonical_url, n_spellings,
    first_url)`` where ``first_url`` is the lexicographically smallest
    raw spelling (the deterministic survivor a recrawl-merge keeps).

    Scale shape: one map-side-combined aggregate keyed on the
    canonical url — the only exchange carries (canonical, spelling)
    pairs already reduced per map task; bodies never move."""
    c = canonicalize_urls(
        df.select(F.col(url_col).alias("url")).distinct(),
        "url", strip_www=strip_www)
    return (
        c.groupBy("canonical_url")
        .agg(F.count("*").alias("n_spellings"),
             F.min("url").alias("first_url"))
        .filter(F.col("n_spellings") >= 2)
    )


# conservative URL pattern: scheme://host[/path][?query] up to the
# first whitespace or closing bracket/quote, case-insensitive scheme
# (HTTP:// appears in real prose) — RE2-compatible (no lookbehind),
# so the SQL oracle runs the IDENTICAL pattern
URL_IN_TEXT_RE = r"(?i)https?://[^\s<>\"')\]}]+"


def extract_links(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  canonicalize: bool = True) -> DataFrame:
    """Outbound links found in document text -> one row per
    (doc_id, url, host) occurrence-distinct pair — the edge list of
    the web link graph (PageRank-able with
    :mod:`.graph_analytics`), and the input to per-host citation
    counts. Trailing sentence punctuation is stripped (a url at the
    end of a sentence drags its period along in any regex without
    lookbehind — RE2 has none, so the strip is a separate row-local
    step shared with the oracle). ``canonicalize`` applies
    :func:`canonical_url` so the link graph keys match the crawl's
    canonical url space. Pure codegen + one distinct."""
    # F.regexp_extract_all with a Column pattern: the pattern contains
    # a single-quote (in the stop-char class), which would terminate an
    # F.expr SQL string literal
    raw = F.explode(
        F.regexp_extract_all(F.col(text_col), F.lit(URL_IN_TEXT_RE), 0)
    ).alias("u")
    trimmed = F.regexp_replace(F.col("u"), r"[.,;:!?]+$", "")
    url = canonical_url(trimmed) if canonicalize else trimmed
    return (
        docs.select(F.col(id_col).alias("doc_id"), raw)
        .select("doc_id", url.alias("url"))
        .distinct()
        .withColumn(
            "host",
            F.regexp_extract("url", r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)",
                             1),
        )
    )


# path-template generalization rules, applied IN ORDER (hex first —
# a digit-only run of >= 8 chars is hex-shaped too, and both engines
# must agree on which placeholder wins): 8+ char [0-9a-f] runs are
# ids/uuids/hashes, then any remaining digit run is a counter
_HEX_RUN_RE = r"[0-9a-f]{8,}"
_NUM_RUN_RE = r"[0-9]+"


def path_template(url) -> "Column":
    """Column expression: the structural template of ``url``'s path —
    long lowercase-hex runs -> ``{hex}``, digit runs -> ``{n}``, query
    and fragment ignored. ``/article/8812/view`` and
    ``/article/17/view`` collapse to ``/article/{n}/view``; a uuid or
    content-hash segment collapses to ``{hex}``. Pure codegen."""
    u = F.col(url) if isinstance(url, str) else url
    path = F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    return F.regexp_replace(
        F.regexp_replace(path, _HEX_RUN_RE, "{hex}"),
        _NUM_RUN_RE, "{n}")


def path_templates(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-host URL path-template census: ``(host, template, n_pages,
    n_urls)`` — how many pages each structural path shape carries and
    how many distinct urls instantiate it.

    This is the crawl-structure miner every web-scale pipeline wants
    early: templates with millions of urls and near-identical bodies
    are calendar/pagination/session traps (crawler-trap detection),
    while ``{hex}``-keyed templates are content pages worth recrawl
    budget. (Cf. the URL-pattern "dust buster" line of work — Bar-
    Yossef et al., WWW 2007, "Do Not Crawl in the DUST".)

    Scale shape: template derivation is row-local codegen; the only
    exchange is one map-side-combined aggregate keyed (host,
    template) — bounded far below page count by construction (that is
    the point of templating). ``n_urls`` is a count-distinct whose
    per-group key set is the template's url population; for trap-
    scale groups swap in approx_count_distinct — declared, exact here
    so the oracle can replay it."""
    u = F.col(url_col)
    host = F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)
    return (
        df.select(u.alias("url"), host.alias("host"),
                  path_template(u).alias("template"))
        .filter(F.col("host") != "")
        .groupBy("host", "template")
        .agg(F.count("*").cast("long").alias("n_pages"),
             F.countDistinct("url").cast("long").alias("n_urls"))
    )


def cocitation_counts(links: DataFrame, doc_col: str = "doc_id",
                      host_col: str = "host",
                      max_hosts_per_doc: int = 64) -> DataFrame:
    """Host co-citation graph: ``(host_a, host_b, n_docs)`` — in how
    many documents the two hosts are cited together (host_a < host_b).
    Co-citation is the classic relatedness signal for web entities
    (Small 1973 for citation graphs; SimRank/co-citation features in
    web IR), and at KG-construction time it seeds the "these two
    sources cover the same topic" edge that source-fusion weighs.

    Scale shape: pairs are generated IN-AGGREGATE per document from
    the sorted distinct host set — the classic LSH-bucket pair-gen
    shape — so the quadratic blowup is bounded by
    ``max_hosts_per_doc`` (documents citing more hosts than the cap
    are link farms / navigation pages and are DROPPED, declared, the
    same guard the dedup family uses). Exchanges carry (doc, host)
    then (host, host, long) rows only; map-side combine on both."""
    dh = (links.select(F.col(doc_col).alias("d"),
                       F.col(host_col).alias("h"))
          .filter(F.col("h").isNotNull() & (F.col("h") != ""))
          .distinct())
    per_doc = (dh.groupBy("d")
               .agg(F.array_sort(F.collect_set("h")).alias("hs")))
    guarded = per_doc.filter(
        (F.size("hs") >= 2) & (F.size("hs") <= max_hosts_per_doc))
    pairs = guarded.select(F.explode(F.expr(
        "flatten(transform(hs, (a, i) -> "
        "transform(slice(hs, i + 2, size(hs) - i - 1), "
        "b -> struct(a AS host_a, b AS host_b))))")).alias("p"))
    return (pairs.select("p.host_a", "p.host_b")
            .groupBy("host_a", "host_b")
            .agg(F.count("*").cast("long").alias("n_docs")))


def reciprocal_links(edges: DataFrame, src_col: str = "src",
                     dst_col: str = "dst") -> DataFrame:
    """Host-graph reciprocity census: for every unordered host pair
    with at least one directed link, the link counts in each
    direction and whether the pair is RECIPROCAL — the classic
    link-exchange/spam-farm signal (mutual linking is the first
    feature in link-spam detection, cf. Becchetti et al. 2008 "Link
    analysis for Web spam detection") and a trust prior for KG source
    weighting. Emits ``(host_a, host_b, n_ab, n_ba, reciprocal)``
    with host_a < host_b; n_ab counts links host_a -> host_b.

    Scale shape: one map-side-combined aggregate folds the edge list
    to per-(src, dst) counts (bounded by the distinct host-pair
    count, orders of magnitude below the link count), then one self-
    equi-join of that bounded table on the flipped key. Self-loops
    are dropped."""
    agg = (edges.select(F.col(src_col).alias("s"),
                        F.col(dst_col).alias("d"))
           .filter(F.col("s") != F.col("d"))
           .groupBy("s", "d")
           .agg(F.count("*").cast("long").alias("n")))
    fwd = agg.filter(F.col("s") < F.col("d"))
    rev = (agg.filter(F.col("s") > F.col("d"))
           .select(F.col("d").alias("s"), F.col("s").alias("d"),
                   F.col("n").alias("n_rev")))
    return (fwd.join(rev, ["s", "d"], "full_outer")
            .select(F.col("s").alias("host_a"),
                    F.col("d").alias("host_b"),
                    F.coalesce("n", F.lit(0)).cast("long").alias("n_ab"),
                    F.coalesce("n_rev", F.lit(0)).cast("long")
                    .alias("n_ba"))
            .withColumn("reciprocal",
                        (F.col("n_ab") > 0) & (F.col("n_ba") > 0)))
