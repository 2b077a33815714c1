# -*- coding: utf-8 -*-
"""Crawl scheduling operators: RFC 9309 longest-prefix robots
verdicts and per-host politeness waves."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from knowledge_graph_spark.operators.crawl import (crawl_frontier,
                                                   robots_filter)


@pytest.fixture(scope="module")
def spark():
    from knowledge_graph_spark.session import get_spark

    s = get_spark(app="crawl-tests", master="local[4]",
                  shuffle_partitions=4)
    yield s


def test_robots_longest_prefix_and_allow_tie(spark):
    urls = spark.createDataFrame(
        [(1, "https://a.org/private/x"),
         (2, "https://a.org/private/pub-1"),   # longer Allow overrides
         (3, "https://a.org/open/y"),          # no match -> allowed
         (4, "https://b.net/private/z"),       # other host unaffected
         (5, "https://a.org/dir"),             # exact-length tie
         (6, "not a url")],                    # unparseable -> allowed
        "doc_id long, url string")
    rules = spark.createDataFrame(
        [("a.org", "/private/", False), ("a.org", "/private/pub-", True),
         ("a.org", "/dir", False), ("a.org", "/dir", True)],
        "host string, path_prefix string, allow boolean")
    out = {r["doc_id"]: r for r in robots_filter(urls, rules).collect()}
    assert not out[1]["allowed"] and out[1]["rule_prefix"] == "/private/"
    assert out[2]["allowed"] and out[2]["rule_prefix"] == "/private/pub-"
    assert out[3]["allowed"] and out[3]["rule_prefix"] is None
    assert out[4]["allowed"]
    assert out[5]["allowed"]            # RFC 9309: tie goes to Allow
    assert out[6]["allowed"] and out[6]["path"] == "/"
    assert len(out) == 6                # every frontier row survives


def test_robots_empty_prefix_is_weakest_catchall(spark):
    urls = spark.createDataFrame(
        [(1, "https://c.io/a"), (2, "https://c.io/keep/b")],
        "doc_id long, url string")
    rules = spark.createDataFrame(
        [("c.io", "", False), ("c.io", "/keep/", True)],
        "host string, path_prefix string, allow boolean")
    out = {r["doc_id"]: r for r in robots_filter(urls, rules).collect()}
    assert not out[1]["allowed"]        # '' disallow-all catches /a
    assert out[2]["allowed"]            # any longer rule overrides it


def test_frontier_waves_touch_host_once(spark):
    fr = spark.createDataFrame(
        [("https://a.org/1", 5), ("https://a.org/2", 9),
         ("https://a.org/3", 9), ("https://b.net/1", 1)],
        "url string, score long")
    out = crawl_frontier(fr, F.col("score")).collect()
    waves = {}
    for r in out:
        assert (r["host"], r["wave"]) not in waves
        waves[(r["host"], r["wave"])] = r["url"]
    # priority desc, url asc within the host
    assert waves[("a.org", 1)] == "https://a.org/2"
    assert waves[("a.org", 2)] == "https://a.org/3"
    assert waves[("a.org", 3)] == "https://a.org/1"
    assert waves[("b.net", 1)] == "https://b.net/1"


def test_resolve_redirects_chains_cycles_conflicts(spark):
    from knowledge_graph_spark.operators.crawl import resolve_redirects

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # 3-hop chain to terminal 4
         (10, 11),                    # 1-hop
         (20, 21), (21, 20),          # 2-cycle: must NOT loop forever
         (30, 35), (30, 31)],         # conflicting edges: min dst wins
        "src long, dst long")
    out = {r["src"]: r
           for r in resolve_redirects(edges, max_rounds=6).collect()}
    assert (out[1]["target"], out[1]["hops"], out[1]["resolved"]) == (4, 3, True)
    assert (out[2]["target"], out[2]["hops"]) == (4, 2)
    assert out[10]["resolved"] and out[10]["target"] == 11
    assert not out[20]["resolved"] and not out[21]["resolved"]
    assert out[30]["target"] == 31      # deterministic min-dst dedupe
    assert len(out) == 7                # one row per distinct source


def test_resolve_redirects_log_rounds(spark):
    # a 100-hop chain resolves within ceil(log2(100)) = 7 doublings
    from knowledge_graph_spark.operators.crawl import resolve_redirects

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "src long, dst long")
    out = {r["src"]: r
           for r in resolve_redirects(edges, max_rounds=7).collect()}
    assert (out[0]["target"], out[0]["hops"], out[0]["resolved"]) == (100, 100, True)
    assert all(r["resolved"] for r in out.values())


def test_extract_wikilinks_and_anchor_summary(spark):
    from knowledge_graph_spark.operators.wikilinks import (
        anchor_summary, extract_wikilinks)

    pages = spark.createDataFrame(
        [(1, "see [[graph database|graph store]] and "
             "[[Graph_database]] plus [[apache spark|Spark engine]]"),
         (2, "more on [[graph   database|the graph store]] here"),
         (3, "a pipe-rich [[X|a|b]] link and [[lonely]]"),
         (4, "no links at all"),
         (5, "[[Empty anchor|]] stays a row")],
        "doc_id long, text string")
    links = extract_wikilinks(pages)
    rows = {(r["doc_id"], r["target"], r["anchor"])
            for r in links.collect()}
    # underscore + whitespace-collapse + ucfirst all map to one target
    assert (1, "Graph database", "graph store") in rows
    assert (1, "Graph database", "Graph_database") in rows
    assert (2, "Graph database", "the graph store") in rows
    assert (3, "X", "a|b") in rows          # later pipes stay in anchor
    assert (3, "Lonely", "lonely") in rows
    assert (5, "Empty anchor", "") in rows
    assert not any(r[0] == 4 for r in rows)

    summ = {r["target"]: r for r in anchor_summary(links, k=2).collect()}
    gd = summ["Graph database"]
    assert (gd["n_inlinks"], gd["n_docs"]) == (3, 2)
    # term counts: graph 3, store 2, the 1, graph_database 1 ->
    # top-2 = [graph, store]
    assert gd["top_anchor_terms"] == ["graph", "store"]
    assert summ["Empty anchor"]["n_anchor_terms"] == 0
    assert summ["Empty anchor"]["top_anchor_terms"] == []


def test_extract_jsonld_validity_rule(spark):
    from knowledge_graph_spark.operators.structured import extract_jsonld

    b = '<script type="application/ld+json">%s</script>'
    pages = spark.createDataFrame(
        [(1, "x " + b % '{"@type":"Organization","name":"Acme"}'
             + " y " + b % '{"@type":"Person","name":"Jane","url":"u"}'),
         (2, b % '{broken'),                       # invalid JSON
         (3, b % '{"name":"typeless"}'),           # no @type
         (4, b % '[1,2]'),                         # array, not object
         (5, b % '{"@type":"Product"}'),           # name/url absent
         (6, "no blocks at all")],
        "doc_id long, text string")
    rows = {(r["doc_id"], r["ld_type"], r["ld_name"], r["ld_url"])
            for r in extract_jsonld(pages).collect()}
    assert rows == {
        (1, "Organization", "Acme", None),
        (1, "Person", "Jane", "u"),
        (5, "Product", None, None),
    }


def test_extract_jsonld_multiline_blocks(spark):
    """Pretty-printed (multi-line) JSON-LD is the dominant real-world
    form; the (?s) DOTALL flag must let '.' cross newlines (r5 review
    finding: without it these blocks silently never extracted)."""
    from knowledge_graph_spark.operators.structured import extract_jsonld

    block = ('<script type="application/ld+json">\n{\n'
             '  "@type": "Organization",\n  "name": "Acme"\n}\n'
             '</script>')
    pages = spark.createDataFrame(
        [(1, "before " + block + " after")], "doc_id long, text string")
    rows = [(r["ld_type"], r["ld_name"])
            for r in extract_jsonld(pages).collect()]
    assert rows == [("Organization", "Acme")]


def test_commonness_linking(spark):
    from knowledge_graph_spark.operators.wikilinks import (
        commonness_dictionary, link_mentions)

    links = spark.createDataFrame(
        [(1, "Apple Inc.", "apple"), (2, "Apple Inc.", "Apple"),
         (3, "Apple (fruit)", "apple"), (4, "Apple Inc.", "AAPL"),
         (5, "Aardvark", "apple"),   # 3-way anchor, Apple Inc. wins 2-1-1
         (6, "Zebra", ""),           # empty anchor never enters the dict
         ],
        "doc_id long, target string, anchor string")
    d = commonness_dictionary(links)
    rows = {(r["anchor_key"], r["target"]): (r["n_pair"], r["n_anchor"])
            for r in d.collect()}
    assert rows[("apple", "Apple Inc.")] == (2, 4)
    assert rows[("apple", "Apple (fruit)")] == (1, 4)
    assert ("", "Zebra") not in rows

    mentions = spark.createDataFrame(
        [(10, "  APPLE "), (11, "aapl"), (12, "unknown thing")],
        "mention_id long, surface string")
    out = {r["mention_id"]: r
           for r in link_mentions(mentions, d).collect()}
    assert out[10]["target"] == "Apple Inc."
    assert (out[10]["n_pair"], out[10]["n_anchor"]) == (2, 4)
    assert out[11]["target"] == "Apple Inc."
    assert out[12]["target"] is None and out[12]["n_pair"] is None


def test_extract_tables_islands_and_headers(spark):
    from knowledge_graph_spark.operators.structured import extract_tables

    text = "\n".join([
        "intro prose here",
        "| Name | Pop |",
        "|---|---|",
        "| Oslo | 700000 |",
        "|  Bergen | 280000 |",
        "prose between tables",
        "| A |",
        "| 1 | 2 |",       # ragged: wider than its header
        "tail prose",
    ])
    pages = spark.createDataFrame(
        [(1, text), (2, "no tables"), (3, None)],
        "doc_id long, text string")
    rows = {(r["doc_id"], r["table_id"], r["row_idx"], r["col_idx"]):
            (r["header"], r["cell"])
            for r in extract_tables(pages).collect()}
    assert rows[(1, 1, 1, 0)] == ("Name", "Oslo")
    assert rows[(1, 1, 1, 1)] == ("Pop", "700000")
    assert rows[(1, 1, 2, 0)] == ("Name", "Bergen")   # cell trimmed
    assert rows[(1, 2, 1, 0)] == ("A", "1")
    assert rows[(1, 2, 1, 1)] == (None, "2")          # ragged -> NULL
    assert len(rows) == 6
    assert not any(k[0] in (2, 3) for k in rows)


def test_hearst_hyponym_extraction(spark):
    from knowledge_graph_spark.operators.patterns import (
        extract_hyponyms, hyponym_census)

    pages = spark.createDataFrame(
        [(1, "institutions such as banks offer loans; "
             "banks and other lenders profit"),
         (2, "Metrics including latency matter, especially tails"),
         (3, "nothing to mine here"),
         (4, None),
         (5, "systems especially databases need care")],
        "doc_id long, text string")
    rows = {(r["doc_id"], r["hypernym"], r["hyponym"], r["pattern"])
            for r in extract_hyponyms(pages).collect()}
    assert (1, "institutions", "banks", "such_as") in rows
    assert (1, "lenders", "banks", "and_other") in rows
    assert (2, "metrics", "latency", "including") in rows
    assert (5, "systems", "databases", "especially") in rows
    assert not any(r[0] in (3, 4) for r in rows)

    census = {(r["hypernym"], r["hyponym"], r["pattern"]):
              (r["n_mentions"], r["n_docs"])
              for r in hyponym_census(pages).collect()}
    assert census[("institutions", "banks", "such_as")] == (1, 1)


def test_fuse_triples_voting_and_ties(spark):
    from knowledge_graph_spark.operators.fusion import fuse_triples

    rows = [
        # acme hq: oslo supported by s1(3)+s2(1)=4, bergen by s3(3)
        ("s1", "acme", "hq", "oslo", 3),
        ("s1", "acme", "hq", "oslo", 2),   # same source dedups to max
        ("s2", "acme", "hq", "oslo", 1),
        ("s3", "acme", "hq", "bergen", 3),
        # tie 2-2 -> lexicographically smallest object wins
        ("s1", "beta", "ceo", "ada", 2),
        ("s2", "beta", "ceo", "bob", 2),
        ("s1", "gap", "x", None, 5),       # NULL obj dropped
    ]
    df = spark.createDataFrame(
        rows, "source_id string, subj string, pred string, "
              "obj string, conf long")
    out = {(r["subj"], r["pred"]): r
           for r in fuse_triples(df, confidence_col="conf").collect()}
    acme = out[("acme", "hq")]
    assert (acme["obj"], acme["support"], acme["n_sources"]) \
        == ("oslo", 4, 2)
    assert (acme["n_objects"], acme["support_total"]) == (2, 7)
    assert out[("beta", "ceo")]["obj"] == "ada"
    assert ("gap", "x") not in out

    # unweighted: every assertion votes 1 (per source-object)
    out1 = {(r["subj"], r["pred"]): r
            for r in fuse_triples(df).collect()}
    assert out1[("acme", "hq")]["support"] == 2     # s1+s2 for oslo


def test_snapshot_diff_verdicts(spark):
    from knowledge_graph_spark.operators.crawl import snapshot_diff

    old = spark.createDataFrame(
        [(1, "alpha", "s1"), (2, "beta", "s1"), (3, "gamma", "s2"),
         (4, None, "s2")],
        "doc_id long, text string, source string")
    new = spark.createDataFrame(
        [(1, "alpha", "s1"),          # same
         (2, "beta v2", "s1"),        # changed
         (4, "", "s2"),               # NULL -> '' : same under coalesce
         (9, "fresh", "s2")],         # added; doc 3 removed
        "doc_id long, text string, source string")
    out = {r["source"]: r for r in snapshot_diff(old, new).collect()}
    s1, s2 = out["s1"], out["s2"]
    assert (s1["n_same"], s1["n_changed"], s1["n_added"],
            s1["n_removed"]) == (1, 1, 0, 0)
    assert (s2["n_added"], s2["n_removed"], s2["n_same"]) == (1, 1, 1)


def test_extract_quotes_attribution(spark):
    from knowledge_graph_spark.operators.patterns import extract_quotes

    pages = spark.createDataFrame(
        [(1, 'Jane Roe said, "the merger closes friday" and left. '
             '"we disagree," argued Bob. plain text'),
         (2, 'lowercase person said, "ignored" but '
             'Ada Lovelace wrote "engines compute"'),
         (3, "no quotes"), (4, None)],
        "doc_id long, text string")
    rows = {(r["doc_id"], r["speaker"], r["quote"], r["position"])
            for r in extract_quotes(pages).collect()}
    assert (1, "Jane Roe", "the merger closes friday",
            "before") in rows
    # attribution comma stripped (r5 fix: lazy capture + ',?')
    assert (1, "Bob", "we disagree", "after") in rows
    assert (2, "Ada Lovelace", "engines compute", "before") in rows
    # lowercase speaker never matches the capitalized-name template
    assert not any(r[1] == "person" for r in rows)
    assert not any(r[0] in (3, 4) for r in rows)


def test_distant_labels_maximal_munch(spark):
    from knowledge_graph_spark.operators.wikilinks import distant_labels

    pages = spark.createDataFrame(
        [(1, "visit New York and new zealand today"),
         (2, "york alone and New York again"),
         (3, None)],
        "doc_id long, text string")
    d = spark.createDataFrame(
        [("new york", "New York City"), ("new", "Novelty"),
         ("york", "York UK"), ("new zealand", "New Zealand")],
        "anchor_key string, target string")
    rows = {(r["doc_id"], r["pos"], r["n_words"], r["target"])
            for r in distant_labels(pages, d).collect()}
    # pos 1 'New York' beats unigram 'New' (maximal munch); pos 2
    # 'York' still matches at its own start
    assert (1, 1, 2, "New York City") in rows
    assert not any(r[:2] == (1, 1) and r[3] == "Novelty" for r in rows)
    assert (1, 2, 1, "York UK") in rows
    assert (1, 4, 2, "New Zealand") in rows
    assert (2, 0, 1, "York UK") in rows
    assert (2, 3, 2, "New York City") in rows
    assert not any(r[0] == 3 for r in rows)


def test_extract_acronyms_initials_rule(spark):
    from knowledge_graph_spark.operators.patterns import extract_acronyms

    pages = spark.createDataFrame(
        [(1, "the World Health Organization (WHO) said so; "
             "the Global Fund (GF) too"),
         (2, "mismatch: Judicial Review Board (XYZ) is dropped"),
         (3, "short Ab (AB) needs two capitalized words"),
         (4, None)],
        "doc_id long, text string")
    rows = {(r["doc_id"], r["acronym"], r["long_form"])
            for r in extract_acronyms(pages).collect()}
    assert (1, "WHO", "World Health Organization") in rows
    assert (1, "GF", "Global Fund") in rows
    assert not any(r[0] in (2, 3, 4) for r in rows)


def test_taxonomy_forest_argmax_doubling_and_cycles(spark):
    """Argmax parent selection (support, tie -> bytewise-smallest
    parent); pointer doubling resolves a 4-deep chain; roots emit
    depth-0 rows; self-loops are ignored; a 2-cycle resolves to
    nothing (dropped, no root)."""
    from knowledge_graph_spark.operators.patterns import taxonomy_forest

    pairs = spark.createDataFrame([
        # chain: a -> b -> c -> d -> e (root)
        ("a", "b", 5), ("b", "c", 5), ("c", "d", 5), ("d", "e", 5),
        # competing parent for a, lower support -> rejected
        ("a", "z", 1),
        # exact tie for t: 'm' < 'n' bytewise wins
        ("t", "n", 3), ("t", "m", 3),
        # self-loop ignored
        ("s", "s", 9),
        # 2-cycle: both dropped
        ("x", "y", 2), ("y", "x", 2),
    ], "hyponym string, hypernym string, n_docs long")
    got = {r["node"]: (r["root"], r["depth"])
           for r in taxonomy_forest(pairs).collect()}
    assert got["a"] == ("e", 4)
    assert got["b"] == ("e", 3)
    assert got["c"] == ("e", 2)
    assert got["d"] == ("e", 1)
    assert got["e"] == ("e", 0)
    assert got["t"] == ("m", 1)
    assert got["m"] == ("m", 0)
    assert "x" not in got and "y" not in got
    assert "s" not in got        # self-loop only -> not in forest
    assert "z" not in got        # rejected parent never enters


def test_infobox_triples_width_and_filters(spark):
    """Only tables whose max col_idx is exactly 1 qualify; empty keys
    and ragged missing values are dropped; subjects attach per doc;
    docs without a subject row vanish (inner join)."""
    from knowledge_graph_spark.operators.structured import (
        extract_tables, infobox_triples)

    text1 = "\n".join([
        "| K | V |", "|---|---|",
        "| born | 1815 |",
        "|  | orphan |",          # empty key -> dropped
        "| field |",              # ragged: no value -> dropped
        "prose",
        "| A | B | C |",          # 3-wide -> relation, not infobox
        "| 1 | 2 | 3 |",
    ])
    text2 = "| X | Y |\n| only | row |"
    pages = spark.createDataFrame(
        [(1, text1), (2, text2), (3, "no tables")],
        "doc_id long, text string")
    subjects = spark.createDataFrame(
        [(1, "Ada"), (3, "Ghost")], "doc_id long, subj string")
    got = {(r["doc_id"], r["subj"], r["key"], r["value"])
           for r in infobox_triples(extract_tables(pages),
                                    subjects).collect()}
    assert got == {(1, "Ada", "born", "1815")}


def test_reciprocal_links_census(spark):
    """Directional counts fold before the pair merge; self-loops
    dropped; one-way pairs carry a zero on the missing side; the
    canonical orientation is host_a < host_b."""
    from knowledge_graph_spark.operators.urls import reciprocal_links

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "a"),   # reciprocal, 2 vs 1
         ("c", "d"),                            # one-way fwd
         ("e", "c"),                            # one-way, rev-only key
         ("x", "x")],                           # self-loop
        "src string, dst string")
    got = {(r["host_a"], r["host_b"]):
           (r["n_ab"], r["n_ba"], r["reciprocal"])
           for r in reciprocal_links(edges).collect()}
    assert got == {
        ("a", "b"): (2, 1, True),
        ("c", "d"): (1, 0, False),
        ("c", "e"): (0, 1, False),
    }


def test_extract_microdata_forms_and_drops(spark):
    """@type rows from itemtype; content attr beats element text;
    element text used when no content; empty itemprop keys and
    valueless tags dropped; attribute order inside the tag is free."""
    from knowledge_graph_spark.operators.structured import (
        extract_microdata)

    text = (
        '<div itemscope itemtype="https://schema.org/Person">'
        '<span itemprop="name"> Ada Lovelace </span>'
        '<meta content="1815-12-10" itemprop="birthDate">'
        '<meta itemprop="deathDate" content="1852-11-27">unread'
        '<b itemprop="">ignored</b>'
        '<i itemprop="empty"></i></div>')
    pages = spark.createDataFrame(
        [(1, text), (2, "plain prose"), (3, None)],
        "doc_id long, text string")
    got = {(r["doc_id"], r["prop"], r["value"], r["source"])
           for r in extract_microdata(pages).collect()}
    assert got == {
        (1, "@type", "https://schema.org/Person", "type"),
        (1, "name", "Ada Lovelace", "text"),
        (1, "birthDate", "1815-12-10", "content"),
        (1, "deathDate", "1852-11-27", "content"),
    }


def test_extract_microdata_ignores_lookalike_attributes(spark):
    """data-itemprop= / data-content= / data-itemtype= must not
    substring-match the real microdata attributes (r5 review finding:
    unanchored patterns harvested them)."""
    from knowledge_graph_spark.operators.structured import (
        extract_microdata)

    text = (
        '<div data-itemtype="https://bogus.example/X">'
        '<span itemprop="description" data-content="tooltip text">'
        'Real value</span>'
        '<b data-itemprop="fake">not a prop</b></div>')
    pages = spark.createDataFrame(
        [(1, text)], "doc_id long, text string")
    got = {(r["prop"], r["value"], r["source"])
           for r in extract_microdata(pages).collect()}
    assert got == {("description", "Real value", "text")}


def test_to_ntriples_escaping_and_slugs(spark):
    """IRI slugs fold whitespace to _ and drop forbidden chars; the
    ECHAR set escapes in order (backslash first); unserializable rows
    (empty slug, NULL object) drop."""
    from knowledge_graph_spark.operators.rdf import to_ntriples

    triples = spark.createDataFrame(
        [("Ada  Lovelace", "born in", 'Lon"don\\UK'),
         ("A", "p", "l1\nl2\tend"),
         ('<">', "p", "dropped"),
         ("S", "p", None)],
        "subj string, pred string, obj string")
    got = {r["line"] for r in to_ntriples(triples).collect()}
    assert got == {
        '<http://kg.example/resource/Ada_Lovelace> '
        '<http://kg.example/prop/born_in> "Lon\\"don\\\\UK" .',
        '<http://kg.example/resource/A> '
        '<http://kg.example/prop/p> "l1\\nl2\\tend" .',
    }


def test_extract_quantities_forms(spark):
    """Comma groups strip, scale words multiply, % normalizes,
    integer thousandths are exact, unitless numbers never match."""
    from knowledge_graph_spark.operators.measures import (
        extract_quantities)

    pages = spark.createDataFrame(
        [(1, "raised 1,250 dollars and grew 40% with 2.5 million "
             "users over 12 km but 7 widgets"),
         (2, "0.5 thousand people"),
         (3, None)],
        "doc_id long, text string")
    got = {(r["doc_id"], r["mantissa"], r["scale_word"], r["unit"],
            r["value_milli"])
           for r in extract_quantities(pages).collect()}
    assert got == {
        (1, "1250", None, "dollars", 1_250_000),
        (1, "40", None, "percent", 40_000),
        (1, "2.5", "million", "users", 2_500_000_000),
        (1, "12", None, "km", 12_000),
        (2, "0.5", "thousand", "people", 500_000),
    }


def test_comparative_edges_antonym_fold(spark):
    """'A is faster than B' and 'B is slower than A' land on the SAME
    canonical edge with added support; dimensions map correctly."""
    from knowledge_graph_spark.operators.patterns import (
        comparative_edges)

    pages = spark.createDataFrame(
        [(1, "redis is faster than postgres"),
         (2, "postgres is slower than redis"),
         (3, "redis is faster than postgres and x is cheaper than y"),
         (4, "a is worse than b"),
         (5, None)],
        "doc_id long, text string")
    got = {(r["superior"], r["dimension"], r["inferior"]): r["n_docs"]
           for r in comparative_edges(pages).collect()}
    assert got == {
        ("redis", "speed", "postgres"): 3,
        ("x", "cost", "y"): 1,
        ("b", "quality", "a"): 1,
    }


def test_coordination_siblings_pairs(spark):
    """Three pairwise edges per list, canonical a<b orientation,
    lowercase fold, self-pairs from duplicate items drop."""
    from knowledge_graph_spark.operators.patterns import (
        coordination_siblings)

    pages = spark.createDataFrame(
        [(1, "we grow Apples, pears and plums here"),
         (2, "apples, plums, and pears"),
         (3, "dup, dup, and solo"),
         (4, "no lists"),
         (5, None)],
        "doc_id long, text string")
    got = {(r["item_a"], r["item_b"]): r["n_docs"]
           for r in coordination_siblings(pages).collect()}
    assert got == {
        ("apples", "pears"): 2,
        ("apples", "plums"): 2,
        ("pears", "plums"): 2,
        ("dup", "solo"): 1,
    }


def test_polarity_triples_negation(spark):
    """Negation cues flip the flag, never change the triple; tense
    folds onto one lemma; 'with' particle is transparent; verbs
    outside the vocabulary never match."""
    from knowledge_graph_spark.operators.patterns import (
        polarity_triples)

    pages = spark.createDataFrame(
        [(1, "Acme acquired Zeta but Acme did not acquire Hooli"),
         (2, "Omni never bought Acme and Omni merged with Zeta"),
         (3, "Acme no longer sue Zeta"),
         (4, "Acme endorsed Zeta"),
         (5, None)],
        "doc_id long, text string")
    got = {(r["doc_id"], r["subj"], r["verb"], r["obj"], r["negated"])
           for r in polarity_triples(pages).collect()}
    assert got == {
        (1, "Acme", "acquire", "Zeta", False),
        (1, "Acme", "acquire", "Hooli", True),
        (2, "Omni", "buy", "Acme", True),
        (2, "Omni", "merge", "Zeta", False),
        (3, "Acme", "sue", "Zeta", True),
    }


def test_type_check_triples_flags(spark):
    """Domain/range flags: pass when ANY type satisfies (multi-typed
    entity), fail strictly when the endpoint is untyped, NULL flags +
    vacuous pass for unconstrained predicates."""
    from knowledge_graph_spark.operators.fusion import (
        type_check_triples)

    triples = spark.createDataFrame(
        [("acme", "employs", "ada"),     # Org -> Person: ok
         ("ada", "employs", "acme"),     # Person domain: fail
         ("acme", "employs", "ghost"),   # untyped range: fail
         ("acme", "likes", "ada"),       # unconstrained: vacuous
         ("dual", "employs", "ada")],    # multi-typed subj: ok
        "subj string, pred string, obj string")
    ents = spark.createDataFrame(
        [("acme", "Org"), ("ada", "Person"),
         ("dual", "Person"), ("dual", "Org")],
        "entity string, type string")
    cons = spark.createDataFrame(
        [("employs", "Org", "Person")],
        "pred string, domain string, range string")
    got = {(r["subj"], r["pred"], r["obj"]):
           (r["domain_ok"], r["range_ok"], r["ok"])
           for r in type_check_triples(triples, ents, cons).collect()}
    assert got[("acme", "employs", "ada")] == (True, True, True)
    assert got[("ada", "employs", "acme")] == (False, False, False)
    assert got[("acme", "employs", "ghost")] == (True, False, False)
    assert got[("dual", "employs", "ada")] == (True, True, True)
    # unconstrained predicate: NULL flags, vacuous pass
    lik = [r for r in type_check_triples(triples, ents, cons)
           .filter("pred = 'likes'").collect()][0]
    assert lik["domain_ok"] is None and lik["range_ok"] is None
    assert lik["ok"] is True


# ------------------------------------------------------- sitemap harvest


def test_extract_sitemap_missing_fields_surface_as_null(spark):
    from knowledge_graph_spark.operators.structured import extract_sitemap

    xml = ("<urlset>"
           "<url><loc>https://a/1</loc>"
           "<lastmod>2024-01-02</lastmod></url>"
           "<url><lastmod>2024-01-03</lastmod></url>"   # no loc
           "<url><loc> https://a/3 </loc>"              # ws trimmed
           "<priority>0.8</priority></url>"
           "</urlset>")
    blobs = spark.createDataFrame([(7, xml)], "sitemap_id long, xml string")
    got = {r["entry_idx"]: r for r in extract_sitemap(blobs).collect()}
    assert len(got) == 3                      # malformed entry KEPT
    assert got[0]["loc"] == "https://a/1"
    assert got[0]["priority"] is None
    assert got[1]["loc"] is None              # quarantine signal
    assert got[1]["lastmod"] == "2024-01-03"
    assert got[2]["loc"] == "https://a/3"
    assert got[2]["priority"] == "0.8"


def test_extract_meta_first_wins_and_absent_null(spark):
    from knowledge_graph_spark.operators.structured import extract_meta

    pages = spark.createDataFrame(
        [(1, '<meta property="og:title" content="First">'
             '<meta property="og:title" content="Second">'
             '<link rel="canonical" href="https://c/x">'),
         (2, "no markup at all")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in extract_meta(pages).collect()}
    assert got[1]["og_title"] == "First"      # leftmost match wins
    assert got[1]["canonical"] == "https://c/x"
    assert got[1]["og_type"] is None
    assert all(got[2][c] is None
               for c in ("og_title", "og_type", "og_url", "canonical"))


def test_hreflang_pairs_dedup_cap_and_single_lang(spark):
    from knowledge_graph_spark.operators.structured import hreflang_pairs

    def alt(lang, href):
        return (f'<link rel="alternate" hreflang="{lang}" '
                f'href="{href}">')

    pages = spark.createDataFrame(
        [(1, alt("en", "https://x/en") + alt("zh", "https://x/zh")
             + alt("en", "https://x/en")),        # dup folds
         (2, alt("en", "https://y/en")),           # single lang: no pair
         (3, alt("EN", "https://z/en") + alt("de", "https://z/de")
             + alt("fr", "https://z/fr"))],        # case folds, 3 pairs
        "doc_id long, text string")
    rows = hreflang_pairs(pages).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["lang_a"], r["lang_b"]))
    assert by_doc[1] == [("en", "zh")]
    assert 2 not in by_doc
    assert sorted(by_doc[3]) == [("de", "en"), ("de", "fr"),
                                 ("en", "fr")]
    # megacluster guard: a tag farm above max_langs drops whole
    farm = "".join(alt(f"l{chr(97 + i)}", f"https://f/{i}")
                   for i in range(9))
    fp = spark.createDataFrame([(9, farm)], "doc_id long, text string")
    assert hreflang_pairs(fp, max_langs=8).count() == 0
    assert hreflang_pairs(fp, max_langs=9).count() == 36


# ---------------------------------------------------------------------------
# round-5 kernel/session/wikilinks review regressions
# ---------------------------------------------------------------------------


def test_get_spark_parses_cluster_masters():
    """Non-local master strings ('yarn', 'spark://...') carry no [n]
    parallelism suffix and must not crash the factory (r5 review
    finding: int('yarn'))."""
    import re as _re

    # replicate the factory's parse on representative masters
    for master, ok in [("local[8]", 8), ("local[4,2]", 4),
                       ("local[*]", None), ("local", None),
                       ("yarn", None), ("spark://host:7077", None)]:
        m = _re.fullmatch(r"local\[(\d+)(?:,\d+)?\]", master)
        got = int(m.group(1)) if m else None
        assert got == ok, master


def test_default_driver_mem_fits_host(monkeypatch):
    """Unset SPARK_GRAFT_DRIVER_MEM sizes the driver heap at half of
    MemTotal, capped at 16g — a fixed 16g asked a 15 GiB host for more
    than it has."""
    import io

    from knowledge_graph_spark import session

    def meminfo(kib):
        return lambda *a, **k: io.StringIO(
            f"MemFree:  1000 kB\nMemTotal:  {kib} kB\n")

    monkeypatch.setattr(session, "open", meminfo(15 * 1024 * 1024),
                        raising=False)
    assert session._default_driver_mem() == "7680m"
    monkeypatch.setattr(session, "open", meminfo(128 * 1024 * 1024),
                        raising=False)
    assert session._default_driver_mem() == "16384m"

    def missing(*a, **k):
        raise FileNotFoundError("/proc/meminfo")

    monkeypatch.setattr(session, "open", missing, raising=False)
    assert session._default_driver_mem() == "16g"


def test_html2text_attribute_and_entity_edge_cases():
    from knowledge_graph_spark.kernel.html2text import html_to_text

    # data-* attributes must not substring-match class/id
    assert html_to_text(
        '<div data-testid="nav-x"><p>Keep me</p></div>') == "Keep me"
    # single-quoted and unquoted boilerplate classes are dropped
    assert html_to_text(
        "<div class='footer-links'><p>b</p></div>") == ""
    assert html_to_text('<div class=navbar><p>b</p></div>') == ""
    # numeric charrefs never recombine into named entities
    assert html_to_text(
        '<p>AT&#38;amp;T and a &#38;lt; b</p>') == "AT&amp;T and a &lt; b"
    # uppercase-X hex charref
    assert html_to_text('<p>&#X41;</p>') == "A"


def test_wikilinks_pipe_trick_and_whitespace_keys(spark):
    from knowledge_graph_spark.operators.wikilinks import (
        commonness_dictionary, extract_wikilinks)

    pages = spark.createDataFrame(
        [(1, "see [[|orphan]] and [[new  york|New  York]]")],
        "doc_id long, text string")
    links = extract_wikilinks(pages)
    rows = links.collect()
    assert all(r["target"] != "" for r in rows)       # pipe trick out
    dic = commonness_dictionary(links).collect()
    # the key collapses whitespace runs to single spaces
    assert {r["anchor_key"] for r in dic} == {"new york"}


def test_characteristic_sets_comma_predicates_do_not_collide(spark):
    from knowledge_graph_spark.operators.rules import (
        characteristic_sets)

    t = spark.createDataFrame(
        [("s1", "a,b"), ("s1", "c"), ("s2", "a"), ("s2", "b,c")],
        "subj string, pred string")
    rows = characteristic_sets(t).collect()
    assert len(rows) == 2                       # two DISTINCT sets
    assert all(r["n_subjects"] == 1 for r in rows)
