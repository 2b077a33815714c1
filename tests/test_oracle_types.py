# -*- coding: utf-8 -*-
"""Oracle output-type hygiene gate.

Round-3 driver check failed ``cross_dup`` and ``pii_scrub`` on value
hash with rows+schema matching, and the failures were NOT reproducible
by fetchall()-based local comparison. Root cause: DuckDB promotes
``SUM(INTEGER)`` to HUGEINT, and HUGEINT surfaces as
``decimal128(38, 0)`` on the Arrow fetch path (while ``fetchall()``
silently gives Python ints) — so any hasher that canonicalizes via
Arrow/pandas sees Decimal vs int64 and diverges even when every value
is equal. Spark has no 128-bit integer, so a HUGEINT output column can
never be hash-safe.

This gate DESCRIBEs every oracle in ``oracle_sql()`` against the
sf0.001 views and fails if any output column has a type outside the
hash-safe set, so the bug class cannot recur as the query surface
grows.
"""

import importlib.util
import os

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"
TABLES = ("region nation customer supplier part orders lineitem "
          "partsupp events documents embeddings").split()

# Types with an exact, canonicalization-stable Spark counterpart.
# Everything else (HUGEINT, UHUGEINT, DECIMAL, FLOAT, intervals,
# nested types with odd element types) must be CAST in the oracle SQL.
_SAFE = {"BIGINT", "INTEGER", "SMALLINT", "TINYINT", "DOUBLE",
         "VARCHAR", "BOOLEAN", "DATE"}


def _safe(t: str) -> bool:
    if t in _SAFE or t.startswith("TIMESTAMP"):
        return True
    if t.endswith("[]"):  # array — element type must itself be safe
        return _safe(t[:-2])
    return False


@pytest.fixture(scope="module")
def entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_for_types",
        os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def oracles(entry):
    return entry.oracle_sql()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return c


def test_every_oracle_output_type_is_hash_safe(oracles, con):
    offenders = {}
    for name, sql in oracles.items():
        desc = con.execute("DESCRIBE " + sql).fetchall()
        odd = {col: typ for col, typ, *_ in desc if not _safe(typ)}
        if odd:
            offenders[name] = odd
    assert not offenders, (
        "oracle output columns with hash-unsafe DuckDB types "
        f"(CAST them in the SQL): {offenders}"
    )


def test_hugeint_is_the_arrow_trap_we_think_it_is():
    """Pin the behavior this gate exists for: SUM(int) is HUGEINT and
    Arrow-fetches as decimal128 while fetchall gives a plain int."""
    c = duckdb.connect()
    rel = c.execute("SELECT SUM(x) AS s FROM (SELECT 1 AS x)")
    assert rel.fetchall() == [(1,)]
    tbl = c.execute("SELECT SUM(x) AS s FROM (SELECT 1 AS x)").arrow()
    assert str(tbl.schema.field("s").type).startswith("decimal128")


def _load_check_oracles():
    import sys
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "check_oracles.py")
    spec = importlib.util.spec_from_file_location("co_mod", path)
    mod = importlib.util.module_from_spec(spec)
    # the tool imports __spark_entry__ at module level; that's fine
    # (queries() is lazy), but keep sys.path sane for the import
    sys.path.insert(0, os.path.dirname(path))
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path.pop(0)
    return mod


def test_value_hash_keeps_int64_precision_with_nulls():
    """pandas would coerce a nullable int column to float64 and
    collapse 64-bit fingerprints past 2**53 — two different values
    must still hash differently when a NULL is present (r5 review
    finding: the coercion produced a false PASS)."""
    co = _load_check_oracles()
    a = co.value_hash([(9223372036854775807,), (None,)], ["h"])
    b = co.value_hash([(9223372036854775806,), (None,)], ["h"])
    assert a != b


def test_value_hash_probe_raises_on_list_cells():
    """The driver-fidelity probe must surface unsortable cells as
    TypeError (the driver's comparator crash class) instead of
    silently stringifying them."""
    co = _load_check_oracles()
    with pytest.raises(TypeError):
        co.value_hash([(1, ["x", "y"]), (2, ["z"])], ["id", "terms"])


#: the paper core the driver must check first (ROADMAP item 3)
_PAPER_CORE = [
    "kg_triples", "kg_entities", "kg_graph_links", "kg_user_graphs",
    "kg_all_graphs", "kg_keyword_search", "kg_detach_delete",
    "kg_clear_user", "kg_canonical_entities", "kg_dropped_relations",
]


def test_registry_rows_paper_core_first(entry):
    """The driver checks a prefix of the registry, so the paper core
    leads it; every row names one query with one builder and one
    oracle, and both dict views follow the table's order."""
    rows = entry._registry()
    names = [name for name, _, _ in rows]
    assert names[:len(_PAPER_CORE)] == _PAPER_CORE
    assert len(set(names)) == len(names)
    for name, builder, sql in rows:
        assert callable(builder), name
        assert isinstance(sql, str) and sql.strip(), name
    assert list(entry.queries()) == names
    assert list(entry.oracle_sql()) == names
