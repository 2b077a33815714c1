# -*- coding: utf-8 -*-
"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry and its ``oracle_sql()`` twin at sf0.01, compare
row count, schema (column names), and order-insensitive value hash.

Usage: python tools/check_oracles.py [--json OUT.json] [sf_dir] [query ...]

``--json`` writes a per-query artifact (match flags, row counts, the
16-hex value hash both sides agreed on, wall seconds) so a sweep's
evidence can be committed and re-verified by re-running this tool.

NOTE: the golden-twin oracles (bpe_merges/bpe_encoded/lpa_*/minhash_
pairs/simhash_neardups/dedup_near_survivors/fingerprints/...) replay
precomputed sf0.01 results — running this tool against a DIFFERENT
sf_dir reports them as mismatches by construction (verified: at
sf0.001 exactly the golden-twin set "fails", every live-SQL oracle
still passes). The driver gate runs at sf0.01.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from knowledge_graph_spark.session import get_spark

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm_cell(v):
    if v is None:
        return ""
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows, cols):
    """Order-insensitive value hash with a driver-fidelity probe.

    The probe: build a pandas frame and ``sort_values`` over ALL
    columns (sorted by name) exactly like the driver's comparator —
    a non-scalar cell (list/dict/Row) makes pandas' lexsort throw
    ``TypeError: unhashable type``, the same crash the driver
    produced on anchor_texts in r04, so that class of bug can no
    longer pass locally.

    The hash itself is computed from the ORIGINAL row values, not
    the pandas frame: pandas coerces a nullable int64 column to
    float64, which collapses 64-bit values past 2**53 (two genuinely
    different xxhash64 fingerprints would hash equal — a false
    PASS). ``dtype=object`` on the probe frame avoids that coercion
    there too while keeping the unhashable-cell crash."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    names = [cols[i] for i in order]
    df = pd.DataFrame(
        [[r[i] for i in order] for r in rows], columns=names,
        dtype=object)
    if len(df):
        df.sort_values(by=names, kind="mergesort")  # driver probe
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    report = {}
    spark = get_spark(app="oracle-check")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            report[name] = {"status": "spark_error",
                            "err": f"{type(e).__name__}: {e}"}
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        # the driver's pandas comparator cannot sort list/map/struct
        # cells — any such output column is a guaranteed driver crash
        nonscalar = [f.name for f in sdf.schema.fields
                     if f.dataType.typeName() in
                     ("array", "map", "struct")]
        if nonscalar:
            failures.append(name)
            report[name] = {"status": "non_scalar_schema",
                            "columns": nonscalar}
            print(f"FAIL  {name}: non-scalar output columns "
                  f"{nonscalar} (driver comparator cannot sort these "
                  f"— flatten via array_join/to_json)")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            report[name] = {"status": "duckdb_error", "err": str(e)}
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        problems = []
        # type hygiene: fetchall() hides HUGEINT/DECIMAL (they arrive as
        # plain Python ints), but the driver's Arrow-path hasher sees
        # decimal128 and diverges — r03 cross_dup/pii_scrub root cause.
        # Flag any output type without an exact Spark counterpart.
        safe = {"BIGINT", "INTEGER", "SMALLINT", "TINYINT", "DOUBLE",
                "VARCHAR", "BOOLEAN", "DATE"}
        odd = {c: t for c, t, *_ in
               con.sql("DESCRIBE " + oracles[name]).fetchall()
               if t not in safe and not t.startswith("TIMESTAMP")
               and not (t.endswith("[]") and t[:-2] in safe)}
        if odd:
            problems.append(f"hash-unsafe oracle types {odd}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        sh = None
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema {sorted(scols)} vs {sorted(ocols)}")
        else:
            # the oracle side can hold list cells even when the spark
            # side is clean (e.g. a flattened query whose SQL twin
            # still emits BIGINT[]): report it as THIS query's
            # failure instead of crashing the whole run
            try:
                sh, oh = value_hash(srows, scols), value_hash(orows, ocols)
            except TypeError as e:
                problems.append(
                    f"unsortable cells (driver comparator would "
                    f"crash): {e}")
            else:
                if sh != oh:
                    problems.append(f"value hash {sh} vs {oh}")
        if problems:
            failures.append(name)
            report[name] = {"status": "mismatch", "problems": problems,
                            "spark_rows": len(srows),
                            "oracle_rows": len(orows)}
            print(f"FAIL  {name}: {'; '.join(problems)}")
            # show first diff rows for debugging (both sides projected
            # to sorted-column order, same as the hash, so a column-
            # order difference can't masquerade as a value diff)
            sord = sorted(range(len(scols)), key=lambda i: scols[i])
            oord = sorted(range(len(ocols)), key=lambda i: ocols[i])
            sset = {tuple(norm_cell(r[i]) for i in sord) for r in srows}
            oset = {tuple(norm_cell(r[i]) for i in oord) for r in orows}
            for x in list(sset - oset)[:3]:
                print(f"      spark-only: {x}")
            for x in list(oset - sset)[:3]:
                print(f"      oracle-only: {x}")
        else:
            report[name] = {"status": "match", "rows": len(srows),
                            "value_hash": sh,
                            "sec": round(time.time() - t0, 2)}
            print(f"ok    {name}: {len(srows)} rows match "
                  f"({time.time() - t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if json_out:
        import json

        n_ok = sum(1 for v in report.values() if v["status"] == "match")
        payload = {"sf_dir": sf_dir,
                   "n_queries": len(report), "n_ok": n_ok,
                   "n_failures": len(failures),
                   "failures": failures, "queries": report}
        with open(json_out, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
