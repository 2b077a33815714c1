# -*- coding: utf-8 -*-
"""LakeTable: snapshot/merge/delete semantics + idempotent resume."""

from __future__ import annotations

import pytest

from knowledge_graph_spark.sources.lake import LakeTable


@pytest.fixture()
def tbl(tmp_path):
    return LakeTable(str(tmp_path), "t")


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_overwrite_and_read(spark, tbl):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    tbl.overwrite(df)
    assert rows(tbl.read(spark)) == [(1, "a"), (2, "b")]


def test_merge_update_semantics(spark, tbl):
    tbl.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    tbl.merge_into(
        spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string"), on=["k"]
    )
    assert rows(tbl.read(spark)) == [(1, "a"), (2, "B"), (3, "c")]


def test_merge_ignore_semantics(spark, tbl):
    """ON CREATE only — matched rows keep their values (reference edge
    semantics, kg_writer.py:56-57)."""
    tbl.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    tbl.merge_into(
        spark.createDataFrame([(1, "X"), (2, "b")], "k int, v string"),
        on=["k"], when_matched="ignore",
    )
    assert rows(tbl.read(spark)) == [(1, "a"), (2, "b")]


def test_merge_idempotent_by_batch_id(spark, tbl):
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    tbl.merge_into(df, on=["k"], batch_id="b1")
    r = tbl.merge_into(df, on=["k"], batch_id="b1")
    assert r.get("skipped")
    assert len(tbl.history()) == 1


def test_merge_reapply_same_batch_same_state(spark, tbl):
    """MERGE is a set operation: re-applying the same rows (new batch id)
    yields an identical table."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    tbl.merge_into(df, on=["k"], batch_id="b1")
    before = rows(tbl.read(spark))
    tbl.merge_into(df, on=["k"], batch_id="b2")
    assert rows(tbl.read(spark)) == before


def test_delete_where(spark, tbl):
    tbl.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    tbl.delete_where(spark, "k = 1")
    assert rows(tbl.read(spark)) == [(2, "b")]


def test_lineage_and_counters(spark, tbl):
    tbl.overwrite(
        spark.createDataFrame([(1, "a")], "k int, v string"),
        counters={"stage": "unit"},
    )
    h = tbl.history()
    assert h[-1]["rows"] == 1
    assert h[-1]["counters"] == {"stage": "unit"}
    assert h[-1]["parent"] is None


def test_merge_commutative_on_disjoint_batches(spark, tmp_path):
    """SURVEY §5.2(4): applying disjoint batches in either order yields
    the identical table (insert-only merges commute)."""
    a = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    b = spark.createDataFrame([(3, "c"), (4, "d")], "k int, v string")
    t1 = LakeTable(str(tmp_path), "ab")
    t1.merge_into(a, on=["k"]); t1.merge_into(b, on=["k"])
    t2 = LakeTable(str(tmp_path), "ba")
    t2.merge_into(b, on=["k"]); t2.merge_into(a, on=["k"])
    assert rows(t1.read(spark)) == rows(t2.read(spark))


def test_vacuum_keeps_current(spark, tbl):
    for i in range(4):
        tbl.overwrite(spark.createDataFrame([(i, "x")], "k int, v string"))
    removed = tbl.vacuum(keep_last=1)
    assert removed
    assert rows(tbl.read(spark)) == [(3, "x")]


def test_partitioned_merge_carries_untouched_partitions(spark, tbl):
    """Partition-scoped commit: a merge touching 1 of 3 partitions must
    carry the other 2 forward BY REFERENCE — same relative paths in the
    manifest, files untouched on disk."""
    import os

    df = spark.createDataFrame(
        [(i, f"g{i % 3}", "v0") for i in range(9)], "k int, g string, v string"
    )
    tbl.overwrite(df, partition_by=["g"])
    e0 = tbl.history()[-1]
    before = {k: list(v) for k, v in e0["partition_dirs"].items()}
    mtimes = {
        p: os.path.getmtime(os.path.join(tbl.dir, p)) for ps in before.values()
        for p in ps
    }

    upd = spark.createDataFrame([(0, "g0", "v1"), (99, "g0", "v1")],
                                "k int, g string, v string")
    tbl.merge_into(upd, on=["g", "k"], when_matched="update",
                   partition_by=["g"])
    e1 = tbl.history()[-1]
    dirs = e1["partition_dirs"]
    assert e1["carried_partitions"] == 2
    assert dirs["g1"] == before["g1"] and dirs["g2"] == before["g2"]
    assert dirs["g0"] != before["g0"]
    for p in dirs["g1"] + dirs["g2"]:
        assert os.path.getmtime(os.path.join(tbl.dir, p)) == mtimes[p]
    # row counts in the manifest track the merge
    assert e1["partition_rows"] == {"g0": 4, "g1": 3, "g2": 3}
    got = sorted(
        tuple(r) for r in tbl.read(spark).filter("g = 'g0'").collect()
    )
    assert got == [(0, "g0", "v1"), (3, "g0", "v0"), (6, "g0", "v0"),
                   (99, "g0", "v1")]


def test_partitioned_append_never_reads_current(spark, tbl):
    """Append on a partitioned table is a pure file add: old dirs stay
    referenced, new rows land in new dirs, totals accumulate."""
    a = spark.createDataFrame([(1, "g0"), (2, "g1")], "k int, g string")
    b = spark.createDataFrame([(3, "g0")], "k int, g string")
    tbl.append(a, partition_by=["g"])
    first = {k: list(v) for k, v in tbl.history()[-1]["partition_dirs"].items()}
    tbl.append(b, partition_by=["g"])
    e = tbl.history()[-1]
    assert e["partition_dirs"]["g1"] == first["g1"]
    assert len(e["partition_dirs"]["g0"]) == 2
    assert e["partition_rows"] == {"g0": 2, "g1": 1}
    assert e["rows"] == 3
    assert sorted(tuple(r) for r in tbl.read(spark).collect()) == [
        (1, "g0"), (2, "g1"), (3, "g0")
    ]


def test_partitioned_merge_subset_key_reaches_whole_group(spark, tbl):
    """Merge key narrower than the partition spec (refresh-one-graph on
    a (g, bucket) layout): every partition of that graph is replaced,
    other graphs' partitions carried."""
    df = spark.createDataFrame(
        [("g1", 0, "old"), ("g1", 1, "old"), ("g2", 0, "keep")],
        "g string, b int, v string",
    )
    tbl.overwrite(df, partition_by=["g", "b"])
    upd = spark.createDataFrame([("g1", 1, "new")], "g string, b int, v string")
    tbl.merge_into(upd, on=["g"], when_matched="update",
                   partition_by=["g", "b"])
    got = sorted(tuple(r) for r in tbl.read(spark).collect())
    # g1's bucket-0 rows died with the graph refresh even though the
    # update only contained bucket-1 rows
    assert got == [("g1", 1, "new"), ("g2", 0, "keep")]
    assert tbl.history()[-1]["carried_partitions"] == 1


def test_vacuum_preserves_carried_partition_donors(spark, tbl):
    """Snapshots still referenced by the current snapshot's carried
    partition_dirs must survive vacuum."""
    df = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(6)], "k int, g string"
    )
    tbl.overwrite(df, partition_by=["g"])           # snap-1 (donor)
    for v in ("g0", "g1"):
        upd = spark.createDataFrame([(100, v)], "k int, g string")
        tbl.merge_into(upd, on=["g", "k"], partition_by=["g"])  # snaps 2..3
    removed = tbl.vacuum(keep_last=1)
    # snap-1 still holds g2's only copy -> must NOT be removed
    assert "snap-000001" not in removed
    assert tbl.read(spark).filter("g = 'g2'").count() == 2


def test_vacuum_reclaims_donor_after_last_reference_drops(spark, tbl):
    """A donor snapshot whose lineage entry was folded away must still be
    deleted once nothing references its directories anymore — removal
    walks the filesystem, not the (folded) lineage."""
    import os

    df = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(6)], "k int, g string"
    )
    tbl.overwrite(df, partition_by=["g"])           # snap-1 (donor)
    upd = spark.createDataFrame([(100, "g0")], "k int, g string")
    tbl.merge_into(upd, on=["g", "k"], partition_by=["g"])  # snap-2 carries g1,g2
    tbl.vacuum(keep_last=1)                          # folds snap-1's entry; dir lives
    assert os.path.isdir(os.path.join(tbl.dir, "snap-000001"))
    # full overwrite: nothing references snap-1's directories anymore
    tbl.overwrite(df, partition_by=["g"])
    removed = tbl.vacuum(keep_last=1)
    assert "snap-000001" in removed
    assert not os.path.isdir(os.path.join(tbl.dir, "snap-000001"))
    assert tbl.read(spark).count() == 6


def test_rollback_to_snapshot(spark, tbl):
    """Iceberg rollback: pure-metadata restore of an older snapshot;
    later writes keep allocating fresh snapshot ids (no dir collision)."""
    tbl.overwrite(spark.createDataFrame([(1, "v1")], "k int, v string"))
    tbl.overwrite(spark.createDataFrame([(1, "v2")], "k int, v string"))
    tbl.rollback("snap-000001")
    assert rows(tbl.read(spark)) == [(1, "v1")]
    tbl.overwrite(spark.createDataFrame([(1, "v3")], "k int, v string"))
    assert tbl.current_entry()["snapshot"] == "snap-000003"
    assert rows(tbl.read(spark)) == [(1, "v3")]
    # partitioned + carried refs survive a rollback too
    t2 = LakeTable(tbl.dir + "_p", "t")
    t2.overwrite(spark.createDataFrame([(1, "g0"), (2, "g1")], "k int, g string"),
                 partition_by=["g"])
    t2.merge_into(spark.createDataFrame([(9, "g0")], "k int, g string"),
                  on=["g", "k"], partition_by=["g"])
    t2.rollback("snap-000001")
    assert rows(t2.read(spark)) == [(1, "g0"), (2, "g1")]


def test_overwrite_partitions_replaces_wholesale(spark, tbl):
    """Dynamic partition overwrite: touched partitions replaced without
    reading their old rows; untouched carried by reference."""
    df = spark.createDataFrame(
        [("g1", 1, "old"), ("g1", 2, "old"), ("g2", 1, "keep")],
        "g string, k int, v string",
    )
    tbl.overwrite(df, partition_by=["g"])
    before_g2 = list(tbl.current_entry()["partition_dirs"]["g2"])
    new = spark.createDataFrame([("g1", 9, "new")], "g string, k int, v string")
    tbl.overwrite_partitions(new, partition_by=["g"], touched_keys=["g1"])
    got = sorted(tuple(r) for r in tbl.read(spark).collect())
    assert got == [("g1", 9, "new"), ("g2", 1, "keep")]
    e = tbl.current_entry()
    assert e["partition_dirs"]["g2"] == before_g2
    assert e["op"] == "overwrite_partitions"


def test_overwrite_partitions_replaces_undeclared_written_key(spark, tbl):
    """A key df writes but touched_keys leaves out is replaced, not
    appended to: the commit drops the declared keys and every key df
    writes, and carries only the rest."""
    df = spark.createDataFrame(
        [("g1", 1, "old"), ("g2", 2, "old"), ("g3", 3, "keep")],
        "g string, k int, v string",
    )
    tbl.overwrite(df, partition_by=["g"])
    before_g3 = list(tbl.current_entry()["partition_dirs"]["g3"])
    new = spark.createDataFrame([("g1", 9, "new"), ("g2", 8, "new")],
                                "g string, k int, v string")
    tbl.overwrite_partitions(new, partition_by=["g"], touched_keys=["g1"])
    assert rows(tbl.read(spark)) == [("g1", 9, "new"), ("g2", 8, "new"),
                                     ("g3", 3, "keep")]
    e = tbl.current_entry()
    assert e["partition_rows"] == {"g1": 1, "g2": 1, "g3": 1}
    assert len(e["partition_dirs"]["g2"]) == 1
    assert e["partition_dirs"]["g3"] == before_g3
    assert e["carried_partitions"] == 1


def test_every_lineage_entry_pins_schema(spark, tmp_path):
    """Every commit pins the table schema — the reader applies it and
    later commits merge it — whatever the op and whichever path the op
    takes."""
    import json

    from pyspark.sql.types import StructType

    df = spark.createDataFrame([(1, "g1", "a"), (2, "g2", "b")],
                               "k int, g string, v string")
    p = LakeTable(str(tmp_path), "p")
    p.merge_into(df, on=["k"], partition_by=["g"])       # first write
    p.merge_into(df, on=["k"], partition_by=["g"])       # partitioned
    p.append(df.selectExpr("k + 10 AS k", "g", "v"), partition_by=["g"])
    p.overwrite_partitions(df, partition_by=["g"], touched_keys=["g1"])
    p.delete_where(spark, "g = 'g1'")    # pruned: overwrite_partitions
    p.delete_where(spark, "g = 'nope'")                  # metadata only
    p.delete_where(spark, "v = 'b'")                     # full rewrite
    p.rollback(p.history()[0]["snapshot"])
    u = LakeTable(str(tmp_path), "u")
    u.overwrite(df)
    u.merge_into(df, on=["k"])                           # unpartitioned
    u.append(df)
    entries = p.history() + u.history()
    assert {e["op"].split(":")[0] for e in entries} == {
        "merge", "append", "overwrite_partitions", "delete", "rollback",
        "overwrite"}
    assert len(entries) == 11
    for e in entries:
        names = StructType.fromJson(json.loads(e["schema"])).fieldNames()
        assert names[:3] == ["k", "g", "v"], (e["op"], names)
    assert p.current_entry()["carried_partitions"] == 2   # rollback


def test_delete_where_prunes_partitions(spark, tbl):
    """A DELETE whose predicate constrains partition columns rewrites
    only matching partitions; the rest are carried by reference with
    files byte-untouched on disk."""
    import os

    df = spark.createDataFrame(
        [("g1", 1, "a"), ("g1", 2, "b"), ("g2", 3, "c"), ("g3", 4, "d")],
        "g string, k int, v string",
    )
    tbl.overwrite(df, partition_by=["g"])
    before = {k: list(v) for k, v in tbl.current_entry()["partition_dirs"].items()}
    mtimes = {
        p: os.path.getmtime(os.path.join(tbl.dir, p))
        for ps in before.values() for p in ps
    }
    tbl.delete_where(spark, "g = 'g1' AND k = 1")
    e = tbl.current_entry()
    # g2/g3 carried verbatim, g1 rewritten
    assert e["partition_dirs"]["g2"] == before["g2"]
    assert e["partition_dirs"]["g3"] == before["g3"]
    assert e["partition_dirs"]["g1"] != before["g1"]
    for p in before["g2"] + before["g3"]:
        assert os.path.getmtime(os.path.join(tbl.dir, p)) == mtimes[p]
    assert rows(tbl.read(spark)) == [("g1", 2, "b"), ("g2", 3, "c"),
                                     ("g3", 4, "d")]


def test_delete_where_data_column_falls_back(spark, tbl):
    """Predicate on a non-partition column cannot be scoped -> full
    rewrite, still correct."""
    df = spark.createDataFrame([("g1", 1, "x"), ("g2", 2, "y")],
                               "g string, k int, v string")
    tbl.overwrite(df, partition_by=["g"])
    tbl.delete_where(spark, "v = 'x'")
    assert rows(tbl.read(spark)) == [("g2", 2, "y")]


def test_delete_where_no_match_is_metadata_only(spark, tbl):
    """A partition-column predicate matching nothing commits pure
    metadata: every partition carried, batch_id recorded for resume."""
    df = spark.createDataFrame([("g1", 1, "x")], "g string, k int, v string")
    tbl.overwrite(df, partition_by=["g"])
    before = tbl.current_entry()["partition_dirs"]
    out = tbl.delete_where(spark, "g = 'nope'", batch_id="del1")
    assert out["partition_dirs"] == before
    assert out["carried_partitions"] == 1
    assert tbl.delete_where(spark, "g = 'nope'", batch_id="del1").get("skipped")
    assert rows(tbl.read(spark)) == [("g1", 1, "x")]


def test_vacuum_folds_lineage(spark, tbl):
    """A long stream of commits keeps an O(keep_last) manifest after
    vacuum; folded batch ids still dedupe replays (idempotent resume)."""
    for s in range(8):
        df = spark.createDataFrame([(s, "g", "v")], "k int, g string, v string")
        tbl.merge_into(df, on=["k"], partition_by=["g"], batch_id=f"b{s}")
    tbl.vacuum(keep_last=2)
    assert len(tbl.history()) <= 2
    # every folded batch id still recognized -> replay is a no-op
    for s in range(8):
        assert f"b{s}" in tbl.applied_batches()
        r = tbl.merge_into(
            spark.createDataFrame([(99, "g", "X")], "k int, g string, v string"),
            on=["k"], partition_by=["g"], batch_id=f"b{s}")
        assert r.get("skipped")
    assert sorted(r[0] for r in tbl.read(spark).collect()) == list(range(8))


def test_time_travel_read(spark, tbl):
    """read(as_of=snapshot) reads a historical version byte-for-byte;
    unknown / vacuumed snapshots raise."""
    tbl.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    s1 = tbl.current_snapshot()
    tbl.merge_into(
        spark.createDataFrame([(1, "A"), (2, "b")], "k int, v string"),
        on=["k"])
    s2 = tbl.current_snapshot()
    tbl.merge_into(
        spark.createDataFrame([(3, "c")], "k int, v string"), on=["k"])

    assert rows(tbl.read(spark, as_of=s1)) == [(1, "a")]
    assert rows(tbl.read(spark, as_of=s2)) == [(1, "A"), (2, "b")]
    assert rows(tbl.read(spark)) == [(1, "A"), (2, "b"), (3, "c")]
    # time travel agrees with rollback (metadata-only on both paths)
    tbl.rollback(s2)
    assert rows(tbl.read(spark)) == rows(tbl.read(spark, as_of=s2))
    with pytest.raises(ValueError):
        tbl.read(spark, as_of="snap-does-not-exist")


def test_schema_evolution_add_column(spark, tbl):
    """Iceberg add-column evolution: a later append may carry a new
    column — files written before it project NULL (schema-on-read via
    the manifest-pinned schema, no file rewrite); a batch missing an
    existing column lands as NULL for its rows."""
    tbl.append(spark.createDataFrame([(1, "a")], "k int, v string"),
               partition_by=["k"])
    tbl.append(spark.createDataFrame([(2, "b", 9.5)],
                                     "k int, v string, score double"),
               partition_by=["k"], evolve_schema=True)
    got = rows(tbl.read(spark))
    assert got == [(1, "a", None), (2, "b", 9.5)]
    # writer-side column drop: the table keeps the column, rows are NULL
    tbl.append(spark.createDataFrame([(3, 1.5)], "k int, score double"),
               partition_by=["k"])
    got = rows(tbl.read(spark))
    assert got == [(1, "a", None), (2, "b", 9.5), (3, None, 1.5)]
    # time travel sees the OLD schema (evolution is per-snapshot)
    first = tbl.history()[0]["snapshot"]
    assert tbl.read(spark, as_of=first).columns == ["k", "v"]


def test_schema_evolution_survives_merge_and_unpartitioned(spark, tbl):
    """Evolution composes with merge_into (partitioned carry + rewrite)
    and with unpartitioned appends (union with missing columns)."""
    tbl.append(spark.createDataFrame([(1, "a"), (2, "b")],
                                     "k int, v string"),
               partition_by=["k"])
    tbl.merge_into(
        spark.createDataFrame([(2, "B", "x")], "k int, v string, tag string"),
        on=["k"], partition_by=["k"], evolve_schema=True)
    assert rows(tbl.read(spark)) == [(1, "a", None), (2, "B", "x")]
    u = LakeTable(tbl.dir.rsplit("/", 1)[0], "u")
    u.append(spark.createDataFrame([(1, "a")], "k int, v string"))
    u.append(spark.createDataFrame([(2, 7)], "k int, n int"),
             evolve_schema=True)
    assert rows(u.read(spark)) == [(1, "a", None), (2, None, 7)]


def test_schema_evolution_is_opt_in_and_type_safe(spark, tbl):
    """A batch adding a column WITHOUT evolve_schema=True must error
    (a typo'd producer column must not silently fork a junk column and
    NULL the real one); a batch whose column type contradicts the
    pinned schema must error at write time (committing it would leave
    the table unreadable)."""
    tbl.append(spark.createDataFrame([(1, "a")], "k int, v string"),
               partition_by=["k"])
    with pytest.raises(ValueError, match="evolve_schema"):
        tbl.append(spark.createDataFrame([(2, "b", "oops")],
                                         "k int, v string, vlaue string"),
                   partition_by=["k"])
    with pytest.raises(ValueError, match="evolve_schema"):
        tbl.merge_into(spark.createDataFrame([(1, "A", 1)],
                                             "k int, v string, extra int"),
                       on=["k"], partition_by=["k"])
    with pytest.raises(ValueError, match="type"):
        tbl.append(spark.createDataFrame([(3, 7)], "k int, v int"),
                   partition_by=["k"])
    # the failed writes committed nothing
    assert rows(tbl.read(spark)) == [(1, "a")]


def test_delete_where_fallback_keeps_partition_layout(spark, tbl):
    """A data-column DELETE that cannot prune must NOT de-partition the
    table: the rewritten snapshot keeps the recorded partition spec so
    partition-scoped reads and merges keep working."""
    tbl.append(spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1)], "k int, v string, pk int"),
        partition_by=["pk"])
    tbl.delete_where(spark, "v = 'a'")
    entry = tbl.current_entry()
    assert entry.get("partition_spec") == ["pk"]
    assert rows(tbl.read_partitions(spark, ["1"])) == [(2, "b", 1)]
    assert rows(tbl.read(spark)) == [(2, "b", 1)]


def test_merge_on_read_snapshot_is_refused(spark, tbl):
    """A lineage entry with a ``mor`` spec (written by the removed
    merge-on-read mode) holds unresolved rows: raw ``_seq``/``_tomb``
    columns and superseded versions. Reads and commits must refuse it,
    not return those rows."""
    import json

    df = spark.createDataFrame([(1, "g", "a")], "k int, g string, v string")
    tbl.merge_into(df, on=["k"], partition_by=["g"])
    first = tbl.current_snapshot()
    tbl.merge_into(df, on=["k"], partition_by=["g"])
    m = json.loads(open(tbl.manifest_path, encoding="utf-8").read())
    for e in m["lineage"]:
        e["mor"] = {"key": ["k"], "policy": "last"}
    tbl._commit(m)
    with pytest.raises(ValueError, match="merge-on-read"):
        tbl.read(spark)
    with pytest.raises(ValueError, match="merge-on-read"):
        tbl.read(spark, as_of=first)
    with pytest.raises(ValueError, match="merge-on-read"):
        tbl.read_partitions(spark, ["g"])
    with pytest.raises(ValueError, match="merge-on-read"):
        tbl.merge_into(df, on=["k"], partition_by=["g"])
    # the refused merge committed nothing
    assert len(tbl.history()) == 2


def test_partition_spec_mismatch_is_loud(spark, tbl):
    """Writing with a different partition_by than the table's recorded
    spec (or none at all) must error — mixed key shapes corrupt the
    manifest's partition index and partition-scoped merges then miss
    partitions silently."""
    tbl.append(spark.createDataFrame(
        [(1, "a", 0)], "k int, v string, pk int"), partition_by=["pk"])
    df = spark.createDataFrame([(2, "b", 1)], "k int, v string, pk int")
    with pytest.raises(ValueError, match="partition spec"):
        tbl.append(df, partition_by=["pk", "k"])
    with pytest.raises(ValueError, match="partition spec"):
        tbl.append(df)
    with pytest.raises(ValueError, match="partition spec"):
        tbl.merge_into(df, on=["k"], partition_by=["k"])


# ---------------------------------------------------------------------------
# round-5 storage review regressions
# ---------------------------------------------------------------------------


def test_delete_where_null_tolerant_predicate_not_pruned(spark, tbl):
    """'v IS NOT NULL' evaluated FALSE on the NULL-substituted key
    frame, so every partition was pruned and the DELETE silently
    no-oped (r5 review finding). Null-tolerant predicates must take
    the full-rewrite path."""
    df = spark.createDataFrame(
        [("g1", 1, "x"), ("g2", 2, None)], "g string, k int, v string")
    tbl.overwrite(df, partition_by=["g"])
    tbl.delete_where(spark, "v IS NOT NULL")
    rows = tbl.read(spark).collect()
    assert len(rows) == 1 and rows[0]["v"] is None


def test_empty_string_partition_value_raises(spark, tbl):
    df = spark.createDataFrame([("", 1)], "g string, k int")
    with pytest.raises(ValueError):
        tbl.merge_into(df, on=["k"], partition_by=["g"])


def test_merge_into_validates_policy_before_first_commit(spark, tbl):
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    with pytest.raises(ValueError):
        tbl.merge_into(df, on=["k"], when_matched="replace")
    assert not tbl.exists()      # nothing committed under the typo


def test_commit_writes_carry_batch_id_as_job_description(spark, tbl,
                                                          monkeypatch):
    """Each commit's write job is described by its batch id (so the
    event log says which commit a job served, even when commits run
    side by side), and the caller's own description comes back after."""
    from pyspark.sql import DataFrameWriter

    sc = spark.sparkContext
    seen = []
    real = DataFrameWriter.parquet

    def spy(self, *a, **kw):
        seen.append(sc.getLocalProperty("spark.job.description"))
        return real(self, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    sc.setJobDescription("caller")
    try:
        tbl.overwrite(df, batch_id="b/first")
        tbl.merge_into(df, on=["k"], batch_id="b/merge", partition_by=None)
        tbl.overwrite(df)
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
    assert seen == ["b/first", "b/merge", "caller"]
