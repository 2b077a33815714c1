# -*- coding: utf-8 -*-
"""LakeTable — a thin Iceberg-style table layer over partitioned parquet.

The north-star pipeline needs ``MERGE INTO`` node/edge tables with
snapshot isolation and idempotent resume (BASELINE.json north_rule);
the sandbox's pyspark 4.1.2 ships no Iceberg/Delta jars, so this module
provides the minimal equivalent:

- immutable parquet **snapshots** under ``<root>/<name>/snap-NNNNNN/``
- a JSON **manifest** holding the current-snapshot pointer, lineage
  (one entry per commit: operation, parent, row counts, applied batch
  ids) and user counters, committed via atomic ``os.replace``
- **partition-scoped commits** (the Iceberg behavior that matters at
  100 TB): a partitioned ``merge_into``/``append`` rewrites ONLY the
  partitions the batch touches; untouched partition directories are
  carried forward in the manifest *by reference* — their files are
  never read, rewritten, or copied. ``append`` on a partitioned table
  adds new files without reading the current snapshot at all.
- ``merge_into`` with Iceberg-like WHEN MATCHED semantics
- **one commit mode, copy-on-write**: a commit writes the rewritten
  partitions' final rows, so a snapshot's files ARE its rows and a
  read never resolves versions. (Lineage entries written by the
  removed merge-on-read mode carry a ``mor`` spec; reads and commits
  refuse them, see ``_check_copy_on_write``.)
- **idempotent batch application**: every write can carry a
  ``batch_id``; re-applying an already-committed batch is a no-op, so
  any stage resumes safely after a crash (at-least-once driver, exactly
  -once table state)

Partition layout: rows are bucketed by a synthetic ``_pk`` string
column (``"|".join(partition values)``) so the data files keep every
user column; the manifest maps partition key -> list of directory
references (possibly spanning snapshots). Keys must be non-null,
non-EMPTY, and must not contain ``"|"`` (graph ids, url-hash buckets
— the engine's partition columns — satisfy this by construction; an
empty string would be written as Hive's __HIVE_DEFAULT_PARTITION__
and desynchronize the manifest index from the directory names —
``_check_keys`` refuses such a key, both on a collected key set and
on the directories a write produced).

On a real cluster this class is swapped for
``spark.sql("MERGE INTO ...")`` against Iceberg; the call sites are
shaped so that swap is mechanical. The reference's per-row Neo4j MERGE
round-trips (/root/reference/backend/kgapi/kg_writer.py:20-32,36-68)
are replaced by set-based joins — intentional divergence, SURVEY.md §7.4.

Concurrency note: single writer per table (the pipeline commits
different tables from concurrent driver threads, never one table from
two). Readers always see a complete snapshot because the manifest
pointer flips atomically after the snapshot directory is fully written.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import urllib.parse
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..session import job_description

_PK = "_pk"


class LakeTable:
    def __init__(self, root: str, name: str):
        self.dir = os.path.join(root, name)
        self.manifest_path = os.path.join(self.dir, "_manifest.json")

    # ---- manifest ----------------------------------------------------

    def exists(self) -> bool:
        return os.path.exists(self.manifest_path)

    def _manifest(self) -> dict:
        with open(self.manifest_path, "r", encoding="utf-8") as f:
            return json.load(f)

    def _commit(self, manifest: dict) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(manifest, f, ensure_ascii=False, indent=1)
        os.replace(tmp, self.manifest_path)  # atomic pointer swap

    def current_snapshot(self) -> Optional[str]:
        if not self.exists():
            return None
        return self._manifest()["current"]

    def current_entry(self) -> Optional[dict]:
        if not self.exists():
            return None
        m = self._manifest()
        for e in reversed(m["lineage"]):
            if e["snapshot"] == m["current"]:
                return self._check_copy_on_write(e)
        return None

    def _check_copy_on_write(self, entry: dict) -> dict:
        """Every read and commit takes its entry from here or
        :meth:`_entry_for`. An entry with a ``mor`` spec was written by
        the removed merge-on-read path: its files hold raw ``_seq`` /
        ``_tomb`` rows and superseded versions that only read-time
        resolution hid, so the table is refused, not read."""
        if entry.get("mor"):
            raise ValueError(
                f"{self.dir}: {entry['snapshot']} is a merge-on-read "
                "snapshot; that commit mode was removed and its rows are "
                "unresolved — rebuild the table with overwrite() or re-run "
                "the pipeline into a fresh warehouse")
        return entry

    def applied_batches(self) -> set[str]:
        if not self.exists():
            return set()
        m = self._manifest()
        out = {e["batch_id"] for e in m["lineage"] if e.get("batch_id")}
        # batch ids of lineage entries folded away by vacuum() — the
        # idempotence guarantee outlives the detailed history
        out.update(m.get("applied_batch_archive") or [])
        return out

    def history(self) -> list[dict]:
        return self._manifest()["lineage"] if self.exists() else []

    # ---- read --------------------------------------------------------

    def read(self, spark: SparkSession,
             as_of: Optional[str] = None) -> DataFrame:
        """Scan the current snapshot, or — with ``as_of`` — a named
        historical one (Iceberg ``VERSION AS OF`` time travel). Pure
        metadata: the lineage entry IS the file listing, so reading an
        old version opens exactly its files; ``vacuum(keep_last=N)``
        bounds how far back reads can reach (older entries' files are
        reclaimed and their lineage folded away).

        The scan applies the entry's pinned schema explicitly — files
        written before a column was added project NULL for it (Iceberg
        schema-on-read add-column evolution), and the reader never
        footer-samples to infer a schema."""
        entry = (self.current_entry() if as_of is None
                 else self._entry_for(as_of))
        if entry is None:
            raise FileNotFoundError(f"LakeTable {self.dir} has no snapshot")
        dirs = entry.get("partition_dirs")
        reader = self._reader(spark, entry)
        if dirs is None:
            return reader.parquet(os.path.join(self.dir, entry["snapshot"]))
        return reader.parquet(
            *[os.path.join(self.dir, p) for ps in dirs.values() for p in ps])

    @staticmethod
    def _reader(spark: SparkSession, entry: dict):
        """DataFrameReader with the entry's pinned schema applied —
        schema-on-read: missing columns in old files read as NULL, and
        no footer sampling happens at plan time."""
        return spark.read.schema(StructType.fromJson(json.loads(entry["schema"])))

    def _merge_schema(self, old_json: str, df: DataFrame) -> str:
        """Union of the recorded table schema and the batch's schema:
        existing columns keep their position, new columns append at the
        end (add-column evolution). A batch whose column TYPE
        contradicts the table's raises at write time — committing it
        would land files the pinned schema can't read (a committed-but-
        unreadable table is strictly worse than a failed write)."""
        old = StructType.fromJson(json.loads(old_json))
        by_name = {f.name: f for f in old.fields}
        for f in df.schema.fields:
            prev = by_name.get(f.name)
            if prev is not None and prev.dataType != f.dataType:
                raise ValueError(
                    f"{self.dir}: column {f.name!r} arrives as "
                    f"{f.dataType.simpleString()} but the table schema "
                    f"pins {prev.dataType.simpleString()} — type changes "
                    "are not add-column evolution")
        fields = list(old.fields)
        fields += [f for f in df.schema.fields if f.name not in by_name]
        return StructType(fields).json()

    def _check_partition_spec(self, entry: Optional[dict],
                              partition_by: Optional[list[str]]) -> None:
        """A write's partition_by must match the table's recorded
        partition spec: a mismatched spec would mix differently-shaped
        keys in one partition_dirs index ('g|3' vs 'g'), after which
        every prefix-matched prune (partition-scoped merges, DELETE
        reach) indexes the wrong key positions and silently misses
        partitions it should rewrite. A partitioned table also cannot
        be appended/merged unpartitioned (that path would de-partition
        it on the next full rewrite). ``overwrite`` is exempt: it
        replaces the whole layout deliberately."""
        spec = (entry or {}).get("partition_spec")
        if spec is None:
            return
        if partition_by is None or list(partition_by) != list(spec):
            raise ValueError(
                f"{self.dir}: partition_by={list(partition_by) if partition_by else None} "
                f"conflicts with the table's recorded partition spec "
                f"{list(spec)} — pass the recorded spec (or overwrite() "
                "to re-layout)")

    def _check_evolution(self, entry: Optional[dict], df: DataFrame,
                         evolve: bool) -> None:
        """Reject ACCIDENTAL new columns: adding one is schema evolution
        and must be opted into (``evolve_schema=True``) — a typo'd
        column name in a producer batch must error, not silently fork a
        junk column while NULLing the real one (table formats like
        Iceberg gate evolution behind explicit DDL for the same
        reason). Writer-side MISSING columns stay allowed: they land as
        NULL (nullable add-column is safe in that direction)."""
        if evolve or entry is None:
            return
        have = {f["name"] for f in json.loads(entry["schema"])["fields"]}
        extra = [c for c in df.columns if c not in have]
        if extra:
            raise ValueError(
                f"{self.dir}: batch adds column(s) {extra} not in the "
                "table schema — pass evolve_schema=True to add them, or "
                "fix the producer")

    def _entry_for(self, snapshot: str) -> dict:
        """Latest non-skipped lineage entry for ``snapshot``; raises if
        vacuum already folded it away (its files are gone too)."""
        target = next(
            (e for e in reversed(self.history())
             if e["snapshot"] == snapshot and not e.get("skipped")), None
        )
        if target is None:
            raise ValueError(
                f"{self.dir}: no readable lineage entry for {snapshot!r} "
                f"(never committed, or reclaimed by vacuum)")
        return self._check_copy_on_write(target)

    def read_partitions(self, spark: SparkSession, keys: list[str]) -> Optional[DataFrame]:
        """Scan only the named partitions (planning-time pruning: the
        manifest IS the partition index, unlisted files are never
        opened)."""
        entry = self.current_entry()
        dirs = (entry or {}).get("partition_dirs") or {}
        paths = [os.path.join(self.dir, p) for k in keys for p in dirs.get(k, [])]
        if not paths:
            return None
        return self._reader(spark, entry).parquet(*paths)

    # ---- write primitives ---------------------------------------------

    def _next_snap_id(self) -> int:
        return (self._manifest()["snap_id"] + 1) if self.exists() else 1

    @staticmethod
    def _pk_col(partition_by: list[str]):
        return F.concat_ws("|", *[F.col(c).cast("string") for c in partition_by])

    @staticmethod
    def _footer_rows(path: str) -> int:
        """Row count from parquet footers — no Spark job. (On a real
        cluster this comes from the write task commit stats.)"""
        import pyarrow.parquet as pq

        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        return total

    # files per partition key when the write does not know how many
    # keys it touches (see _persist)
    WRITE_SALT = 4

    # replay horizon for vacuum-folded batch ids (see vacuum())
    ARCHIVE_KEEP = 10_000

    def _persist(self, df: DataFrame, snap_name: str,
                 partition_by: Optional[list[str]],
                 n_keys: Optional[int] = None,
                 batch_id: Optional[str] = None):
        """Write df under snap_name. Returns (partition_dirs, partition_rows,
        rows) — the first two None when unpartitioned.

        ``n_keys``: number of partition keys this write touches, when the
        caller knows it. ``batch_id`` becomes the write's Spark job
        description, so the event log says which commit a job served.

        One fan-out rule (Iceberg's ``write.distribution-mode``):

        - A one-key write (``n_keys == 1``: a graph-scoped commit)
          writes from its input's own partitions, no shuffle: each
          input task writes one file into the key's directory, so the
          write runs as wide as its input and writes as many files as
          the input has non-empty partitions.
        - Any other write runs through ``par`` tasks (the larger of
          shuffle partitions and default parallelism), and each key
          spreads over ``ceil(par / n_keys)`` writers — WRITE_SALT when
          n_keys is unknown. Rows are repartitioned on (key, salt), so
          each (key, salt) pair lands wholly in one task and a key
          writes at most salt files; without it every input task would
          write a file per key (16 url buckets × input partitions).
          The count is explicit (REPARTITION_BY_NUM): AQE re-coalesces
          a column-only repartition toward its advisory size, which
          funnels a small write through 1-2 tasks."""
        path = os.path.join(self.dir, snap_name)
        spark = df.sparkSession
        writer = df.write
        if partition_by:
            df = df.withColumn(_PK, self._pk_col(partition_by))
            if n_keys != 1:
                par = max(int(spark.conf.get("spark.sql.shuffle.partitions")),
                          spark.sparkContext.defaultParallelism)
                salt_n = -(-par // n_keys) if n_keys else self.WRITE_SALT
                salt = (F.rand(0) * salt_n).cast("int")
                df = df.repartition(par, F.col(_PK), salt)
            writer = df.write.partitionBy(_PK)
        # the description is a thread-local property, so commits on
        # concurrent threads tag their own jobs
        with job_description(spark, batch_id):
            writer.mode("overwrite").parquet(path)
        if not partition_by:
            return None, None, self._footer_rows(path)
        by_key = {urllib.parse.unquote(d[len(_PK) + 1:]): d
                  for d in os.listdir(path) if d.startswith(_PK + "=")}
        # zero-job write-side validation, for the writes that never
        # collected their keys: refuse the commit while the snapshot
        # dir is still orphaned (never referenced by a manifest)
        self._check_keys(by_key, partition_by)
        # per-partition lineage counters (north-star requirement) from
        # the written footers — zero Spark jobs
        dirs = {k: [f"{snap_name}/{d}"] for k, d in by_key.items()}
        counts = {k: self._footer_rows(os.path.join(path, d))
                  for k, d in by_key.items()}
        return dirs, counts, sum(counts.values())

    def _commit_entry(self, op: str, batch_id: Optional[str],
                      counters: Optional[dict], snap_name: str, rows: int,
                      partition_dirs=None, partition_rows=None,
                      carried: int = 0,
                      partition_by: Optional[list[str]] = None,
                      schema: Optional[str] = None) -> dict:
        manifest = self._manifest() if self.exists() else {
            "table": self.dir, "snap_id": 0, "current": None, "lineage": [],
        }
        entry = {
            "snapshot": snap_name,
            "parent": manifest["current"],
            "op": op,
            "batch_id": batch_id,
            "rows": rows,
            "counters": counters or {},
            "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        if partition_dirs is not None:
            entry["partition_dirs"] = partition_dirs
            entry["partition_rows"] = partition_rows
            entry["carried_partitions"] = carried
            if partition_by is not None:
                entry["partition_spec"] = list(partition_by)
        if schema is not None:
            entry["schema"] = schema
        # monotonic even when a commit re-points at an older snapshot
        # (metadata-only delete after a rollback): the next write must
        # not collide with directories still on disk
        manifest["snap_id"] = max(manifest["snap_id"],
                                  int(snap_name.split("-")[1]))
        manifest["current"] = snap_name
        manifest["lineage"].append(entry)
        self._commit(manifest)
        return entry

    def _write_snapshot(
        self, df: DataFrame, op: str, batch_id: Optional[str],
        counters: Optional[dict] = None, partition_by: Optional[list[str]] = None,
        n_keys: Optional[int] = None,
        entry: Optional[dict] = None, replaced: Optional[set[str]] = None,
    ) -> dict:
        """Write df as a new snapshot and commit it: every write ends
        here. Without ``entry`` df is the whole table. With the current
        ``entry`` of a partitioned table, df's partitions join the
        table's others: the keys in ``replaced`` and every key df
        writes are dropped, the rest carried forward by reference
        (their files untouched). ``replaced=None`` appends instead:
        df's directories extend each key's existing ones."""
        snap_name = f"snap-{self._next_snap_id():06d}"
        dirs, counts, rows = self._persist(df, snap_name, partition_by, n_keys,
                                           batch_id)
        schema, carried = df.schema.json(), 0
        if entry is not None:
            schema = self._merge_schema(entry["schema"], df)
            drop = set() if replaced is None else set(replaced) | set(dirs)
            merged = {k: list(v) for k, v in entry["partition_dirs"].items()
                      if k not in drop}
            merged_rows = {k: entry["partition_rows"].get(k, 0) for k in merged}
            carried = len(merged.keys() - dirs.keys())
            for k, paths in dirs.items():
                merged.setdefault(k, []).extend(paths)
                merged_rows[k] = merged_rows.get(k, 0) + counts[k]
            dirs, counts, rows = merged, merged_rows, sum(merged_rows.values())
        return self._commit_entry(op, batch_id, counters, snap_name, rows,
                                  dirs, counts, carried=carried,
                                  partition_by=partition_by, schema=schema)

    # ---- partition-key helpers ----------------------------------------

    @staticmethod
    def _check_keys(keys, partition_by: list[str]) -> None:
        """THE partition-key rule. A NULL value (concat_ws drops its
        segment; a write names it __HIVE_DEFAULT_PARTITION__) or an
        empty string (written as Hive's default partition, never
        matching the manifest's '' key) would silently desynchronize
        the manifest's key index from the written directories."""
        bad = [k for k in keys
               if k == "__HIVE_DEFAULT_PARTITION__"
               or k.count("|") != len(partition_by) - 1
               or "" in k.split("|")]
        if bad:
            raise ValueError(
                f"invalid partition key values {sorted(bad)[:5]} for "
                f"spec {partition_by}: partition columns must be "
                "non-null, non-empty strings without '|'")

    @staticmethod
    def _keys_of(df: DataFrame, partition_by: list[str]) -> set[str]:
        """Distinct partition keys present in df (small collect: one
        string per touched partition). Uses THE _pk_col encoding — the
        manifest index and the written directory keys must stay
        byte-identical or partition-scoped merges silently miss."""
        pk = LakeTable._pk_col(partition_by)
        keys = {r["k"] for r in
                df.select(pk.alias("k")).distinct().collect()}
        LakeTable._check_keys(keys, partition_by)
        return keys

    @staticmethod
    def _match_subset(old_keys, partition_by, key_df: DataFrame) -> set[str]:
        """Partitions whose values on key_df's columns match any key_df
        row — the DELETE-side reach when the merge key is a strict
        subset of the partition spec (e.g. refresh-whole-graph on a
        (graph_id, url_bucket)-partitioned table). A key sharing NO
        column with the partition spec matches every partition: such a
        merge cannot be scoped (the key could live anywhere)."""
        common = [(i, c) for i, c in enumerate(partition_by)
                  if c in key_df.columns]
        wanted = {
            tuple(str(r[c]) for _, c in common)
            for r in key_df.select(*[c for _, c in common]).distinct().collect()
        }
        out = set()
        for k in old_keys:
            parts = k.split("|")
            if tuple(parts[i] for i, _ in common) in wanted:
                out.add(k)
        return out

    # ---- public ops ----------------------------------------------------

    def overwrite(
        self, df: DataFrame, batch_id: Optional[str] = None,
        counters: Optional[dict] = None, partition_by: Optional[list[str]] = None,
    ) -> dict:
        if batch_id and batch_id in self.applied_batches():
            return {"skipped": True, "batch_id": batch_id}
        return self._write_snapshot(df, "overwrite", batch_id, counters, partition_by)

    def append(
        self, df: DataFrame, batch_id: Optional[str] = None,
        counters: Optional[dict] = None, partition_by: Optional[list[str]] = None,
        evolve_schema: bool = False,
    ) -> dict:
        """Fast append. On a partitioned table this is a pure file add:
        the new rows are written as fresh directories and the manifest
        carries every existing directory forward by reference — the
        current snapshot is NEVER read (Iceberg append semantics).
        Unpartitioned tables are rewritten as a read+union."""
        if batch_id and batch_id in self.applied_batches():
            return {"skipped": True, "batch_id": batch_id}
        entry = self.current_entry()
        self._check_evolution(entry, df, evolve_schema)
        self._check_partition_spec(entry, partition_by)
        if partition_by and (entry is None
                             or entry.get("partition_dirs") is not None):
            # n_keys picks the write's fan-out: a single-key batch
            # writes from its own partitions instead of funnelling
            # through WRITE_SALT tasks; the distinct-keys probe is one
            # tiny job against a batch-sized frame
            return self._write_snapshot(
                df, "append", batch_id, counters, partition_by,
                n_keys=len(self._keys_of(df, partition_by)) or None,
                entry=entry)
        if entry is not None:
            df = self.read(df.sparkSession).unionByName(
                df, allowMissingColumns=True)
        return self._write_snapshot(df, "append", batch_id, counters,
                                    partition_by)

    def merge_into(
        self,
        updates: DataFrame,
        on: list[str],
        when_matched: str = "update",
        batch_id: Optional[str] = None,
        counters: Optional[dict] = None,
        partition_by: Optional[list[str]] = None,
        touched_keys: Optional[list[str]] = None,
        evolve_schema: bool = False,
    ) -> dict:
        """Iceberg-style MERGE:

        - ``when_matched="update"``  — MATCHED THEN UPDATE, NOT MATCHED
          THEN INSERT. Node-table semantics (reference MERGE..SET,
          kg_writer.py:24-25). It is a key-scoped replace: ALL current
          rows sharing a key present in the batch are replaced by the
          batch's rows for that key.
        - ``when_matched="ignore"``  — ON CREATE only: matched rows keep
          their existing values, unmatched are inserted. Edge-table
          semantics (reference ON CREATE SET, kg_writer.py:56-57).

        ``updates`` is not deduplicated on the merge key: the engine's
        batches are key-unique by construction (crawl snapshots are
        url-keyed, node ids are url-hash-namespaced, edges are deduped
        on their key), so a deduplicating shuffle would buy nothing. A
        batch that repeats a key lands every one of its rows for it.

        ``partition_by``: partition-scoped commit. Only partitions whose
        key appears in ``updates`` are read and rewritten; every other
        partition directory is carried forward by manifest reference
        (its files untouched on disk). The merge key may be a strict
        subset of the partition spec (the reach is then computed by
        prefix match over the manifest's partition index).

        ``touched_keys``: caller-declared SUPERSET of the partition keys
        this batch can touch (format ``"v1|v2"``). Skips the
        touched-key discovery job — which otherwise recomputes
        ``updates`` once just to enumerate its partitions. Must cover
        every partition the merge writes to or deletes from; declaring
        extra keys only costs re-writing those partitions verbatim.
        """
        if when_matched not in ("update", "ignore"):
            # validate BEFORE the first write: merged only runs once
            # the table exists, so a typo'd policy would commit the
            # first batch under op 'merge:<typo>' and only fail on
            # batch two
            raise ValueError(f"unknown when_matched: {when_matched}")
        if batch_id and batch_id in self.applied_batches():
            return {"skipped": True, "batch_id": batch_id}
        op = f"merge:{when_matched}"
        if not self.exists():
            return self._write_snapshot(
                updates, op, batch_id, counters, partition_by,
                n_keys=len(touched_keys) if touched_keys else None,
            )
        entry = self.current_entry()
        self._check_evolution(entry, updates, evolve_schema)
        self._check_partition_spec(entry, partition_by)
        spark = updates.sparkSession
        old_dirs = entry.get("partition_dirs")
        if not (partition_by and old_dirs is not None):
            result = self.merged(self.read(spark), updates, on, when_matched)
            return self._write_snapshot(result, op, batch_id, counters,
                                        partition_by)
        # the partitions this commit must rewrite
        if touched_keys is not None:
            touched = set(touched_keys)
        else:
            touched = self._keys_of(updates, partition_by)
            if not all(c in on for c in partition_by):
                # merge key narrower than the partition spec: the anti-
                # join can reach any partition matching a key prefix
                touched |= self._match_subset(old_dirs, partition_by,
                                              updates.select(*on))
        current = self.read_partitions(spark, [k for k in touched if k in old_dirs])
        return self._write_snapshot(
            self.merged(current, updates, on, when_matched), op, batch_id,
            counters, partition_by, n_keys=len(touched), entry=entry,
            replaced=touched)

    @staticmethod
    def merged(current: Optional[DataFrame], updates: DataFrame, on: list[str],
               when_matched: str) -> DataFrame:
        """The rows :meth:`merge_into` writes for the partitions it
        rewrites: ``current`` (their old rows, None for none) merged
        with ``updates`` under the ``when_matched`` policy."""
        if current is None:
            return updates
        if when_matched == "update":
            kept = current.join(updates.select(*on), on=on, how="left_anti")
            return kept.unionByName(updates, allowMissingColumns=True)
        fresh = updates.join(current.select(*on), on=on, how="left_anti")
        return current.unionByName(fresh, allowMissingColumns=True)

    def overwrite_partitions(
        self,
        df: DataFrame,
        partition_by: list[str],
        touched_keys: Optional[list[str]] = None,
        batch_id: Optional[str] = None,
        counters: Optional[dict] = None,
        evolve_schema: bool = False,
    ) -> dict:
        """Dynamic partition overwrite (Iceberg INSERT OVERWRITE ...
        PARTITION): every partition named in ``touched_keys`` (or
        present in ``df``) is REPLACED by df's rows wholesale — the old
        partition data is never read, no anti-join runs. The right
        primitive when a stage regenerates a partition's full contents
        (per-graph triples refresh, canonicalization rewrite); plain
        ``merge_into`` pays a read+anti-join for rows that are all
        doomed anyway."""
        if batch_id and batch_id in self.applied_batches():
            return {"skipped": True, "batch_id": batch_id}
        entry = self.current_entry()
        self._check_evolution(entry, df, evolve_schema)
        self._check_partition_spec(entry, partition_by)
        if entry is None or entry.get("partition_dirs") is None:
            return self._write_snapshot(
                df, "overwrite_partitions", batch_id, counters, partition_by,
                n_keys=len(touched_keys) if touched_keys else None,
            )
        touched = set(touched_keys) if touched_keys is not None else \
            self._keys_of(df, partition_by)
        return self._write_snapshot(
            df, "overwrite_partitions", batch_id, counters, partition_by,
            n_keys=len(touched), entry=entry, replaced=touched)

    def rollback(self, snapshot: str) -> dict:
        """Iceberg ``rollback_to_snapshot``: re-commit an older lineage
        entry as current. Pure metadata — no data files move; vacuum's
        reference counting keeps the restored snapshot's files alive."""
        target = self._entry_for(snapshot)
        dirs = target.get("partition_dirs")
        return self._commit_entry(
            f"rollback:{snapshot}", None, None, snapshot, target["rows"],
            dirs, target.get("partition_rows"), carried=len(dirs or {}),
            partition_by=target.get("partition_spec"), schema=target["schema"])

    def _prune_delete_keys(self, spark: SparkSession, condition: str,
                           entry: dict) -> Optional[set[str]]:
        """Partition keys a DELETE predicate can reach, evaluated on the
        manifest's partition index (planning-time prune, zero data
        files opened). Non-partition columns evaluate as NULL, and a
        partition is pruned only when the predicate is definitively
        FALSE for it (three-valued logic: UNKNOWN = could match) — so
        mixed predicates like ``graph_id='g' AND url='u'`` still prune
        to one graph. Keys are evaluated in their canonical string form
        — exact for the engine's partition columns (graph ids, integer
        buckets). Returns None when evaluation fails (unscopeable)."""
        spec = entry.get("partition_spec")
        dirs = entry.get("partition_dirs")
        if not spec or dirs is None:
            return None
        # SOUNDNESS GUARD: the NULL-substitution trick below concludes
        # "cannot match" from a definitive FALSE — valid only when a
        # NULL data column can never produce one. Null-TOLERANT
        # operators (IS [NOT] NULL, <=>, isnull()/isnotnull(),
        # coalesce/ifnull/nvl) return real booleans on the NULL
        # substitute ("v IS NOT NULL" -> FALSE) and would prune
        # partitions whose actual rows match; bail to the full
        # rewrite when any such token appears.
        import re as _re
        if _re.search(
                r"\bis\s+(not\s+)?null\b|<=>|\bisnull\s*\(|"
                r"\bisnotnull\s*\(|\bcoalesce\s*\(|"
                r"\bifnull\s*\(|\bnvl\s*\(",
                condition, _re.IGNORECASE):
            return None
        try:
            keys_df = spark.createDataFrame(
                [tuple(k.split("|")) for k in dirs],
                ", ".join(f"`{c}` string" for c in spec),
            )
            for f in json.loads(entry["schema"])["fields"]:
                if f["name"] not in spec:
                    keys_df = keys_df.withColumn(f["name"], F.lit(None))
            matched = (
                keys_df.withColumn("_m", F.expr(condition))
                .filter(F.col("_m").isNull() | F.col("_m"))
                .collect()
            )
        except Exception:
            return None  # unresolvable/unevaluable -> full rewrite
        return {"|".join(r[c] for c in spec) for r in matched}

    def delete_where(
        self, spark: SparkSession, condition: str,
        batch_id: Optional[str] = None,
    ) -> dict:
        """DELETE FROM t WHERE condition — rewrite keeping the negation
        (Iceberg DELETE equivalent). The reference's DETACH DELETE
        queries (operators/queries, Q7-Q9) are frame transforms and do
        not go through here.

        Partition-pruned: when the predicate resolves against the
        partition columns alone, only partitions that can contain
        matching rows are read and rewritten — the rest are carried by
        manifest reference, byte-untouched (Iceberg metadata-delete
        behavior). Predicates touching data columns and unpartitioned
        tables take the full-rewrite path."""
        if batch_id and batch_id in self.applied_batches():
            return {"skipped": True, "batch_id": batch_id}
        entry = self.current_entry()
        touched = None
        if entry is not None:
            touched = self._prune_delete_keys(spark, condition, entry)
        if touched is not None:
            spec = entry["partition_spec"]
            old_dirs: dict = entry["partition_dirs"]
            touched &= set(old_dirs)  # only partitions that exist
            if not touched:
                # nothing can match: pure-metadata commit carrying every
                # partition forward (records the batch_id for resume)
                return self._commit_entry(
                    f"delete:{condition}", batch_id, None,
                    entry["snapshot"], entry["rows"],
                    dict(old_dirs), dict(entry["partition_rows"]),
                    carried=len(old_dirs), partition_by=spec,
                    schema=entry["schema"],
                )
            cur = self.read_partitions(spark, sorted(touched))
            # SQL DELETE removes rows where the predicate is TRUE; rows
            # evaluating NULL are kept (coalesce, not bare negation)
            kept = cur.filter(~F.coalesce(F.expr(condition), F.lit(False)))
            return self.overwrite_partitions(
                kept, partition_by=spec, touched_keys=sorted(touched),
                batch_id=batch_id,
            )
        current = self.read(spark)
        kept = current.filter(~F.coalesce(F.expr(condition), F.lit(False)))
        # the full-rewrite fallback must keep the table's partition
        # layout: dropping it would silently de-partition the table
        # (read_partitions -> None, partition-scoped merges gone)
        spec = (entry or {}).get("partition_spec")
        return self._write_snapshot(kept, f"delete:{condition}", batch_id,
                                    partition_by=spec)

    def vacuum(self, keep_last: int = 2) -> list[str]:
        """Drop snapshot directories not reachable from the newest
        ``keep_last`` lineage entries. A directory is reachable if it
        is one of those snapshots OR any of their ``partition_dirs``
        references points into it (carried-forward partitions keep
        their donor snapshot alive — reference counting, like Iceberg's
        expire_snapshots honoring live manifests).

        Also FOLDS the expired lineage entries: their batch ids move to
        a compact ``applied_batch_archive`` set (idempotent-resume
        checks still see them) and the detailed entries are dropped, so
        a month-long micro-batch stream keeps an O(keep_last) manifest
        instead of one entry per table per batch. Rollback targets are
        therefore limited to the retained history — the same contract
        as Iceberg's expire_snapshots."""
        if not self.exists():
            return []
        m = self._manifest()
        entries = [e for e in m["lineage"] if not e.get("skipped")]
        keep = entries[-keep_last:]
        live = {m["current"]}
        for e in keep:
            live.add(e["snapshot"])
            for paths in (e.get("partition_dirs") or {}).values():
                for p in paths:
                    live.add(p.split("/", 1)[0])
        # removal walks the FILESYSTEM, not the lineage: a donor dir can
        # outlive its (folded) lineage entry while carried partitions
        # reference it — once the last reference goes, no entry names it
        # anymore, so a lineage-driven loop would leak it forever
        removed = []
        for s in sorted(os.listdir(self.dir)):
            if not s.startswith("snap-") or s in live:
                continue
            p = os.path.join(self.dir, s)
            if os.path.isdir(p):
                shutil.rmtree(p)
                removed.append(s)
        # fold expired entries (everything before the keep window) into
        # the archive; directories may outlive their entry (carried-
        # partition donors) — reachability above is directory-based, so
        # folding the entry never drops live files
        expired = entries[:-keep_last] if keep_last > 0 else entries
        if expired:
            archive = list(m.get("applied_batch_archive") or [])
            seen = set(archive)
            for e in expired:
                b = e.get("batch_id")
                if b and b not in seen:
                    archive.append(b)
                    seen.add(b)
            # the archive is insertion-ordered and CAPPED — otherwise it
            # just relocates the unbounded growth it exists to prevent.
            # Contract: replay detection covers the most recent
            # ARCHIVE_KEEP folded batches; that horizon is orders of
            # magnitude beyond any real replay depth (Structured
            # Streaming re-delivers only the last uncommitted batch
            # from its checkpoint; batch drivers resume the current run)
            m["applied_batch_archive"] = archive[-self.ARCHIVE_KEEP:]
            kept_set = {id(e) for e in keep}
            m["lineage"] = [e for e in m["lineage"]
                            if e.get("skipped") or id(e) in kept_set]
            self._commit(m)
        return removed
