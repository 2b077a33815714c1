# -*- coding: utf-8 -*-
"""Explicit skew handling: salted two-phase aggregation for hub keys.

AQE's skew-join split covers sort-merge joins it can observe, but a
groupBy on a power-law key (hub entities, power users) still lands ALL
rows of the hot key in one reduce task at 10^12-row scale. Salting
splits each key into ``n_salts`` subkeys, partially aggregates, then
combines — the classic two-phase aggregate, kept here as a reusable
helper.

The KG pipeline itself avoids these (its heavy path is row-local by
design), but the query surface over nodes/edges hits them the moment a
graph has celebrity entities — e.g. degree counts, neighbor listings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def with_salt(df: DataFrame, n_salts: int = 16,
              col_name: str = "_salt") -> DataFrame:
    """Deterministic per-row salt in [0, n_salts) — hash of the whole
    row's monotonically-increasing id is NOT used (nondeterministic
    under retries); spark_partition_id + a row counter is stable
    enough for aggregation salting, but the simplest deterministic
    choice is hashing all columns."""
    return df.withColumn(
        col_name, F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]),
                         F.lit(n_salts))
    )


def salted_agg(df: DataFrame, keys: list[str], aggs: list[tuple],
               n_salts: int = 16) -> DataFrame:
    """Two-phase aggregation for skewed ``keys``.

    ``aggs`` is a list of (col, partial_fn, final_fn, out_name) where
    partial_fn aggregates within (key, salt) and final_fn combines the
    partials per key. For algebraic aggregates:
      count:  (c, F.count, F.sum,  name)
      sum:    (c, F.sum,   F.sum,  name)
      max:    (c, F.max,   F.max,  name)
      min:    (c, F.min,   F.min,  name)

    Phase 1 shuffles on (key, salt) — the hot key spreads over
    ``n_salts`` tasks; phase 2 shuffles n_salts rows per key."""
    salted = with_salt(df, n_salts)
    partial = salted.groupBy(*keys, "_salt").agg(*[
        pf(c).alias(f"_p_{name}") for c, pf, _, name in aggs
    ])
    return partial.groupBy(*keys).agg(*[
        ff(f"_p_{name}").alias(name) for _, _, ff, name in aggs
    ])
