# -*- coding: utf-8 -*-
"""Shared JVM-side column expression library.

Vector math over ``array<float|double>`` columns and text shingling,
expressed as Catalyst lambda expressions (``aggregate``/``zip_with``/
``transform``) so they run inside whole-stage codegen — no Python, no
UDF registration, usable from any operator.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def dot(a: str, b: str) -> Column:
    """Dot product of two array columns (double precision)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * y), "
        f"cast(0.0 as double), (acc, z) -> acc + z)"
    )


def norm(c: str) -> Column:
    """L2 norm of an array column."""
    return F.expr(
        f"sqrt(aggregate({c}, cast(0.0 as double), "
        f"(a, x) -> a + cast(x as double) * x))"
    )


def cosine(a: str, b: str) -> Column:
    """Cosine similarity of two array columns."""
    return dot(a, b) / (norm(a) * norm(b))


def l2_sq(a: str, b: str) -> Column:
    """Squared L2 distance of two array columns."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, c) -> (x - c) * (x - c)), "
        f"cast(0.0 as double), (acc, y) -> acc + y)"
    )


def char_ngrams(col: str, n: int = 2) -> Column:
    """Character n-gram array of a string column (1 element when the
    string is shorter than n)."""
    return F.when(
        F.length(col) >= n,
        F.expr(
            f"transform(sequence(0, length({col})-{n}), "
            f"i -> substring({col}, i+1, {n}))"
        ),
    ).otherwise(F.array(F.col(col)))


def _word_tokens_sql(col: str) -> str:
    return f"filter(split(lower({col}), '[^\\\\p{{L}}\\\\p{{N}}]+'), x -> x != '')"


def word_tokens(col: str) -> Column:
    """Lowercased word array: split on non-letter/digit runs."""
    return F.expr(_word_tokens_sql(col))


def word_ngrams(col: str, n: int = 3) -> Column:
    """Word n-gram (shingle) array; whole text as one shingle when
    shorter than n words.

    The token array is bound once, as the lambda variable of a
    one-element ``transform``: written inline, Catalyst re-splits the
    whole text inside the n-gram lambda, once per n-gram, which is
    quadratic in the text's length (two 34,000-word documents took
    about 5 minutes through ``dedup.simhash`` on local[4])."""
    return F.expr(
        f"""
        element_at(transform(array({_word_tokens_sql(col)}), w ->
            CASE WHEN size(w) >= {n}
            THEN transform(sequence(0, size(w) - {n}),
                           i -> array_join(slice(w, i + 1, {n}), ' '))
            ELSE array(array_join(w, ' '))
            END), 1)
        """
    )


def ws_tokens(col: str) -> Column:
    """Whitespace-token array of a string column (empty splits
    dropped) — the single definition of "token" shared by token
    counting, quality scoring, and sequence packing so they can never
    drift apart."""
    return F.expr(f"filter(split({col}, '\\\\s+'), x -> x != '')")


def n_ws_tokens(col: str) -> Column:
    """Whitespace token count; 0 (not NULL) for NULL input."""
    return F.coalesce(F.size(ws_tokens(col)), F.lit(0))
