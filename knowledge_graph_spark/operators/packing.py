# -*- coding: utf-8 -*-
"""Sequence packing: assign documents to fixed-capacity context
windows for LLM pre-training.

Training pipelines don't feed one document per sequence — short
documents are concatenated ("packed") into fixed-size context windows
(GPT/T5 "example packing") so no FLOPs are spent on padding. The
packing must be DETERMINISTIC (resumable jobs, reproducible runs) and
must not require a global sort: at 100 TB no single machine can see
the whole corpus order.

:func:`pack_sequences` shards the corpus by a pure function of the
document id (``pmod(id, n_shards)``) and packs each shard
independently in id order with a greedy first-fit-sequential rule:
a document opens a new sequence iff adding it would overflow
``capacity`` tokens. A document longer than ``capacity`` occupies a
sequence by itself (standard practice: it is truncated downstream by
the tokenizer, not dropped here).

Scale shape: the only shuffle is the repartition to shard groups,
keyed by a long; the greedy scan is per-shard, single-pass, and
Arrow-batched (``applyInPandas``). ``n_shards`` is the parallelism
knob — pick corpus_rows / n_shards to taste (each shard's id+length
columns must fit in one task; document BODIES are never read — the
operator projects ``(id, n_tokens)`` before the shuffle, so the
exchange moves two longs per document). Packing is reproducible on
any cluster size because shard assignment and intra-shard order
depend only on ids.

Not in the reference (it has no training-data stage); the semantics
follow the public packing recipe used by T5 (Raffel et al., JMLR
2020, §3.1.2 "packing") and GPT-3's context-window concatenation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.vectors import n_ws_tokens

_OUT_SCHEMA = ("doc_id long, shard int, seq_id long, pos int, "
               "n_tokens int")


def pack_sequences(docs: DataFrame, capacity: int, n_shards: int = 8,
                   id_col: str = "doc_id", text_col: str = "text",
                   tokens_col: str | None = None) -> DataFrame:
    """Greedy deterministic packing of documents into
    ``capacity``-token sequences.

    Returns ``(doc_id, shard, seq_id, pos, n_tokens)``: document
    ``doc_id`` is the ``pos``-th document of sequence ``seq_id``
    within ``shard``. ``n_tokens`` is the whitespace token count
    (supply ``tokens_col`` to pack on a real tokenizer's counts).
    """
    if tokens_col is None:
        # shared token definition (functions/vectors.ws_tokens); NULL
        # text packs as a zero-length doc instead of poisoning the
        # Arrow batch with NaN
        toks = n_ws_tokens(text_col)
    else:
        toks = F.coalesce(F.col(tokens_col), F.lit(0))
    # the long cast must be loud: a string id would cast to NULL,
    # collapsing every row into one NULL shard with NULL doc_ids —
    # silently useless output (hash string ids to longs upstream)
    id_type = docs.schema[id_col].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"pack_sequences needs an integral {id_col!r} "
            f"(got {id_type}); derive one upstream, e.g. "
            "xxhash64 of the natural key")
    # same loudness for the shard count: pmod(id, 0) is NULL (or a
    # DIVIDE_BY_ZERO under ANSI), which would silently funnel every
    # row into one NULL shard
    if int(n_shards) < 1:
        raise ValueError(f"n_shards must be >= 1 (got {n_shards})")
    slim = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.pmod(F.col(id_col).cast("long"), F.lit(n_shards))
         .cast("int").alias("shard"),
        toks.cast("int").alias("n_tokens"),
    )

    def _pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values("doc_id", kind="mergesort", ignore_index=True)
        seq_ids, positions = [], []
        seq, pos, acc = 0, 0, 0
        first = True
        for t in pdf["n_tokens"].to_numpy():
            t = int(t)
            if first:
                acc, first = t, False
            elif acc + t > capacity:
                seq += 1
                pos, acc = 0, t
            else:
                pos += 1
                acc += t
            seq_ids.append(seq)
            positions.append(pos)
        return pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "shard": pdf["shard"],
            "seq_id": pd.Series(seq_ids, dtype="int64"),
            "pos": pd.Series(positions, dtype="int32"),
            "n_tokens": pdf["n_tokens"],
        })

    return slim.groupBy("shard").applyInPandas(_pack, _OUT_SCHEMA)


def chunk_documents(docs: DataFrame, chunk_tokens: int,
                    overlap_tokens: int = 0, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Split each document into overlapping fixed-size context windows
    — the training-prep inverse of :func:`pack_sequences` (long
    documents become multiple ``chunk_tokens``-token examples; the
    ``overlap_tokens`` carry-over preserves cross-boundary context,
    the standard sliding-window recipe for long-document pre-training
    and RAG indexing).

    Chunk ``i`` covers whitespace tokens ``[i*stride, i*stride +
    chunk_tokens)`` with ``stride = chunk_tokens - overlap_tokens``;
    a document of ``n`` tokens yields ``1 + ceil((n - chunk_tokens) /
    stride)`` chunks (one chunk when ``n <= chunk_tokens``, including
    empty/NULL text — every input row survives, so lineage joins on
    ``doc_id`` never lose documents). The last chunk may be short;
    nothing is padded here.

    Returns ``(doc_id, chunk_id, chunk_text, n_tokens)``.

    Scale shape: zero shuffles — tokenize, ``explode(sequence(...))``
    and ``slice`` are all row-local whole-stage codegen; output
    partitioning inherits the scan. Token definition is the shared
    ``functions/vectors.ws_tokens`` so chunk counts agree with
    ``with_token_counts`` and ``pack_sequences`` by construction.
    """
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive (got {chunk_tokens})")
    if not (0 <= overlap_tokens < chunk_tokens):
        raise ValueError(
            f"overlap_tokens must satisfy 0 <= overlap < chunk_tokens "
            f"(got overlap={overlap_tokens}, chunk={chunk_tokens}) — "
            "stride would be zero or negative and chunking would never "
            "advance")
    stride = chunk_tokens - overlap_tokens
    from ..functions.vectors import ws_tokens

    slim = docs.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(ws_tokens(text_col), F.array()).alias("_toks"),
    ).withColumn("_n", F.size("_toks"))
    n_chunks = F.when(F.col("_n") <= chunk_tokens, F.lit(1)).otherwise(
        (F.lit(1) + F.ceil((F.col("_n") - chunk_tokens) / F.lit(stride)))
        .cast("int"))
    start = (F.col("chunk_id") * stride).cast("int")
    return (
        slim.select(
            "doc_id", "_toks", "_n",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.concat_ws(
                " ", F.slice("_toks", start + 1, chunk_tokens)
            ).alias("chunk_text"),
            F.least(F.lit(chunk_tokens), F.col("_n") - start)
             .cast("int").alias("n_tokens"),
        )
    )


def span_corruption(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", period: int = 20,
                    span_len: int = 3) -> DataFrame:
    """T5-style span-corruption pair construction (Raffel et al., JMLR
    2020 §3.1.4): replace token spans with sentinel tokens to build
    (input, target) denoising examples. T5 samples spans randomly
    (15% corruption, mean span 3); reproducible data pipelines need
    the DETERMINISTIC equivalent, so span ``k`` here covers token
    positions ``[k*period + off, k*period + off + span_len)`` for a
    fixed offset — exactly ``span_len/period`` corruption (3/20 =
    15%) at the canonical span length, and the same document always
    yields the same example.

    Input text: each span collapses to ``<extra_id_k>`` (k sequential
    from 0). Target text: ``<extra_id_0> span0 <extra_id_1> span1 ...
    <extra_id_K>`` with the final sentinel as the end marker, exactly
    T5's target format. Empty/NULL text yields zero spans, empty
    input, and the bare final sentinel ``<extra_id_0>``.

    Returns ``(doc_id, n_tokens, n_spans, input_text, target_text)``.

    Scale shape: zero shuffles — tokenization, the indexed
    ``transform``/``filter`` over positions, and the sentinel
    assembly are all row-local whole-stage codegen expressions;
    output partitioning inherits the scan.
    """
    if span_len >= period:
        raise ValueError(
            f"span_len must be < period (got span={span_len}, "
            f"period={period}) — spans would overlap")
    off = 3 if period > span_len + 3 else 0
    from ..functions.vectors import ws_tokens

    slim = docs.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(ws_tokens(text_col), F.array()).alias("_toks"),
    ).withColumn("_n", F.size("_toks"))
    # span k covers token positions [k*period+off, k*period+off+span_len)
    # (0-based); n_spans = how many start positions fall inside the doc
    n_spans = F.when(
        F.col("_n") > off,
        ((F.col("_n") - 1 - off) / period).cast("int") + 1,
    ).otherwise(F.lit(0))
    in_span = (f"(i % {period}) >= {off} AND (i % {period}) < "
               f"{off + span_len}")
    input_text = F.concat_ws(
        " ",
        F.expr(
            "filter(transform(_toks, (x, i) -> "
            f"CASE WHEN (i % {period}) = {off} THEN "
            f"concat('<extra_id_', CAST(i DIV {period} AS STRING), '>') "
            f"WHEN {in_span} THEN CAST(NULL AS STRING) "
            "ELSE x END), x -> x IS NOT NULL)"
        ),
    )
    spans = F.when(
        F.col("_nspans") > 0,
        F.concat_ws(
            " ",
            F.expr(
                "transform(sequence(0, _nspans - 1), k -> "
                "concat('<extra_id_', CAST(k AS STRING), '> ', "
                f"concat_ws(' ', slice(_toks, k * {period} + {off} + 1, "
                f"{span_len}))))"
            ),
            F.concat(F.lit("<extra_id_"), F.col("_nspans").cast("string"),
                     F.lit(">")),
        ),
    ).otherwise(F.lit("<extra_id_0>"))
    return (
        slim.withColumn("_nspans", n_spans)
        .select(
            "doc_id",
            F.col("_n").cast("long").alias("n_tokens"),
            F.col("_nspans").cast("long").alias("n_spans"),
            input_text.alias("input_text"),
            spans.alias("target_text"),
        )
    )
