# -*- coding: utf-8 -*-
"""Training-data operators: dedup, text stats, similarity search,
multimodal plumbing — over the driver's documents/embeddings tables."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from knowledge_graph_spark.operators import dedup as D
from knowledge_graph_spark.operators import simsearch as S
from knowledge_graph_spark.operators import textstats as T
from knowledge_graph_spark.operators import multimodal as M

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


# ---- exact dedup ----------------------------------------------------------


def test_exact_duplicates_finds_planted(spark, docs):
    """Plant a duplicate and verify it is found with min-id survivor."""
    planted = docs.limit(1).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text", "lang",
        "source", "n_chars",
    )
    all_docs = docs.unionByName(planted)
    dups = D.exact_duplicates(all_docs)
    assert dups.count() >= 1
    r = dups.orderBy("keep_id").first()
    assert r["keep_id"] == min(r["dup_ids"])
    survivors = D.dedup_exact(all_docs)
    assert survivors.count() == all_docs.count() - dups.agg(
        F.sum(F.col("n_dups") - 1)
    ).first()[0]


# ---- minhash / jaccard ----------------------------------------------------


def test_minhash_finds_near_duplicates(spark, docs):
    """A doc with one word changed must be caught by LSH + Jaccard."""
    base = docs.orderBy("doc_id").limit(5)
    mutated = base.select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra trailing words here")).alias("text"),
        "lang", "source", "n_chars",
    )
    all_docs = docs.unionByName(mutated)
    pairs = D.minhash_lsh_pairs(all_docs, n=3)
    hits = pairs.filter(
        (F.col("id_b") - F.col("id_a")) == 20_000_000
    ).count()
    assert hits >= 4  # near-identical docs must collide in >=1 band

    scored = D.ngram_jaccard_pairs(all_docs, pairs, n=3)
    strong = scored.filter(
        ((F.col("id_b") - F.col("id_a")) == 20_000_000) & (F.col("jaccard") > 0.7)
    )
    assert strong.count() >= 4


def test_jaccard_identical_is_one(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w v u")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    out = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in D.ngram_jaccard_pairs(docs, pairs, n=2).collect()}
    assert out[(1, 2)] == pytest.approx(1.0)
    assert out[(1, 3)] == pytest.approx(0.0)


def test_containment_excerpt_vs_disjoint(spark):
    # doc 2 is a strict prefix-excerpt of doc 1: containment C(2,1)=1
    # even though Jaccard is well below near-dup thresholds; doc 3
    # shares nothing.
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e"), (3, "x y z w v")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(2, 1), (3, 1)], "id_a long, id_b long")
    out = {(r["id_a"], r["id_b"]): r
           for r in D.containment_pairs(docs, pairs, n=3).collect()}
    full = out[(2, 1)]
    assert full["inter"] == full["sz_a"] == 3      # 5 words -> 3 trigrams
    assert full["sz_b"] == 8                       # 10 words -> 8 trigrams
    assert full["inter"] < full["sz_b"]            # Jaccard 3/8 < threshold
    assert out[(3, 1)]["inter"] == 0


def test_dedup_minhash_survivors(spark, docs):
    sample = docs.orderBy("doc_id").limit(50)
    clones = sample.limit(3).select(
        (F.col("doc_id") + 30_000_000).alias("doc_id"), "text", "lang",
        "source", "n_chars",
    )
    all_docs = sample.unionByName(clones)
    survivors = D.dedup_minhash(all_docs, threshold=0.9)
    # every planted clone must die; natural near-dups inside the word-salad
    # corpus may legitimately merge a base pair or two
    assert survivors.filter(F.col("doc_id") >= 30_000_000).count() == 0
    assert 47 <= survivors.count() <= 50


# ---- simhash --------------------------------------------------------------


def test_simhash_identical_and_blocking(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again"),
         (2, "the quick brown fox jumps over the lazy dog again and again"),
         (3, "completely unrelated content about spark query optimization")],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    assert fp[1] == fp[2] and fp[1] != fp[3]
    pairs = D.simhash_near_duplicates(docs, max_hamming=3).collect()
    assert any(p["id_a"] == 1 and p["id_b"] == 2 and p["hamming"] == 0 for p in pairs)
    assert not any(p["id_b"] == 3 for p in pairs)


# ---- embedding near-dup + ANN --------------------------------------------


def test_embedding_near_duplicates(spark, emb):
    clones = emb.limit(3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    allv = emb.unionByName(clones)
    pairs = D.embedding_near_duplicates(allv, threshold=0.999)
    exact = pairs.filter((F.col("id_b") - F.col("id_a")) == 1_000_000)
    assert exact.count() == 3


def test_brute_force_topk_self_is_top1(spark, emb):
    queries = emb.limit(4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = S.brute_force_topk(emb, queries, k=5)
    top1 = out.filter(F.col("rank") == 1).collect()
    assert len(top1) == 4
    for r in top1:
        assert r["vec_id"] == r["query_id"]
        assert r["cosine"] == pytest.approx(1.0, abs=1e-6)


def test_ivf_persisted_index_prunes_partitions(spark, emb, tmp_path):
    """The cell-partitioned assignment table must prune to the probed
    cells (plan-level partition filter), and return the same results
    as the in-memory index."""
    path = str(tmp_path / "ivf")
    a0, c0 = S.ivf_index(emb, n_cells=8, n_iter=2)
    a0.write.partitionBy("cell_id").parquet(f"{path}/assignments")
    c0.write.parquet(f"{path}/centroids")
    assign = spark.read.parquet(f"{path}/assignments")
    cent = spark.read.parquet(f"{path}/centroids")
    queries = emb.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = S.ivf_topk(assign, cent, queries, k=3, n_probe=2)
    rows = out.collect()
    assert len(rows) == 6

    # pruning visible in the plan: the probes join against the
    # partition column triggers dynamic partition pruning on the scan
    from knowledge_graph_spark.plans.audit import explain_string

    p = explain_string(out)
    assert "dynamicpruning" in p.lower() or "PartitionFilters: [" in p

    # equal to the unpersisted path
    a2, c2 = S.ivf_index(emb, n_cells=8, n_iter=2)
    out2 = {(r["query_id"], r["rank"], r["vec_id"])
            for r in S.ivf_topk(a2, c2, queries, k=3, n_probe=2).collect()}
    assert {(r["query_id"], r["rank"], r["vec_id"]) for r in rows} == out2


def test_ivf_recall_vs_brute_force(spark, emb):
    queries = emb.limit(8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in S.brute_force_topk(emb, queries, k=3).collect()
    }
    assign, cent = S.ivf_index(emb, n_cells=8, n_iter=3)
    approx = {
        (r["query_id"], r["vec_id"])
        for r in S.ivf_topk(assign, cent, queries, k=3, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall  # half the cells probed -> high recall


# ---- text stats -----------------------------------------------------------


def test_token_counts(spark):
    docs = spark.createDataFrame(
        [(1, "hello world foo"), (2, "深度学习模型"), (3, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["n_tokens"], r["n_bpe_tokens"])
           for r in T.with_token_counts(docs).collect()}
    assert out[1] == (3, 3)
    assert out[2] == (1, 6)  # 1 ws token, 6 CJK chars
    assert out[3] == (0, 0)


def test_language_id(spark):
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat and this is english text"),
         (2, "华星科技公司宣布收购蓝海数据集团"),
         (3, "1234 5678 !!!! ????")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["lang_pred"] for r in T.with_language_id(docs).collect()}
    assert out == {1: "en", 2: "zh", 3: "other"}


def test_quality_score(spark):
    docs = spark.createDataFrame(
        [(1, "A well formed sentence with reasonable structure and length."),
         (2, "!!!???!!!.,;:!!!???"),
         (3, "x")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["quality"] for r in T.with_quality_score(docs).collect()}
    assert out[1] == pytest.approx(1.0)
    assert out[2] < 0.5 and out[3] <= 0.5


def test_fingerprint_deterministic_and_discriminative(spark):
    base = "word " * 100
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, "entirely other content " * 20)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["fingerprint"], r["content_hash"])
           for r in T.with_fingerprint(docs).collect()}
    assert out[1] == out[2]  # identical text -> identical signature
    assert out[1][0] != out[3][0] and out[1][1] != out[3][1]
    # stable across a second evaluation (pure function of text)
    again = {r["doc_id"]: (r["fingerprint"], r["content_hash"])
             for r in T.with_fingerprint(docs).collect()}
    assert again == out


# ---- multimodal plumbing --------------------------------------------------


def test_multimodal_decode_and_features(spark):
    media = M.synthetic_media(spark, 30)
    dec = M.decode_metadata(media)
    assert dec.filter(~F.col("ok")).count() == 0
    img = dec.filter(F.col("kind") == "image").first()
    assert img["width"] > 0 and img["height"] > 0
    au = dec.filter(F.col("kind") == "audio").first()
    assert au["sample_rate"] > 0

    feats = M.extract_features(media)
    rows = feats.collect()
    assert all(len(r["feature"]) == M.FEATURE_DIM for r in rows)
    # determinism: same payload -> same feature
    again = {r["media_id"]: r["feature"] for r in M.extract_features(media).collect()}
    for r in rows:
        assert again[r["media_id"]] == r["feature"]


def _have(mod):
    import importlib.util
    return importlib.util.find_spec(mod) is not None


@pytest.mark.skipif(not _have("PIL"), reason="PIL not installed")
def test_multimodal_real_codec_image(spark):
    """codec='real' must decode a genuine PNG via PIL with EXACT
    dimensions — the production swap point exercised end-to-end
    (skipped where PIL is absent; the sandbox default stays fake)."""
    from io import BytesIO
    from PIL import Image

    buf = BytesIO()
    Image.new("RGB", (37, 21)).save(buf, format="PNG")
    media = spark.createDataFrame(
        [(1, "image", bytearray(buf.getvalue()))],
        "media_id long, kind string, payload binary")
    row = M.decode_metadata(media, codec="real").first()
    assert row["ok"] and (row["width"], row["height"]) == (37, 21)
    # garbage bytes quarantine with a visible error, never fail the job
    bad = spark.createDataFrame(
        [(2, "image", bytearray(b"not an image"))],
        "media_id long, kind string, payload binary")
    brow = M.decode_metadata(bad, codec="real").first()
    assert not brow["ok"] and brow["error"]


@pytest.mark.skipif(not _have("soundfile"), reason="soundfile not installed")
def test_multimodal_real_codec_audio(spark):
    """codec='real' must read a genuine WAV via soundfile with the
    exact sample rate and duration."""
    import wave
    from io import BytesIO

    buf = BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(b"\x00\x00" * 8000)  # 0.5 s of silence
    media = spark.createDataFrame(
        [(1, "audio", bytearray(buf.getvalue()))],
        "media_id long, kind string, payload binary")
    row = M.decode_metadata(media, codec="real").first()
    assert row["ok"] and row["sample_rate"] == 16000
    assert abs(row["duration_s"] - 0.5) < 1e-6


def test_multimodal_codec_auto_falls_back_deterministically(spark):
    """codec='auto' on arbitrary bytes must yield the SAME rows as the
    fake in an environment without codecs, and never quarantine —
    exactly the default goldens' behavior (synthetic payloads are not
    valid containers, so even the wired pure-Python video header
    parser falls back to the fake under auto)."""
    media = M.synthetic_media(spark, 12)
    fake = {r["media_id"]: tuple(r) for r in M.decode_metadata(media).collect()}
    auto = M.decode_metadata(media, codec="auto").collect()
    assert all(r["ok"] for r in auto)
    if not (_have("PIL") or _have("soundfile")):
        assert {r["media_id"]: tuple(r) for r in auto} == fake


def _mp4_box(btype: bytes, body: bytes) -> bytes:
    import struct as _s
    return _s.pack(">I", 8 + len(body)) + btype + body


def _mini_mp4(width=640, height=360, timescale=600, duration=3000,
              frame_counts=(48, 24)) -> bytes:
    """Minimal but structurally valid ISO BMFF stream: ftyp + moov
    {mvhd v0, trak {tkhd, mdia {hdlr 'vide', minf {stbl {stts}}}}}."""
    import struct as _s

    mvhd = _mp4_box(b"mvhd", bytes(12)
                    + _s.pack(">II", timescale, duration) + bytes(80))
    tkhd = _mp4_box(b"tkhd", bytes(76)
                    + _s.pack(">II", width << 16, height << 16))
    hdlr = _mp4_box(b"hdlr", bytes(8) + b"vide" + bytes(12))
    stts = _mp4_box(b"stts", bytes(4)
                    + _s.pack(">I", len(frame_counts))
                    + b"".join(_s.pack(">II", c, 25)
                               for c in frame_counts))
    stbl = _mp4_box(b"stbl", stts)
    minf = _mp4_box(b"minf", stbl)
    mdia = _mp4_box(b"mdia", hdlr + minf)
    trak = _mp4_box(b"trak", tkhd + mdia)
    moov = _mp4_box(b"moov", mvhd + trak)
    return _mp4_box(b"ftyp", b"isom" + bytes(8)) + moov


def _ebml_el(eid_bytes: bytes, body: bytes) -> bytes:
    assert len(body) < 127
    return eid_bytes + bytes([0x80 | len(body)]) + body


def _mini_webm(width=1280, height=720, duration_ticks=12_500.0,
               timescale_ns=1_000_000) -> bytes:
    import struct as _s

    header = _ebml_el(b"\x1a\x45\xdf\xa3", b"")
    info = _ebml_el(b"\x15\x49\xa9\x66",
                    _ebml_el(b"\x2a\xd7\xb1",
                             timescale_ns.to_bytes(3, "big"))
                    + _ebml_el(b"\x44\x89",
                               _s.pack(">f", duration_ticks)))
    video = _ebml_el(b"\xe0",
                     _ebml_el(b"\xb0", width.to_bytes(2, "big"))
                     + _ebml_el(b"\xba", height.to_bytes(2, "big")))
    track = _ebml_el(b"\xae", _ebml_el(b"\x83", b"\x01") + video)
    tracks = _ebml_el(b"\x16\x54\xae\x6b", track)
    segment = _ebml_el(b"\x18\x53\x80\x67", info + tracks)
    return header + segment


def test_video_mp4_header_parse_exact():
    from knowledge_graph_spark.functions.mediameta import parse_mp4

    m = parse_mp4(_mini_mp4())
    assert m == {"width": 640, "height": 360, "n_frames": 72,
                 "duration_s": 5.0}  # 3000 ticks / 600 ts


def test_video_mp4_rejects_garbage_and_hostile_sizes():
    import struct as _s

    from knowledge_graph_spark.functions.mediameta import parse_mp4

    with pytest.raises(ValueError):
        parse_mp4(b"definitely not an mp4 stream....")
    # a box claiming to be longer than the buffer must not over-read
    evil = _s.pack(">I", 1 << 30) + b"moov" + bytes(32)
    with pytest.raises(ValueError):
        parse_mp4(evil)


def test_video_webm_header_parse_exact():
    from knowledge_graph_spark.functions.mediameta import parse_ebml

    m = parse_ebml(_mini_webm())
    # 12500 ticks * 1e6 ns = 12.5 s; no frame count in the header
    assert m == {"width": 1280, "height": 720, "n_frames": 0,
                 "duration_s": 12.5}


def test_multimodal_real_codec_video(spark):
    """codec='real' video now parses container headers in pure
    Python — MP4 and WebM rows decode with exact metadata, garbage
    quarantines with a visible error (no pyav anywhere)."""
    media = spark.createDataFrame(
        [(1, "video", bytearray(_mini_mp4())),
         (2, "video", bytearray(_mini_webm())),
         (3, "video", bytearray(b"not a container"))],
        "media_id long, kind string, payload binary")
    rows = {r["media_id"]: r
            for r in M.decode_metadata(media, codec="real").collect()}
    assert rows[1]["ok"] and (rows[1]["width"], rows[1]["height"],
                              rows[1]["n_frames"],
                              rows[1]["duration_s"]) == (640, 360, 72, 5.0)
    assert rows[2]["ok"] and (rows[2]["width"], rows[2]["height"],
                              rows[2]["duration_s"]) == (1280, 720, 12.5)
    assert not rows[3]["ok"] and rows[3]["error"]


def test_frame_sampling(spark):
    media = M.synthetic_media(spark, 30)
    frames = M.sample_frames(media, every_n=24)
    assert frames.count() > 0
    assert frames.filter(F.col("frame_idx") % 24 != 0).count() == 0


def test_embedding_lsh_recall_on_perturbed_vectors(spark, emb):
    """Banded OR-of-bands construction (round-2 fix): a near-clone whose
    perturbation flips SOME plane signs must still be found — the
    round-1 single AND-band missed any pair differing in one sign."""
    base = emb.limit(10).collect()
    perturbed = [
        (r["vec_id"] + 1_000_000,
         [x * (1.004 if j % 7 == 0 else 1.0) + (0.003 if j % 5 == 0 else 0.0)
          for j, x in enumerate(r["embedding"])],
         r["label"])
        for r in base
    ]
    allv = emb.unionByName(
        spark.createDataFrame(perturbed,
                              "vec_id long, embedding array<float>, label string")
    )
    pairs = D.embedding_near_duplicates(allv, threshold=0.995)
    hits = pairs.filter((F.col("id_b") - F.col("id_a")) == 1_000_000).count()
    assert hits >= 8, hits  # >= 80% recall on 10 planted near-clones


def test_embedding_lsh_bucket_space_grows_with_corpus():
    """The band-key space must scale with N (expected bucket size held
    ~constant), not saturate at a fixed 256 buckets."""
    r1k = D.lsh_rows_per_band(1_000)
    r1m = D.lsh_rows_per_band(1_000_000)
    r1b = D.lsh_rows_per_band(1_000_000_000)
    assert r1k < r1m < r1b
    assert 2 ** r1b >= 1_000_000_000 // 128  # ~constant expected bucket size


def test_ivf_training_input_is_bounded(spark, emb):
    """Sample-trained quantizer (round-2 fix): the training predicate
    selects ~sample_cap rows regardless of corpus size, and training on
    the sample still yields n_cells usable centroids."""
    from knowledge_graph_spark.functions.xxh64 import spark_xxhash64

    n = emb.count()
    cap = 32
    k = -(-n // cap)
    picked = emb.filter(F.pmod(F.xxhash64("vec_id"), F.lit(k)) == 0)
    cnt = picked.count()
    assert 0 < cnt <= 4 * cap  # bounded (hash-uniform, not exact)
    # the predicate is the twin-reproducible deterministic sample
    ids = {r["vec_id"] for r in picked.select("vec_id").collect()}
    twin = {r["vec_id"] for r in emb.select("vec_id").collect()
            if spark_xxhash64(("long", r["vec_id"])) % k == 0}
    assert ids == twin
    cent = S.train_ivf_centroids(emb, n_cells=8, n_iter=2, sample_cap=cap)
    rows = cent.collect()
    assert len(rows) == 8 and all(len(r["centroid"]) > 0 for r in rows)


def test_repetition_stats_detects_boilerplate(spark):
    from knowledge_graph_spark.operators.textstats import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "click here click here click here click here"),
            (2, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    # doc 1: "click here" dominates; every 3-gram repeats heavily
    assert got[1]["top_2gram_frac"] > 0.5
    assert got[1]["dup_3gram_frac"] > 0.5
    # doc 2: all grams unique
    assert got[2]["dup_3gram_frac"] == 0.0
    assert got[2]["top_2gram_frac"] < 0.2


def test_pii_redaction_scrubs_all_matches(spark):
    from knowledge_graph_spark.operators.textstats import (
        redact_pii, with_pii_counts,
    )

    docs = spark.createDataFrame(
        [
            (1, "write to alice.smith+x@mail.example.org or call 13812345678"),
            (2, "no pii here at all"),
            (3, "two mails: a@b.co and c.d@e-f.org"),
        ],
        "doc_id long, text string",
    )
    counts = {r["doc_id"]: (r["n_emails"], r["n_phones"])
              for r in with_pii_counts(docs).collect()}
    assert counts[1] == (1, 1) and counts[2] == (0, 0) and counts[3] == (2, 0)
    red = redact_pii(docs)
    residual = with_pii_counts(red).selectExpr(
        "sum(n_emails + n_phones) AS r").first()["r"]
    assert residual == 0
    txt = {r["doc_id"]: r["text"] for r in red.collect()}
    assert "<EMAIL>" in txt[1] and "<PHONE>" in txt[1]
    assert txt[2] == "no pii here at all"


def test_deterministic_sample_is_stable_and_rate_accurate(spark):
    """Content-keyed sampling: identical keep set on rerun and after
    repartition; realized rate near the target on a large-ish input."""
    from knowledge_graph_spark.operators.sampling import deterministic_sample

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"] for r in deterministic_sample(df, 0.3).collect()}
    b = {r["doc_id"]
         for r in deterministic_sample(df.repartition(13), 0.3).collect()}
    assert a == b
    assert abs(len(a) / 5000 - 0.3) < 0.03
    # a different seed carves a (near-)independent sample
    c = {r["doc_id"] for r in deterministic_sample(df, 0.3, seed=7).collect()}
    assert c != a


def test_stratified_mixture_rates_and_report(spark):
    from knowledge_graph_spark.operators.sampling import (
        mixture_report, stratified_mixture,
    )

    df = (spark.range(0, 3000).withColumnRenamed("id", "doc_id")
          .withColumn("source", F.concat(F.lit("s"),
                                         (F.col("doc_id") % 3).cast("string"))))
    rates = {"s0": 1.0, "s1": 0.0}
    kept = stratified_mixture(df, rates, default_rate=0.5)
    by_src = {r["source"]: r["cnt"]
              for r in kept.groupBy("source").agg(F.count("*").alias("cnt"))
              .collect()}
    assert by_src.get("s0") == 1000          # rate 1.0 keeps everything
    assert "s1" not in by_src                # rate 0.0 keeps nothing
    assert 350 < by_src.get("s2", 0) < 650   # default 0.5
    # the report's n_kept must equal the mixture's actual keep counts
    rep = {r["source"]: (r["n_total"], r["n_kept"])
           for r in mixture_report(df, rates, default_rate=0.5).collect()}
    assert rep["s0"] == (1000, 1000) and rep["s1"] == (1000, 0)
    assert rep["s2"] == (1000, by_src["s2"])


def test_hash_split_partitions_and_is_stable(spark):
    """Every row lands in exactly one split; assignments are stable
    across reruns; proportions track the weights; twin-equal."""
    from knowledge_graph_spark.functions.xxh64 import spark_xxhash64
    from knowledge_graph_spark.operators.sampling import M, hash_split

    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = hash_split(df, w)
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(rows) == 4000                       # one split per row
    again = {r["doc_id"]: r["split"]
             for r in hash_split(df.repartition(7), w).collect()}
    assert rows == again
    counts = {s: list(rows.values()).count(s) for s in w}
    assert abs(counts["train"] / 4000 - 0.8) < 0.03
    assert abs(counts["val"] / 4000 - 0.1) < 0.02
    # twin equality on the boundary logic
    bounds = [("train", 800_000), ("val", 900_000)]
    for did in range(0, 200):
        b = spark_xxhash64(("long", did)) % M
        want = next((n for n, up in bounds if b < up), "test")
        assert rows[did] == want


def test_sampling_matches_python_twin(spark):
    """The xxh64 twin reproduces Spark's exact keep decisions (long
    path) — the property the golden oracle rests on."""
    from knowledge_graph_spark.functions.xxh64 import spark_xxhash64
    from knowledge_graph_spark.operators.sampling import (
        M, deterministic_sample,
    )

    df = spark.range(100, 400).withColumnRenamed("id", "doc_id")
    got = {r["doc_id"] for r in deterministic_sample(df, 0.37).collect()}
    want = {i for i in range(100, 400)
            if spark_xxhash64(("long", i)) % M < int(round(0.37 * M))}
    assert got == want


def test_ngram_decontaminate_flags_planted_leak(spark):
    """Benchmark decontamination: a doc containing an eval passage is
    flagged with DISTINCT-gram counts; clean docs and sub-n overlaps
    are not."""
    from knowledge_graph_spark.operators.decontam import ngram_decontaminate

    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            # full passage embedded -> 3 of the 3 eval 8-grams
            (1, "intro words here " + passage + " trailing words"),
            # repeats one leaked 8-gram twice -> still counts ONCE
            (2, "alpha beta gamma delta epsilon zeta eta theta x "
                "alpha beta gamma delta epsilon zeta eta theta"),
            # shares only 7 consecutive words -> no 8-gram hit
            (3, "alpha beta gamma delta epsilon zeta eta UNRELATED words"),
            (4, "completely clean document with its own words entirely"),
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame([(1, passage)], "eval_id long, text string")
    got = {r["doc_id"]: (r["n_hit_grams"], r["n_eval_docs"])
           for r in ngram_decontaminate(docs, evals, n=8).collect()}
    assert got == {1: (3, 1), 2: (1, 1)}


def test_pii_count_and_redact_agree_on_undotted_at(spark):
    """An @ not followed by a dotted TLD is NOT an email: the counter
    and the redactor must agree (a SQL-string regex would eat the
    backslash in \\. and count 'u1@example_org' while redact skips it,
    breaking the zero-residual invariant)."""
    from knowledge_graph_spark.operators.textstats import (
        redact_pii, with_pii_counts,
    )

    docs = spark.createDataFrame(
        [(1, "write to u1@example_org please"),
         (2, "real one x@y.io here")],
        "doc_id long, text string",
    )
    counts = {r["doc_id"]: r["n_emails"] for r in with_pii_counts(docs).collect()}
    assert counts == {1: 0, 2: 1}
    red = {r["doc_id"]: r["text"] for r in redact_pii(docs).collect()}
    assert red[1] == "write to u1@example_org please"
    assert "<EMAIL>" in red[2]
    residual = with_pii_counts(redact_pii(docs)).selectExpr(
        "sum(n_emails + n_phones) AS r").first()["r"]
    assert residual == 0


def test_curate_corpus_custom_id_col(spark):
    """id_col is honored end-to-end (repetition_stats emits the caller's
    id name, so the cascade's joins line up)."""
    from knowledge_graph_spark.operators.curate import curate_corpus

    good = "the quick brown fox jumps over the lazy dog and runs far away today"
    docs = spark.createDataFrame(
        [(10, good), (11, good)], "page_id long, text string",
    )
    got = {r["page_id"] for r in curate_corpus(
        docs, id_col="page_id", gates={"max_top_2gram_frac": 0.2}).collect()}
    assert got == {10}


def test_curate_corpus_gates_compose(spark):
    from knowledge_graph_spark.operators.curate import curate_corpus

    good = "the quick brown fox jumps over the lazy dog and runs far away today"
    docs = spark.createDataFrame(
        [
            (1, good),                                   # survives
            (2, good),                                   # exact dup of 1 -> dropped
            (3, "click here click here click here click here click here"),  # repetition
            (4, "这是一段中文文本，应当被语言闸门过滤掉，因为目标语言是英文。"),  # lang gate
            (5, "x" * 10),                               # quality gate (too short)
            (6, "the cat sat on the mat and then it sat on the hat for a while"),
        ],
        "doc_id long, text string",
    )
    # short test docs have naturally higher top-2gram mass than a web
    # corpus; widen that gate (the default 0.07 targets ~300-word docs)
    gates = {"max_top_2gram_frac": 0.2}
    got = {r["doc_id"] for r in curate_corpus(docs, gates=gates).collect()}
    assert got == {1, 6}
    # audit columns survive the cascade
    cols = set(curate_corpus(docs, gates=gates).columns)
    assert {"lang_pred", "quality", "top_2gram_frac", "dup_3gram_frac"} <= cols


def test_cross_doc_gram_stats(spark):
    # doc 1 and 2 share the gram "a b c"; doc 3 shares nothing
    rows = [
        (1, "a b c d"),          # grams: "a b c", "b c d"
        (2, "x a b c"),          # grams: "x a b", "a b c"
        (3, "p q r s"),          # grams: "p q r", "q r s"
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in D.cross_doc_gram_stats(docs).collect()}
    assert out[1]["n_grams"] == 2 and out[1]["n_shared"] == 1
    assert out[2]["n_grams"] == 2 and out[2]["n_shared"] == 1
    assert out[1]["shared_frac"] == 0.5
    assert out[3]["n_grams"] == 2 and out[3]["n_shared"] == 0

    # short doc (<3 tokens) contributes its whole text as one shingle
    docs2 = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "zz")], ["doc_id", "text"])
    out2 = {r["doc_id"]: r for r in D.cross_doc_gram_stats(docs2).collect()}
    assert out2[1]["n_shared"] == 1 and out2[2]["n_shared"] == 1
    assert out2[3]["n_shared"] == 0

    # scale shape: gram TEXT never reaches an exchange — every shuffle
    # below the final agg moves (hash, id) longs only
    plan = D.cross_doc_gram_stats(docs)._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "g#" not in line, line


def test_gram_novelty(spark):
    # ordered corpus: doc 1 introduces "a b c"/"b c d"; doc 2 repeats
    # "a b c" (not novel) and introduces "x a b"; doc 3 all-new
    rows = [
        (1, "a b c d"),          # grams: "a b c", "b c d" -> both new
        (2, "x a b c"),          # "x a b" new, "a b c" seen in doc 1
        (3, "p q r s"),          # both new
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in D.gram_novelty(docs).collect()}
    assert out[1]["n_grams"] == 2 and out[1]["n_new"] == 2
    assert out[2]["n_grams"] == 2 and out[2]["n_new"] == 1
    assert out[3]["n_grams"] == 2 and out[3]["n_new"] == 2
    # each distinct gram credits exactly one doc
    assert sum(r["n_new"] for r in out.values()) == 5

    # empty/zero-token docs are excluded, same policy as
    # cross_doc_gram_stats (no novelty verdict on emptiness)
    docs2 = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "   ")], ["doc_id", "text"])
    out2 = {r["doc_id"]: r for r in D.gram_novelty(docs2).collect()}
    assert set(out2) == {1, 2}
    assert out2[1]["n_new"] == 1 and out2[2]["n_new"] == 0

    # scale shape: gram text folds to xxhash64 before every exchange
    plan = (D.gram_novelty(docs)._jdf.queryExecution()
            .executedPlan().toString())
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "g#" not in line, line


def test_corpus_profile_exact_percentiles(spark):
    rows = [("s1", 10), ("s1", 20), ("s1", 30), ("s1", 40), ("s2", 5)]
    docs = spark.createDataFrame(rows, ["source", "n_chars"])
    out = {r["source"]: r for r in T.corpus_profile(docs).collect()}
    assert out["s1"]["n_docs"] == 4
    assert out["s1"]["p50_len"] == 25.0      # interpolated median
    assert out["s1"]["p95_len"] == 38.5      # 0.95*(n-1) interpolation
    assert (out["s2"]["min_len"], out["s2"]["max_len"]) == (5, 5)


def test_dedup_exact_best_keeps_priority_winner(spark):
    rows = [
        (1, "same text", 5), (2, "same text", 9), (3, "same text", 9),
        (4, "unique", 1),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "prio"])
    kept = sorted(r["doc_id"] for r in
                  D.dedup_exact_best(docs, "prio").collect())
    # max prio 9, tie between 2 and 3 -> min id 2
    assert kept == [2, 4]

    # bodies never ride the hash-keyed exchange (same contract as
    # dedup_exact)
    plan = (D.dedup_exact_best(docs, "prio")
            ._jdf.queryExecution().executedPlan().toString())
    for line in plan.splitlines():
        if "Exchange hashpartitioning(_h" in line:
            assert "text#" not in line, line


def test_cross_doc_gram_stats_excludes_empty_docs(spark):
    # punctuation-only / empty docs have no word tokens: they must be
    # excluded, not reported as 100%-shared boilerplate
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "!!! ???"), (3, ""), (4, "a b c e")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in D.cross_doc_gram_stats(docs).collect()}
    assert set(out) == {1, 4}
    assert out[1]["n_shared"] == 1  # "a b c" shared with doc 4


def test_dedup_exact_best_works_with_string_ids(spark):
    rows = [("x1", "same", 5), ("x2", "same", 9), ("y9", "uniq", 1)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "prio"])
    kept = sorted(r["doc_id"] for r in
                  D.dedup_exact_best(docs, "prio").collect())
    assert kept == ["x2", "y9"]


def test_bm25_search_ranks_and_scores(spark):
    """Hand-computed BM25 on a 3-doc corpus: rarer terms score higher,
    repeated terms saturate, non-matching docs are absent."""
    import math

    from knowledge_graph_spark.operators.search import bm25_search

    docs = spark.createDataFrame(
        [(1, "cat dog"), (2, "cat cat cat bird"), (3, "fish fish")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r["score"] for r in
           bm25_search(docs, ["cat", "dog"], k1=1.2, b=0.75).collect()}
    assert set(out) == {1, 2}

    n, avgdl = 3, (2 + 4 + 2) / 3
    def idf(df): return math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    def tfn(tf, dl): return tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    exp1 = idf(2) * tfn(1, 2) + idf(1) * tfn(1, 2)
    exp2 = idf(2) * tfn(3, 4)
    assert abs(out[1] - round(exp1, 6)) < 1e-6
    assert abs(out[2] - round(exp2, 6)) < 1e-6
    # doc 1 wins: it has the rare term "dog"
    assert out[1] > out[2]


def test_tfidf_top_terms_scores_and_ties(spark):
    import math

    from knowledge_graph_spark.operators.search import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "cat dog cat"), (2, "cat bird"), (3, "fish fish dog")],
        ["doc_id", "text"])
    out = tfidf_top_terms(docs, k=2).collect()
    got = {(r["doc_id"], r["rank"]): (r["term"], r["tfidf"]) for r in out}

    def idf(df_): return math.log((1 + 3) / (1 + df_)) + 1.0

    # doc 1: cat tf=2 df=2, dog tf=1 df=2 -> cat wins
    assert got[(1, 1)] == ("cat", round(2 * idf(2), 6))
    assert got[(1, 2)] == ("dog", round(1 * idf(2), 6))
    # doc 2: both tf=1; bird df=1 beats cat df=2
    assert got[(2, 1)][0] == "bird"
    assert got[(2, 2)][0] == "cat"
    # doc 3: fish tf=2 df=1 first
    assert got[(3, 1)] == ("fish", round(2 * idf(1), 6))
    assert len(out) == 6
    # equal scores tie-break by term ascending
    tie = spark.createDataFrame([(1, "bb aa")], ["doc_id", "text"])
    rows = tfidf_top_terms(tie, k=2).orderBy("rank").collect()
    assert [r["term"] for r in rows] == ["aa", "bb"]


def test_bpe_pair_counts_weighted_by_word_frequency(spark):
    from knowledge_graph_spark.operators.textstats import bpe_pair_counts

    docs = spark.createDataFrame(
        [(1, "ab ab abc"), (2, "Abc x")], ["doc_id", "text"])
    # words: ab x2, abc x2 (lowercased), x (too short)
    out = [(r["lhs"], r["rhs"], r["pair_count"])
           for r in bpe_pair_counts(docs).collect()]
    assert out == [("a", "b", 4), ("b", "c", 2)]
    # top_n truncates after the deterministic (count desc, lhs, rhs) order
    assert bpe_pair_counts(docs, top_n=1).collect()[0]["lhs"] == "a"


def test_dsir_weights_unigram_log_ratio(spark):
    import math

    from pyspark.sql import functions as SF

    from knowledge_graph_spark.operators.sampling import dsir_weights

    docs = spark.createDataFrame(
        [(1, "en", "cat cat"), (2, "de", "hund"), (3, "de", "cat hund")],
        ["doc_id", "lang", "text"])
    out = {r["doc_id"]: (r["n_terms"], r["dsir_weight"]) for r in
           dsir_weights(docs, SF.col("lang") == "en").collect()}
    # vocab: cat (raw 3, target 2), hund (raw 2, target 0);
    # totals: n_raw 5, n_t 2, V 2, alpha 1
    r_cat = math.log((2 + 1) / (2 + 2)) - math.log((3 + 1) / (5 + 2))
    r_hund = math.log((0 + 1) / (2 + 2)) - math.log((2 + 1) / (5 + 2))
    assert out[1] == (2, round(r_cat, 6))
    assert out[2] == (1, round(r_hund, 6))
    assert out[3] == (2, round((r_cat + r_hund) / 2, 6))
    # in-domain vocabulary scores above out-of-domain
    assert out[1][1] > out[3][1] > out[2][1]


def test_bpe_train_sennrich_example(spark):
    """The classic BPE walkthrough: 'low'×3 + 'lower' + 'lowest'.
    Greedy merges: (l,o)→lo@5 (tie with (o,w) broken lexicographically),
    (lo,w)→low@5, (low,e)→lowe@2, then (lowe,r)@1 by tie-break; fully
    merged words leave the working set."""
    from knowledge_graph_spark.operators.textstats import bpe_train

    docs = spark.createDataFrame(
        [(1, "low low low lower lowest")], ["doc_id", "text"])
    got = [tuple(r) for r in bpe_train(docs, n_merges=4).collect()]
    assert got == [
        (1, "l", "o", "lo", 5),
        (2, "lo", "w", "low", 5),
        (3, "low", "e", "lowe", 2),
        (4, "lowe", "r", "lower", 1),
    ]


def test_pmi_collocations_hand_values(spark):
    """'x y' repeated 5x: N = 10 tokens, B = 9 bigrams, c(x,y) = 5,
    c(y,x) = 4. pmi(x,y) = ln((5/9)/(0.5·0.5)) = ln(20/9); the floor
    at 5 drops (y,x); B stays the TOTAL bigram mass after the floor."""
    import math

    from knowledge_graph_spark.operators.textstats import pmi_collocations

    docs = spark.createDataFrame(
        [(1, "x y x y x y x y x y")], ["doc_id", "text"])
    rows = pmi_collocations(docs, min_count=4).collect()
    got = {(r["lhs"], r["rhs"]): (r["pair_count"], r["pmi"]) for r in rows}
    assert set(got) == {("x", "y"), ("y", "x")}
    assert got[("x", "y")][0] == 5
    assert abs(got[("x", "y")][1] - math.log(20 / 9)) < 1e-12
    assert abs(got[("y", "x")][1] - math.log(16 / 9)) < 1e-12
    # ordering: higher PMI first
    assert (rows[0]["lhs"], rows[0]["rhs"]) == ("x", "y")
    only = pmi_collocations(docs, min_count=5).collect()
    # (y,x) gone, but B is still 9 — pmi unchanged
    assert len(only) == 1
    assert abs(only[0]["pmi"] - math.log(20 / 9)) < 1e-12


def test_lm_perplexity_hand_model(spark):
    """Bigram LM trained on one doc 'a b a b'; hand-computed smoothed
    scores. V = |{a, b}| + 1 = 3; train bigrams from <s> a b a b:
    c(<s>,a)=1, c(a,b)=2, c(b,a)=1; prefixes c(<s>)=1, c(a)=2, c(b)=2.
    Scoring 'a b' = -[ln((1+.1)/(1+.3)) + ln((2+.1)/(2+.3))] / 2; an
    OOV word maps to <unk> with a zero-count bigram; empty doc NULL."""
    import math

    from knowledge_graph_spark.operators.textstats import lm_perplexity

    docs = spark.createDataFrame(
        [(1, "a b a b", "t"), (2, "a b", "s"), (3, "a z", "s"),
         (4, "", "s")],
        ["doc_id", "text", "kind"])
    rows = {r["doc_id"]: r for r in
            lm_perplexity(docs, F.col("kind") == "t").collect()}
    exp2 = -(math.log(1.1 / 1.3) + math.log(2.1 / 2.3)) / 2
    assert abs(rows[2]["xent"] - exp2) < 1e-12
    assert abs(rows[2]["ppl"] - math.exp(exp2)) < 1e-12
    # doc 3: P(a|<s>) = 1.1/1.3; z → <unk>: P(<unk>|a) = (0+.1)/(2+.3)
    exp3 = -(math.log(1.1 / 1.3) + math.log(0.1 / 2.3)) / 2
    assert abs(rows[3]["xent"] - exp3) < 1e-12
    assert rows[4]["xent"] is None and rows[4]["n_scored"] == 0
    assert rows[2]["n_scored"] == 2
    # training doc: (<s>,a)=1.1/1.3, (a,b)=2.1/2.3, (b,a)=(1+.1)/(1+.3)
    # — prefix b occurs ONCE — then (a,b) again; the mean collapses to
    # exactly doc 2's (a repeating {0.167, 0.091} pattern)
    exp1 = -(2 * math.log(1.1 / 1.3) + 2 * math.log(2.1 / 2.3)) / 4
    assert abs(rows[1]["xent"] - exp1) < 1e-12
    assert rows[1]["n_scored"] == 4
    assert rows[1]["xent"] < rows[3]["xent"]


def test_bpe_encode_counts_after_merges(spark):
    """Encoding with the Sennrich merge list: 'low'→1 token, 'lower'→2
    (lowe+r after 4 merges... lower fully merges at step 4), 'lowest'→
    lowe+s+t = 3; single-char and unseen-char words count char-wise;
    NULL/empty docs report 0/0 instead of disappearing."""
    from knowledge_graph_spark.operators.textstats import (
        bpe_encode, bpe_train,
    )

    train = spark.createDataFrame(
        [(1, "low low low lower lowest")], ["doc_id", "text"])
    merges = [(r["lhs"], r["rhs"])
              for r in bpe_train(train, n_merges=4).collect()]
    docs = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "a xyz"), (3, ""), (4, None)],
        "doc_id int, text string")
    rows = {r["doc_id"]: (r["n_words"], r["n_tokens"])
            for r in bpe_encode(docs, merges, checkpoint_every=2).collect()}
    # low=1 (fully merged), lower=1 (lowe+r merged at step 4),
    # lowest = lowe+s+t = 3
    assert rows[1] == (3, 1 + 1 + 3)
    assert rows[2] == (2, 1 + 3)   # 'a' 1 char; 'xyz' never merged
    assert rows[3] == (0, 0) and rows[4] == (0, 0)


def test_budget_select_prefix_semantics(spark):
    """Budget selection keeps exactly the (score desc, id) prefix whose
    inclusive running token total fits: ties order by id, the boundary
    document that would overflow is excluded, and a budget below the
    first document selects nothing."""
    from knowledge_graph_spark.operators.sampling import budget_select

    docs = spark.createDataFrame(
        [(1, "w " * 10), (2, "w " * 8), (3, "w " * 8),
         (4, "w " * 5), (5, "w")],
        ["doc_id", "text"])
    score = F.size(F.expr(r"filter(split(text, '\\s+'), x -> x != '')")) \
        .cast("double")
    sel = lambda b: sorted(
        r["doc_id"] for r in budget_select(docs, b, score=score).collect())
    # cum: 10(1), 18(2), 26(3), 31(4), 32(5)
    assert sel(27) == [1, 2, 3]
    assert sel(31) == [1, 2, 3, 4]
    assert sel(32) == [1, 2, 3, 4, 5]
    assert sel(9) == []
    assert sel(10) == [1]


def test_span_dedup_first_occurrence_and_reassembly(spark):
    """A block repeated across docs survives only at its smallest
    (doc_id, block index); clean text is the kept blocks in order; a
    doc made entirely of already-seen blocks comes back empty (not
    absent); a short tail block (< block size) is its own block."""
    blk_a = "a b c d"           # 4-word blocks for a small test
    blk_b = "e f g h"
    docs = spark.createDataFrame(
        [
            (1, f"{blk_a} {blk_b}"),          # both blocks first here
            (2, f"{blk_b} {blk_a} tail"),     # both dups + fresh tail
            (3, blk_a),                       # fully duplicate doc
        ],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["n_blocks"], r["n_dropped"], r["clean_text"])
           for r in D.span_dedup(docs, block_words=4).collect()}
    assert out[1] == (2, 0, f"{blk_a} {blk_b}")
    assert out[2] == (3, 2, "tail")
    assert out[3] == (1, 1, "")


def test_span_dedup_within_doc_repetition(spark):
    """The same block repeated INSIDE one doc keeps only its first
    instance — corpus-level span dedup subsumes self-repetition."""
    docs = spark.createDataFrame(
        [(5, "x y x y z")], "doc_id long, text string")
    out = D.span_dedup(docs, block_words=2).collect()[0]
    assert (out["n_blocks"], out["n_dropped"]) == (3, 1)
    assert out["clean_text"] == "x y z"


def test_budget_select_recursive_boundary_refinement(spark):
    """With a 1-row boundary cap, every round must recurse: linear
    score slicing first, then the doc_id tiebreak phase for the heavy
    tied-score block. The result must stay row-identical to the naive
    global running-sum window at EVERY budget (string ids exercise the
    prefix-refinement path; longs the numeric range path)."""
    from pyspark.sql import Window
    from knowledge_graph_spark.operators.sampling import budget_select

    # 40 rows: 3 distinct high scores, then 30 rows ALL tied at 5.0
    # (forces the id phase), then a low tail; token counts vary
    rows = []
    for i in range(5):
        rows.append((i, "w " * (i + 3), 9.0 + i * 0.125))
    for i in range(5, 35):
        rows.append((i, "w " * ((i % 4) + 1), 5.0))
    for i in range(35, 40):
        rows.append((i, "w " * 2, 1.0))
    for ids in ("long", "string"):
        docs = spark.createDataFrame(
            [(str(i) if ids == "string" else i, t, s) for i, t, s in rows],
            f"doc_id {ids}, text string, s double")
        w = Window.orderBy(F.col("s").desc(), F.col("doc_id"))
        toks = F.size(F.expr(r"filter(split(text, '\\s+'), x -> x != '')"))
        ref_base = (docs.select("doc_id", toks.alias("n"), "s")
                    .withColumn("_cum", F.sum("n").over(w)))
        for budget in (0, 7, 23, 24, 60, 61, 100, 10_000):
            want = sorted(r["doc_id"] for r in
                          ref_base.filter(F.col("_cum") <= budget).collect())
            got = sorted(r["doc_id"] for r in budget_select(
                docs, budget, score=F.col("s"),
                boundary_row_cap=1).collect())
            assert got == want, (ids, budget, got, want)


def test_extract_links_and_host_counts(spark):
    """Links found case-insensitively, trailing sentence punctuation
    stripped, canonicalized (scheme/host case, www., default port,
    tracking params), occurrence-deduped per doc; linkless docs emit
    nothing; every link carries its canonical host."""
    from knowledge_graph_spark.operators.urls import extract_links

    docs = spark.createDataFrame([
        (1, "see HTTP://WWW.Ref.org:80/a?utm_source=x&b=1, and "
            "(https://b.com/x)."),
        (2, "plain text, no links"),
        (3, "dup https://b.com/x! twice https://b.com/x and "
            "https://c.net/y; end"),
        (4, None),
    ], "doc_id long, text string")
    links = extract_links(docs)
    got = sorted(tuple(r) for r in links.collect())
    assert got == [
        (1, "http://ref.org/a?b=1", "ref.org"),
        (1, "https://b.com/x", "b.com"),
        (3, "https://b.com/x", "b.com"),
        (3, "https://c.net/y", "c.net"),
    ]
    raw = extract_links(docs, canonicalize=False).collect()
    assert any(r["url"].startswith("HTTP://WWW.") for r in raw)


def test_path_templates_generalization(spark):
    """Hex runs (>=8 chars) collapse to {hex} BEFORE digit runs
    collapse to {n}; short hex stays literal except its digits; query
    strings are ignored; empty path reads as '/'; hostless strings
    are dropped; counts separate pages from distinct urls."""
    from knowledge_graph_spark.operators.urls import path_templates

    docs = spark.createDataFrame([
        ("https://a.com/article/17/view",),
        ("https://a.com/article/9000/view",),
        ("https://a.com/article/17/view",),       # dup page, same url
        ("https://a.com/u/deadbeef01/profile",),  # 10-char hex
        ("https://a.com/u/ab12/profile",),        # short: only digits
        ("https://a.com",),                       # empty path -> '/'
        ("https://a.com/x?page=2",),              # query ignored
        ("not a url",),
    ], "url string")
    got = {(r["host"], r["template"]): (r["n_pages"], r["n_urls"])
           for r in path_templates(docs).collect()}
    assert got == {
        ("a.com", "/article/{n}/view"): (3, 2),
        ("a.com", "/u/{hex}/profile"): (1, 1),
        ("a.com", "/u/ab{n}/profile"): (1, 1),
        ("a.com", "/"): (1, 1),
        ("a.com", "/x"): (1, 1),
    }


def test_cocitation_counts_pairs_and_guards(spark):
    """Pairs are lexicographic (host_a < host_b) over DISTINCT hosts
    per doc; single-host and over-cap docs contribute nothing; NULL
    and empty hosts are dropped; counts accumulate across docs."""
    from knowledge_graph_spark.operators.urls import cocitation_counts

    links = spark.createDataFrame([
        (1, "b.com"), (1, "a.com"), (1, "a.com"),   # dup host deduped
        (2, "a.com"), (2, "b.com"), (2, "c.net"),
        (3, "x.org"),                                # single -> none
        (4, None), (4, ""), (4, "a.com"),            # null/empty only
        (5, "h1"), (5, "h2"), (5, "h3"), (5, "h4"),  # over cap=3
    ], "doc_id long, host string")
    got = sorted(tuple(r) for r in
                 cocitation_counts(links, max_hosts_per_doc=3).collect())
    assert got == [
        ("a.com", "b.com", 2),
        ("a.com", "c.net", 1),
        ("b.com", "c.net", 1),
    ]


def test_textrank_keywords_ranking_and_filters(spark):
    """The graph hub ('spark', co-occurring with everything) must rank
    first; words shorter than min_len never appear; isolated words
    (no within-window partner) are excluded; output is deterministic
    across runs; window=1 restricts edges to adjacent pairs."""
    from knowledge_graph_spark.operators.textstats import textrank_keywords

    docs = spark.createDataFrame(
        [(1, "spark runs fast and spark scales well"),
         (2, "fast spark jobs scale on the cluster"),
         (3, "the cluster runs spark jobs"),
         (4, "lonely"),  # 1 token -> no pairs -> excluded
         ], "doc_id long, text string")
    rows = textrank_keywords(docs, top_n=50).collect()
    words = [r["word"] for r in rows]
    assert words[0] == "spark"
    assert "on" not in words  # len < min_len (3) dropped
    assert "lonely" not in words                      # isolated
    assert rows == textrank_keywords(docs, top_n=50).collect()
    # window=1: only adjacent co-occurrence; 'spark'..'scales' edge via
    # position pairs still exists, but 'runs'-'and' (distance 2) doesn't
    narrow = {r["word"] for r in
              textrank_keywords(docs, top_n=50, window=1).collect()}
    assert "spark" in narrow
    with pytest.raises(ValueError):
        textrank_keywords(docs, window=0)


def test_normalize_text_rules(spark):
    """Each normalization rule on hand-built strings: control strip,
    CRLF, zero-width removal, quote/dash folding, unicode-space
    mapping, whitespace collapse — plus idempotence and NULL
    passthrough. Exact expected outputs, written by hand."""
    from knowledge_graph_spark.functions.textnorm import normalize_text

    cases = [
        ("a\r\nb\rc", "a\nb\nc"),
        ("x\x00y\x07z\x1b!", "xyz!"),
        ("a​b‌‍c﻿", "abc"),
        ("‘q’ “w”", "'q' \"w\""),
        ("a–b—c−d", "a-b-c-d"),
        ("a b　c d", "a b c d"),
        ("a  \t  b", "a b"),
        ("line1   \nline2", "line1\nline2"),
        ("p1\n\n\n\n\np2", "p1\n\np2"),
        ("  padded  ", "padded"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], "id int, t string")
    got = {r["id"]: r["n"]
           for r in df.select("id", normalize_text("t").alias("n")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, repr(cases[i][0]), repr(got[i]), repr(want))
    # idempotence: normalized text is a fixed point
    df2 = spark.createDataFrame(
        [(i, v) for i, v in got.items() if v is not None], "id int, t string")
    again = {r["id"]: r["n"]
             for r in df2.select("id", normalize_text("t").alias("n")).collect()}
    for i, v in again.items():
        assert v == got[i]


def test_weighted_sample_matches_python_reference_and_biases(spark):
    """weighted_sample_k must equal an independent pure-Python
    Efraimidis-Spirakis recomputation (md5-hash uniform), exclude
    non-positive/NULL weights, return exactly k per stratum, and
    actually BIAS toward heavy rows: a row with 50x the weight of the
    field must be selected ~always across salts."""
    import hashlib
    import math

    from knowledge_graph_spark.operators.sampling import weighted_sample_k

    def es_key(key, w, salt=""):
        h = int(hashlib.md5(f"{key}/{salt}".encode()).hexdigest()[:13], 16)
        u = (h + 0.5) / float(1 << 52)
        return -math.log(u) / w

    rows = [(i, "s%d" % (i % 2), float(1 + i % 7)) for i in range(40)]
    rows += [(100, "s0", None), (101, "s1", 0.0), (102, "s0", -3.0)]
    df = spark.createDataFrame(rows, "doc_id long, source string, w double")
    got = weighted_sample_k(df, k=5, weight=F.col("w"), key_col="doc_id",
                            stratum_col="source")
    sel = sorted((r["source"], r["doc_id"]) for r in got.collect())
    # python reference: per stratum, 5 smallest -ln(u)/w
    want = []
    for s in ("s0", "s1"):
        cand = [(es_key(i, w), i) for i, src, w in rows
                if src == s and w is not None and w > 0]
        want += [(s, i) for _, i in sorted(cand)[:5]]
    assert sel == sorted(want)
    assert not any(d >= 100 for _, d in sel)  # bad weights excluded
    # bias: doc 999 with weight 500 vs 40 docs of weight 10 — its
    # inclusion probability is 500/(500+400) > 0.55 per draw; across 8
    # independent salts it must be picked at least 3 times (p(<3) ~ 1e-3)
    heavy = [(i, 10.0) for i in range(40)] + [(999, 500.0)]
    hdf = spark.createDataFrame(heavy, "doc_id long, w double")
    hits = 0
    for salt in map(str, range(8)):
        top = weighted_sample_k(hdf, k=1, weight=F.col("w"),
                                key_col="doc_id", salt=salt).first()
        hits += top["doc_id"] == 999
    assert hits >= 3, hits


def test_url_canonicalization_rules(spark):
    """Each canonicalization rule on a hand-built url set: case,
    www-strip, default/non-default ports, fragment, tracking-param
    removal, param sorting, empty path, passthrough of unparseable
    strings — plus idempotence (canon(canon(x)) == canon(x)) and the
    strip_www=False variant."""
    from knowledge_graph_spark.operators.urls import (
        canonical_url, canonicalize_urls, url_duplicate_groups,
    )

    cases = [
        ("HTTPS://WWW.Ex.COM:443/a?utm_source=m&b=2&a=1#f",
         "https://ex.com/a?a=1&b=2"),
        ("http://ex.com:80/a", "http://ex.com/a"),
        ("http://ex.com:8080/a", "http://ex.com:8080/a"),
        ("https://ex.com", "https://ex.com/"),
        ("https://ex.com?ref=x&gclid=1&utm_campaign=z", "https://ex.com/"),
        ("ftp://Files.Ex.com/pub/x.gz", "ftp://files.ex.com/pub/x.gz"),
        ("no scheme here", "no scheme here"),
        ("https://ex.com/a/?q=%41%2F", "https://ex.com/a/?q=%41%2F"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "id int, url string")
    got = {r["id"]: r["canonical_url"]
           for r in canonicalize_urls(df).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i], want)
    # idempotence: canonical urls are fixed points
    df2 = spark.createDataFrame(
        [(i, c) for i, c in got.items()], "id int, url string")
    again = {r["id"]: r["canonical_url"]
             for r in canonicalize_urls(df2).collect()}
    assert again == got
    # strip_www=False keeps the www host distinct
    kept = df.select(
        canonical_url("url", strip_www=False).alias("c")).first()["c"]
    assert kept == "https://www.ex.com/a?a=1&b=2"
    # duplicate grouping: two spellings, one canonical, min survivor
    urls = spark.createDataFrame(
        [("HTTP://WWW.Ex.com:80/p?utm_source=a&x=1",),
         ("http://ex.com/p?x=1",), ("http://ex.com/other",)],
        "url string")
    g = url_duplicate_groups(urls).collect()
    assert len(g) == 1
    assert g[0]["canonical_url"] == "http://ex.com/p?x=1"
    assert g[0]["n_spellings"] == 2
    assert g[0]["first_url"] == "HTTP://WWW.Ex.com:80/p?utm_source=a&x=1"


def test_budget_select_property_vs_python_reference(spark):
    """Property sweep (deterministic seed grid, Spark-fixture friendly):
    random-ish score/token tables with heavy tie mass, every budget
    regime, 1-row boundary cap — must equal the pure-Python prefix
    reference exactly (an independent recomputation, not a Spark
    window)."""
    import random

    from knowledge_graph_spark.operators.sampling import budget_select

    for seed in range(6):
        rng = random.Random(seed)
        n = rng.randint(5, 40)
        score_pool = [0.0, 1.0, 2.5, 2.5, 2.5, 7.0, 7.0, 31.25]
        rows = [(i, rng.choice(score_pool), rng.randint(1, 9))
                for i in range(n)]
        total = sum(t for _, _, t in rows)
        docs = spark.createDataFrame(
            [(i, "w " * t, s) for i, s, t in rows],
            "doc_id long, text string, s double")
        for budget in {0, 1, total // 3, total - 1, total, total + 5}:
            ordered = sorted(rows, key=lambda r: (-r[1], r[0]))
            want, cum = [], 0
            for i, s, t in ordered:
                if cum + t > budget:
                    break
                cum += t
                want.append(i)
            got = sorted(r["doc_id"] for r in budget_select(
                docs, budget, score=F.col("s"),
                boundary_row_cap=1).collect())
            assert got == sorted(want), (seed, budget, got, sorted(want))


def test_budget_select_ignores_null_scores(spark):
    """NULL-score rows have no rank: they must be excluded, not crash
    the driver-side bucket prefix (NULL bucket reached sorted())."""
    from knowledge_graph_spark.operators.sampling import budget_select

    docs = spark.createDataFrame(
        [(1, "a b", 2.0), (2, "c d", None), (3, "e f", 1.0)],
        "doc_id long, text string, s double")
    got = sorted(r["doc_id"] for r in
                 budget_select(docs, 4, score=F.col("s")).collect())
    assert got == [1, 3]


def test_hard_negatives_excludes_same_label(spark):
    """Top-k similar vectors must all carry a label different from the
    query's; the query vector itself (same label) never appears; ranks
    follow cosine desc."""
    rows = [
        (1, [1.0, 0.0], 0),   # query
        (2, [1.0, 0.01], 0),  # same label: excluded even though closest
        (3, [1.0, 0.1], 1),   # best negative
        (4, [0.0, 1.0], 2),   # orthogonal negative
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    q = emb.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("query_vec"))
    got = [(r["vec_id"], r["rank"])
           for r in S.hard_negatives(emb, q, k=2)
           .orderBy("rank").collect()]
    assert got == [(3, 1), (4, 2)]


def test_exact_dedup_null_texts_all_survive(spark):
    """NULL texts hash to NULL and would group as one bogus duplicate
    set: they must all survive dedup (and never form a group)."""
    docs = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, None), (4, None)],
        "doc_id long, text string")
    assert sorted(r["doc_id"] for r in D.dedup_exact(docs).collect()) \
        == [1, 3, 4]
    groups = D.exact_duplicates(docs).collect()
    assert len(groups) == 1 and groups[0]["dup_ids"] == [1, 2]
    best = D.dedup_exact_best(docs.withColumn("p", F.lit(1.0)), "p")
    assert sorted(r["doc_id"] for r in best.collect()) == [1, 3, 4]


def test_quality_score_null_text_scores_null(spark):
    """A NULL text must not score a perfect 1.0 (every penalty arm
    evaluates NULL -> 0); NULL quality then fails >= gates."""
    docs = spark.createDataFrame([(1, None)], "doc_id long, text string")
    row = T.with_quality_score(docs).collect()[0]
    assert row["quality"] is None


def test_simhash_survives_wide_documents(spark):
    """A document with >32,768 distinct shingles used to overflow the
    packed top lane under ANSI mode (ArithmeticException); the split
    top-lane sums must survive and still match a narrow doc's identity
    property."""
    wide = " ".join(f"w{i}" for i in range(34_000))
    docs = spark.createDataFrame(
        [(1, wide), (2, wide)], "doc_id long, text string")
    fps = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    assert fps[1] == fps[2]


def test_word_ngrams_binds_tokens_once_and_matches_inline_form(spark):
    """word_ngrams binds the token array once instead of re-splitting
    the text inside the n-gram lambda; on NULL, empty, punctuation-only,
    shorter-than-n, CJK, mixed and ordinary texts it returns exactly
    what the inline expression returns, for n = 1, 2, 3."""
    from knowledge_graph_spark.functions.vectors import word_ngrams

    def inline(col, n):
        w = (f"filter(split(lower({col}), '[^\\\\p{{L}}\\\\p{{N}}]+'), "
             "x -> x != '')")
        return F.expr(
            f"CASE WHEN size({w}) >= {n} "
            f"THEN transform(sequence(0, size({w}) - {n}), "
            f"i -> array_join(slice({w}, i + 1, {n}), ' ')) "
            f"ELSE array(array_join({w}, ' ')) END")

    texts = [None, "", "   ", "!!! ... ,,,", "one", "One two",
             "华星科技公司收购蓝海集团", "华星 科技 公司 收购 蓝海",
             "The quick, brown fox -- jumps over 2 lazy dogs!",
             "a b c d e f g h", "Ünïcode wörds, ÄÖÜ 数据 42x"]
    docs = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    for n in (1, 2, 3):
        rows = docs.select("id", word_ngrams("text", n).alias("new"),
                           inline("text", n).alias("old")).collect()
        assert len(rows) == len(texts)
        for r in rows:
            assert r["new"] == r["old"], (n, texts[r["id"]], r["new"], r["old"])


def test_topk_drops_nan_scores_from_zero_vectors(spark):
    """A zero-norm vector has cosine NaN against every query, and Spark
    orders NaN first under desc — it must be excluded, not rank 1."""
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], 1), (3, [0.0, 0.0], 2)],
        "vec_id long, embedding array<float>, label int")
    q = emb.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("query_vec"))
    top = S.brute_force_topk(emb, q.drop("query_label"), k=3).collect()
    assert [r["vec_id"] for r in sorted(top, key=lambda r: r["rank"])] \
        == [1, 2]
    hard = S.hard_negatives(emb, q, k=3).collect()
    assert [r["vec_id"] for r in sorted(hard, key=lambda r: r["rank"])] \
        == [2]


def test_embedding_neardups_ignores_zero_vectors(spark):
    """Zero vectors share LSH buckets (all-ones sign bits) but their
    cosine is NaN >= threshold under Spark's NaN ordering — the exact
    verification must drop them instead of merging unrelated vectors."""
    rows = [(1, [0.0, 0.0, 0.0, 0.0]), (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [1.0, 0.0, 0.0, 0.0]), (4, [1.0, 0.001, 0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = D.embedding_near_duplicates(
        emb, threshold=0.99, bands=4, rows_per_band=2).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(3, 4)}


def test_rrf_fuse_hand_scores(spark):
    """Doc 1 ranks 1 and 2 across two lists → 1/61 + 1/62 with
    n_lists 2; docs in one list only get their single term; k shifts
    every denominator."""
    from knowledge_graph_spark.operators.search import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2)], ["doc_id", "rank"])
    b = spark.createDataFrame([(1, 2), (3, 1)], ["doc_id", "rank"])
    got = {r["doc_id"]: r for r in rrf_fuse([a, b]).collect()}
    assert abs(got[1]["rrf_score"] - (1 / 61 + 1 / 62)) < 1e-15
    assert got[1]["n_lists"] == 2
    assert abs(got[2]["rrf_score"] - 1 / 62) < 1e-15
    assert abs(got[3]["rrf_score"] - 1 / 61) < 1e-15
    got5 = {r["doc_id"]: r["rrf_score"]
            for r in rrf_fuse([a, b], k=5).collect()}
    assert abs(got5[1] - (1 / 6 + 1 / 7)) < 1e-15


# ---------------------------------------------------------------------------
# semantic (embedding-cluster) dedup — SemDeDup
# ---------------------------------------------------------------------------


def _semdedup_frame(spark):
    # 12 well-separated base vectors + exact copies of three of them
    import math

    rows = []
    for i in range(12):
        ang = i * math.pi / 6.0
        rows.append((i, [math.cos(ang), math.sin(ang), float(i % 3)]))
    for src, cid in [(0, 100), (5, 101), (11, 102)]:
        rows.append((cid, rows[src][1]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_semantic_dedup_drops_exact_copies(spark):
    df = _semdedup_frame(spark)
    for n_iter in (0, 2):  # the replayable init AND the Lloyd path
        got = {r["vec_id"]: r for r in D.semantic_dedup(
            df, n_clusters=4, n_iter=n_iter, threshold=0.999).collect()}
        assert len(got) == 15
        # an exact copy always joins its original's cell -> dropped
        for src, cid in [(0, 100), (5, 101), (11, 102)]:
            assert got[cid]["keep"] == 0
            assert got[cid]["cell_id"] == got[src]["cell_id"]
            assert got[src]["keep"] == 1  # lower id survives
        assert sum(r["keep"] for r in got.values()) == 12


def test_semantic_dedup_no_pairs_above_threshold_keeps_all(spark):
    df = spark.createDataFrame(
        [(i, [1.0 if j == i else 0.0 for j in range(6)]) for i in range(6)],
        ["vec_id", "embedding"])  # orthogonal: cosine 0 everywhere
    got = D.semantic_dedup(df, n_clusters=2, threshold=0.5).collect()
    assert len(got) == 6 and all(r["keep"] == 1 for r in got)


def test_semantic_dedup_megacluster_guard(spark):
    # all vectors near-identical -> one cluster; with max_cluster below
    # its size the cluster is excluded from pairing and everything keeps
    df = spark.createDataFrame(
        [(i, [1.0, 0.0, i * 1e-9]) for i in range(20)],
        ["vec_id", "embedding"])
    got = D.semantic_dedup(df, n_clusters=2, threshold=0.9,
                           max_cluster=5).collect()
    assert len(got) == 20 and all(r["keep"] == 1 for r in got)
    # and with the guard open, the near-identical ones collapse to one
    got2 = D.semantic_dedup(df, n_clusters=2, threshold=0.9).collect()
    assert sum(r["keep"] for r in got2) < 20
    assert min(r["vec_id"] for r in got2 if r["keep"]) == 0


def test_perplexity_buckets_terciles(spark):
    from knowledge_graph_spark.operators.textstats import perplexity_buckets

    # 9 docs, one language: terciles must be 3/3/3 with head holding
    # the most-target-like (lowest cross-entropy) third; an empty doc
    # gets no bucket
    rows = [(i, "en", "the quick brown fox " * (i + 1)) for i in range(9)]
    rows.append((99, "en", ""))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = perplexity_buckets(docs, F.col("lang") == "en").collect()
    assert len(out) == 9                       # empty doc unbucketed
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r)
    assert {k: len(v) for k, v in by_bucket.items()} == {
        "head": 3, "middle": 3, "tail": 3}
    assert (max(r["xent_r"] for r in by_bucket["head"])
            <= min(r["xent_r"] for r in by_bucket["middle"])
            <= max(r["xent_r"] for r in by_bucket["middle"])
            <= min(r["xent_r"] for r in by_bucket["tail"]))


def test_dup_span_coverage_interval_merge(spark):
    # the shared 10-token slogan: 3 overlapping dup windows per doc
    # must merge to exactly 10 covered tokens; a sub-w doc has zero
    # windows; every input row survives
    slog = "zero one two three four five six seven eight nine"
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j " + slog),
         (2, slog + " k l m n o p q r s t"),
         (3, "unique words only here nothing repeated at all today pal"),
         (4, "short doc"),
         (5, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.dup_span_coverage(docs, w=8).collect()}
    assert (out[1]["n_windows"], out[1]["n_dup_windows"],
            out[1]["covered_tokens"]) == (13, 3, 10)
    assert (out[2]["n_dup_windows"], out[2]["covered_tokens"]) == (3, 10)
    assert out[3]["covered_tokens"] == 0
    assert (out[4]["n_windows"], out[5]["n_tokens"]) == (0, 0)
    assert len(out) == 5


def test_winnow_guarantee_and_density(spark):
    from knowledge_graph_spark.operators.textstats import winnow_fingerprints

    # winnowing guarantee: a shared run of >= n+k-1 = 6 words yields
    # >= 1 shared fingerprint in BOTH docs; disjoint text shares none
    shared = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [(1, "one two three " + shared + " four five six"),
         (2, "seven eight " + shared + " nine ten"),
         (3, "totally different words with no overlap at all here"),
         (4, "tiny doc"),
         (5, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in winnow_fingerprints(docs).collect()}
    assert out[1]["n_shared"] >= 1 and out[2]["n_shared"] >= 1
    assert out[3]["n_shared"] == 0
    # density bound: never more fingerprints than windows
    for i in (1, 2, 3):
        assert 1 <= out[i]["n_fingerprints"] <= max(out[i]["n_grams"] - 3, 1)
    # sub-(n+k-1) docs have zero windows; every row survives
    assert out[4]["n_fingerprints"] == 0 and out[5]["n_grams"] == 0
    assert len(out) == 5


def test_phrase_search_order_and_repeats(spark):
    from knowledge_graph_spark.operators.search import phrase_search

    docs = spark.createDataFrame(
        [(1, "new york is not york new at all"),
         (2, "the new new york york times"),
         (3, "new but no match here"),
         (4, "a a a"),
         (5, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["n_matches"], r["first_pos"])
           for r in phrase_search(docs, "new york").collect()}
    assert out == {1: (1, 0), 2: (1, 2)}   # order matters; york-new not
    # a repeated-term phrase: one token may fill several slots, but a
    # start still needs BOTH slots -> "a a a" has starts 0 and 1
    out2 = {r["doc_id"]: (r["n_matches"], r["first_pos"])
            for r in phrase_search(docs, "a a").collect()}
    assert out2 == {4: (2, 0)}
    import pytest as _pt
    with _pt.raises(ValueError, match="phrase"):
        phrase_search(docs, "   ")


def test_dup_span_coverage_matches_bruteforce(spark):
    """Coverage equals the brute-force interval-union size on a seeded
    pseudo-random corpus with planted repeats."""
    import random

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(12)]
    slog = "p q r s t u v w x y"            # planted 10-token passage
    rows = []
    for d in range(40):
        toks = [rng.choice(vocab) for _ in range(rng.randrange(0, 30))]
        if d % 4 == 0:
            at = rng.randrange(0, len(toks) + 1)
            toks[at:at] = slog.split()
        rows.append((d, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    W = 8
    out = {r["doc_id"]: r
           for r in D.dup_span_coverage(docs, w=W).collect()}

    # brute force: global window counts, then per-doc interval union
    from collections import Counter
    wins = {}
    cnt = Counter()
    for d, text in rows:
        t = text.split()
        ws = [tuple(t[i:i + W]) for i in range(len(t) - W + 1)]
        wins[d] = ws
        cnt.update(set())  # no-op, keep Counter import obvious
        for g in ws:
            cnt[g] += 1
    for d, text in rows:
        t = text.split()
        covered = set()
        dupw = 0
        for i, g in enumerate(wins[d]):
            if cnt[g] > 1:
                dupw += 1
                covered.update(range(i, i + W))
        r = out[d]
        assert (r["n_tokens"], r["n_windows"]) == (len(t), len(wins[d]))
        assert r["n_dup_windows"] == dupw, d
        assert r["covered_tokens"] == len(covered), d


def test_winnow_matches_bruteforce_sets(spark):
    """Selected-fingerprint SETS equal the brute-force sliding-window
    minima over the same md5-52bit hashes (position-free variant)."""
    import hashlib
    import random

    from knowledge_graph_spark.operators.textstats import winnow_fingerprints

    def h52(sx):
        return int(hashlib.md5(sx.encode()).hexdigest()[:13], 16)

    rng = random.Random(7)
    vocab = [f"v{i}" for i in range(9)]
    rows = [(d, " ".join(rng.choice(vocab)
                         for _ in range(rng.randrange(0, 25))))
            for d in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    N, K = 3, 4
    out = {r["doc_id"]: r
           for r in winnow_fingerprints(docs, n=N, k=K).collect()}

    fps = {}
    for d, text in rows:
        t = text.split()
        hs = [h52(" ".join(t[i:i + N])) for i in range(len(t) - N + 1)]
        sel = {min(hs[q:q + K]) for q in range(len(hs) - K + 1)}
        fps[d] = sel
        assert out[d]["n_fingerprints"] == len(sel), d
    from collections import Counter
    share = Counter()
    for d, s in fps.items():
        share.update(s)
    for d, s in fps.items():
        expected = sum(1 for h in s if share[h] > 1)
        assert out[d]["n_shared"] == expected, d


def test_dedup_incremental_verdicts(spark):
    base = " ".join(f"w{i}" for i in range(30))
    existing = spark.createDataFrame(
        [(1, base), (2, "completely different text " * 5), (3, base)],
        "doc_id long, text string")
    incoming = spark.createDataFrame(
        [(101, base),                                    # exact, twice
         (102, " ".join(f"w{i}" for i in range(29))),    # near (prefix)
         (103, "nothing like anything else at all q z"),
         (104, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in D.dedup_incremental(existing, incoming).collect()}
    assert out[101]["verdict"] == "exact"
    assert out[101]["n_exact_matches"] == 2      # both copies counted
    assert out[101]["n_near_matches"] == 0       # exact wins precedence
    assert out[102]["verdict"] == "near"
    assert out[102]["n_near_matches"] == 2
    assert out[103]["verdict"] == "new"
    assert out[104]["verdict"] == "new"          # NULL text -> new
    assert len(out) == 4                         # every incoming row out
    import pytest as _pt
    for bands in (3, 0):
        with _pt.raises(ValueError, match="bands"):
            D.dedup_incremental(existing, incoming, num_hashes=8,
                                bands=bands)


def test_c4_line_filter_rules_and_verdicts(spark):
    from knowledge_graph_spark.operators.cleaning import c4_line_filter

    good = "this is a perfectly fine prose sentence with many words."
    docs = spark.createDataFrame(
        [(1, "\n".join([good, "Too short.",
                        "no terminal punctuation on this line",
                        "Please enable JavaScript to continue browsing.",
                        good, good])),
         (2, good + "\nlorem ipsum dolor sit amet consectetur adipiscing."
             + "\n" + good + "\n" + good),
         (3, "\n".join([good, good, "var f = function() { return 1; }.",
                        good])),
         (4, good + "\n" + good),       # only 2 kept -> too_few_lines
         (5, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_line_filter(docs).collect()}
    r1 = out[1]
    assert (r1["n_kept"], r1["n_drop_punct"], r1["n_drop_short"],
            r1["n_drop_js"]) == (3, 1, 1, 1)
    assert r1["page_verdict"] == "ok"
    assert r1["clean_text"] == "\n".join([good, good, good])
    assert out[2]["page_verdict"] == "lorem_ipsum"
    assert out[2]["clean_text"] == ""
    assert out[3]["page_verdict"] == "brace"
    assert out[4]["page_verdict"] == "too_few_lines"
    # NULL -> one empty line, dropped by the punctuation rule
    assert out[5]["n_lines"] == 1 and out[5]["n_drop_punct"] == 1
    assert out[5]["page_verdict"] == "too_few_lines"


def test_script_profile_counts_and_majority(spark):
    from knowledge_graph_spark.operators.textstats import script_profile

    docs = spark.createDataFrame(
        [(1, "hello мир 一二三 123 !"),
         (2, "это русский текст"),
         (3, "....."),            # all punctuation -> other
         (4, None),
         (5, "abcd 0123")],       # 4-4 latin/digit tie -> latin
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in script_profile(docs).collect()}
    r1 = out[1]
    assert (r1["n_latin"], r1["n_cyrillic"], r1["n_cjk"],
            r1["n_digit"]) == (5, 3, 3, 3)
    assert r1["n_other"] == 5 and r1["n_chars"] == 19   # 4 spaces + !
    assert r1["majority_script"] == "other"   # 5-5 tie, name-greatest
    assert out[2]["majority_script"] == "cyrillic"
    assert out[3]["majority_script"] == "other"
    assert out[4]["n_chars"] == 0
    assert out[4]["majority_script"] == "other"
    assert out[5]["majority_script"] == "latin"         # tie-break


def test_gopher_rules_flags(spark):
    from knowledge_graph_spark.operators.textstats import gopher_rules

    good = " ".join(
        ["the quick brown fox jumps over and that have with lazy dogs"]
        * 5)  # 60 words, all alpha, mean wl ~3.9, 5 stopword kinds
    docs = spark.createDataFrame(
        [(1, good),
         (2, "short text the and"),                    # < min_words
         (3, good + " " + "#" * 9),                    # 61 words, 9 '#'
         (4, "- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j\nprose"),
         (5, good + "\nwait for it...\nmore..."),      # 2/3 ellipsis lines
         (6, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_rules(docs).collect()}
    assert out[1]["pass_gopher"] and out[1]["n_stop_hits"] == 5
    assert not out[2]["ok_word_count"] and out[2]["ok_stopwords"]
    # 9 symbols vs 61 words -> 90 > 61 fails; the '#########' word also
    # breaks the 80% alpha rule only if >20% non-alpha (1/61 passes)
    assert not out[3]["ok_symbols"] and out[3]["ok_alpha"]
    assert not out[4]["ok_bullets"]        # 10 of 11 lines bulleted
    assert not out[5]["ok_ellipsis"]       # 2 of 3 lines end ...
    assert out[6]["n_words"] == 0 and not out[6]["pass_gopher"]
    assert out[6]["n_lines"] == 1          # NULL -> one empty line


def test_line_language_profile_majority_and_ties(spark):
    from knowledge_graph_spark.operators.textstats import (
        line_language_profile)

    pages = spark.createDataFrame(
        [(1, "the data is here and ready\n这是一个很长的中文段落内容\n"
             "the second english line with stopwords"),
         (2, "这是中文第一行的内容\n这是中文第二行的内容"),
         (3, "12345 ???\nthe one english line here"),   # 1-1 tie
         (4, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in line_language_profile(pages).collect()}
    assert (out[1]["majority_lang"], out[1]["n_majority"],
            out[1]["n_minority"]) == ("en", 2, 1)
    assert out[2]["majority_lang"] == "zh" and out[2]["n_minority"] == 0
    # tie 'en' vs 'other' breaks to the lexicographically greatest
    assert out[3]["majority_lang"] == "other"
    # NULL/blank-only text has no non-blank line -> no profile row
    # (r5: blank lines are paragraph separators, never 'other' lines)
    assert 4 not in out


def test_line_language_profile_drops_blank_lines(spark):
    from knowledge_graph_spark.operators.textstats import (
        line_language_profile)

    pages = spark.createDataFrame(
        [(1, "the cat is here and ready\n\nthe dog is there and fed\n"
             "\n  \nthe fox was seen by all")],
        "doc_id long, text string")
    row = line_language_profile(pages).collect()[0]
    # 3 prose paragraphs, zero manufactured 'other' lines
    assert (row["n_lines"], row["majority_lang"],
            row["n_minority"]) == (3, "en", 0)


def test_repetition_plan_greedy_fill(spark):
    from knowledge_graph_spark.operators.sampling import repetition_plan

    # per-source token masses: a=100 (x3 docs), b=60, c=40, d=0
    docs = spark.createDataFrame(
        [("a", 50), ("a", 30), ("a", 20), ("b", 60), ("c", 40),
         ("d", 0)],
        "source string, nt long")
    from pyspark.sql import functions as F
    out = {r["source"]: r for r in repetition_plan(
        docs, budget_tokens=490, max_epochs=4,
        tokens=F.col("nt")).collect()}
    # order: a(100), b(60), c(40), d(0); caps 400/240/160/0
    a, b, c, d = out["a"], out["b"], out["c"], out["d"]
    assert (a["tokens_used"], a["epochs_full"], a["extra_tokens"]) \
        == (400, 4, 0)
    assert (b["tokens_used"], b["epochs_full"], b["extra_tokens"]) \
        == (90, 1, 30)          # 490-400=90 -> 1 full epoch + 30
    assert c["tokens_used"] == 0 and c["epochs_full"] == 0
    assert d["tokens_used"] == 0 and d["epochs_full"] == 0

    # budget exceeding all caps: everything at max_epochs
    out2 = {r["source"]: r for r in repetition_plan(
        docs, budget_tokens=10_000, max_epochs=2,
        tokens=F.col("nt")).collect()}
    assert out2["c"]["tokens_used"] == 80 and out2["c"]["epochs_full"] == 2

    import pytest as _pt
    with _pt.raises(ValueError, match="budget"):
        repetition_plan(docs, budget_tokens=-1, tokens=F.col("nt"))


def test_readability_counts(spark):
    from knowledge_graph_spark.operators.textstats import (
        readability_counts)

    docs = spark.createDataFrame(
        [(1, "The cat sat. It purred! Was it happy?"),
         (2, "table cake little"),     # silent-e / -le rules
         (3, None),
         (4, "12345 !!!")],            # no letters -> 0 syllables
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in readability_counts(docs).collect()}
    r1 = out[1]
    assert (r1["n_words"], r1["n_sentences"]) == (8, 3)
    # the(1) cat(1) sat(1) it(1) purred(2: u,e groups; ends 'd') was(1)
    # it(1) happy(2)
    assert r1["n_syllables"] == 10
    # table: ta-ble -> groups a,e=2, ends 'le' so NO silent-e cut -> 2
    # cake: groups a,e=2, ends 'e' not 'le' -> 1; little: i,e + 'le' -> 2
    assert out[2]["n_syllables"] == 5
    assert (out[3]["n_words"], out[3]["n_sentences"],
            out[3]["n_syllables"]) == (0, 1, 0)
    assert out[4]["n_syllables"] == 0 and out[4]["n_sentences"] == 1


def test_corpus_report_card(spark):
    from knowledge_graph_spark.operators.curate import corpus_report

    good = ("the quick brown fox jumps over and that have with lazy "
            "dogs resting near the barn today quietly") + " again" * 45
    docs = spark.createDataFrame(
        [(1, good, "web"),
         (2, good, "web"),                  # exact dup of 1
         (3, "短 文", "web"),               # zh-ish short junk
         (4, good + " extra", "books"),     # unique
         (5, None, "books")],
        "doc_id long, text string, source string")
    out = {r["source"]: r for r in corpus_report(docs).collect()}
    web, books = out["web"], out["books"]
    assert (web["n_docs"], web["n_dup_docs"]) == (3, 2)
    assert web["n_zh"] == 1 and web["n_en"] == 2
    assert books["n_dup_docs"] == 0 and books["n_docs"] == 2
    assert books["n_en"] == 1 and books["n_other"] == 1   # NULL text
    assert web["n_quality_hi"] == 2       # the short zh doc fails
    assert web["n_gopher_pass"] <= 2


def test_video_mp4_truncated_boxes_raise_valueerror_only():
    """Truncated-but-structurally-boxed payloads must surface as the
    documented ValueError (never struct.error/IndexError), so
    codec='auto' falls back to the fake instead of quarantining."""
    import struct as _s

    from knowledge_graph_spark.functions.mediameta import (
        parse_ebml, parse_mp4)

    # moov{mvhd with 4-byte body}: unpack_from past the body
    trunc = _mp4_box(b"ftyp", b"isom" + bytes(8)) + _mp4_box(
        b"moov", _mp4_box(b"mvhd", bytes(4)))
    with pytest.raises(ValueError):
        parse_mp4(trunc)
    # moov{mvhd with empty body at buffer end}: version byte read
    empty = _mp4_box(b"moov", _mp4_box(b"mvhd", b""))
    with pytest.raises(ValueError):
        parse_mp4(empty)
    # EBML with a truncated float Duration body
    bad_ebml = (_ebml_el(b"\x1a\x45\xdf\xa3", b"")
                + _ebml_el(b"\x18\x53\x80\x67",
                           _ebml_el(b"\x15\x49\xa9\x66",
                                    _ebml_el(b"\x44\x89", b"\x01"))))
    with pytest.raises(ValueError):
        parse_ebml(bad_ebml)


def test_video_mp4_short_tkhd_rejected_not_garbage():
    """A tkhd body below the 84-byte v0 spec would make the
    trailing-8-bytes read escape the box and return garbage
    dimensions; it must reject instead."""
    import struct as _s

    from knowledge_graph_spark.functions.mediameta import parse_mp4

    mvhd = _mp4_box(b"mvhd", bytes(12) + _s.pack(">II", 600, 3000)
                    + bytes(80))
    hdlr = _mp4_box(b"hdlr", bytes(8) + b"vide" + bytes(12))
    short_tkhd = _mp4_box(b"tkhd", bytes(12))   # < 84-byte spec body
    trak = _mp4_box(b"trak", short_tkhd + _mp4_box(b"mdia", hdlr))
    with pytest.raises(ValueError):
        parse_mp4(_mp4_box(b"moov", mvhd + trak))


def test_codec_auto_survives_truncated_containers(spark):
    """auto on a truncated MP4 falls back to the fake decoder."""
    trunc = _mp4_box(b"moov", _mp4_box(b"mvhd", bytes(4)))
    media = spark.createDataFrame(
        [(1, "video", bytearray(trunc))],
        "media_id long, kind string, payload binary")
    row = M.decode_metadata(media, codec="auto").first()
    assert row["ok"]


def test_hash_split_rejects_negative_weight(spark):
    from knowledge_graph_spark.operators.sampling import hash_split

    docs = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError):
        hash_split(docs, {"train": 1.0, "val": -0.5, "test": 0.5})


def test_budget_select_rejects_fractional_ids(spark):
    from knowledge_graph_spark.operators.sampling import budget_select

    docs = spark.createDataFrame(
        [(1.5, "a b", 2.0), (9.2, "c d", 1.0), (10.5, "e f", 1.0)],
        "doc_id double, text string, s double")
    with pytest.raises(ValueError):
        budget_select(docs, budget=3, score=F.col("s"))


def test_budget_select_full_int64_range_ids(spark):
    """xxhash64-style ids span the whole int64 range; the tiebreak
    refinement must bucket them without long overflow (r5 review
    finding: doc_id - ilo threw/wrapped). Tied scores force the
    numeric-id refinement path with a tiny row cap."""
    from knowledge_graph_spark.operators.sampling import budget_select

    rows = [(-(2**63) + 7 * i, "w " * 3, 1.0) for i in range(4)]
    rows += [(2**63 - 1 - 11 * i, "w " * 3, 1.0) for i in range(4)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, s double")
    out = budget_select(docs, budget=9, score=F.col("s"),
                        boundary_row_cap=2, refine_buckets=4)
    got = sorted(r["doc_id"] for r in out.collect())
    # global rank = score desc (all tied) then id asc; 3 tokens each,
    # budget 9 -> the 3 smallest ids win
    want = sorted(r[0] for r in rows)[:3]
    assert got == want


def test_weighted_sample_k_unstratified_constant_key(spark):
    from knowledge_graph_spark.operators.sampling import weighted_sample_k

    docs = spark.createDataFrame(
        [(i, float(1 + i % 3)) for i in range(20)],
        "doc_id long, w double")
    out = weighted_sample_k(docs, k=5, weight=F.col("w"))
    assert out.count() == 5
    again = {r["doc_id"] for r in
             weighted_sample_k(docs, k=5, weight=F.col("w")).collect()}
    assert {r["doc_id"] for r in out.collect()} == again  # deterministic


# ---------------------------------------------------------------------------
# round-5 textstats review regressions
# ---------------------------------------------------------------------------


def test_kneser_ney_short_docs_do_not_crash(spark):
    """Docs with <2 tokens generated a DOWNWARD sequence and negative
    array indexes — a job-killing INVALID_ARRAY_INDEX under ANSI
    Spark (r5 review finding). They carry no bigram and must simply
    contribute nothing."""
    from knowledge_graph_spark.operators.textstats import (
        kneser_ney_ingredients)

    docs = spark.createDataFrame(
        [(1, "the cat sat the cat ran"), (2, ""), (3, "x"), (4, None)],
        "doc_id long, text string")
    rows = {(r["w1"], r["w2"]): r["c_big"]
            for r in kneser_ney_ingredients(docs, min_count=2).collect()}
    assert rows == {("the", "cat"): 2}


def test_heaps_census_counts_unicode_and_rejects_string_ids(spark):
    from knowledge_graph_spark.operators.textstats import heaps_census

    docs = spark.createDataFrame(
        [(1, "café niño données"), (2, "café again")],
        "doc_id long, text string")
    out = {r["prefix"]: r for r in
           heaps_census(docs, buckets=2).collect()}
    assert out[2]["n_tokens"] == 5        # unicode words all censused
    assert out[2]["n_vocab"] == 4
    sdocs = spark.createDataFrame([("a", "x y")],
                                  "doc_id string, text string")
    with pytest.raises(ValueError):
        heaps_census(sdocs)


def test_with_fingerprint_null_text_is_null(spark):
    """NULL text must fingerprint as NULL like content_hash — the
    xxhash64 seed constant previously clustered every held-out doc
    as one bogus near-dup group (r5 review finding)."""
    from knowledge_graph_spark.operators.textstats import (
        with_fingerprint)

    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, "real text body here")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in with_fingerprint(docs).collect()}
    assert rows[1]["fingerprint"] is None
    assert rows[2]["fingerprint"] is None
    assert rows[3]["fingerprint"] is not None


def test_rake_word_stats_cover_all_candidate_runs(spark):
    """RAKE word degree/frequency come from ALL candidate runs; the
    min_words band filters only the EMITTED phrases (r5 review
    finding: stats-after-filter inflated multi-word scores)."""
    from knowledge_graph_spark.operators.textstats import rake_phrases

    docs = spark.createDataFrame(
        [(1, "good dog of dog of dog")], "doc_id long, text string")
    out = {r["phrase"]: r for r in
           rake_phrases(docs, stopwords=("of",), min_words=2).collect()}
    assert set(out) == {"good dog"}
    # freq(dog)=3 (all three runs), deg(dog)=2+1+1=4; freq(good)=1,
    # deg(good)=2 -> sum_freq=4, sum_deg=6
    assert out["good dog"]["sum_freq"] == 4
    assert out["good dog"]["sum_deg"] == 6


def test_repetition_stats_short_docs_score_zero(spark):
    from knowledge_graph_spark.operators.textstats import (
        repetition_stats)

    docs = spark.createDataFrame(
        [(1, "hello"), (2, ""), (3, None),
         (4, "a b a b a b a b")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert len(rows) == 4                    # every input doc present
    for d in (1, 2, 3):
        assert rows[d]["top_2gram_frac"] == 0.0
        assert rows[d]["dup_3gram_frac"] == 0.0
    assert rows[4]["top_2gram_frac"] > 0.5   # genuinely repetitive
    assert rows[4]["dup_3gram_frac"] > 0.5


def test_perplexity_buckets_null_lang_documented_drop(spark):
    from knowledge_graph_spark.operators.textstats import (
        perplexity_buckets)

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat", "en"),
         (2, "the dog ran to the park", "en"),
         (3, "the fox hid in the den", None)],
        "doc_id long, text string, lang string")
    out = perplexity_buckets(docs, target=F.col("doc_id") == 1)
    rows = {r["doc_id"] for r in out.collect()}
    assert rows == {1, 2}                    # NULL lang: no cohort


# ---------------------------------------------------------------------------
# round-5 dedup/patterns/decontam review regressions
# ---------------------------------------------------------------------------


def test_dedup_exact_best_null_priority_loses(spark):
    from knowledge_graph_spark.operators.dedup import dedup_exact_best

    docs = spark.createDataFrame(
        [(1, "same body", None), (2, "same body", 0.9),
         (3, "same body", 0.1)],
        "doc_id long, text string, priority double")
    kept = {r["doc_id"] for r in
            dedup_exact_best(docs, "priority").collect()}
    assert kept == {2}          # scored best wins, NULL never does


def test_span_dedup_null_text_one_row_contract(spark):
    from knowledge_graph_spark.operators.dedup import span_dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, None), (3, None)],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in span_dedup(docs).collect()}
    assert set(rows) == {1, 2, 3}
    for d in (2, 3):
        assert (rows[d]["n_blocks"], rows[d]["n_dropped"],
                rows[d]["clean_text"]) == (0, 0, "")


def test_semantic_dedup_zero_vectors_never_drop_others(spark):
    from knowledge_graph_spark.operators.dedup import semantic_dedup

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0]),            # zero vector, lowest id
         (2, [1.0, 0.0]), (3, [0.0, 1.0])],   # orthogonal: no dups
        "vec_id long, embedding array<double>")
    rows = {r["vec_id"]: r["keep"] for r in
            semantic_dedup(emb, n_clusters=1).collect()}
    assert rows == {1: 1, 2: 1, 3: 1}   # NaN cosine must not drop 2/3


def test_dedup_incremental_shared_id_sides_stay_separate(spark):
    """A re-crawled page carries the SAME id on both sides; its two
    versions must not merge into one shingle stream (r5 review
    finding: union by bare id corrupted every Jaccard on that id)."""
    from knowledge_graph_spark.operators.dedup import dedup_incremental

    base = ("alpha beta gamma delta epsilon zeta eta theta iota "
            "kappa lambda mu nu xi omicron pi rho sigma tau")
    existing = spark.createDataFrame(
        [(42, base + " upsilon")], "doc_id long, text string")
    incoming = spark.createDataFrame(
        [(42, "an entirely different page about spark clusters now "
              "with nothing shared at all between the two versions")],
        "doc_id long, text string")
    row = dedup_incremental(existing, incoming).collect()[0]
    # disjoint texts: the re-crawl is NEW, not near/exact
    assert row["verdict"] == "new"
    assert row["n_near_matches"] == 0 and row["n_exact_matches"] == 0
    # and a genuinely near pair across sides still verifies
    # (one word changed in 20 -> J = 16/20 = 0.8 >= 0.7)
    inc2 = spark.createDataFrame(
        [(42, base + " phi")], "doc_id long, text string")
    row2 = dedup_incremental(existing, inc2).collect()[0]
    assert row2["verdict"] == "near"


def test_minhash_lsh_pairs_validates_band_divisibility(spark):
    from knowledge_graph_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame([(1, "a b c d")],
                                 "doc_id long, text string")
    with pytest.raises(ValueError):
        minhash_lsh_pairs(docs, num_hashes=4)      # bands=8 > hashes
    with pytest.raises(ValueError):
        minhash_lsh_pairs(docs, num_hashes=16, bands=5)


def test_decontaminate_blank_eval_rows_match_nothing(spark):
    from knowledge_graph_spark.operators.decontam import (
        ngram_decontaminate)

    docs = spark.createDataFrame(
        [(1, ""), (2, "!!!"), (3, "real words in this page")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100, ""), (101, "?!")], "eval_id long, text string")
    assert ngram_decontaminate(docs, ev, n=8).count() == 0


def test_extract_quotes_strips_attribution_comma(spark):
    from knowledge_graph_spark.operators.patterns import extract_quotes

    pages = spark.createDataFrame(
        [(1, '"We will win," said Smith and left the hall.')],
        "doc_id long, text string")
    row = extract_quotes(pages).collect()[0]
    assert row["quote"] == "We will win"
    assert row["speaker"] == "Smith"
