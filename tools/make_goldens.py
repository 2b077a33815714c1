# -*- coding: utf-8 -*-
"""Golden-table generator: a pure-Python, Spark-free twin of the engine.

Regenerates ``tests/golden_tables/*.parquet`` — the oracle side of the
driver's correctness gate for queries whose semantics DuckDB SQL cannot
express (hash sketches, the KG construction pipeline). The twin
recomputes every value with plain Python:

- the extraction kernel is reused directly (it is already pure Python —
  the SPARK side wraps it in Arrow UDFs, which is exactly the layer
  under test),
- every Spark-side operator (graph build, MERGE dedupe, MinHash/SimHash
  sketches, LSH banding, entity linking, connected components) is
  REIMPLEMENTED here with plain dicts/sets plus the pure-Python
  xxhash64 twin (functions/xxh64.py, verified bit-equal to Spark).

So a hash-match in CORRECTNESS_r{N}.json means: the distributed plan
computes the same values as an independent single-threaded
implementation of the same spec.

Usage:
    python tools/make_goldens.py            # writes tests/golden_tables/
    python tools/make_goldens.py --sf-dir /root/testdata/sf0.01

Regenerate CONSCIOUSLY after any kernel or sketch-parameter change
(same policy as tests/golden_triples.json).
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import unicodedata
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.parquet as pq

from knowledge_graph_spark.functions.xxh64 import spark_xxhash64
from knowledge_graph_spark.kernel.extractor import extract_entities_relations
from knowledge_graph_spark.kernel.html2text import html_to_text
from knowledge_graph_spark.sources.pages import page_row

OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "tests", "golden_tables")

KG_PAGES = 300            # __spark_entry__._KG_PAGES
GRAPH_ID = "graph_fixed"  # __spark_entry__._KG_GRAPH_ID
USER_ID = "user_001"
KG_PAGES_B = 60               # __spark_entry__._KG_PAGES_B
GRAPH_ID_B = "graph_fixed_b"  # second graph over a disjoint page slice
USER_ID_B = "user_002"


# ---------------------------------------------------------------------------
# small twins of JVM-side expressions
# ---------------------------------------------------------------------------


def hex_u64(v: int) -> str:
    """Spark F.hex(long): uppercase hex of the unsigned 64-bit value."""
    return format(v & 0xFFFFFFFFFFFFFFFF, "X")


def round_half_up(x: float, digits: int) -> float:
    """Spark ROUND: BigDecimal.valueOf(x).setScale(d, HALF_UP).
    repr(x) == Double.toString(x) (shortest round-trip repr)."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits),
                                           rounding=ROUND_HALF_UP))


def word_tokens(text: str) -> list[str]:
    """Twin of functions/vectors.word_tokens: lowercase, split on runs
    of non-letter/non-digit (java regex [^\\p{L}\\p{N}]+)."""
    out, cur = [], []
    for ch in text.lower():
        if unicodedata.category(ch)[0] in ("L", "N"):
            cur.append(ch)
        else:
            if cur:
                out.append("".join(cur))
            cur = []
    if cur:
        out.append("".join(cur))
    return out


def word_ngrams(text: str, n: int) -> list[str]:
    w = word_tokens(text)
    if len(w) >= n:
        return [" ".join(w[i:i + n]) for i in range(len(w) - n + 1)]
    return [" ".join(w)]


def char_bigrams(s: str) -> list[str]:
    return [s[i:i + 2] for i in range(len(s) - 1)] if len(s) >= 2 else [s]


def xxh_str(s: str, *ints: int) -> int:
    return spark_xxhash64(s, *ints)


# ---------------------------------------------------------------------------
# documents corpus (sf0.01) for the sketch goldens
# ---------------------------------------------------------------------------


def load_documents(sf_dir: str) -> list[dict]:
    tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                        columns=["doc_id", "text"])
    docs = [{"doc_id": d, "text": t}
            for d, t in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist())]
    # __spark_entry__._docs_with_dups: doc_id % 50 == 0 cloned at +1M
    clones = [{"doc_id": d["doc_id"] + 1_000_000, "text": d["text"]}
              for d in docs if d["doc_id"] % 50 == 0]
    return docs + clones


def golden_minhash_pairs(docs: list[dict], n: int = 3, num_hashes: int = 16,
                         bands: int = 8, max_bucket: int = 256) -> list[dict]:
    rows_per = num_hashes // bands
    buckets: dict[tuple, list[int]] = defaultdict(list)
    for d in docs:
        shingles = set(word_ngrams(d["text"], n))
        mh = [min(xxh_str(s, k) for s in shingles) for k in range(num_hashes)]
        for b in range(bands):
            h = spark_xxhash64(
                *[("long", mh[b * rows_per + r]) for r in range(rows_per)]
            )
            buckets[(b, h)].append(d["doc_id"])
    pairs = set()
    for ids in buckets.values():
        if 2 <= len(ids) <= max_bucket:
            ids = sorted(ids)
            for i, a in enumerate(ids):
                for b_ in ids[i + 1:]:
                    pairs.add((a, b_))
    return [{"id_a": a, "id_b": b} for a, b in sorted(pairs)]


def simhash64(text: str, n: int = 2) -> int:
    shingles = word_ngrams(text, n)  # NOT distinct (shingle_table explodes
    # array_distinct -> actually distinct; keep identical to Spark:
    shingles = sorted(set(shingles))
    hs = [spark_xxhash64(s) & 0xFFFFFFFFFFFFFFFF for s in shingles]
    cnt = len(hs)
    fp = 0
    for bit in range(64):
        ones = sum((h >> bit) & 1 for h in hs)
        if ones * 2 > cnt:
            fp |= 1 << bit
    return fp  # unsigned


def to_signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def golden_simhash_pairs(docs: list[dict], max_hamming: int = 3,
                         max_bucket: int = 256) -> list[dict]:
    fps = {d["doc_id"]: simhash64(d["text"]) for d in docs}
    buckets: dict[tuple, list[int]] = defaultdict(list)
    for did, fp in fps.items():
        for b in range(4):
            buckets[(b, (fp >> (16 * b)) & 0xFFFF)].append(did)
    pairs = set()
    for ids in buckets.values():
        if 2 <= len(ids) <= max_bucket:
            ids = sorted(ids)
            for i, a in enumerate(ids):
                for b_ in ids[i + 1:]:
                    ham = bin(fps[a] ^ fps[b_]).count("1")
                    if ham <= max_hamming:
                        pairs.add((a, b_, ham))
    return [{"id_a": a, "id_b": b, "hamming": h} for a, b, h in sorted(pairs)]


def golden_near_survivors(sf_dir: str, docs: list[dict],
                          threshold: float = 0.7, n: int = 3) -> list[dict]:
    """Twin of dedup.dedup_minhash: LSH candidates -> exact distinct-
    word-n-gram Jaccard >= threshold -> union-find components -> min-id
    survivor per component; output (doc_id, source) of survivors."""
    pairs = golden_minhash_pairs(docs, n=n)
    shingles = {d["doc_id"]: set(word_ngrams(d["text"], n)) for d in docs}
    dup = set()
    for p in pairs:
        a, b = p["id_a"], p["id_b"]
        sa, sb = shingles[a], shingles[b]
        inter = len(sa & sb)
        jac = inter / (len(sa) + len(sb) - inter) if (sa or sb) else 0.0
        if jac >= threshold:
            dup.add((a, b))
    parent: dict[int, int] = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            parent[r] = parent[parent[r]]
            r = parent[r]
        return r

    for a, b in dup:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    losers = {x for x in parent if find(x) != x}
    tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                        columns=["doc_id", "source"])
    src = dict(zip(tbl["doc_id"].to_pylist(), tbl["source"].to_pylist()))
    out = []
    for d in docs:
        if d["doc_id"] in losers:
            continue
        base = d["doc_id"] % 1_000_000  # clones inherit the base doc's source
        out.append({"doc_id": d["doc_id"], "source": src[base]})
    return sorted(out, key=lambda r: r["doc_id"])


def golden_fingerprints(sf_dir: str, window: int = 64,
                        stride: int = 32) -> list[dict]:
    tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                        columns=["doc_id", "text"])
    out = []
    for did, text in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()):
        subs = [text[i:i + window]
                for i in range(0, max(len(text) - window, 0) + 1, stride)]
        fp = min(spark_xxhash64(s) for s in subs)
        out.append({
            "doc_id": did,
            "content_hash": hashlib.sha256(text.encode("utf-8")).hexdigest(),
            "fingerprint": fp,
        })
    return sorted(out, key=lambda r: r["doc_id"])


def golden_mixture_sample(sf_dir: str) -> list[dict]:
    """Twin of __spark_entry__._q_mixture_sample: content-keyed
    Bernoulli keep via xxhash64(doc_id:long) pmod 1e6 vs per-source
    integer thresholds (operators/sampling.py)."""
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
    default_rate = 0.04
    M = 1_000_000
    tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                        columns=["doc_id", "source"])
    agg: dict[str, list[int]] = {}
    for did, src in zip(tbl["doc_id"].to_pylist(), tbl["source"].to_pylist()):
        thr = int(round(rates.get(src, default_rate) * M))
        keep = spark_xxhash64(("long", did)) % M < thr
        t = agg.setdefault(src, [0, 0])
        t[0] += 1
        t[1] += int(keep)
    return [
        {"source": s, "n_total": t, "n_kept": k,
         "realized_rate": round_half_up(k / t, 6)}
        for s, (t, k) in sorted(agg.items())
    ]


def golden_hash_split(sf_dir: str) -> list[dict]:
    """Twin of __spark_entry__._q_hash_split: cumulative-threshold
    split assignment over pmod(xxhash64(doc_id:long), 1e6)."""
    weights = [("train", 0.9), ("val", 0.05), ("test", 0.05)]
    M = 1_000_000
    total = sum(w for _, w in weights)
    bounds = []
    acc = 0
    for name, w in weights[:-1]:
        acc += int(round(w / total * M))
        bounds.append((name, acc))
    last = weights[-1][0]
    tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                        columns=["doc_id", "source"])
    agg: dict[tuple[str, str], int] = {}
    for did, src in zip(tbl["doc_id"].to_pylist(), tbl["source"].to_pylist()):
        b = spark_xxhash64(("long", did)) % M
        split = next((n for n, up in bounds if b < up), last)
        agg[(src, split)] = agg.get((src, split), 0) + 1
    return [{"source": s, "split": sp, "n_docs": n}
            for (s, sp), n in sorted(agg.items())]


def golden_lpa_communities(sf_dir: str, iterations: int = 5) -> list[dict]:
    """Twin of graph_analytics.label_propagation over the sparse
    order↔part graph (lineitem rows with l_quantity = 1; node ids
    2·orderkey / 2·partkey+1): synchronous rounds, most-frequent
    neighbor label, ties to the smallest label."""
    from collections import Counter, defaultdict

    tbl = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"),
                        columns=["l_orderkey", "l_partkey", "l_quantity"])
    adj: dict[int, set] = defaultdict(set)
    for o, p, q in zip(tbl["l_orderkey"].to_pylist(),
                       tbl["l_partkey"].to_pylist(),
                       tbl["l_quantity"].to_pylist()):
        if q == 1:
            u, v = o * 2, p * 2 + 1
            adj[u].add(v)
            adj[v].add(u)
    labels = {n: n for n in adj}
    for _ in range(iterations):
        labels = {
            v: min(Counter(labels[u] for u in adj[v]).items(),
                   key=lambda kv: (-kv[1], kv[0]))[0]
            for v in adj
        }
    return [{"id": v, "label": labels[v]} for v in sorted(adj)]


def golden_textrank(sf_dir: str, window: int = 2, top_n: int = 20,
                    iterations: int = 10, damping: float = 0.85,
                    min_len: int = 3) -> list[dict]:
    """Twin of textstats.textrank_keywords over the documents table:
    word co-occurrence graph (undirected canonical pairs within
    ``window`` positions, words >= min_len chars), ``iterations``
    rounds of weighted PageRank from score 1.0, top_n by
    (ROUNDED-6dp score desc, word) — the rounding-first rank is what
    makes the float loop engine-portable."""
    from collections import Counter, defaultdict

    tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                        columns=["text"])
    wt: Counter = Counter()
    for text in tbl["text"].to_pylist():
        if text is None:
            continue
        ws = [w for w in word_tokens(text) if len(w) >= min_len]
        for i, a in enumerate(ws):
            for j in range(i + 1, min(i + window, len(ws) - 1) + 1):
                b = ws[j]
                if a != b:
                    wt[(min(a, b), max(a, b))] += 1
    frac: dict = defaultdict(list)   # v -> [(u, w_uv/S_u)]
    strength: Counter = Counter()
    for (a, b), w in wt.items():
        strength[a] += w
        strength[b] += w
    for (a, b), w in wt.items():
        frac[b].append((a, w / strength[a]))
        frac[a].append((b, w / strength[b]))
    score = {n: 1.0 for n in strength}
    for _ in range(iterations):
        score = {
            v: (1.0 - damping)
            + damping * sum(f * score[u] for u, f in frac[v])
            for v in strength
        }
    rows = sorted(
        ((round_half_up(sc, 6), wd) for wd, sc in score.items()),
        key=lambda t: (-t[0], t[1]))[:top_n]
    return [{"rank": i + 1, "word": wd, "score": sc}
            for i, (sc, wd) in enumerate(rows)]


def golden_host_profile(n_pages: int = 3000) -> list[dict]:
    """Twin of textstats.host_profile over the first ``n_pages``
    synthetic pages (page_row is the shared pure generator)."""
    agg: dict[str, dict] = {}
    for i in range(n_pages):
        r = page_row(i)
        host = r["url"].split("//", 1)[1].split("/", 1)[0]
        a = agg.setdefault(host, {"n_pages": 0, "n_heldout": 0,
                                  "chars": 0, "n_text": 0})
        a["n_pages"] += 1
        if r["text"] is None:
            a["n_heldout"] += 1
        else:
            a["chars"] += len(r["text"])
            a["n_text"] += 1
    return [
        {"host": h, "n_pages": a["n_pages"], "n_heldout": a["n_heldout"],
         "n_chars": a["chars"] if a["n_text"] else None,
         "avg_chars": (round_half_up(a["chars"] / a["n_text"], 2)
                       if a["n_text"] else None),
         "share": round_half_up(a["n_pages"] / n_pages, 6)}
        for h, a in sorted(agg.items())
    ]


def golden_bpe_merges(sf_dir: str, n_merges: int = 20) -> list[dict]:
    """Twin of textstats.bpe_train over the raw documents table:
    char symbols, greedy most-frequent adjacent pair (ties: smallest
    (lhs, rhs) — Python tuple order = Spark's UTF-8 binary order on
    BMP text), left-to-right non-overlapping merge application."""
    from collections import Counter

    tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                        columns=["text"])
    wc: Counter = Counter()
    for t in tbl["text"].to_pylist():
        wc.update(word_tokens(t))
    syms = {w: list(w) for w in wc if len(w) >= 2}
    rows = []
    for step in range(1, n_merges + 1):
        pc: Counter = Counter()
        for w, ss in syms.items():
            c = wc[w]
            for i in range(len(ss) - 1):
                pc[(ss[i], ss[i + 1])] += c
        if not pc:
            break
        maxc = max(pc.values())
        lhs, rhs = min(p for p, c in pc.items() if c == maxc)
        merged = lhs + rhs
        rows.append({"step": step, "lhs": lhs, "rhs": rhs,
                     "merged": merged, "pair_count": maxc})
        nxt = {}
        for w, ss in syms.items():
            out: list[str] = []
            for s in ss:
                if out and out[-1] == lhs and s == rhs:
                    out[-1] = merged
                else:
                    out.append(s)
            if len(out) >= 2:
                nxt[w] = out
        syms = nxt
    return rows


def golden_bpe_encoded(sf_dir: str, n_merges: int = 20) -> list[dict]:
    """Twin of textstats.bpe_encode: replay the trained merge list
    (golden_bpe_merges) over every document's word stream, counting
    subword symbols after all merges; per-word encodes are cached —
    the same vocabulary-bounded argument as the Spark plan."""
    merges = [(r["lhs"], r["rhs"])
              for r in golden_bpe_merges(sf_dir, n_merges)]
    tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                        columns=["doc_id", "text"])
    cache: dict = {}

    def ntok(w: str) -> int:
        if w not in cache:
            ss = list(w)
            for lhs, rhs in merges:
                out: list[str] = []
                for s in ss:
                    if out and out[-1] == lhs and s == rhs:
                        out[-1] = lhs + rhs
                    else:
                        out.append(s)
                ss = out
            cache[w] = len(ss)
        return cache[w]

    rows = []
    for did, t in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()):
        ws = word_tokens(t) if t else []
        rows.append({"doc_id": did, "n_words": len(ws),
                     "n_tokens": sum(ntok(w) for w in ws)})
    rows.sort(key=lambda d: d["doc_id"])
    return rows


# ---------------------------------------------------------------------------
# multimodal goldens (twin drives the same pure decode kernels row-by-row;
# the Spark side under test is the Arrow batching / schema plumbing)
# ---------------------------------------------------------------------------


def _synthetic_media(n: int, seed: int = 7) -> list[dict]:
    import struct

    kinds = ["image", "audio", "video"]
    out = []
    for i in range(n):
        payload = hashlib.blake2b(
            struct.pack("<qq", seed, i), digest_size=32
        ).digest() * (1 + i % 4)
        out.append({"media_id": i, "kind": kinds[i % 3], "payload": payload})
    return out


def golden_media_metadata() -> list[dict]:
    from knowledge_graph_spark.operators.multimodal import _decode_one

    agg: dict[str, dict] = {}
    for m in _synthetic_media(90):
        meta = _decode_one(m["payload"], m["kind"])
        a = agg.setdefault(m["kind"], {"n_items": 0, "n_ok": 0,
                                       "max_width": 0, "max_sample_rate": 0})
        a["n_items"] += 1
        a["n_ok"] += 1
        a["max_width"] = max(a["max_width"], meta["width"])
        a["max_sample_rate"] = max(a["max_sample_rate"], meta["sample_rate"])
    return [{"kind": k, **v} for k, v in sorted(agg.items())]


def golden_media_frames(every_n: int = 24, n: int = 90) -> list[dict]:
    """Twin of multimodal.sample_frames over the shared synthetic
    media table: for each video row, frame indexes 0, every_n, ...
    up to n_frames - 1 (a zero-frame video still yields frame 0 —
    greatest(n_frames - 1, 0) mirrors the operator's sequence)."""
    from knowledge_graph_spark.operators.multimodal import _decode_one

    out = []
    for m in _synthetic_media(n):
        if m["kind"] != "video":
            continue
        meta = _decode_one(m["payload"], m["kind"])
        top = max(meta["n_frames"] - 1, 0)
        out.append((m["media_id"], list(range(0, top + 1, every_n))))
    return [{"media_id": mid, "frame_idx": fi}
            for mid, frames in sorted(out) for fi in frames]


def golden_media_features_topk(k: int = 3) -> list[dict]:
    import numpy as np

    from knowledge_graph_spark.operators.multimodal import FEATURE_DIM
    import struct as _s

    def feature(payload: bytes) -> list[float]:
        seed = hashlib.blake2b(payload, digest_size=32).digest()
        raw = b"".join(
            hashlib.blake2b(seed + _s.pack("<I", c), digest_size=64).digest()
            for c in range((FEATURE_DIM * 4 + 63) // 64)
        )[: FEATURE_DIM * 4]
        v = np.frombuffer(raw, dtype="<u4").astype(np.float64)
        v = (v / 2 ** 32) * 2 - 1
        v = v / (np.linalg.norm(v) or 1.0)
        return v.astype(np.float32).tolist()

    media = _synthetic_media(60)
    feats = {m["media_id"]: feature(m["payload"]) for m in media}

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    def norm(a):
        acc = 0.0
        for x in a:
            acc += float(x) * float(x)
        return math.sqrt(acc)

    out = []
    for qid in (0, 1, 2):
        qv = feats[qid]
        scored = sorted(
            ((dot(v, qv) / (norm(v) * norm(qv)), mid)
             for mid, v in feats.items()),
            key=lambda t: (-t[0], t[1]),
        )
        for rank, (cos, mid) in enumerate(scored[:k], 1):
            out.append({"query_id": qid, "rank": rank, "media_id": mid,
                        "cosine": round_half_up(cos, 4)})
    return out


# ---------------------------------------------------------------------------
# KG pipeline twin
# ---------------------------------------------------------------------------


def extract_corpus(n: int = KG_PAGES, start: int = 0) -> list[dict]:
    """page -> {url, text, entities, relations} via the pure kernel."""
    out = []
    for i in range(start, start + n):
        p = page_row(i)
        text = p["text"] if p["text"] is not None else html_to_text(p["html"])
        r = extract_entities_relations(text)
        out.append({"url": p["url"], "text": text, **r})
    return out


def sanitize_rel(t: str):
    t = t.replace("-", "_")
    if t and all(c.isascii() and (c.isalnum() or c == "_") for c in t):
        return t.upper()
    return None


def build_graph(corpus: list[dict], graph_id: str = GRAPH_ID,
                user_id: str = USER_ID):
    """Twin of graph_build.build_graph_tables + the deterministic edge
    dedupe in materialize_graph."""
    nodes, edges_raw, dropped = [], [], []
    for doc in corpus:
        uhex = hex_u64(spark_xxhash64(doc["url"]))
        ids = {e["id"] for e in doc["entities"]}
        for e in doc["entities"]:
            nodes.append({
                "graph_id": graph_id, "user_id": user_id,
                "id": f"{uhex}:{e['id']}", "name": e["name"],
                "type": e["type"], "url": doc["url"],
                "canonical_id": e["name"],  # overwritten by linking below
            })
        for r in doc["relations"]:
            rel = sanitize_rel(r["type"])
            ok = r["source"] in ids and r["target"] in ids
            row = {
                "url": doc["url"], "src": f"{uhex}:{r['source']}",
                "dst": f"{uhex}:{r['target']}", "type": r["type"],
                "rel_type": rel, "verb": r["verb"],
                "similarity": float(r.get("similarity") or 0.0),
            }
            if ok and rel is not None:
                edges_raw.append(row)
            else:
                row2 = dict(row)
                row2["reason"] = "missing_endpoint" if not ok else "invalid_type"
                dropped.append(row2)
    # deterministic per-key dedupe: min (verb, similarity, url)
    best: dict[tuple, tuple] = {}
    for e in edges_raw:
        key = (graph_id, e["src"], e["dst"], e["rel_type"])
        val = (e["verb"], e["similarity"], e["url"])
        if key not in best or val < best[key]:
            best[key] = val
    edges = [
        {"graph_id": k[0], "src": k[1], "dst": k[2], "rel_type": k[3],
         "verb": v[0], "similarity": v[1], "url": v[2], "user_id": user_id}
        for k, v in best.items()
    ]
    for d in dropped:
        d["graph_id"] = graph_id
    return nodes, edges, dropped


# ---- entity linking twin (operators/linking.py) ---------------------------

N_HASHES, BANDS, MAX_BUCKET = 16, 8, 64


def candidate_pairs(names: list[str]) -> set[tuple[str, str]]:
    buckets: dict[int, list[str]] = defaultdict(list)
    for name in names:
        sh = char_bigrams(name)
        mh = [min(spark_xxhash64(g, k) for g in sh) for k in range(N_HASHES)]
        for b in range(BANDS):
            key = spark_xxhash64(b, ("long", mh[2 * b]), ("long", mh[2 * b + 1]))
            buckets[key].append(name)
    pairs = set()
    for members in buckets.values():
        if len(members) <= MAX_BUCKET:
            ms = sorted(set(members))
            for i, a in enumerate(ms):
                for b_ in ms[i + 1:]:
                    pairs.add((a, b_))
    return pairs


def same_as_pairs(names: list[str], threshold: float = 0.9) -> set[tuple[str, str]]:
    distinct = sorted(set(names))
    n_names = len(distinct)
    grams = {name: sorted(set(char_bigrams(name))) for name in distinct}
    df: dict[str, int] = defaultdict(int)
    for gs in grams.values():
        for g in gs:
            df[g] += 1
    idf = {g: math.log(1.0 + n_names / c) for g, c in df.items()}
    norms = {
        name: math.sqrt(sum(idf[g] * idf[g] for g in gs))
        for name, gs in grams.items()
    }
    out = set()
    for a, b in candidate_pairs(distinct):
        shared = set(grams[a]) & set(grams[b])
        dot = sum(idf[g] * idf[g] for g in shared)
        score = dot / (norms[a] * norms[b]) if norms[a] and norms[b] else 0.0
        if abs(score - threshold) < 1e-9:
            print(f"  WARNING: borderline linking score {score!r} for {a}/{b}")
        prefix = len(a) >= 3 and (b.startswith(a) or a.startswith(b))
        if score >= threshold or prefix:
            out.add((a, b))
    return out


def canonical_mapping(pairs: set[tuple[str, str]]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            parent[r] = parent[parent[r]]
            r = parent[r]
        return r

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp: dict[str, list[str]] = defaultdict(list)
    for name in parent:
        comp[find(name)].append(name)
    mapping = {}
    for members in comp.values():
        rep = min(members, key=lambda s: (len(s), s))
        for m in members:
            mapping[m] = rep
    return mapping


def golden_supply_msf(sf_dir: str) -> list[dict]:
    """Pure-Python Kruskal twin of graph_analytics.boruvka_msf over
    the part-supplier supply graph (edge weight = min extended price
    per (part, supplier) pair). The engine runs Borůvka rounds; both
    follow the same (weight, src, dst) total order, under which the
    forest is unique — so row equality proves the distributed
    contraction loop."""
    t = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"),
                      columns=["l_partkey", "l_suppkey",
                               "l_extendedprice"])
    best: dict[tuple, float] = {}
    for pk, sk, price in zip(t["l_partkey"].to_pylist(),
                             t["l_suppkey"].to_pylist(),
                             t["l_extendedprice"].to_pylist()):
        if pk is None or sk is None or price is None:
            continue
        a, b = f"p{pk}", f"s{sk}"
        if a > b:
            a, b = b, a
        k = (a, b)
        if k not in best or price < best[k]:
            best[k] = price
    parent: dict[str, str] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    rows = []
    for (a, b), w in sorted(best.items(), key=lambda kv:
                            (kv[1], kv[0][0], kv[0][1])):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            rows.append({"src": a, "dst": b, "weight": w})
    rows.sort(key=lambda r: (r["src"], r["dst"]))
    return rows



# ---------------------------------------------------------------------------
# writers
# ---------------------------------------------------------------------------


def write(name: str, rows: list[dict], schema: pa.Schema) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"{name}.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
    print(f"  wrote {name}.parquet: {len(rows)} rows")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                    help="documents/embeddings scale used by the driver gate")
    args = ap.parse_args()

    print("sketch goldens (sf0.01 documents corpus)...")
    docs = load_documents(args.sf_dir)
    write("minhash_pairs", golden_minhash_pairs(docs), pa.schema([
        ("id_a", pa.int64()), ("id_b", pa.int64())]))
    write("simhash_neardups", golden_simhash_pairs(docs), pa.schema([
        ("id_a", pa.int64()), ("id_b", pa.int64()), ("hamming", pa.int32())]))
    write("dedup_near_survivors", golden_near_survivors(args.sf_dir, docs),
          pa.schema([("doc_id", pa.int64()), ("source", pa.string())]))
    write("fingerprints", golden_fingerprints(args.sf_dir), pa.schema([
        ("doc_id", pa.int64()), ("content_hash", pa.string()),
        ("fingerprint", pa.int64())]))
    write("mixture_sample", golden_mixture_sample(args.sf_dir), pa.schema([
        ("source", pa.string()), ("n_total", pa.int64()),
        ("n_kept", pa.int64()), ("realized_rate", pa.float64())]))
    write("hash_split", golden_hash_split(args.sf_dir), pa.schema([
        ("source", pa.string()), ("split", pa.string()),
        ("n_docs", pa.int64())]))
    write("textrank_keywords", golden_textrank(args.sf_dir), pa.schema([
        ("rank", pa.int32()), ("word", pa.string()),
        ("score", pa.float64())]))
    write("bpe_merges", golden_bpe_merges(args.sf_dir), pa.schema([
        ("step", pa.int32()), ("lhs", pa.string()), ("rhs", pa.string()),
        ("merged", pa.string()), ("pair_count", pa.int64())]))
    write("bpe_encoded", golden_bpe_encoded(args.sf_dir), pa.schema([
        ("doc_id", pa.int64()), ("n_words", pa.int64()),
        ("n_tokens", pa.int64())]))
    write("lpa_communities", golden_lpa_communities(args.sf_dir), pa.schema([
        ("id", pa.int64()), ("label", pa.int64())]))
    write("supply_msf", golden_supply_msf(args.sf_dir), pa.schema([
        ("src", pa.string()), ("dst", pa.string()),
        ("weight", pa.float64())]))
    write("host_profile", golden_host_profile(), pa.schema([
        ("host", pa.string()), ("n_pages", pa.int64()),
        ("n_heldout", pa.int64()), ("n_chars", pa.int64()),
        ("avg_chars", pa.float64()), ("share", pa.float64())]))

    print("media goldens...")
    write("media_frames", golden_media_frames(), pa.schema([
        ("media_id", pa.int64()), ("frame_idx", pa.int64())]))
    write("media_metadata", golden_media_metadata(), pa.schema([
        ("kind", pa.string()), ("n_items", pa.int64()), ("n_ok", pa.int64()),
        ("max_width", pa.int32()), ("max_sample_rate", pa.int32())]))
    write("media_features_topk", golden_media_features_topk(), pa.schema([
        ("query_id", pa.int64()), ("rank", pa.int32()),
        ("media_id", pa.int64()), ("cosine", pa.float64())]))

    print("KG pipeline twin (300 + 60 pages, two graphs / two users)...")
    corpus_a = extract_corpus(KG_PAGES, 0)
    corpus_b = extract_corpus(KG_PAGES_B, KG_PAGES)
    # kg_triples / kg_entities read every graph's partitions — both
    # graphs' pages appear (urls are disjoint by construction)
    corpus = corpus_a + corpus_b

    triples = []
    for doc in corpus:
        by_id = {e["id"]: e["name"] for e in doc["entities"]}
        for r in doc["relations"]:
            s, o = by_id.get(r["source"]), by_id.get(r["target"])
            if s and o:
                triples.append({"url": doc["url"], "subj": s,
                                "pred": r["type"], "obj": o})
    triples.sort(key=lambda d: (d["url"], d["subj"], d["pred"], d["obj"]))
    write("kg_triples", triples, pa.schema([
        ("url", pa.string()), ("subj", pa.string()),
        ("pred", pa.string()), ("obj", pa.string())]))

    ents = [
        {"url": doc["url"], "id": e["id"], "name": e["name"],
         "type": e["type"], "start": e["start"], "end": e["end"]}
        for doc in corpus for e in doc["entities"]
    ]
    ents.sort(key=lambda d: (d["url"], d["id"]))
    write("kg_entities", ents, pa.schema([
        ("url", pa.string()), ("id", pa.string()), ("name", pa.string()),
        ("type", pa.string()), ("start", pa.int32()), ("end", pa.int32())]))

    nodes_a, edges_a, dropped_a = build_graph(corpus_a, GRAPH_ID, USER_ID)
    nodes_b, edges_b, dropped_b = build_graph(corpus_b, GRAPH_ID_B, USER_ID_B)

    print("  linking twin (per graph)...")
    for ns in (nodes_a, nodes_b):
        mapping = canonical_mapping(same_as_pairs([n["name"] for n in ns]))
        for n_ in ns:
            n_["canonical_id"] = mapping.get(n_["name"], n_["name"])
    nodes = nodes_a + nodes_b

    # kg_graph_links: graph A's edges joined to node payloads (one row
    # per link) — full **r property spread (graph_id, user_id, url ride
    # along, kg_writer.py:109-115)
    by_id = {}
    for n_ in nodes_a:
        by_id.setdefault(n_["id"], n_)  # dropDuplicates(["id"]) keeps one
    links = []
    for e in edges_a:
        a, b = by_id.get(e["src"]), by_id.get(e["dst"])
        if a is None or b is None:
            continue
        links.append({
            "src": e["src"], "dst": e["dst"], "rel_type": e["rel_type"],
            "verb": e["verb"], "similarity": e["similarity"],
            "graph_id": e["graph_id"], "user_id": e["user_id"],
            "url": e["url"],
            "src_name": a["name"], "src_type": a["type"],
            "dst_name": b["name"], "dst_type": b["type"],
            "label": e["verb"] if e["verb"] != "" else e["rel_type"],
        })
    links.sort(key=lambda d: (d["src"], d["dst"], d["rel_type"]))
    write("kg_graph_links", links, pa.schema([
        ("src", pa.string()), ("dst", pa.string()), ("rel_type", pa.string()),
        ("verb", pa.string()), ("similarity", pa.float64()),
        ("graph_id", pa.string()), ("user_id", pa.string()),
        ("url", pa.string()),
        ("src_name", pa.string()), ("src_type", pa.string()),
        ("dst_name", pa.string()), ("dst_type", pa.string()),
        ("label", pa.string())]))

    # kg_degrees: hub analysis over graph A (twin of queries.node_degrees)
    # — over ALL graph-A nodes, so isolated entities report degree 0
    # (an edges-only census would silently omit them)
    outd = Counter(e["src"] for e in edges_a)
    ind = Counter(e["dst"] for e in edges_a)
    degs = []
    for nid, n_ in by_id.items():
        o, i = outd.get(nid, 0), ind.get(nid, 0)
        degs.append({"id": nid, "name": n_["name"], "out_deg": o,
                     "in_deg": i, "degree": o + i})
    degs.sort(key=lambda d: d["id"])
    write("kg_degrees", degs, pa.schema([
        ("id", pa.string()), ("name", pa.string()),
        ("out_deg", pa.int64()), ("in_deg", pa.int64()),
        ("degree", pa.int64())]))

    # kg_pagerank: twin of graph_analytics.pagerank (10 rounds, d=0.85,
    # dangling mass redistributed uniformly) over graph A's distinct
    # edge pairs; rounded to 6 dp on both sides
    pr_pairs = sorted({(e["src"], e["dst"]) for e in edges_a})
    pr_nodes = sorted({s for s, _ in pr_pairs} | {d for _, d in pr_pairs})
    pr_n = len(pr_nodes)
    pr_deg = Counter(s for s, _ in pr_pairs)
    pr_ranks = {nd: 1.0 / pr_n for nd in pr_nodes}
    for _ in range(10):
        contrib = defaultdict(float)
        for s, d_ in pr_pairs:
            contrib[d_] += pr_ranks[s] / pr_deg[s]
        dm = sum(r for nd, r in pr_ranks.items() if nd not in pr_deg)
        pr_base = (1.0 - 0.85) / pr_n
        pr_ranks = {nd: pr_base + 0.85 * (contrib.get(nd, 0.0) + dm / pr_n)
                    for nd in pr_nodes}
    write("kg_pagerank",
          [{"id": nd, "rank": round_half_up(pr_ranks[nd], 6)}
           for nd in pr_nodes],
          pa.schema([("id", pa.string()), ("rank", pa.float64())]))

    # kg_ppr: twin of graph_analytics.personalized_pagerank (10 rounds,
    # d=0.85, teleport + dangling mass to the 5 smallest node ids)
    pp_src = sorted(pr_nodes)[:5]
    pp_t = {nd: (1.0 / len(pp_src) if nd in pp_src else 0.0)
            for nd in pr_nodes}
    pp_ranks = dict(pp_t)
    for _ in range(10):
        contrib = defaultdict(float)
        for s_, d_ in pr_pairs:
            contrib[d_] += pp_ranks[s_] / pr_deg[s_]
        dm = sum(r for nd, r in pp_ranks.items() if nd not in pr_deg)
        pp_ranks = {nd: 0.15 * pp_t[nd]
                    + 0.85 * (contrib.get(nd, 0.0) + dm * pp_t[nd])
                    for nd in pr_nodes}
    write("kg_ppr",
          [{"id": nd, "rank": round_half_up(pp_ranks[nd], 6)}
           for nd in pr_nodes],
          pa.schema([("id", pa.string()), ("rank", pa.float64())]))

    # kg_triangles: twin of graph_analytics.triangle_counts (brute
    # force over adjacency sets; per-node participation counts)
    adj: dict = defaultdict(set)
    for e in edges_a:
        if e["src"] != e["dst"]:
            adj[e["src"]].add(e["dst"])
            adj[e["dst"]].add(e["src"])
    tri_count: dict = defaultdict(int)
    for u in adj:
        nbrs = sorted(x for x in adj[u] if x > u)
        for i, v in enumerate(nbrs):
            for w in nbrs[i + 1:]:
                if w in adj[v]:
                    tri_count[u] += 1
                    tri_count[v] += 1
                    tri_count[w] += 1
    write("kg_triangles",
          [{"id": k, "triangles": tri_count[k]}
           for k in sorted(tri_count)],
          pa.schema([("id", pa.string()), ("triangles", pa.int64())]))

    # kg_clustering: twin of graph_analytics.clustering_coefficient —
    # degree census over the same adjacency sets plus the brute-force
    # triangle counts above; coeff = 2t / (d(d-1)), degree-1 nodes 0.0
    write("kg_clustering",
          [{"id": k, "degree": len(adj[k]),
            "triangles": tri_count.get(k, 0),
            "coeff": round_half_up(
                2.0 * tri_count.get(k, 0)
                / (len(adj[k]) * (len(adj[k]) - 1)), 6)
            if len(adj[k]) >= 2 else 0.0}
           for k in sorted(adj)],
          pa.schema([("id", pa.string()), ("degree", pa.int64()),
                     ("triangles", pa.int64()), ("coeff", pa.float64())]))

    # kg_kcore: twin of graph_analytics.k_core (k=2) — iterative peel
    # of degree-<2 nodes over graph A's undirected distinct edges
    core_adj = {u: set(v) for u, v in adj.items()}
    peeled = True
    while peeled:
        peeled = False
        for u in list(core_adj):
            if len(core_adj[u]) < 2:
                for v in core_adj.pop(u):
                    core_adj[v].discard(u)
                peeled = True
    write("kg_kcore",
          [{"id": k, "core_degree": len(core_adj[k])}
           for k in sorted(core_adj)],
          pa.schema([("id", pa.string()), ("core_degree", pa.int64())]))

    # kg_ktruss: twin of graph_analytics.k_truss (k=3) — iterative
    # peel of edges whose in-subgraph triangle support < k-2 = 1 over
    # graph A's undirected distinct edges; final in-truss support
    tr_edges = {tuple(sorted((e["src"], e["dst"])))
                for e in edges_a if e["src"] != e["dst"]}
    tr_adj: dict = defaultdict(set)
    while True:
        tr_adj = defaultdict(set)
        for a_, b_ in tr_edges:
            tr_adj[a_].add(b_)
            tr_adj[b_].add(a_)
        bad_e = {e for e in tr_edges
                 if len(tr_adj[e[0]] & tr_adj[e[1]]) < 1}
        if not bad_e:
            break
        tr_edges -= bad_e
    write("kg_ktruss",
          [{"src": a_, "dst": b_,
            "support": len(tr_adj[a_] & tr_adj[b_])}
           for a_, b_ in sorted(tr_edges)],
          pa.schema([("src", pa.string()), ("dst", pa.string()),
                     ("support", pa.int64())]))

    # kg_hits: twin of graph_analytics.hits (10 rounds, L2-normalized
    # half-steps) over graph A's distinct directed pairs
    h_pairs = sorted({(e["src"], e["dst"]) for e in edges_a})
    h_nodes = sorted({a for a, _ in h_pairs} | {b for _, b in h_pairs})
    h_hub = {n: 1.0 for n in h_nodes}
    h_auth = {n: 0.0 for n in h_nodes}
    for _ in range(10):
        h_auth = {n: 0.0 for n in h_nodes}
        for a, b in h_pairs:
            h_auth[b] += h_hub[a]
        nrm = math.sqrt(sum(v * v for v in h_auth.values()))
        h_auth = {n: (v / nrm if nrm else 0.0) for n, v in h_auth.items()}
        h_hub = {n: 0.0 for n in h_nodes}
        for a, b in h_pairs:
            h_hub[a] += h_auth[b]
        nrm = math.sqrt(sum(v * v for v in h_hub.values()))
        h_hub = {n: (v / nrm if nrm else 0.0) for n, v in h_hub.items()}
    write("kg_hits",
          [{"id": n, "hub": round_half_up(h_hub[n], 6),
            "authority": round_half_up(h_auth[n], 6)} for n in h_nodes],
          pa.schema([("id", pa.string()), ("hub", pa.float64()),
                     ("authority", pa.float64())]))

    # kg_training_triples: twin of kg_export.training_triples over
    # graph A (dense ids via the bucket construction, negatives = 2,
    # buckets = 1024; hashed tail corruption, +1 bump on collision)
    trip = sorted({(e["src"], e["dst"], e["rel_type"]) for e in edges_a})
    tt_buckets = 1024
    ent_vals = sorted({h for h, _, _ in trip} | {t for _, t, _ in trip},
                      key=lambda v: (xxh_str(v) % tt_buckets, v))
    ent_id = {v: i for i, v in enumerate(ent_vals)}
    rel_vals = sorted({r for _, _, r in trip},
                      key=lambda v: (xxh_str(v) % tt_buckets, v))
    rel_id = {v: i for i, v in enumerate(rel_vals)}
    n_e = len(ent_vals)
    tt_rows = []
    for h, t, r in trip:
        for k in range(2):
            neg = xxh_str(h, t, r, k) % n_e
            if neg == ent_id[t]:
                neg = (neg + 1) % n_e
            tt_rows.append({"h_id": ent_id[h], "r_id": rel_id[r],
                            "t_id": ent_id[t], "k": k, "neg_t_id": neg})
    tt_rows.sort(key=lambda d: (d["h_id"], d["r_id"], d["t_id"], d["k"]))
    write("kg_training_triples", tt_rows, pa.schema([
        ("h_id", pa.int64()), ("r_id", pa.int64()), ("t_id", pa.int64()),
        ("k", pa.int64()), ("neg_t_id", pa.int64())]))

    # keyword search filters user_001 -> graph A's nodes only
    kw = sorted(
        ({"graph_id": n_["graph_id"], "id": n_["id"], "name": n_["name"],
          "type": n_["type"]}
         for n_ in nodes_a if "公司" in n_["name"]),
        key=lambda d: d["id"],
    )
    write("kg_keyword_search", kw, pa.schema([
        ("graph_id", pa.string()), ("id", pa.string()),
        ("name", pa.string()), ("type", pa.string())]))

    write("kg_user_graphs",
          [{"graph_id": GRAPH_ID, "n_nodes": len(nodes_a),
            "n_links": len(edges_a)}],
          pa.schema([("graph_id", pa.string()), ("n_nodes", pa.int64()),
                     ("n_links", pa.int64())]))

    write("kg_all_graphs",
          [{"graph_id": GRAPH_ID, "n_nodes": len(nodes_a),
            "n_links": len(edges_a)},
           {"graph_id": GRAPH_ID_B, "n_nodes": len(nodes_b),
            "n_links": len(edges_b)}],
          pa.schema([("graph_id", pa.string()), ("n_nodes", pa.int64()),
                     ("n_links", pa.int64())]))

    # deleting graph A (Q8) or user_001 (Q9) must leave exactly graph B
    # standing with zero dangling edges — non-trivial survivor oracles
    write("kg_detach_delete",
          [{"surviving_nodes": len(nodes_b), "surviving_edges": len(edges_b),
            "dangling_edges": 0}],
          pa.schema([("surviving_nodes", pa.int64()),
                     ("surviving_edges", pa.int64()),
                     ("dangling_edges", pa.int64())]))
    write("kg_clear_user",
          [{"surviving_nodes": len(nodes_b), "surviving_edges": len(edges_b)}],
          pa.schema([("surviving_nodes", pa.int64()),
                     ("surviving_edges", pa.int64())]))

    canon: dict[str, dict] = {}
    for n_ in nodes:
        c = canon.setdefault(n_["canonical_id"], {"names": set(), "n": 0})
        c["names"].add(n_["name"])
        c["n"] += 1
    canon_rows = sorted(
        ({"canonical_id": k, "n_surface_forms": len(v["names"]),
          "n_mentions": v["n"]}
         for k, v in canon.items() if len(v["names"]) > 1),
        key=lambda d: d["canonical_id"],
    )
    write("kg_canonical_entities", canon_rows, pa.schema([
        ("canonical_id", pa.string()), ("n_surface_forms", pa.int64()),
        ("n_mentions", pa.int64())]))

    drop_agg: dict[tuple, int] = defaultdict(int)
    for d in dropped_a + dropped_b:
        drop_agg[(d["reason"], d["type"])] += 1
    drop_rows = sorted(
        ({"reason": k[0], "type": k[1], "n_dropped": v}
         for k, v in drop_agg.items()),
        key=lambda d: (d["reason"], d["type"]),
    )
    write("kg_dropped_relations", drop_rows, pa.schema([
        ("reason", pa.string()), ("type", pa.string()),
        ("n_dropped", pa.int64())]))

    print("done:", OUT_DIR)


if __name__ == "__main__":
    main()
