"""Seeded input generators for the two benchmark workloads.

Each workload gets a directory of parquet tables under the cache root,
keyed by (workload, seed, hash of this file). The library only ever sees
those paths. A directory is written once, behind a ``_DONE`` marker, and
reused by every later run with the same seed; generation is never inside
a timed region.

Tables are written as several part files so the scan splits across cores
the way a real multi-file store does.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# corpus_dedup's embedding table (vectors x dim float32, 9.2 MB) stays above
# cosine_topk_auto's 8 MB threshold, so the Arrow kernel runs
SIZES = {
    "long_history": {"symbols": 4, "bars": 6_000},
    "corpus_dedup": {"docs": 2000, "chain": 96, "vectors": 3000, "dim": 768, "queries": 100},
}
#: long_history runs the fused segmented sweep with this many segments
LONG_HISTORY_SEGMENTS = 2

PARTS = 8
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
BAR_US = 60_000_000

# planted sliding-window chain: doc i holds tokens q{2i}..q{2i+61}, so
# neighbours at distance d have shingle Jaccard (60-2d)/(60+2d) >= 0.5
# for d <= 10, and the chain forms deep path components
CHAIN_TOKENS = 62
CHAIN_STRIDE = 2
CHAIN_BASE_ID = 1_000_000_000


def _write_parts(table: pa.Table, path: str, parts: int = PARTS) -> None:
    os.makedirs(path)
    n = table.num_rows
    step = -(-n // parts)
    for i in range(parts):
        piece = table.slice(i * step, step)
        if piece.num_rows:
            pq.write_table(piece, os.path.join(path, f"part-{i:03d}.parquet"))


def _events(rng: np.random.Generator, symbols: int, bars: int) -> pa.Table:
    """``events`` rows that ``sources.bars`` turns into OHLCV bars: one
    geometric random walk per symbol, stored as ``value`` so that
    ``close = 300 + value / 10``."""
    n = symbols * bars
    steps = rng.normal(0.0, 0.01, size=(symbols, bars))
    level = rng.uniform(50.0, 400.0, size=(symbols, 1))
    close = level * np.exp(np.cumsum(steps, axis=1))
    value = np.round((close - 300.0) * 10.0, 2).ravel()
    sym = np.repeat(np.arange(symbols), bars)
    bar = np.tile(np.arange(bars, dtype=np.int64), symbols)
    # rows are shuffled so the bar order is recovered by the engine, not
    # inherited from the file layout
    order = rng.permutation(n)
    names = np.array([f"S{i:05d}" for i in range(symbols)], dtype=object)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)[order]),
            "ts": pa.array(T0_US + bar[order] * BAR_US, type=pa.timestamp("us")),
            "event_type": pa.array(names[sym[order]], type=pa.string()),
            "value": pa.array(value[order]),
        }
    )


def _zipf_vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < size:
        k = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, size=k)))
    return np.array(sorted(words), dtype=object)


def _corpus(rng: np.random.Generator, docs: int, chain: int, vectors: int, dim: int, queries: int):
    vocab = _zipf_vocab(rng, 4000)
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = 1.0 / ranks**1.1
    p /= p.sum()
    stop = ["the", "and", "of", "to", "in", "is", "that", "for"]
    n_base = docs - chain
    n_dup = n_base // 5
    n_orig = n_base - n_dup
    texts = []
    for _ in range(n_orig):
        k = int(rng.integers(40, 140))
        toks = list(rng.choice(vocab, size=k, p=p))
        for j in rng.integers(0, k, size=k // 8):
            toks[j] = stop[int(j) % len(stop)]
        texts.append(toks)
    # near-duplicates: a copy of an original with ~3% of tokens replaced
    for src in rng.integers(0, n_orig, size=n_dup):
        toks = list(texts[int(src)])
        for j in rng.integers(0, len(toks), size=max(1, len(toks) // 32)):
            toks[int(j)] = str(rng.choice(vocab))
        texts.append(toks)
    doc_text = [" ".join(t) for t in texts]
    ids = list(rng.permutation(n_base).astype(np.int64))
    for i in range(chain):
        lo = i * CHAIN_STRIDE
        doc_text.append(" ".join(f"q{j}" for j in range(lo, lo + CHAIN_TOKENS)))
        ids.append(CHAIN_BASE_ID + i)
    documents = pa.table(
        {
            "doc_id": pa.array(ids, type=pa.int64()),
            "text": pa.array(doc_text, type=pa.string()),
        }
    )
    emb = rng.normal(size=(vectors, dim)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(vectors, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), dim).cast(
                pa.list_(pa.float32())
            ),
        }
    )
    qv = rng.normal(size=(queries, dim)).astype(np.float32)
    qtab = pa.table(
        {
            "query_id": pa.array(np.arange(queries, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(qv.ravel()), dim).cast(
                pa.list_(pa.float32())
            ),
        }
    )
    return documents, embeddings, qtab


def chain_ids() -> list[int]:
    return [CHAIN_BASE_ID + i for i in range(SIZES["corpus_dedup"]["chain"])]


def cache_key(workload: str, seed: int, *sources: str) -> str:
    """``<workload>-<seed>-<hash>``, where the hash covers the named source
    files of this directory, so a cached input or stored digest is never
    reused after the code that made it changed."""
    h = hashlib.sha256()
    for name in sources:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), name), "rb") as fh:
            h.update(fh.read())
    return f"{workload}-{seed}-{h.hexdigest()[:12]}"


def ensure(root: str, workload: str, seed: int) -> str:
    """Return the input directory for (workload, seed), generating it on
    first use."""
    out = os.path.join(root, cache_key(workload, seed, "inputs.py"))
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    size = SIZES[workload]
    if workload == "corpus_dedup":
        documents, embeddings, qtab = _corpus(rng, **size)
        _write_parts(documents, os.path.join(tmp, "documents.parquet"))
        _write_parts(embeddings, os.path.join(tmp, "embeddings.parquet"))
        _write_parts(qtab, os.path.join(tmp, "queries.parquet"), parts=1)
    else:
        _write_parts(_events(rng, size["symbols"], size["bars"]), os.path.join(tmp, "events.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.rename(tmp, out)
    return out
