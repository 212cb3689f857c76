"""Seeded input generator for the benchmark workloads.

Rows have exactly the engine's input shape
``(doc_id: string, tokens: array<int32>, n_tok: int32, source: string)``.
Lengths are the midpoints of n equal-probability strata of a truncated
Pareto law.  When docs are bucketed, doc ids are picked so every bucket
holds as many docs, and lengths are dealt so every bucket holds the same
lengths.  The seed changes the doc ids, which doc gets which length and
every token value, but not the work per bucket or per partition, so
run-to-run spread measures the system and not the draw.

``sources.datagen`` is not used: its short docs start at 700 tokens.
"""
from __future__ import annotations

import numpy as np
import pandas as pd

VOCAB = 50257


def doc_lengths(n: int, lo: int, hi: int, alpha: float) -> np.ndarray:
    """Stratified truncated-Pareto lengths, longest first."""
    u = (np.arange(n) + 0.5) / n
    x = lo / (1.0 - u * (1.0 - (lo / hi) ** alpha)) ** (1.0 / alpha)
    return np.sort(np.clip(x.astype(np.int64), lo, hi))[::-1]


def walk_tokens(rng: np.random.Generator, length: int) -> np.ndarray:
    steps = rng.integers(-40, 41, size=length, dtype=np.int64)
    return np.clip(25000 + np.cumsum(steps), 0, VOCAB - 1).astype(np.int32)


def bucketed_ids(prefix: str, n: int, buckets: int, bucket_of) -> tuple:
    """``n`` doc ids dealt round-robin over ``buckets`` (id ``i`` lies in
    bucket ``i % buckets``), picked in order from ``prefix_000000``, ...;
    ``bucket_of`` maps a list of ids to their buckets."""
    cand = [f'{prefix}_{i:06d}' for i in range(4 * n + 64)]
    pools = [[] for _ in range(buckets)]
    for doc_id, b in zip(cand, bucket_of(cand)):
        pools[b].append(doc_id)
    ids = [pools[i % buckets][i // buckets] for i in range(n)]
    return ids, np.arange(n) % buckets


def make_docs(seed, n: int, lo: int, hi: int, alpha: float, prefix: str,
              sources: int, buckets: int = 1, bucket_of=None) -> tuple:
    """``seed`` is anything ``np.random.default_rng`` takes.  Returns the
    docs, shuffled, and the bucket of each row (all 0 without
    ``bucket_of``).  Lengths go longest first to the buckets in turn, so
    every bucket gets the same lengths; sources are dealt at random."""
    rng = np.random.default_rng(seed)
    if bucket_of is None:
        ids, bucket = [f'{prefix}_{i:06d}' for i in range(n)], np.zeros(n, np.int64)
    else:
        ids, bucket = bucketed_ids(prefix, n, buckets, bucket_of)
    lengths = doc_lengths(n, lo, hi, alpha)
    src = rng.permutation(np.arange(n) % sources)
    rows = [(doc_id, walk_tokens(rng, int(n_tok)), int(n_tok), f'src{s}')
            for doc_id, n_tok, s in zip(ids, lengths, src)]
    order = rng.permutation(n)
    docs = pd.DataFrame(rows, columns=['doc_id', 'tokens', 'n_tok', 'source'])
    return docs.iloc[order].reset_index(drop=True), bucket[order]


def change_one_doc(docs: pd.DataFrame, doc_id: str) -> pd.DataFrame:
    """Copy of ``docs`` with one doc's first token moved by one: the input a
    resumed job sees after that doc's bucket changed."""
    out = docs.copy()
    i = out.index[out['doc_id'] == doc_id][0]
    toks = out.at[i, 'tokens'].copy()
    toks[0] = toks[0] + 1 if toks[0] < VOCAB - 1 else toks[0] - 1
    out.at[i, 'tokens'] = toks
    return out


def balanced_parts(lengths: np.ndarray, parts: int, buckets: np.ndarray) -> np.ndarray:
    """Partition index per doc: bucket by bucket, longest first, dealt in one
    snake order, so every partition carries about the same number of tokens
    of the whole input and of each bucket, whatever the seed."""
    order = np.lexsort((-np.asarray(lengths), np.asarray(buckets)))
    lap = np.arange(len(order)) % (2 * parts)
    out = np.empty(len(order), dtype=np.int64)
    out[order] = np.where(lap < parts, lap, 2 * parts - 1 - lap)
    return out
