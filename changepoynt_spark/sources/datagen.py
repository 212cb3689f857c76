"""Deterministic synthesis of the engine's input table.

Shape is exactly the BASELINE.json input_hint:
    (doc_id: string, tokens: array<int32>, n_tok: int32, source: string)
— each doc's token stream IS the time series.

A fixed subset of docs ("golden carriers") embeds the reference test signals
(FIXTURES.md §3) quantized to int32 (signal * 1000, rounded), so Spark scores
of those rows can be compared bit-for-bit against the numpy-oracle goldens
after the same dequantization inside the kernel.  All other docs carry seeded
random-walk token streams with a heavy-tailed length mix so skew handling is
exercised.

Synthesis is driver-side numpy -> Arrow -> Spark createDataFrame for test
scales; at production scale the same per-doc recipe runs distributed via
``mapInPandas`` over a ``spark.range`` of doc indices (no driver
materialization) — see :func:`tokens_table_distributed`.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from changepoynt_spark.sources import signals as _fx

TOKENS_SCHEMA = T.StructType([
    T.StructField('doc_id', T.StringType(), False),
    T.StructField('tokens', T.ArrayType(T.IntegerType(), False), False),
    T.StructField('n_tok', T.IntegerType(), False),
    T.StructField('source', T.StringType(), False),
])

QUANT_SCALE = 1000.0
VOCAB = 50257


def quantize(signal: np.ndarray) -> np.ndarray:
    """float64 signal -> int32 tokens (x1000, rounded)."""
    return np.round(np.asarray(signal, dtype=np.float64) * QUANT_SCALE).astype(np.int32)


def dequantize(tokens: np.ndarray) -> np.ndarray:
    """int32 tokens -> float64 signal (the kernel-side inverse)."""
    return np.asarray(tokens, dtype=np.float64) / QUANT_SCALE


def golden_carriers() -> dict:
    """The reference test signals as quantized token streams, keyed by a
    stable carrier doc_id (FIXTURES.md §3)."""
    step900 = _fx.step_signal(300)
    step600 = _fx.step_signal(200)
    freq5678, _ = _fx.frequency_change_signal(seed=5678)
    freq1234, _ = _fx.frequency_change_signal(seed=1234)
    mean1234, _ = _fx.mean_shift_signal(seed=1234)
    sine7 = _fx.streaming_sine_signal(seed=7)
    return {
        'golden_step3x300': quantize(step900),
        'golden_step3x200': quantize(step600),
        'golden_freq48to14_s5678': quantize(freq5678),
        'golden_freq48to14_s1234': quantize(freq1234),
        'golden_meanshift48to14': quantize(mean1234),
        'golden_streaming_sine': quantize(sine7),
    }


def _doc_lengths(rng: np.random.Generator, n_docs: int, max_len: int) -> np.ndarray:
    """Heavy-tailed length mix: 80% short, 15% medium, 5% long (capped)."""
    bucket = rng.random(n_docs)
    lengths = np.empty(n_docs, dtype=np.int64)
    short = bucket < 0.80
    med = (bucket >= 0.80) & (bucket < 0.95)
    long_ = bucket >= 0.95
    lengths[short] = rng.integers(700, min(2000, max_len) + 1, size=int(short.sum()))
    lengths[med] = rng.integers(min(2000, max_len), min(20000, max_len) + 1, size=int(med.sum()))
    lengths[long_] = rng.integers(min(20000, max_len), max_len + 1, size=int(long_.sum()))
    return lengths


def _random_walk_tokens(rng: np.random.Generator, length: int) -> np.ndarray:
    steps = rng.integers(-40, 41, size=length, dtype=np.int64)
    walk = 25000 + np.cumsum(steps)
    return np.clip(walk, 0, VOCAB - 1).astype(np.int32)


def make_tokens_pdf(n_docs: int = 200, seed: int = 42, max_len: int = 4000,
                    n_sources: int = 8, include_golden: bool = True) -> pd.DataFrame:
    """Driver-side pandas synthesis (test/bench scale)."""
    rng = np.random.default_rng(seed)
    lengths = _doc_lengths(rng, n_docs, max_len)
    rows = []
    for i in range(n_docs):
        rows.append((f'doc_{i:08d}', _random_walk_tokens(rng, int(lengths[i])),
                     int(lengths[i]), f'src{i % n_sources}'))
    if include_golden:
        for j, (name, toks) in enumerate(sorted(golden_carriers().items())):
            rows.append((name, toks, int(toks.shape[0]), f'src{j % n_sources}'))
    return pd.DataFrame(rows, columns=['doc_id', 'tokens', 'n_tok', 'source'])


def tokens_table(spark: SparkSession, n_docs: int = 200, seed: int = 42,
                 max_len: int = 4000, n_sources: int = 8,
                 include_golden: bool = True, partitions: int = None) -> DataFrame:
    """Small-scale input table as a Spark DataFrame (exact input_hint schema)."""
    pdf = make_tokens_pdf(n_docs=n_docs, seed=seed, max_len=max_len,
                          n_sources=n_sources, include_golden=include_golden)
    df = spark.createDataFrame(pdf, schema=TOKENS_SCHEMA)
    if partitions:
        df = df.repartition(partitions, F.xxhash64('doc_id'))
    return df


def tokens_table_distributed(spark: SparkSession, n_docs: int, seed: int = 42,
                             max_len: int = 200_000, n_sources: int = 8,
                             partitions: int = None) -> DataFrame:
    """Scale path: synthesize the same per-doc recipe inside executors.

    ``spark.range(n_docs)`` fans doc indices across partitions; each doc's
    stream is derived from ``default_rng(seed + doc_index)`` so the result is
    independent of partitioning/task order — the property that matters at
    10^12 sequences where a driver-side build is impossible.
    """
    base = spark.range(0, n_docs, numPartitions=partitions)

    def gen(batches):
        for pdf in batches:
            ids = pdf['id'].to_numpy()
            out_rows = []
            for i in ids:
                rng = np.random.default_rng(seed + int(i))
                length = int(_doc_lengths(rng, 1, max_len)[0])
                toks = _random_walk_tokens(rng, length)
                out_rows.append((f'doc_{int(i):012d}', toks, length,
                                 f'src{int(i) % n_sources}'))
            yield pd.DataFrame(out_rows, columns=['doc_id', 'tokens', 'n_tok', 'source'])

    return base.mapInPandas(gen, schema=TOKENS_SCHEMA)

