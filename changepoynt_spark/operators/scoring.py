"""Distributed change-point scoring over the tokens table.

The engine's flagship operator: each row of
``(doc_id, tokens array<int32>, n_tok, source)`` is an independent series, so
scoring is embarrassingly parallel.  We therefore use ``mapInPandas`` (Arrow-
batched, vectorized transfer) — NOT ``groupBy(doc_id).applyInPandas`` — which
means **zero shuffle**: the kernel runs directly on the scan partitions.  At
100 TB that is the difference between a full-table shuffle and none at all.
Skew from long sequences is handled upstream by
:mod:`changepoynt_spark.plans.partitioning` (cost-salted repartition and
chunk-with-halo), because Catalyst/AQE cannot see inside a Python UDF.

Determinism contract: before each series the kernel reseeds the global numpy
RNG with :func:`series_seed` (crc32 of doc_id) — the engine's goldens are
defined under this convention, so Spark output is bit-identical to the
driver-side numpy oracle run with the same seed (mirrors the reference's
"np.random.seed(k) before transform" determinism, SURVEY.md §5).

Equivalent per-series math as the reference's ``Algorithm.transform``
(/root/reference/changepoynt/algorithms/base_algorithm.py:10-14), lifted to a
table of 10^12 sequences.
"""
from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from changepoynt_spark.kernels import (BOCPD, ESST, FLUSS, KLIEP, MESST, MSST, SST,
                                       ZERO, MovingWindow, RuLSIF, ULSIF)
from changepoynt_spark.kernels.base import SingularSubspaceAlgorithm
from changepoynt_spark.sources.datagen import QUANT_SCALE

ALGORITHMS = {
    'sst': SST,
    'esst': ESST,
    'bocpd': BOCPD,
    'rulsif': RuLSIF,
    'ulsif': ULSIF,
    'kliep': KLIEP,
    'fluss': FLUSS,
    'zero': ZERO,
    'moving_window': MovingWindow,
}

MULTIVARIATE_ALGORITHMS = {
    'msst': MSST,
    'messt': MESST,
}


def series_seed(doc_id: str) -> int:
    """Deterministic per-series RNG seed (stable across platforms/sessions)."""
    return zlib.crc32(str(doc_id).encode('utf-8')) & 0xFFFFFFFF


def build_algorithm(algorithm: str, params: dict = None):
    if algorithm not in ALGORITHMS:
        raise ValueError(f'Unknown algorithm {algorithm!r}. Available: {sorted(ALGORITHMS)}')
    return ALGORITHMS[algorithm](**(params or {}))


# series points scored per lockstep group: bounds the float copies, noise
# draws and scores a group holds, whatever the Arrow batch size
BATCH_POINTS = 1 << 17


def score_batch(algorithm: str, params: dict, series, seeds):
    """Yield the scores of ``series`` in order, each exactly what
    ``np.random.seed(seed)``, a fresh instance and ``transform`` give for it.
    SST/MSST ``method='ika'`` without fast Hankel score consecutive groups of
    about ``BATCH_POINTS`` points in one lockstep power chain
    (``kernels.sst._transform_ika``); every other algorithm runs that loop.
    ``series`` may be any iterable; it is consumed one group at a time."""
    params = dict(params or {})
    cls = ALGORITHMS.get(algorithm) or MULTIVARIATE_ALGORITHMS[algorithm]
    algo = cls(**params)
    if not (isinstance(algo, (SST, MSST)) and algo.method == 'ika'
            and not algo.use_fast_hankel):
        for ts, seed in zip(series, seeds):
            np.random.seed(seed)
            # fresh instance per series: some algorithms (BOCPD) cache
            # fitted priors across transform calls
            yield cls(**params).transform(ts)
        return
    group, group_seeds, points = [], [], 0
    for ts, seed in zip(series, seeds):
        group.append(ts)
        group_seeds.append(seed)
        points += ts.shape[0]
        if points >= BATCH_POINTS:
            yield from algo.transform_ika(group, group_seeds)
            group, group_seeds, points = [], [], 0
    if group:
        yield from algo.transform_ika(group, group_seeds)


def min_required_length(algorithm: str, params: dict = None) -> int:
    """Minimum n_tok for which ``transform`` can score at least one point —
    pushed down as a native filter below the UDF (Catalyst sends it to the
    parquet scan, so short rows are never deserialized into Python)."""
    algo = build_algorithm(algorithm, params)
    if isinstance(algo, SingularSubspaceAlgorithm):
        return algo.covered_regions()[0] + 1
    if isinstance(algo, (RuLSIF, KLIEP)):  # RuLSIF covers ULSIF
        return algo.window_length + algo.n_windows + algo.lag + 1
    if isinstance(algo, BOCPD):
        return algo.run_length
    if isinstance(algo, FLUSS):
        return algo.window_length + 2
    if isinstance(algo, MovingWindow):
        return 2 * algo.window_length + 1
    return 1


def score_series(df: DataFrame, algorithm: str = 'sst', params: dict = None,
                 score_col: str = 'score', dequantize: bool = True,
                 filter_short: bool = True, seed_fn=series_seed) -> DataFrame:
    """Append a ``score: array<double>`` channel to each series row.

    Token arrays are passed through untouched (byte-equality invariant of the
    driver contract).  ``dequantize=True`` maps int32 tokens back to float64
    via tokens/1000 (the datagen quantization) before scoring; with False the
    raw token values are cast to float64.
    """
    params = dict(params or {})
    build_algorithm(algorithm, params)  # validate params driver-side (raises early)
    if filter_short:
        df = df.filter(F.col('n_tok') >= min_required_length(algorithm, params))

    out_schema = T.StructType(df.schema.fields + [
        T.StructField(score_col, T.ArrayType(T.DoubleType()), True)])
    scale = QUANT_SCALE if dequantize else 1.0

    def kernel(batches):
        for pdf in batches:
            out = pdf.copy()
            out[score_col] = list(score_batch(
                algorithm, params,
                (np.asarray(toks, dtype=np.float64) / scale for toks in pdf['tokens'].to_numpy()),
                [seed_fn(doc_id) for doc_id in pdf['doc_id'].to_numpy()]))
            yield out

    return df.mapInPandas(kernel, schema=out_schema)


def score_multichannel_series(df: DataFrame, algorithm: str = 'msst', params: dict = None,
                              channels_col: str = 'channels', score_col: str = 'score',
                              seed_fn=series_seed) -> DataFrame:
    """Multivariate scoring: ``channels_col`` holds array<array<double>>,
    one inner array per channel (equal lengths); the kernel consumes the
    (n_samples, n_channels) matrix.  Same shuffle-free mapInPandas shape as
    :func:`score_series`."""
    params = dict(params or {})
    if algorithm not in MULTIVARIATE_ALGORITHMS:
        raise ValueError(f'Unknown multivariate algorithm {algorithm!r}. '
                         f'Available: {sorted(MULTIVARIATE_ALGORITHMS)}')
    MULTIVARIATE_ALGORITHMS[algorithm](**params)  # validate early
    out_schema = T.StructType(df.schema.fields + [
        T.StructField(score_col, T.ArrayType(T.DoubleType()), True)])

    def kernel(batches):
        for pdf in batches:
            out = pdf.copy()
            out[score_col] = list(score_batch(
                algorithm, params,
                (np.stack([np.asarray(c, dtype=np.float64) for c in chans], axis=1)
                 for chans in pdf[channels_col].to_numpy()),
                [seed_fn(doc_id) for doc_id in pdf['doc_id'].to_numpy()]))
            yield out

    return df.mapInPandas(kernel, schema=out_schema)


def explode_scores(df: DataFrame, score_col: str = 'score') -> DataFrame:
    """Long format ``(doc_id, source, pos, score)`` for the rollup layer.
    Uses ``posexplode`` — a narrow transformation, still no shuffle."""
    return df.select(
        'doc_id', 'source',
        F.posexplode(score_col).alias('pos', score_col),
    )


def tokens_to_points(df: DataFrame, keys=('source',),
                     tokens_col: str = 'tokens',
                     epoch: str = '2026-01-01',
                     ts_col: str = 'ts',
                     value_col: str = 'value') -> DataFrame:
    """ROW-LOCAL transform from the north-rule sequence shape
    (doc_id, tokens:array<int>, n_tok, source) to timestamped points:
    token position becomes a seconds offset from ``epoch``, token id the
    value.  posexplode is a narrow transformation (no shuffle) and every
    output row derives from exactly one input row, which is the
    ContinuousAggregate ``transform`` contract — transform(delta) ==
    delta-of-transform, so the tokens table flows into tiers
    incrementally (batch refresh) or via the state-free streaming sink
    (``stream_sink_raw`` / tier_stream_job --transform tokens-points)."""
    import datetime
    # validate before interpolating into SQL: a malformed/quoted value
    # (reachable from tier_stream_job's --epoch CLI arg) must fail here
    # with a clear error, never reach the parser as expression text
    datetime.datetime.fromisoformat(epoch)
    keys = list(keys)
    return df.select(
        *keys, F.posexplode(tokens_col).alias('pos', '_tok')).select(
        *keys,
        F.expr(f"timestampadd(SECOND, pos, TIMESTAMP '{epoch}')")
         .alias(ts_col),
        F.col('_tok').cast('double').alias(value_col))
