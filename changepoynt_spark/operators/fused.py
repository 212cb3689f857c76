"""Fused score -> rollup -> compress: the zero-shuffle fast path.

The input shape (one row per series) means every series' full history is
already co-located — so per-series tier aggregates (1m/1h/1d) and compressed
blocks can be produced inside the scoring kernel itself: map-side combine
taken to its logical conclusion.  The whole pipeline

    tokens -> scores -> 1m/1h/1d buckets -> gorilla/delta blocks

is ONE mapInPandas over the scan partitions: no explode of T rows per doc,
no shuffle, nothing materialized between stages.  At 10^12 sequences this
removes the only O(total-points) exchange in the job.

The generic operators in :mod:`changepoynt_spark.operators.rollup` remain
the path for streams whose series span rows (events) and for cross-series
tiers; their bucket semantics are identical (proven row-equal in
tests/test_fused.py), so a global tier is a cheap algebraic merge of these
per-series partials.

Bucket math is vectorized numpy (``np.add.reduceat`` / ``minimum.reduceat``
over contiguous positions); tier t+1 is folded from tier t's partials.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from changepoynt_spark.operators.scoring import build_algorithm, min_required_length, \
    score_batch, series_seed
from changepoynt_spark.sources.datagen import QUANT_SCALE

TIER_SECONDS = {'1m': 60, '1h': 3600, '1d': 86400}
DEFAULT_EPOCH_S = 1767225600  # 2026-01-01 00:00:00 UTC

ROWS_SCHEMA = T.StructType([
    T.StructField('doc_id', T.StringType(), False),
    T.StructField('source', T.StringType(), False),
    T.StructField('tier', T.StringType(), False),
    T.StructField('bucket_start', T.TimestampType(), False),
    T.StructField('cnt_points', T.LongType(), False),
    T.StructField('sum_value', T.DoubleType(), False),
    T.StructField('min_value', T.DoubleType(), False),
    T.StructField('max_value', T.DoubleType(), False),
    T.StructField('avg_value', T.DoubleType(), False),
    T.StructField('first_value', T.DoubleType(), False),
    T.StructField('last_value', T.DoubleType(), False),
])

BLOCKS_SCHEMA = T.StructType([
    T.StructField('doc_id', T.StringType(), False),
    T.StructField('source', T.StringType(), False),
    T.StructField('tier', T.StringType(), False),
    T.StructField('block_start', T.TimestampType(), False),
    T.StructField('n_points', T.IntegerType(), False),
    T.StructField('ts_blob', T.BinaryType(), False),
    T.StructField('value_blob', T.BinaryType(), False),
])


def _bucketize(values: np.ndarray, step: int):
    """Partial aggregates of contiguous positions folded by ``step``.
    Returns dict of arrays (cnt, sum, min, max, first, last)."""
    n = values.shape[0]
    starts = np.arange(0, n, step)
    ends = np.append(starts[1:], n)
    return {
        'cnt': (ends - starts).astype(np.int64),
        'sum': np.add.reduceat(values, starts),
        'min': np.minimum.reduceat(values, starts),
        'max': np.maximum.reduceat(values, starts),
        'first': values[starts],
        'last': values[ends - 1],
    }


def _fold(b: dict, step: int) -> dict:
    """Fold finer-tier partials into a coarser tier (factor ``step``)."""
    n = b['cnt'].shape[0]
    starts = np.arange(0, n, step)
    ends = np.append(starts[1:], n)
    return {
        'cnt': np.add.reduceat(b['cnt'], starts),
        'sum': np.add.reduceat(b['sum'], starts),
        'min': np.minimum.reduceat(b['min'], starts),
        'max': np.maximum.reduceat(b['max'], starts),
        'first': b['first'][starts],
        'last': b['last'][ends - 1],
    }


def _series_tiers(score: np.ndarray, tick_seconds: int):
    """All three tier partials for one series. tick_seconds must divide 60."""
    per_min = 60 // tick_seconds
    t1m = _bucketize(score, per_min)
    t1h = _fold(t1m, 60)
    t1d = _fold(t1h, 24)
    return {'1m': t1m, '1h': t1h, '1d': t1d}


def score_rollup(df: DataFrame, algorithm: str = 'sst', params: dict = None,
                 output: str = 'blocks', dequantize: bool = True,
                 epoch_s: int = DEFAULT_EPOCH_S, tick_seconds: int = 1,
                 block_interval: str = '1d', filter_short: bool = True,
                 seed_fn=series_seed, stage_acc: dict = None) -> DataFrame:
    """One-pass tokens -> scores -> tier rollup -> (rows | gorilla blocks).

    ``output='rows'`` emits tier bucket rows (same values as the generic
    rollup cascade); ``output='blocks'`` emits delta-of-delta + Gorilla
    compressed blocks, one per (doc, tier, block_interval window).

    ``stage_acc``: optional dict of Spark DoubleAccumulators keyed
    'score'/'bucket'/'encode'/'assemble' — the kernel adds its per-batch
    CPU seconds per stage (one accumulator update per Arrow batch, so the
    instrumentation itself is O(batches) not O(points)).  Used by bench.py
    for per-stage wall attribution of the headline pipeline.
    """
    if output not in ('rows', 'blocks'):
        raise ValueError(f"output must be 'rows' or 'blocks', got {output!r}")
    params = dict(params or {})
    build_algorithm(algorithm, params)
    if filter_short:
        df = df.filter(F.col('n_tok') >= min_required_length(algorithm, params))
    scale = QUANT_SCALE if dequantize else 1.0
    block_s = TIER_SECONDS[block_interval] if block_interval in TIER_SECONDS else 86400

    def kernel(batches):
        import time as _time
        from changepoynt_spark.codecs import encode_timestamps, encode_values
        for pdf in batches:
            t_stage = {'score': 0.0, 'bucket': 0.0, 'encode': 0.0, 'assemble': 0.0}
            out = {k: [] for k in ('doc_id', 'source', 'tier', 'bucket', 'cnt', 'sum',
                                   'min', 'max', 'first', 'last',
                                   'n_points', 'ts_blob', 'value_blob')}
            doc_ids = pdf['doc_id'].to_numpy()
            scores = score_batch(
                algorithm, params,
                (np.asarray(toks, dtype=np.float64) / scale for toks in pdf['tokens'].to_numpy()),
                [seed_fn(doc_id) for doc_id in doc_ids])
            for doc_id, src in zip(doc_ids, pdf['source'].to_numpy()):
                _t0 = _time.perf_counter()
                score = np.asarray(next(scores), dtype=np.float64)
                _t1 = _time.perf_counter()
                t_stage['score'] += _t1 - _t0
                tiers = _series_tiers(score, tick_seconds)
                _enc_doc = 0.0
                for tier, b in tiers.items():
                    step = TIER_SECONDS[tier]
                    bucket_ts = epoch_s + np.arange(b['cnt'].shape[0], dtype=np.int64) * step
                    if output == 'rows':
                        k = b['cnt'].shape[0]
                        out['doc_id'].extend([doc_id] * k)
                        out['source'].extend([src] * k)
                        out['tier'].extend([tier] * k)
                        out['bucket'].append(bucket_ts)
                        out['cnt'].append(b['cnt'])
                        out['sum'].append(b['sum'])
                        out['min'].append(b['min'])
                        out['max'].append(b['max'])
                        out['first'].append(b['first'])
                        out['last'].append(b['last'])
                    else:
                        avg = b['sum'] / b['cnt']
                        n = bucket_ts.shape[0]
                        blk = max(1, block_s // step)
                        for s in range(0, n, blk):
                            e = min(n, s + blk)
                            out['doc_id'].append(doc_id)
                            out['source'].append(src)
                            out['tier'].append(tier)
                            out['bucket'].append(int(bucket_ts[s]))
                            out['n_points'].append(e - s)
                            _te = _time.perf_counter()
                            ts_blob = encode_timestamps(bucket_ts[s:e] * 1_000_000)
                            value_blob = encode_values(avg[s:e])
                            _enc_doc += _time.perf_counter() - _te
                            out['ts_blob'].append(ts_blob)
                            out['value_blob'].append(value_blob)
                t_stage['encode'] += _enc_doc
                t_stage['bucket'] += (_time.perf_counter() - _t1) - _enc_doc
            _ta = _time.perf_counter()
            if output == 'rows':
                if not out['doc_id']:
                    if stage_acc:
                        for _k, _v in t_stage.items():
                            stage_acc[_k].add(_v)
                    continue
                bucket = np.concatenate(out['bucket']) if out['bucket'] else np.array([], dtype=np.int64)
                sums = np.concatenate(out['sum'])
                cnts = np.concatenate(out['cnt'])
                res = pd.DataFrame({
                    'doc_id': out['doc_id'],
                    'source': out['source'],
                    'tier': out['tier'],
                    'bucket_start': pd.to_datetime(bucket, unit='s'),
                    'cnt_points': cnts,
                    'sum_value': sums,
                    'min_value': np.concatenate(out['min']),
                    'max_value': np.concatenate(out['max']),
                    'avg_value': sums / cnts,
                    'first_value': np.concatenate(out['first']),
                    'last_value': np.concatenate(out['last']),
                })
            else:
                if not out['doc_id']:
                    if stage_acc:
                        for _k, _v in t_stage.items():
                            stage_acc[_k].add(_v)
                    continue
                res = pd.DataFrame({
                    'doc_id': out['doc_id'],
                    'source': out['source'],
                    'tier': out['tier'],
                    'block_start': pd.to_datetime(np.array(out['bucket'], dtype=np.int64),
                                                  unit='s'),
                    'n_points': np.array(out['n_points'], dtype=np.int32),
                    'ts_blob': out['ts_blob'],
                    'value_blob': out['value_blob'],
                })
            t_stage['assemble'] += _time.perf_counter() - _ta
            if stage_acc:
                for _k, _v in t_stage.items():
                    stage_acc[_k].add(_v)
            yield res

    schema = ROWS_SCHEMA if output == 'rows' else BLOCKS_SCHEMA
    return df.mapInPandas(kernel, schema=schema)
