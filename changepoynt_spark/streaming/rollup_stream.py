"""Structured Streaming tiers (engine-new; the reference's only "streaming"
is a buffered batch replay).

A streaming tier IS the batch tier operator, run incrementally by the engine
(the Structured Streaming model, Armbrust et al., SIGMOD 2018): compose
``op(watermarked(stream, ts_col, delay), ...)`` with the batch operator of
the same contract from operators.rollup — ``rollup_from_points``,
``rollup_partial``, ``rebucket_partials`` (over a tier's ``bucket_start``),
``moments_rollup``, ``dd_sketch_rows`` or ``sax_frames``.  The event-time
watermark is the only streaming-specific input, so there is one
implementation per tier contract and stream == batch by construction.
Scoring stays batch: kernel state (the SST feedback eigenvector) is
sequential within a series (SURVEY.md §2.9), so the streaming path covers
the rollup of already-scored or raw points.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def watermarked(stream_df: DataFrame, ts_col: str, delay: str) -> DataFrame:
    """``stream_df`` with an event-time watermark ``delay`` behind the max
    ``ts_col`` seen — the one place that sets a streaming tier's watermark.

    Lateness contract: a windowed aggregation over the result, written with
    ``.writeStream.outputMode('append')``, emits each bucket exactly once,
    when the watermark passes its end; rows later than ``delay`` are
    dropped.  'complete' mode emits a fully materialized small tier.
    Aggregation state per open bucket is the operator's own partial."""
    # watermarks require TIMESTAMP (tz-aware); parquet fixtures are NTZ.
    # the session timezone is pinned to UTC, so this cast is deterministic
    return (stream_df.withColumn(ts_col, F.col(ts_col).cast('timestamp'))
                     .withWatermark(ts_col, delay))


def streaming_sessionize(stream_df: DataFrame, keys, ts_col: str = 'ts',
                         value_col: str = 'value', gap: str = '30 minutes',
                         watermark_delay: str = '2 minutes') -> DataFrame:
    """Streaming session aggregation via Spark's native ``session_window``
    (dynamic-gap windows: a session closes when no event arrives for
    ``gap``).  The streaming twin of operators.sessionize: state is bounded
    by the watermark (an open session's state is dropped once the watermark
    passes its close), and append mode emits every session exactly once.

    Per-session aggregates mirror session_stats: event count, value sum,
    session bounds and duration."""
    keys = list(keys)
    agg = (watermarked(stream_df, ts_col, watermark_delay)
           .groupBy(*keys, F.session_window(ts_col, gap).alias('w'))
           .agg(F.count(value_col).alias('n_events'),
                F.sum(value_col).alias('sum_value'),
                F.min(ts_col).alias('session_start'),
                F.max(ts_col).alias('session_end')))
    dur = (F.unix_micros(F.col('session_end').cast('timestamp'))
           - F.unix_micros(F.col('session_start').cast('timestamp'))) / 1e6
    return (agg.withColumn('duration_sec', dur).drop('w'))


def streaming_interval_join(points: DataFrame, intervals: DataFrame, on: str,
                            ts_col: str = 'ts', lo_col: str = 'lo',
                            width: str = '4 hours',
                            watermark_delay: str = '2 minutes') -> DataFrame:
    """Stream-stream interval join: each point joins the interval rows whose
    [lo, lo + width] window contains it, per equi-key ``on``.

    The BOUNDED width is what makes this streamable: Spark derives the state
    retention for each side from the time-range condition
    (p.ts BETWEEN i.lo AND i.lo + width), so interval state is dropped once
    the point watermark passes lo + width + delay — without the bound, join
    state would grow forever.  Append-mode only (the stream-stream join
    contract); the batch twin is operators.asof.interval_join with
    hi = lo + width.
    """
    p = watermarked(points, ts_col, watermark_delay).alias('p')
    i = watermarked(intervals, lo_col, watermark_delay).alias('i')
    cond = F.expr(
        f'p.{on} = i.{on} AND p.{ts_col} >= i.{lo_col} '
        f'AND p.{ts_col} <= i.{lo_col} + INTERVAL {width}')
    return p.join(i, cond)


def streaming_gap_fill(tier_stream: DataFrame, keys, value_cols=('avg_value',),
                       bucket_col: str = 'bucket_start',
                       interval_seconds: int = 60,
                       method: str = 'locf') -> DataFrame:
    """Streaming twin of operators.rollup.gap_fill over a CLOSED-bucket tier
    stream (the append-mode output of ``rollup_from_points`` over
    :func:`watermarked`, e.g. its parquet sink re-read as a stream).

    The batch operator explodes each gap after an observed bucket and fills
    it from running-window anchors; the streaming form is the same
    recurrence as per-key state: state holds the last observed bucket and
    its values, and when the next observed bucket arrives every missing
    bucket strictly between them is emitted with ``is_gap=true`` and the
    fill value —

    * ``locf``   — the stored previous value,
    * ``linear`` — ``v0 + (v1 - v0) / dx * di`` in IEEE-double op order,
      BIT-identical to the batch window expression (asserted in
      tests/test_streaming.py),
    * ``null``   — NULL values (spine densification only).

    Because a gap row is emitted only when its right neighbour closes, the
    output covers exactly the batch spine (per-key min..max observed bucket:
    no leading or trailing gap rows) — streaming==batch is row-for-row, not
    just approximate.  Late/duplicate tier rows at-or-before the last
    emitted bucket are dropped (upstream append mode already guarantees
    per-key bucket monotonicity across micro-batches; within a batch rows
    are sorted).  State per key is one (timestamp, double[]) row regardless
    of stream length; values must be non-NULL (tier aggregates of non-empty
    buckets — the same contract the batch tier provides).
    """
    if method not in ('null', 'locf', 'linear'):
        raise ValueError(f"gap_fill method must be 'null', 'locf' or 'linear', got {method!r}")
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keys = list(keys)
    value_cols = list(value_cols)
    step_us = int(interval_seconds) * 1_000_000
    key_fields = [tier_stream.schema[k] for k in keys]
    out_schema = T.StructType(
        key_fields
        + [T.StructField(bucket_col, T.TimestampType(), True)]
        + [T.StructField(c, T.DoubleType(), True) for c in value_cols]
        + [T.StructField('is_gap', T.BooleanType(), False)])
    state_schema = T.StructType([
        T.StructField('last_us', T.LongType(), True),
        T.StructField('last_vals', T.ArrayType(T.DoubleType()), True),
    ])

    def fn(key, pdfs, state: GroupState):
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True).sort_values(bucket_col)
        bucket_us = (pdf[bucket_col].astype('datetime64[us]')
                     .to_numpy().view(np.int64))
        vals = pdf[value_cols].to_numpy(dtype=np.float64)
        if state.exists:
            last_us, last_vals = state.get
        else:
            last_us, last_vals = None, None
        out_us, out_vals, out_gap = [], [], []
        for b_us, row in zip(bucket_us.tolist(), vals):
            if last_us is not None and b_us <= last_us:
                continue  # late or duplicate closed bucket: already emitted
            if last_us is not None and b_us - last_us > step_us:
                dx = float((b_us - last_us) // step_us)
                for i in range(1, (b_us - last_us) // step_us):
                    out_us.append(last_us + i * step_us)
                    if method == 'locf':
                        out_vals.append(list(last_vals))
                    elif method == 'linear':
                        di = float(i)
                        out_vals.append([v0 + (v1 - v0) / dx * di
                                         for v0, v1 in zip(last_vals, row)])
                    else:
                        out_vals.append([None] * len(value_cols))
                    out_gap.append(True)
            out_us.append(b_us)
            out_vals.append([float(v) for v in row])
            out_gap.append(False)
            last_us, last_vals = b_us, [float(v) for v in row]
        state.update((int(last_us), list(last_vals)))
        if not out_us:
            return
        res = {k: [key[j]] * len(out_us) for j, k in enumerate(keys)}
        res[bucket_col] = pd.Series(np.asarray(out_us, dtype=np.int64)
                                    .view('datetime64[us]'))
        for j, c in enumerate(value_cols):
            res[c] = [r[j] for r in out_vals]
        res['is_gap'] = out_gap
        yield pd.DataFrame(res)

    return (tier_stream.groupBy(*keys)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    outputMode='append',
                                    timeoutConf=GroupStateTimeout.NoTimeout))
