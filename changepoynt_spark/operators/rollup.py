"""Continuous-aggregate rollup / downsample / retention layer.

Engine-new (the reference has no storage or rollup layer — north rule):
raw points -> 1m -> 1h -> 1d tier cascade, gap-fill interpolation, and
Gorilla/delta-of-delta block compression.

Scale design notes:
- Each coarser tier is computed FROM THE PREVIOUS TIER's aggregates, not from
  raw points: the 1h rollup reads ~1/60 of the rows the 1m rollup read.
  Partial aggregation (map-side combine) applies at every tier because all
  aggregates are algebraic (count/sum/min/max are trivially mergeable;
  avg = sum/count; first/last merge via min_by/max_by on bucket_start).
- groupBy(keys, window) is one hash-aggregate shuffle per tier keyed by
  (series, bucket) — the unavoidable minimum. AQE coalesces the post-shuffle
  partitions.
- Gap-fill windows and sorts only the observed buckets (one key-hash
  exchange); each gap is generated once, by one explode per observed row,
  with its LOCF/linear fill computed from running-window anchors
  (bit-matches np.interp; no Python grouped-map, no spine join).
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

TIER_INTERVALS = {'1m': '1 minute', '1h': '1 hour', '1d': '1 day'}
TIER_SECONDS = {'1m': 60, '1h': 3600, '1d': 86400}

AGG_COLS = ['cnt_points', 'sum_value', 'min_value', 'max_value', 'avg_value',
            'first_value', 'last_value']
# the mergeable partial form (rollup_partial): AGG_COLS minus the derived
# avg, plus the first/last ts anchors
PARTIAL_COLS = ['cnt_points', 'sum_value', 'min_value', 'max_value',
                'first_value', 'first_ts', 'last_value', 'last_ts']


def attach_timestamps(long_df: DataFrame, pos_col: str = 'pos', ts_col: str = 'ts',
                      epoch: str = '2026-01-01 00:00:00', tick_seconds: int = 1) -> DataFrame:
    """The reference has no timestamps (pure integer index); the retention
    tiers need one, so the engine defines ts = epoch + pos * tick
    deterministically (SURVEY.md §1.2)."""
    epoch_expr = F.unix_timestamp(F.lit(epoch), 'yyyy-MM-dd HH:mm:ss')
    return long_df.withColumn(
        ts_col, F.timestamp_seconds(epoch_expr + F.col(pos_col).cast('long') * tick_seconds))


def rollup_from_points(df: DataFrame, keys, ts_col: str = 'ts', value_col: str = 'value',
                       interval: str = '1 minute', exact_sum: bool = False) -> DataFrame:
    """Base tier: raw points -> windowed aggregates.

    ``exact_sum=True`` accumulates ``sum_value`` in DECIMAL(18,6): the sum
    is then EXACT (order-independent), so cascaded/merged tiers reproduce
    bit-identical sums on any engine and any partitioning — the discipline
    a cross-engine or cross-run comparison at scale needs.  Default keeps
    the plain double sum (cheaper, fine within one engine)."""
    keys = list(keys)
    val = F.col(value_col).cast('decimal(18,6)') if exact_sum else F.col(value_col)
    agg = (df.groupBy(*keys, F.window(ts_col, interval).alias('w'))
             .agg(F.count(value_col).alias('cnt_points'),
                  F.sum(val).alias('sum_value'),
                  F.min(value_col).alias('min_value'),
                  F.max(value_col).alias('max_value'),
                  F.min_by(value_col, ts_col).alias('first_value'),
                  F.max_by(value_col, ts_col).alias('last_value')))
    return (agg.withColumn('avg_value', F.col('sum_value') / F.col('cnt_points'))
               .withColumn('bucket_start', F.col('w.start'))
               .drop('w')
               .select(*keys, 'bucket_start', *AGG_COLS))


def rollup_from_rollup(df: DataFrame, keys, interval: str) -> DataFrame:
    """Cascade step: merge finer-tier aggregates into a coarser tier without
    touching raw points (continuous-aggregate semantics)."""
    keys = list(keys)
    agg = (df.groupBy(*keys, F.window('bucket_start', interval).alias('w'))
             .agg(F.sum('cnt_points').alias('cnt_points'),
                  F.sum('sum_value').alias('sum_value'),
                  F.min('min_value').alias('min_value'),
                  F.max('max_value').alias('max_value'),
                  F.min_by('first_value', 'bucket_start').alias('first_value'),
                  F.max_by('last_value', 'bucket_start').alias('last_value')))
    return (agg.withColumn('avg_value', F.col('sum_value') / F.col('cnt_points'))
               .withColumn('bucket_start', F.col('w.start'))
               .drop('w')
               .select(*keys, 'bucket_start', *AGG_COLS))


def rollup_cascade(df: DataFrame, keys, ts_col: str = 'ts', value_col: str = 'value',
                   tiers=('1m', '1h', '1d')) -> dict:
    """Full retention cascade raw -> 1m -> 1h -> 1d. Returns {tier: DataFrame}."""
    out = {}
    prev = None
    for tier in tiers:
        interval = TIER_INTERVALS[tier]
        if prev is None:
            out[tier] = rollup_from_points(df, keys, ts_col=ts_col, value_col=value_col,
                                           interval=interval)
        else:
            out[tier] = rollup_from_rollup(out[prev], keys, interval=interval)
        prev = tier
    return out


# ---------------------------------------------------------------------------
# gap fill
# ---------------------------------------------------------------------------

def gap_fill(df: DataFrame, keys, value_cols=('avg_value',), bucket_col: str = 'bucket_start',
             interval_seconds: int = 60, method: str = 'linear') -> DataFrame:
    """Densify each key's buckets from its first to its last observed one
    and fill the holes.

    method: 'null' (leave missing), 'locf' (last observation carried
    forward), 'linear' (interpolation between observed buckets; ends stay at
    the nearest observed value, np.interp semantics).  Adds ``is_gap``
    boolean.

    Fill runs as NATIVE running-window expressions (last/first with
    ignorenulls over the per-key sort) — no Python, and no grouped-map that
    would materialize a key's entire multi-year history in one pandas frame:
    the JVM window operator is spillable, so a decade-long 1m series fills
    without a 5M-row Python group.

    Contract: observed buckets lie on the global ``interval_seconds`` grid
    (epoch-floor rollup buckets, before or after 1970); an off-grid bucket
    raises.
    """
    if method not in ('null', 'locf', 'linear'):
        raise ValueError(f"gap_fill method must be 'null', 'locf' or 'linear', got {method!r}")
    keys = list(keys)
    value_cols = list(value_cols)

    # SEGMENT form: every window/sort runs over the OBSERVED rows only; the
    # dense spine exists solely inside one Generate (explode) that emits
    # each inter-observation gap with its fill value computed
    # arithmetically, so a 1000x gap ratio never means 1000x more rows
    # through an exchange, sort or window frame.  Linear fills bit-match
    # np.interp and the streaming twin: positions shift by a per-key
    # constant, which the lerp's subtractions cancel exactly (asserted in
    # tests).
    from pyspark.sql import Window

    # Explicit key-hash exchange before the windows: the observed table is
    # byte-light, so AQE would otherwise coalesce the shuffle to one
    # partition and every key's (heavy) gap generation would land on one
    # core; the windows reuse this partitioning (no second exchange).
    n_part = int(df.sparkSession.conf.get('spark.sql.shuffle.partitions', '200'))
    step_us = int(interval_seconds) * 1_000_000
    us = f'unix_micros(cast(`{bucket_col}` as timestamp))'
    # grid position; every row evaluates the grid check, so an off-grid
    # bucket fails the query instead of becoming its own emission
    off_grid = F.raise_error(F.concat(
        F.lit(f'gap_fill: {bucket_col} '), F.col(bucket_col).cast('string'),
        F.lit(f' is off the {int(interval_seconds)}-second grid')))
    x = (F.when(F.expr(f'{us} % {step_us}') != 0, off_grid)
          .otherwise(F.expr(f'div({us}, {step_us})')).cast('double'))
    obs = (df.select(*keys, bucket_col, *value_cols)
             .repartition(n_part, *keys)
             .withColumn('_x', x))
    order = Window.partitionBy(*keys).orderBy(bucket_col)
    order_desc = Window.partitionBy(*keys).orderBy(F.col(bucket_col).desc())
    w_prev = order.rowsBetween(Window.unboundedPreceding, 0)
    # "next observed at-or-after" as a RUNNING frame over the DESCENDING
    # sort — first(...).over(UNBOUNDED FOLLOWING) recomputes the frame per
    # row, O(n^2) per key (measured 24/79/314 s at 20/40/80 k buckets)
    w_next = order_desc.rowsBetween(Window.unboundedPreceding, 0)
    for col in value_cols if method != 'null' else ():
        v = F.col(col)
        nn_x = F.when(v.isNotNull(), F.col('_x'))
        obs = (obs.withColumn(f'_pa_{col}',
                              F.last(v, ignorenulls=True).over(w_prev))
                  .withColumn(f'_pax_{col}',
                              F.last(nn_x, ignorenulls=True).over(w_prev)))
        if method == 'linear':
            obs = (obs.withColumn(f'_na_{col}',
                                  F.last(v, ignorenulls=True).over(w_next))
                      .withColumn(f'_nax_{col}',
                                  F.last(nn_x, ignorenulls=True).over(w_next)))
            # the anchor a GAP row interpolates toward is the NEXT observed
            # row's at-or-after anchor
            obs = (obs.withColumn(f'_nna_{col}',
                                  F.lead(f'_na_{col}').over(order))
                      .withColumn(f'_nnax_{col}',
                                  F.lead(f'_nax_{col}').over(order)))
    obs = obs.withColumn('_nx', F.lead('_x').over(order))
    # greatest() skips nulls: a key's last row emits just itself
    gap_len = F.greatest((F.col('_nx') - F.col('_x')).cast('long'), F.lit(1))
    out = obs.withColumn(
        '_k', F.explode(F.sequence(F.lit(0).cast('long'), gap_len - 1)))
    fill_exprs = []
    for col in value_cols:
        v = F.col(col)
        pa, pax = F.col(f'_pa_{col}'), F.col(f'_pax_{col}')
        if method == 'null':
            filled = F.when(F.col('_k') == 0, v)
        elif method == 'locf':
            filled = F.when(F.col('_k') == 0, F.coalesce(v, pa)).otherwise(pa)
        else:
            na_s, nax_s = F.col(f'_na_{col}'), F.col(f'_nax_{col}')
            na_n, nax_n = F.col(f'_nna_{col}'), F.col(f'_nnax_{col}')
            pos = F.col('_x') + F.col('_k').cast('double')
            lerp0 = pa + (na_s - pa) / (nax_s - pax) * (F.col('_x') - pax)
            on_obs = (F.when(v.isNotNull(), v)
                       .when(pa.isNull(), na_s)
                       .when(na_s.isNull(), pa)
                       .otherwise(lerp0))
            lerpk = pa + (na_n - pa) / (nax_n - pax) * (pos - pax)
            on_gap = (F.when(pa.isNull(), na_n)
                       .when(na_n.isNull(), pa)
                       .otherwise(lerpk))
            filled = F.when(F.col('_k') == 0, on_obs).otherwise(on_gap)
        fill_exprs.append(filled.alias(col))
    bucket_out = F.expr(
        f'timestampadd(SECOND, _k * {int(interval_seconds)}, `{bucket_col}`)')
    return out.select(*keys, bucket_out.alias(bucket_col), *fill_exprs,
                      (F.col('_k') > 0).alias('is_gap'))


# ---------------------------------------------------------------------------
# compressed block storage
# ---------------------------------------------------------------------------

COMPRESSED_SCHEMA_FIELDS = [
    T.StructField('block_start', T.TimestampType(), True),
    T.StructField('n_points', T.IntegerType(), False),
    T.StructField('ts_blob', T.BinaryType(), False),
    T.StructField('value_blob', T.BinaryType(), False),
]


def compress_blocks(df: DataFrame, keys, ts_col: str = 'bucket_start',
                    value_col: str = 'avg_value', block_interval: str = '1 day') -> DataFrame:
    """Pack (ts, value) points into Gorilla/delta-of-delta binary blocks, one
    block per (keys, block window).  Runs as an Arrow grouped-map codec UDF;
    timestamps are encoded as epoch-microsecond int64 (bit-exact round trip).
    """
    from changepoynt_spark.codecs import encode_timestamps, encode_values
    keys = list(keys)
    blocked = df.withColumn('_block', F.window(ts_col, block_interval)['start'])
    key_fields = [blocked.schema[k] for k in keys]
    out_schema = T.StructType(key_fields + COMPRESSED_SCHEMA_FIELDS)

    def codec(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col)
        ts = pdf[ts_col].astype('datetime64[us]').to_numpy().view(np.int64)
        vals = pdf[value_col].to_numpy(dtype=np.float64)
        row = {k: [pdf[k].iloc[0]] for k in keys}
        row['block_start'] = [pdf['_block'].iloc[0]]
        row['n_points'] = [len(ts)]
        row['ts_blob'] = [encode_timestamps(ts)]
        row['value_blob'] = [encode_values(vals)]
        return pd.DataFrame(row)

    return blocked.groupBy(*keys, '_block').applyInPandas(codec, schema=out_schema)


def decompress_blocks(df: DataFrame, keys, ts_col: str = 'bucket_start',
                      value_col: str = 'avg_value') -> DataFrame:
    """Inverse of :func:`compress_blocks` (for reads and round-trip tests)."""
    from changepoynt_spark.codecs import decode_timestamps, decode_values
    keys = list(keys)
    key_fields = [df.schema[k] for k in keys]
    out_schema = T.StructType(key_fields + [
        T.StructField(ts_col, T.TimestampType(), True),
        T.StructField(value_col, T.DoubleType(), True),
    ])

    def codec(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # blob decode is per-row by nature; everything else is one
            # np.repeat/concatenate per Arrow batch (no iterrows, no
            # per-block DataFrame allocation)
            ts_arrs = [decode_timestamps(b).astype('datetime64[us]')
                       for b in pdf['ts_blob'].to_numpy()]
            val_arrs = [decode_values(b) for b in pdf['value_blob'].to_numpy()]
            lens = np.fromiter((len(a) for a in ts_arrs), dtype=np.int64,
                               count=len(ts_arrs))
            out = {k: np.repeat(pdf[k].to_numpy(), lens) for k in keys}
            out[ts_col] = np.concatenate(ts_arrs)
            out[value_col] = np.concatenate(val_arrs)
            yield pd.DataFrame(out)

    return df.mapInPandas(codec, schema=out_schema)


def counter_deltas(df: DataFrame, keys, ts_col: str = 'ts',
                   counter_col: str = 'counter', order_cols=()) -> DataFrame:
    """Adds ``counter_delta`` / ``is_reset``: per-sample increase of a
    monotonic counter with reset detection (the PromQL ``increase``
    convention — on a reset, i.e. current < previous, the counter is assumed
    to have restarted from zero so the whole current value is the delta).

    The first sample per key has no previous observation: its delta is NULL
    (unknowable, excluded from sums downstream), not zero.  Running lag
    window only — one key-hash exchange, O(n) per key.  ``order_cols``
    breaks timestamp ties deterministically (cross-engine compares need a
    total order).
    """
    from pyspark.sql import Window
    keys = list(keys)
    order = Window.partitionBy(*keys).orderBy(ts_col, *order_cols)
    prev = F.lag(counter_col).over(order)
    cur = F.col(counter_col)
    delta = (F.when(prev.isNull(), F.lit(None).cast('long'))
              .when(cur >= prev, cur - prev)
              .otherwise(cur))
    is_reset = F.when(prev.isNotNull() & (cur < prev), F.lit(1)).otherwise(F.lit(0))
    return df.withColumn('counter_delta', delta).withColumn('is_reset', is_reset)


def counter_rate(df: DataFrame, keys, ts_col: str = 'ts',
                 counter_col: str = 'counter', interval: str = '1 hour',
                 order_cols=()) -> DataFrame:
    """(keys, bucket_start, increase, n_resets, n_samples, rate_per_sec) —
    reset-adjusted counter increase and per-second rate per time bucket.

    Deltas are computed sample-to-sample FIRST (so an increase spanning a
    bucket boundary lands in the later bucket, like PromQL), then bucketed
    with a plain groupBy: integer-exact sums, one lag exchange + one
    aggregate shuffle, both on the same keys — Catalyst reuses the
    partitioning so only the window's exchange materializes.  Buckets whose
    only sample is a key's first observation (no usable delta) are dropped
    rather than emitted as NULL-increase rows.
    """
    keys = list(keys)
    d = counter_deltas(df, keys, ts_col=ts_col, counter_col=counter_col,
                       order_cols=order_cols)
    agg = (d.groupBy(*keys, F.window(ts_col, interval).alias('w'))
             .agg(F.sum('counter_delta').alias('increase'),
                  F.sum('is_reset').alias('n_resets'),
                  F.count('counter_delta').alias('n_samples')))
    secs = ((F.unix_micros(F.col('w.end').cast('timestamp'))
             - F.unix_micros(F.col('w.start').cast('timestamp'))) / 1e6)
    return (agg.filter(F.col('n_samples') > 0)
               .withColumn('bucket_start', F.col('w.start'))
               .withColumn('rate_per_sec', F.col('increase').cast('double') / secs)
               .select(*keys, 'bucket_start', 'increase', 'n_resets',
                       'n_samples', 'rate_per_sec'))


def percentile_rollup(df: DataFrame, keys, ts_col: str = 'ts',
                      value_col: str = 'value', interval: str = '1 minute',
                      ps=(0.5, 0.95, 0.99)) -> DataFrame:
    """(keys, bucket_start, n_points, p50, p95, ...) — EXACT nearest-rank
    percentiles per time bucket (rank = ceil(p*n), 1-based — always an
    actual data value, never an interpolated one).

    Discrete ranks are deliberate: continuous percentiles interpolate with
    engine-specific FP expression shapes ((1-d)*lo + d*hi vs lo + d*(hi-lo))
    that differ in the last ulp, so a cross-engine/cross-version bit
    comparison of a continuous percentile is unsound.  Nearest-rank picks an
    element, so it is exactly reproducible anywhere.

    One shuffle (the groupBy); the per-bucket sorted array is materialized
    ONCE and all ranks index into it.  Group size is bounded by the points
    that fall into one (key, time-bucket) cell — bounded by the bucket span
    at any corpus scale — which is what makes collect_list safe here; for
    unbounded groups use approx_percentile sketches instead.
    """
    keys = list(keys)
    g = (df.groupBy(*keys, F.window(ts_col, interval).alias('w'))
           .agg(F.sort_array(F.collect_list(value_col)).alias('_vals')))
    n = F.size('_vals')
    out = (g.withColumn('bucket_start', F.col('w.start'))
             .withColumn('n_points', n.cast('long')))
    names = []
    for p in ps:
        name = f'p{round(p * 1000)}' if round(p * 100) != p * 100 else f'p{round(p * 100)}'
        idx = F.greatest(F.lit(1), F.ceil(F.lit(float(p)) * n)).cast('int')
        out = out.withColumn(name, F.element_at('_vals', idx))
        names.append(name)
    return out.select(*keys, 'bucket_start', 'n_points', *names)


# ---------------------------------------------------------------------------
# incremental refresh (late-data backfill)
# ---------------------------------------------------------------------------

def rollup_partial(df: DataFrame, keys, ts_col: str = 'ts', value_col: str = 'value',
                   interval: str = '1 minute') -> DataFrame:
    """Mergeable per-bucket partial aggregate — the continuous-aggregate
    REFRESH unit (TimescaleDB-style): when late/out-of-order points arrive,
    roll up ONLY them and merge into the stored tier instead of
    re-aggregating the raw history.

    The partial carries what finalization drops: DECIMAL-exact sums (merge
    order can never change the result) and the first/last TS ANCHORS, which
    make first/last mergeable across same-bucket partials (the tier cascade
    merges across DIFFERENT buckets, where bucket_start orders partials;
    same-bucket merges need the real timestamps).
    """
    keys = list(keys)
    agg = (df.groupBy(*keys, F.window(ts_col, interval).alias('w'))
             .agg(F.count(value_col).alias('cnt_points'),
                  # pinned carry type: re-aggregation in merge widens decimal
                  # precision, so without the cast a merged partial's schema
                  # (and its avg's scale) would depend on merge DEPTH
                  F.sum(F.col(value_col).cast('decimal(18,6)'))
                   .cast('decimal(28,6)').alias('sum_value'),
                  F.min(value_col).alias('min_value'),
                  F.max(value_col).alias('max_value'),
                  F.min_by(value_col, ts_col).alias('first_value'),
                  F.min(ts_col).alias('first_ts'),
                  F.max_by(value_col, ts_col).alias('last_value'),
                  F.max(ts_col).alias('last_ts')))
    return (agg.withColumn('bucket_start', F.col('w.start')).drop('w')
               .select(*keys, 'bucket_start', *PARTIAL_COLS))


def _merge_partial_aggs():
    """The partial form's merge rule, one aggregate per PARTIAL_COLS entry:
    counts and decimal sums add (the sum re-pinned to its carry type),
    min/max fold, and first/last follow their ts anchors.  Folding into a
    coarser bucket (:func:`rebucket_partials`) and collapsing one bucket
    (:func:`merge_partials`) apply the same rule."""
    return [F.sum('cnt_points').alias('cnt_points'),
            F.sum('sum_value').cast('decimal(28,6)').alias('sum_value'),
            F.min('min_value').alias('min_value'),
            F.max('max_value').alias('max_value'),
            F.min_by('first_value', 'first_ts').alias('first_value'),
            F.min('first_ts').alias('first_ts'),
            F.max_by('last_value', 'last_ts').alias('last_value'),
            F.max('last_ts').alias('last_ts')]


def rebucket_partials(df: DataFrame, keys, interval: str) -> DataFrame:
    """PARTIAL -> coarser PARTIAL (hierarchical continuous aggregates): fold
    a finer tier's partial rows into a coarser bucket while KEEPING the
    partial form — decimal-exact sums and the first/last TS ANCHORS survive,
    so the result merges with anything (:func:`merge_partials`) and a
    coarse tier can refresh incrementally from the fine tier's snapshot
    DELTAS: a late 1m partial folds into its 1h bucket additively, no
    re-read of 1m history.  (:func:`rollup_from_rollup` is the finalized,
    anchor-dropping sibling for one-shot cascades.)

    Streaming hierarchical tiers run this over
    ``watermarked(fine.stream_read(spark), 'bucket_start', delay)``, so
    raw -> 1m -> 1h runs as two always-on streams.  The upstream emits a
    bucket once, when its own watermark closes it, so the delay only needs
    to cover the upstream emission jitter, not data lateness.  A mid-chain
    fine-tier ``compact()`` is invisible (``stream_read`` skips maintenance
    snapshots by manifest op); a fine-tier batch-refresh takeover is a
    logical mutation and needs the same takeover downstream (see
    ``IcebergishTable.stream_read``).  Visibility at the coarse level is exact
    over everything the fine level has MATERIALIZED: raw points still
    inside the fine stream's open tail are not yet visible to the coarse
    ``read_realtime_stream``, which covers the fine TIER's tail by design
    (asserted in test_streaming_hierarchical_continuous_aggregates against
    the raw rollup cut at the fine frontier)."""
    keys = list(keys)
    agg = (df.groupBy(*keys, F.window('bucket_start', interval).alias('w'))
             .agg(*_merge_partial_aggs()))
    return (agg.withColumn('bucket_start', F.col('w.start')).drop('w')
               .select(*keys, 'bucket_start', *PARTIAL_COLS))


def merge_partials(u: DataFrame, keys) -> DataFrame:
    """Merge-on-read: collapse ANY union of partial tables to one partial
    row per (keys, bucket).  Because the merge is a commutative monoid,
    a tier table can store backfills append-only (LSM/Hudi-style
    merge-on-read) and stay exactly correct — one hash-aggregate shuffle on
    the same (keys, bucket) the tier is already partitioned by."""
    keys = list(keys)
    return u.groupBy(*keys, 'bucket_start').agg(*_merge_partial_aggs())


def merge_rollup_partials(a: DataFrame, b: DataFrame, keys) -> DataFrame:
    """Algebraic merge of two partial tables on (keys, bucket): the result
    is again a partial, so backfills compose — merge(merge(tier, late1),
    late2) == rollup of everything."""
    return merge_partials(a.unionByName(b), keys)


def finalize_rollup(partial: DataFrame, keys) -> DataFrame:
    """Partial -> the tier schema (drops anchors, derives avg). The stored
    tier keeps the partial form so future backfills merge; readers get this
    view."""
    keys = list(keys)
    return (partial.withColumn('avg_value', F.col('sum_value') / F.col('cnt_points'))
                   .select(*keys, 'bucket_start', *AGG_COLS))


# ---------------------------------------------------------------------------
# sketch tiers (approximate distinct, mergeable)
# ---------------------------------------------------------------------------

def sketch_rollup(df: DataFrame, keys, distinct_col: str, ts_col: str = 'ts',
                  interval: str = '1 hour', lg_k: int = 12) -> DataFrame:
    """Base sketch tier: per (keys, bucket), a Datasketches HLL sketch of
    ``distinct_col`` plus the bucket's point count.

    Exact COUNT(DISTINCT) cannot cascade — you cannot merge two buckets'
    distinct counts.  The HLL sketch CAN (register-wise max), which is why
    sketch tiers are how 100 TB systems serve "unique users per
    minute/hour/day/arbitrary range" from rollups alone.  HLL insertion is
    order-independent, so the sketch — and every estimate derived from it —
    is deterministic under any partitioning."""
    keys = list(keys)
    agg = (df.groupBy(*keys, F.window(ts_col, interval).alias('w'))
             .agg(F.hll_sketch_agg(distinct_col, F.lit(lg_k)).alias('sketch'),
                  F.count('*').alias('cnt_points')))
    return (agg.withColumn('bucket_start', F.col('w.start')).drop('w')
               .select(*keys, 'bucket_start', 'sketch', 'cnt_points'))


def sketch_rollup_merge(df: DataFrame, keys, interval: str = '1 day') -> DataFrame:
    """Cascade step: union finer sketches into coarser buckets — the
    approximate-distinct twin of rollup_from_rollup.  Union is associative
    and commutative, so the cascaded sketch is BIT-identical to sketching
    the raw points directly (asserted in tests/test_rollup.py)."""
    keys = list(keys)
    agg = (df.groupBy(*keys, F.window('bucket_start', interval).alias('w'))
             .agg(F.hll_union_agg('sketch').alias('sketch'),
                  F.sum('cnt_points').alias('cnt_points')))
    return (agg.withColumn('bucket_start', F.col('w.start')).drop('w')
               .select(*keys, 'bucket_start', 'sketch', 'cnt_points'))


def sketch_estimate(df: DataFrame, keys) -> DataFrame:
    """Readable view: (keys, bucket_start, n_distinct_est, cnt_points)."""
    keys = list(keys)
    return df.select(*keys, 'bucket_start',
                     F.hll_sketch_estimate('sketch').alias('n_distinct_est'),
                     'cnt_points')


# number of log-buckets per e-fold: bucket(v) = floor(K * ln|v|), i.e.
# gamma = e^(1/K) ~ 1.0157 -> worst-case relative quantile error
# (gamma-1)/(gamma+1) ~ 0.78%
#
# Cross-engine caveat (residual, extremely rare): the index depends on
# ln(), and Java Math.log vs libm may disagree by 1 ulp.  A value whose
# K*ln|v| lands within ~1 ulp of an integer could therefore flip into the
# neighbouring bucket on another engine — the HISTOGRAM would differ by one
# count while every quantile estimate stays inside the gamma error bound.
# The quantile WALK itself is integer-exact; only bucket assignment carries
# this boundary risk.  If an exact cross-engine histogram guarantee were
# ever required, derive the index from a decimal-quantized log instead.
DDSKETCH_K = 64


def dd_sketch_rows(df: DataFrame, keys, ts_col: str = 'ts',
                   value_col: str = 'value',
                   interval: str = '1 hour') -> DataFrame:
    """The tier's EXCHANGE ROWS: (keys, bucket_start, _sgn, _idx, _cnt) —
    one row per occupied log-bucket.  This is the only aggregation the base
    tier needs (and therefore the only STATEFUL operator on the streaming
    path: ``dd_sketch_rows(watermarked(stream, ts_col, delay), ...)``, see
    streaming/rollup_stream.watermarked); the map assembly is a stateless
    view (:func:`dd_rows_to_sketch`) run verbatim over the batch rows and
    over the stream's sink."""
    keys = list(keys)
    v = F.col(value_col)
    sgn = F.when(v > 0, F.lit(1)).when(v < 0, F.lit(-1)).otherwise(F.lit(0))
    idx = F.when(v == 0, F.lit(0)).otherwise(
        F.floor(F.lit(float(DDSKETCH_K)) * F.log(F.abs(v)))).cast('int')
    cnt = (df.groupBy(*keys, F.window(ts_col, interval).alias('w'),
                      sgn.alias('_sgn'), idx.alias('_idx'))
             .agg(F.count('*').alias('_cnt')))
    return cnt.withColumn('bucket_start', F.col('w.start')).drop('w')


def dd_rows_merge(rows: DataFrame, keys, interval: str = None) -> DataFrame:
    """Merge DD exchange rows by bucket-count addition (commutative +
    exact, so merge-on-read piles, cascade steps and
    :func:`dd_sketch_merge` are all just this one aggregate).  With
    ``interval``, rows fold into COARSER buckets (the cascade/hierarchical
    step); without, same-bucket rows from different snapshots collapse."""
    keys = list(keys)
    if interval is None:
        return (rows.groupBy(*keys, 'bucket_start', '_sgn', '_idx')
                    .agg(F.sum('_cnt').alias('_cnt')))
    g = (rows.groupBy(*keys, F.window('bucket_start', interval).alias('w'),
                      '_sgn', '_idx')
             .agg(F.sum('_cnt').alias('_cnt')))
    return g.withColumn('bucket_start', F.col('w.start')).drop('w')


def dd_rows_to_sketch(rows: DataFrame, keys) -> DataFrame:
    """Assemble exchange rows into the tier schema (keys, bucket_start,
    zero_cnt, pos_sketch map<int,long>, neg_sketch map<int,long>,
    n_points)."""
    keys = list(keys)
    entry = F.struct(F.col('_idx'), F.col('_cnt'))
    agg = (rows.groupBy(*keys, 'bucket_start')
               .agg(F.sum(F.when(F.col('_sgn') == 0, F.col('_cnt'))
                           .otherwise(F.lit(0))).alias('zero_cnt'),
                    F.map_from_entries(F.sort_array(F.collect_list(
                        F.when(F.col('_sgn') == 1, entry)))).alias('pos_sketch'),
                    F.map_from_entries(F.sort_array(F.collect_list(
                        F.when(F.col('_sgn') == -1, entry)))).alias('neg_sketch'),
                    F.sum('_cnt').alias('n_points')))
    return agg.select(*keys, 'bucket_start', 'zero_cnt', 'pos_sketch',
                      'neg_sketch', 'n_points')


def dd_sketch_from_points(df: DataFrame, keys, ts_col: str = 'ts',
                          value_col: str = 'value',
                          interval: str = '1 hour') -> DataFrame:
    """Base DDSketch-style quantile tier: per (keys, bucket), a log-bucket
    histogram of the values — (zero_cnt, pos_sketch map<int,long>,
    neg_sketch map<int,long>, n_points).

    Exact percentiles cannot cascade (you cannot merge two buckets'
    medians); this sketch CAN — merging is bucket-count addition, which is
    commutative and exact, so the cascaded tier is identical to sketching
    raw points directly under ANY partitioning or merge order (the same
    property the HLL tier has for distinct counts, here for quantiles).
    Bucket i holds |v| in [e^(i/K), e^((i+1)/K)); any quantile read from
    the histogram is within a factor e^(1/K) (~0.78% relative error at
    K=64) of the true order statistic.  Memory per (key, bucket) is
    O(occupied log-buckets) — bounded by the value dynamic range, not the
    point count."""
    return dd_rows_to_sketch(dd_sketch_rows(df, keys, ts_col, value_col,
                                            interval), keys)


def dd_sketch_merge(df: DataFrame, keys, interval: str = '1 day') -> DataFrame:
    """Cascade step: finer quantile sketches into coarser buckets by
    bucket-count addition — the quantile twin of sketch_rollup_merge.
    The sketch maps go back to exchange rows (a zero row carries
    ``zero_cnt``), so the merge is :func:`dd_rows_merge` itself.
    Identical to sketching the raw points directly (asserted in tests)."""
    keys = list(keys)

    def rows(col, sgn):
        return F.transform(F.map_entries(col), lambda e: F.struct(
            F.lit(sgn).alias('_sgn'), e['key'].alias('_idx'),
            e['value'].alias('_cnt')))

    zero = F.array(F.struct(F.lit(0).alias('_sgn'), F.lit(0).alias('_idx'),
                            F.col('zero_cnt').cast('long').alias('_cnt')))
    ex = df.select(*keys, 'bucket_start', F.inline(F.concat(
        zero, rows('pos_sketch', 1), rows('neg_sketch', -1))))
    return dd_rows_to_sketch(dd_rows_merge(ex, keys, interval), keys)


def dd_sketch_quantiles(df: DataFrame, keys, qs=(0.5, 0.95, 0.99)) -> DataFrame:
    """Readable view: (keys, bucket_start, n_points, p<q>...) — each
    quantile estimated by walking the histogram in value order (negatives
    by descending bucket, zero, positives by ascending bucket) to rank
    ceil(q*n); the estimate is the bucket's geometric midpoint
    sign * e^((i+0.5)/K), round-6 (absorbs the 1-ulp exp difference between
    engines — the walk itself is integer-exact)."""
    keys = list(keys)
    k = float(DDSKETCH_K)

    def est(sign):
        return lambda e: F.struct(
            (F.lit(sign) * F.exp((e['key'] + F.lit(0.5)) / F.lit(k))).alias('est'),
            e['value'].alias('cnt'))

    neg = F.reverse(F.transform(F.array_sort(F.map_entries('neg_sketch')),
                                est(-1.0)))
    zero = F.array(F.struct(F.lit(0.0).alias('est'),
                            F.col('zero_cnt').alias('cnt')))
    pos = F.transform(F.array_sort(F.map_entries('pos_sketch')), est(1.0))
    entries = F.concat(neg, zero, pos)

    out = df
    zero_acc = F.struct(F.lit(0).cast('long').alias('cum'),
                        F.lit(None).cast('double').alias('ans'))
    for q in qs:
        rank = F.ceil(F.lit(float(q)) * F.col('n_points')).cast('long')
        picked = F.aggregate(
            entries, zero_acc,
            lambda acc, e: F.struct(
                (acc['cum'] + e['cnt']).alias('cum'),
                F.when(acc['ans'].isNull() & (acc['cum'] + e['cnt'] >= rank),
                       e['est']).otherwise(acc['ans']).alias('ans')),
            lambda acc: acc['ans'])
        out = out.withColumn(f'p{int(q * 100)}', F.round(picked, 6))
    return out.select(*keys, 'bucket_start', 'n_points',
                      *[f'p{int(q * 100)}' for q in qs])


def time_weighted_avg(df: DataFrame, keys, ts_col: str = 'ts',
                      value_col: str = 'value',
                      interval_seconds: int = 3600,
                      exact: bool = False) -> DataFrame:
    """(keys, bucket_start, covered_us, integral, twa) — time-weighted
    average per bucket under LOCF semantics (TimescaleDB's
    ``time_weighted_average``): each observation holds its value until the
    next one, and a bucket's TWA is the integral of that step function over
    the bucket divided by the covered time.

    Plain AVG over-weights oversampled regions (a sensor that reports 1000x
    while hot and once while cool reads "hot on average"); TWA weights by
    TIME, which is the semantically right tier summary for irregular
    telemetry.  The last observation per key carries to the end of its own
    bucket (there is no later information).

    Plan: one lag window for segment ends (key-hash exchange), segments
    exploded to the buckets they span (same blocking as interval_join —
    bounded by span/interval per segment), one bucket aggregate.  Overlap
    durations are integer microseconds and products are cast to
    DECIMAL(38,12) before summing, so integral and TWA are bit-exact
    cross-engine under any partitioning.
    """
    from pyspark.sql import Window
    keys = list(keys)
    us = F.unix_micros(F.col(ts_col).cast('timestamp'))
    step = interval_seconds * 1_000_000
    order = Window.partitionBy(*keys).orderBy('_t')
    d = (df.select(*keys, us.alias('_t'), F.col(value_col).alias('_v'))
           .withColumn('_next', F.lead('_t').over(order)))
    # last point: carry to the end of its own bucket
    seg_end = F.coalesce('_next', (F.floor(F.col('_t') / step) + 1) * step)
    d = d.withColumn('_end', seg_end).filter(F.col('_end') > F.col('_t'))
    b0 = F.floor(F.col('_t') / step)
    b1 = F.floor((F.col('_end') - 1) / step)
    d = d.withColumn('_b', F.explode(F.sequence(b0, b1)))
    lo = F.greatest(F.col('_t'), F.col('_b') * step)
    hi = F.least(F.col('_end'), (F.col('_b') + 1) * step)
    overlap = (hi - lo)
    # value quantized to DECIMAL(18,6) FIRST, then multiplied by the integer
    # overlap entirely in decimal: no double->decimal cast of PRODUCTS
    # (Spark converts double->decimal via the shortest string repr, ~15
    # significant digits, while DuckDB converts the exact binary value — a
    # product-level cast diverges in the 15th digit; a value-level 6dp
    # quantization is the established cross-engine-identical form)
    part = F.col('_v').cast('decimal(18,6)') * overlap
    agg = (d.groupBy(*keys, '_b')
             .agg(F.sum(overlap).alias('covered_us'),
                  F.sum(part).cast('decimal(38,6)').alias('_integral')))
    # ``exact=True`` keeps the integral as DECIMAL(38,6) and omits the
    # ratio: decimal -> double conversion itself differs by 1 ulp across
    # engines (Spark converts the decimal correctly-rounded; DuckDB divides
    # an int128 by 10^scale in double arithmetic), so a cross-engine
    # bit-compare validates the EXACT sufficient statistics and leaves the
    # ratio as presentation.  Default emits user-facing doubles.
    out = agg.withColumn('bucket_start',
                         F.timestamp_micros((F.col('_b') * step).cast('long')))
    if exact:
        return out.select(*keys, 'bucket_start', 'covered_us',
                          F.col('_integral').alias('integral'))
    return (out.withColumn('integral', F.col('_integral').cast('double'))
               .withColumn('twa', F.col('_integral').cast('double')
                           / F.col('covered_us').cast('double'))
               .select(*keys, 'bucket_start', 'covered_us', 'integral', 'twa'))


def moments_rollup(df: DataFrame, keys, ts_col: str = 'ts',
                   value_col: str = 'value', interval: str = '1 hour') -> DataFrame:
    """(keys, bucket_start, n_points, mean, variance, skewness, kurtosis) —
    the per-bucket distribution profile beyond min/max/avg (fat tails and
    asymmetry are what change ahead of incidents while means stay flat).

    Population moments from DECIMAL-exact power sums (s1..s4): every
    derived statistic is double arithmetic over exact operands in one
    fixed expression shape -> bit-identical cross-engine.  Kurtosis is the
    EXCESS form (normal = 0).  Degenerate buckets (n==1 or near-constant
    values, m2 <= 1e-6) keep their (keys, bucket_start, n_points, mean)
    row but emit NULL variance/skewness/kurtosis: below that floor m2 is
    catastrophic-cancellation noise amplified into the ratios — meaningless
    on any engine — and the decimal->double conversions differ by 1 ulp
    between engines, so the noise is not even reproducible.

    Value-range precondition: the DECIMAL(8,4) base means |value| must be
    < 10^4 (Spark 4 runs ANSI mode, so a wider value THROWS on cast rather
    than silently truncating).  The narrow base is deliberate: x^4 stays
    within 38 digits with no precision loss on either engine; a wider base
    would silently lose precision in Spark and overflow DuckDB.

    Streaming: ``moments_rollup(watermarked(stream, ts_col, delay), ...)``
    is this same aggregation; decimal power sums are order-insensitive, so
    a closed streaming bucket bit-matches the batch tier over the same rows
    (asserted in tests/test_streaming.py)."""
    keys = list(keys)
    x = F.col(value_col).cast('decimal(8,4)')
    agg = (df.groupBy(*keys, F.window(ts_col, interval).alias('w'))
             .agg(F.count(value_col).alias('n_points'),
                  F.sum(x).alias('_s1'),
                  F.sum(x * x).cast('decimal(38,8)').alias('_s2'),
                  F.sum(x * x * x).cast('decimal(38,12)').alias('_s3'),
                  F.sum(x * x * x * x).cast('decimal(38,16)').alias('_s4'))
             .withColumn('bucket_start', F.col('w.start'))
             .drop('w'))
    n = F.col('n_points').cast('double')
    s1 = F.col('_s1').cast('double')
    s2 = F.col('_s2').cast('double')
    s3 = F.col('_s3').cast('double')
    s4 = F.col('_s4').cast('double')
    m = s1 / n
    # central moments from raw power sums (fixed expression order)
    m2 = s2 / n - m * m
    m3 = s3 / n - 3 * m * (s2 / n) + 2 * m * m * m
    m4 = (s4 / n - 4 * m * (s3 / n) + 6 * m * m * (s2 / n)
          - 3 * m * m * m * m)
    skew = m3 / F.sqrt(m2 * m2 * m2)
    kurt = m4 / (m2 * m2) - 3
    # well-conditioned buckets only get moment values; round-6 absorbs the
    # one-ulp decimal->double conversion difference between engines
    well = m2 > 1e-6
    rnd = lambda c: F.round(c, 6) + F.lit(0.0)   # + 0.0 collapses -0.0  # noqa: E731
    return agg.select(*keys, 'bucket_start', 'n_points',
                      rnd(m).alias('mean'),
                      F.when(well, rnd(m2)).alias('variance'),
                      F.when(well, rnd(skew)).alias('skewness'),
                      F.when(well, rnd(kurt)).alias('kurtosis'))


def _one_part(col_name: str):
    """Non-foldable constant partition key for INTENTIONALLY-global windows
    (keys=[] series, <= k-row rank windows): a plain lit() partition key is
    constant-folded away and WindowExec then logs its scary single-partition
    warning on every run; hashing a real column defeats the folding while
    every row still lands in the single partition the global window needs
    (value is identically 0)."""
    return F.xxhash64(col_name).bitwiseAND(F.lit(0))


def sax_breakpoints(alphabet: int) -> list:
    """Standard-normal equiprobable breakpoints for a SAX alphabet of size
    ``a`` (Lin/Keogh 2003): the a-1 quantiles at i/a.  Computed with the
    stdlib inverse normal CDF (Wichura AS241 — pure deterministic Python),
    so the driver and any oracle generator embed the identical doubles."""
    from statistics import NormalDist

    nd = NormalDist()
    return [nd.inv_cdf(i / alphabet) for i in range(1, alphabet)]


def sax_rollup(df: DataFrame, keys, ts_col: str = 'ts',
               value_col: str = 'value', interval: str = '1 hour',
               alphabet: int = 4) -> DataFrame:
    """SAX symbolization (Lin/Keogh 2003): each series is PAA-reduced to
    one mean per ``interval`` frame, z-scored against the WHOLE series'
    mean/std, and mapped to a letter by equiprobable standard-normal
    breakpoints — time series become token strings, so the text-side
    machinery (n-gram dedup, BM25, heavy hitters, language-model scoring)
    applies verbatim to telemetry.  The reference has no symbolic layer;
    this is north-rule surface for the tokens x timeseries axis.

    Cross-engine exactness (the moments-tier discipline): frame sums and
    the per-series power sums are DECIMAL-exact — the series stats are the
    exact cascade SUM of the frame sums, so any partitioning and either
    engine produce identical operands — and every derived double (paa, z)
    is one fixed-shape expression rounded to 6 decimals.  The SYMBOL is
    chosen from the ROUNDED z, so both engines classify the same value
    against the same literal breakpoints.  Near-constant series
    (variance <= 1e-6, the moments floor) emit NULL z/symbol: below the
    floor z is cancellation noise and not reproducible anywhere.

    DECIMAL(8,4) base => |value| < 10^4 precondition, as for the moments
    tier (ANSI mode throws on overflow rather than truncating).

    Scale shape: ONE shuffle on (keys, frame) for the PAA tier; the series
    stats reduce the (far smaller) frame tier with map-side combine over
    key-partitioned rows; the stats join back key-keyed.  No Python.

    Output: (keys, frame_start, n_points, paa, z, symbol).
    """
    keys = list(keys)
    return sax_finalize(sax_frames(df, keys, ts_col, value_col, interval),
                        keys, alphabet=alphabet)


def sax_frames(df: DataFrame, keys, ts_col: str = 'ts',
               value_col: str = 'value', interval: str = '1 hour') -> DataFrame:
    """The PAA frame tier: (keys, frame_start, n_points, DECIMAL-exact
    _f1/_f2) — the symbolic tier's only aggregation.  Streaming runs it over
    ``watermarked(stream, ts_col, delay)`` and symbolizes the sink with the
    same :func:`sax_finalize` (the dd_rows_to_sketch pattern), so closed
    frames bit-match batch."""
    keys = list(keys)
    x = F.col(value_col).cast('decimal(8,4)')
    return (df.groupBy(*keys, F.window(ts_col, interval).alias('w'))
              .agg(F.count(value_col).alias('n_points'),
                   F.sum(x).cast('decimal(28,4)').alias('_f1'),
                   F.sum(x * x).cast('decimal(38,8)').alias('_f2'))
              .withColumn('frame_start', F.col('w.start'))
              .drop('w'))


def sax_finalize(frames: DataFrame, keys, alphabet: int = 4) -> DataFrame:
    """Symbolization over the (tiny) frame tier: series stats as the exact
    cascade SUM of the frame sums, then fixed-shape z + letter per frame.
    A stateless batch view — a stream of :func:`sax_frames` rows is
    symbolized from its sink by this SAME code (the dd_rows_to_sketch
    pattern), so stream-assembled symbols bit-match batch."""
    keys = list(keys)
    stats = (frames.groupBy(*keys)
                   .agg(F.sum('n_points').alias('_n'),
                        F.sum('_f1').cast('decimal(28,4)').alias('_s1'),
                        F.sum('_f2').cast('decimal(38,8)').alias('_s2')))
    # keys=[] means ONE global series: the stats reduce to a single
    # broadcast row (an empty join key would be a cartesian error).
    # Keyed path: stats derives FROM frames, so a bare on=keys self-join
    # hits conflicting-attribute resolution when the frame tier arrives
    # through a sink view (the streaming finalize path); renaming the
    # stats-side keys mints fresh attribute ids and sidesteps it
    if not keys:
        j = frames.crossJoin(F.broadcast(stats))
    else:
        stats = stats.select(*[F.col(k).alias(f'_sk{i}')
                               for i, k in enumerate(keys)],
                             '_n', '_s1', '_s2')
        cond = [frames[k] == stats[f'_sk{i}'] for i, k in enumerate(keys)]
        j = (frames.join(stats, cond)
                   .drop(*[f'_sk{i}' for i in range(len(keys))]))
    n = F.col('_n').cast('double')
    s1 = F.col('_s1').cast('double')
    s2 = F.col('_s2').cast('double')
    mean = s1 / n
    var = s2 / n - mean * mean
    paa = F.col('_f1').cast('double') / F.col('n_points').cast('double')
    z = F.round((paa - mean) / F.sqrt(var), 6) + F.lit(0.0)
    well = var > 1e-6
    sym = F.lit(chr(97 + alphabet - 1))
    for i, bp in reversed(list(enumerate(sax_breakpoints(alphabet)))):
        sym = F.when(z < F.lit(float(bp)), F.lit(chr(97 + i))).otherwise(sym)
    return j.select(*keys, 'frame_start', 'n_points',
                    (F.round(paa, 6) + F.lit(0.0)).alias('paa'),
                    F.when(well, z).alias('z'),
                    F.when(well, sym).alias('symbol'))


def sax_words(sax: DataFrame, keys, w: int = 4, frame_sec: int = 3600,
              numerosity: bool = False) -> DataFrame:
    """Sliding SAX words: the ``w``-frame symbol n-grams (Lin/Keogh 2003's
    'words') over each series' symbol sequence — the discrete tokens that
    motif counting, novelty detection, and the text-side machinery (heavy
    hitters, n-gram dedup) consume directly.  Only COMPLETE words over
    CONTIGUOUS frames are emitted: a window must hold ``w`` non-NULL
    symbols spanning exactly (w-1) x ``frame_sec`` seconds (sparse series
    produce gaps; a word across a gap is not a motif).

    ``numerosity=True`` applies Lin/Keogh 2003 §4's numerosity reduction:
    consecutive IDENTICAL words in the per-series word stream collapse to
    their first occurrence.  Long flat stretches symbolize to runs of the
    same word, which otherwise dominate word-set operators downstream
    (sax_series_dups Jaccard saturates, sax_discords counts skew); the
    reduction is the standard motif-mining fix.  It is one more
    partition-local window pass (lag over the already-emitted word stream),
    pure SQL on both engines.

    One partition-local window pass over the (already tiny) frame tier —
    no extra shuffle beyond the tier's own key partitioning.  Window
    aggregates consume rows in frame order on both engines, so the word
    strings are deterministic.

    Output: (keys, frame_start, word).
    """
    from pyspark.sql import Window

    keys = list(keys)
    # keys=[] (global series): a constant partition key keeps the plan on
    # one partition exactly as before but silences WindowExec's "No
    # Partition Defined" warning in the driver log (see _one_part)
    part = keys or [_one_part('frame_start')]
    win = (Window.partitionBy(*part).orderBy('frame_start')
                 .rowsBetween(Window.currentRow, w - 1))
    word = F.concat_ws('', F.collect_list('symbol').over(win))
    n_sym = F.count('symbol').over(win)
    last = F.max('frame_start').over(win)
    span = F.unix_timestamp(last) - F.unix_timestamp(F.col('frame_start'))
    words = (sax.select(*keys, 'frame_start', word.alias('word'),
                        n_sym.alias('_n'), span.alias('_span'))
                .filter((F.col('_n') == w)
                        & (F.col('_span') == (w - 1) * frame_sec))
                .drop('_n', '_span'))
    if numerosity:
        # drop word[i] when word[i] == word[i-1] in the EMITTED stream (the
        # lag runs after the completeness filter — reduction is over the
        # word sequence, not the frame sequence)
        lag_win = Window.partitionBy(*part).orderBy('frame_start')
        prev = F.lag('word').over(lag_win)
        words = (words.withColumn('_prev', prev)
                      .filter(F.col('_prev').isNull()
                              | (F.col('word') != F.col('_prev')))
                      .drop('_prev'))
    return words


def sax_discords(words: DataFrame, keys, k: int = 20) -> DataFrame:
    """Discord candidates over the SAX word stream — HOT SAX's candidate
    ordering heuristic (Keogh/Lin/Fu 2005): the rarest words first.  A word
    whose symbol pattern almost never recurs in the corpus marks the most
    anomalous stretch of the series; ranking by global word frequency is
    exactly the outer-loop ordering HOT SAX uses to find true discords
    early, exposed here as the operator (the exact-distance inner loop is a
    kernel-side concern).

    The word vocabulary is bounded by alphabet^w (256 at a=4, w=4), so the
    count table always BROADCASTS.  Deterministic total order:
    (count asc, frame_start, word).

    Output: (keys, frame_start, word, word_count, rank) for rank <= k.
    ``word_count`` is the GLOBAL frequency of the word across the whole
    input (groupBy('word') ignores ``keys``) while the rank window is
    per-key: with keys supplied, a series' discord rank is driven by how
    rare its words are corpus-wide — HOT SAX's "rarest in the corpus"
    ordering applied within each series.  Pass a pre-filtered single-series
    ``words`` frame if per-series frequencies are wanted instead.

    keys=[]: ranking a global stream by row_number over an unpartitioned
    window would funnel the whole word tier through one task; instead the
    top-k is taken with orderBy().limit(k) — Spark's TakeOrderedAndProject,
    a per-partition heap + driver merge, no single-partition shuffle of the
    tier — and only the <= k survivors get the rank window (their plan node
    is already single-partition by construction, bounded by k not by data).
    """
    from pyspark.sql import Window

    keys = list(keys)
    counts = words.groupBy('word').agg(F.count('*').alias('word_count'))
    j = words.join(F.broadcast(counts), on='word')
    order = [F.col('word_count').asc(), F.col('frame_start').asc(),
             F.col('word').asc()]
    if not keys:
        topk = j.orderBy(*order).limit(k)
        # constant partition key over the <= k TakeOrdered rows: same
        # ranking, no WindowExec warning (see _one_part)
        w = Window.partitionBy(_one_part('word')).orderBy(*order)
        return (topk.withColumn('rank', F.row_number().over(w))
                    .select('frame_start', 'word', 'word_count', 'rank'))
    w = Window.partitionBy(*keys).orderBy(*order)
    return (j.withColumn('rank', F.row_number().over(w))
             .filter(F.col('rank') <= k)
             .select(*keys, 'frame_start', 'word', 'word_count', 'rank'))


def sax_motifs(words: DataFrame, keys, k: int = 20) -> DataFrame:
    """Motif candidates over the SAX word stream — the dual of
    :func:`sax_discords` and the original use of SAX words (Lin/Keogh/
    Lonardi/Patel 2002, "Finding Motifs in Time Series"): the MOST frequent
    words mark recurring symbol patterns, and counting word occurrences is
    exactly their scalable motif-candidate step (the exact-distance
    verification of candidate windows is a kernel-side concern).  Feed a
    ``numerosity=True`` word stream (:func:`sax_words`) so a long flat
    stretch counts once, not once per frame — Lin/Keogh 2003 §4's standard
    correction for trivial matches.

    One aggregate over the word stream per key; the output is bounded by
    k x |keys| (and the vocabulary by alphabet^w), so the word-count tier
    always broadcasts.  Deterministic total order: (count desc, word asc).
    keys=[] takes the global top-k with orderBy().limit(k) — Spark's
    TakeOrderedAndProject per-partition heap, no single-partition shuffle
    (the sax_discords pattern).

    Output: (keys, word, n_occurrences, first_frame, last_frame, rank) for
    rank <= k — first/last_frame delimit where the recurring pattern lives.
    """
    from pyspark.sql import Window

    keys = list(keys)
    counts = (words.groupBy(*keys, 'word')
                   .agg(F.count('*').alias('n_occurrences'),
                        F.min('frame_start').alias('first_frame'),
                        F.max('frame_start').alias('last_frame')))
    order = [F.col('n_occurrences').desc(), F.col('word').asc()]
    cols = keys + ['word', 'n_occurrences', 'first_frame', 'last_frame', 'rank']
    if not keys:
        topk = counts.orderBy(*order).limit(k)
        # constant partition key over the <= k TakeOrdered rows (see
        # sax_discords / _one_part): same ranking, no WindowExec warning
        w = Window.partitionBy(_one_part('word')).orderBy(*order)
        return topk.withColumn('rank', F.row_number().over(w)).select(*cols)
    w = Window.partitionBy(*keys).orderBy(*order)
    return (counts.withColumn('rank', F.row_number().over(w))
                  .filter(F.col('rank') <= k).select(*cols))


def sax_motif_verify(sax: DataFrame, keys, w: int = 4, frame_sec: int = 3600,
                     k: int = 10, occ_cap: int = 200) -> DataFrame:
    """Exact-distance motif VERIFICATION — Lin/Keogh's second step: for
    each of the top-``k`` candidate words (:func:`sax_motifs` over the
    numerosity-reduced stream), find the closest pair of non-overlapping
    occurrences by the actual Euclidean distance of their z-normalized PAA
    windows.  SAX word counting proposes; this disposes — a word can be
    frequent while its occurrences differ inside the symbol quantization,
    and the true motif is the minimal-distance pair.

    Integer-exact cross-engine (the LTTB discipline): the tier's z values
    are 6-decimal-rounded doubles, so ``zq = round(z * 1e6)`` is an exact
    int64 and the SQUARED distance is computed wholly in int64 micro-units
    (``dist2_micro``) — bit-identical in any engine, no float ordering
    ambiguity in the argmin.  Trivial matches are excluded the standard
    way: pairs must not overlap (``frame_b - frame_a >= w * frame_sec``).

    Scale shape: occurrences join candidate words by BROADCAST (<= k rows);
    the pair join is per-word quadratic, so occurrences are capped at the
    first ``occ_cap`` per (keys, word) — deterministic by frame_start, the
    standard candidate-sampling bound (a word frequent enough to exceed the
    cap has its motif pair inside any such prefix with overwhelming
    likelihood, and the cap keeps the join <= k * occ_cap^2 rows at ANY
    data size).

    Output: (keys, word, n_occurrences, frame_a, frame_b, dist2_micro) —
    one row per candidate word with >= 2 capped occurrences; argmin ties
    break on (frame_a, frame_b).
    """
    from pyspark.sql import Window

    keys = list(keys)
    win = (Window.partitionBy(*(keys or [_one_part('frame_start')]))
                 .orderBy('frame_start')
                 .rowsBetween(Window.currentRow, w - 1))
    zq = F.round(F.col('z') * 1_000_000).cast('long')
    span = (F.unix_timestamp(F.max('frame_start').over(win))
            - F.unix_timestamp('frame_start'))
    occ = (sax.select(*keys, 'frame_start',
                      F.concat_ws('', F.collect_list('symbol').over(win))
                       .alias('word'),
                      F.collect_list(zq).over(win).alias('zvec'),
                      F.count('symbol').over(win).alias('_n'),
                      span.alias('_span'))
              .filter((F.col('_n') == w)
                      & (F.col('_span') == (w - 1) * frame_sec))
              .drop('_n', '_span'))
    cand = (sax_motifs(sax_words(sax, keys, w=w, frame_sec=frame_sec,
                                 numerosity=True), keys, k=k)
            .filter(F.col('n_occurrences') >= 2)
            .select(*keys, 'word', 'n_occurrences'))
    occ = occ.join(F.broadcast(cand), on=keys + ['word'])
    cap_win = Window.partitionBy(*keys, 'word').orderBy('frame_start')
    occ = (occ.withColumn('_rn', F.row_number().over(cap_win))
              .filter(F.col('_rn') <= occ_cap).drop('_rn'))

    a, b = occ.alias('a'), occ.alias('b')
    cond = (F.col('a.word') == F.col('b.word'))
    for kcol in keys:
        cond = cond & (F.col(f'a.{kcol}') == F.col(f'b.{kcol}'))
    cond = cond & ((F.unix_timestamp('b.frame_start')
                    - F.unix_timestamp('a.frame_start')) >= w * frame_sec)
    d2 = F.aggregate(
        F.zip_with('a.zvec', 'b.zvec', lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast('long'), lambda acc, v: acc + v)
    pairs = a.join(b, cond).select(
        *[F.col(f'a.{kc}') for kc in keys],
        F.col('a.word').alias('word'),
        F.col('a.n_occurrences').alias('n_occurrences'),
        F.col('a.frame_start').alias('frame_a'),
        F.col('b.frame_start').alias('frame_b'),
        d2.alias('dist2_micro'))
    best = Window.partitionBy(*keys, 'word').orderBy(
        F.col('dist2_micro').asc(), F.col('frame_a').asc(),
        F.col('frame_b').asc())
    return (pairs.withColumn('_r', F.row_number().over(best))
                 .filter(F.col('_r') == 1).drop('_r'))


def sax_series_dups(words: DataFrame, key: str, threshold: float = 0.0,
                    df_cap: int = None) -> DataFrame:
    """(series_a, series_b, jaccard) — near-duplicate SERIES by the Jaccard
    of their SAX word sets: two sensors/streams whose symbolized dynamics
    share most motif tokens are redundant (the telemetry analogue of n-gram
    document dedup; 'which of my million gauges tell the same story').

    The dedup.ngram_jaccard_pairs design verbatim, over words instead of
    shingles: inverted word index (int64-hashed postings), self-join with
    series_a < series_b gives |A ∩ B| as the match count; |A ∪ B| from
    broadcast per-series set sizes.  ``df_cap`` drops words present in more
    than df_cap series before the self-join (the SAX vocabulary is bounded
    by alphabet^w, so ubiquitous words — flat stretches every series visits
    — are exactly the boilerplate-shingle failure mode the dedup probe
    diagnosed at 40x).
    """
    sets = words.select(F.col(key).alias('_id'), 'word').distinct()
    inv = sets.select('_id', F.xxhash64('word').alias('_w'))
    if df_cap is not None:
        hot = (inv.groupBy('_w').agg(F.count('*').alias('_df'))
                  .filter(F.col('_df') > df_cap).select('_w'))
        inv = inv.join(F.broadcast(hot), '_w', 'left_anti')
    counts = sets.groupBy('_id').agg(F.count('*').alias('_n')) \
                 .localCheckpoint(eager=True)
    inter = (inv.alias('a').join(inv.alias('b'),
                                 (F.col('a._w') == F.col('b._w')) &
                                 (F.col('a._id') < F.col('b._id')))
                .groupBy(F.col('a._id').alias('series_a'),
                         F.col('b._id').alias('series_b'))
                .agg(F.count('*').alias('_inter')))
    ca = counts.select(F.col('_id').alias('series_a'), F.col('_n').alias('_na'))
    cb = counts.select(F.col('_id').alias('series_b'), F.col('_n').alias('_nb'))
    joined = inter.join(F.broadcast(ca), 'series_a') \
                  .join(F.broadcast(cb), 'series_b')
    jac = F.round(F.col('_inter')
                  / (F.col('_na') + F.col('_nb') - F.col('_inter')), 6)
    return (joined.withColumn('jaccard', jac)
                  .filter(F.col('jaccard') >= threshold)
                  .select('series_a', 'series_b', 'jaccard'))
