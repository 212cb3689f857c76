"""Native-SQL forms of the reference baseline scorers over event streams.

ZERO and MovingWindow (reference changepoynt/algorithms/baseline.py:23-98)
are fully expressible in Spark SQL window functions — no UDF, whole-stage
codegen end to end — and therefore DuckDB-oracle-checkable.  Semantics per
position i (0-based row_number per series, ordered by ts):

    score[i] = |mean(x[i-w:i]) - mean(x[i:i+w])|   for w <= i <= T-w
             (+ the same with var_pop for 'var'/'meanvar'), else 0.0

exactly the reference's write-band [w, T-w] (baseline.py:93-97).

Cross-engine determinism: window sums are computed in DECIMAL (exact and
independent of accumulation order), then mean = sum/w and
var = sumsq/w - mean^2 are derived in double — bit-identical between Spark
and DuckDB, no rounding tolerance needed.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def zero_score(df: DataFrame, id_cols=('event_id',)) -> DataFrame:
    return df.select(*id_cols, F.lit(0.0).alias('score'))


def moving_window_score(df: DataFrame, key_col: str = 'user_id', ts_col: str = 'ts',
                        value_col: str = 'value', window_length: int = 8,
                        method: str = 'mean') -> DataFrame:
    """(key, rn, score) — per-series moving-window change score."""
    if method not in ('mean', 'var', 'meanvar'):
        raise ValueError(f"method must be 'mean', 'var' or 'meanvar', got {method!r}")
    w = window_length
    order = Window.partitionBy(key_col).orderBy(ts_col)
    past = order.rowsBetween(-w, -1)
    future = order.rowsBetween(0, w - 1)
    dec = F.col(value_col).cast('decimal(18,4)')
    dec2 = dec * dec
    df = (df.withColumn('rn', F.row_number().over(order) - 1)
            .withColumn('n_rows', F.count('*').over(Window.partitionBy(key_col)))
            .withColumn('_s1p', F.sum(dec).over(past).cast('double'))
            .withColumn('_s1f', F.sum(dec).over(future).cast('double'))
            .withColumn('_s2p', F.sum(dec2).over(past).cast('double'))
            .withColumn('_s2f', F.sum(dec2).over(future).cast('double')))
    m_past = F.col('_s1p') / w
    m_fut = F.col('_s1f') / w
    score = F.lit(0.0)
    if method.startswith('mean'):
        score = score + F.abs(m_fut - m_past)
    if method.endswith('var'):
        var_past = F.col('_s2p') / w - m_past * m_past
        var_fut = F.col('_s2f') / w - m_fut * m_fut
        score = score + F.abs(var_fut - var_past)
    in_band = (F.col('rn') >= w) & (F.col('rn') <= F.col('n_rows') - w)
    return df.select(F.col(key_col), 'rn',
                     F.when(in_band, score).otherwise(F.lit(0.0)).alias('score'))


def moving_window_oracle_sql(key_col: str = 'user_id', ts_col: str = 'ts',
                             value_col: str = 'value', window_length: int = 8,
                             method: str = 'mean', table: str = 'events') -> str:
    """The DuckDB-equivalent ANSI SQL of :func:`moving_window_score` (same
    decimal-sum construction)."""
    w = window_length
    terms = []
    if method.startswith('mean'):
        terms.append('abs(s1f / {w} - s1p / {w})'.format(w=w))
    if method.endswith('var'):
        terms.append('abs((s2f / {w} - (s1f / {w}) * (s1f / {w}))'
                     ' - (s2p / {w} - (s1p / {w}) * (s1p / {w})))'.format(w=w))
    expr = ' + '.join(terms)
    return f"""
        SELECT {key_col},
               rn,
               CASE WHEN rn >= {w} AND rn <= n_rows - {w} THEN {expr} ELSE 0.0 END AS score
        FROM (
          SELECT {key_col},
                 row_number() OVER (PARTITION BY {key_col} ORDER BY {ts_col}) - 1 AS rn,
                 count(*) OVER (PARTITION BY {key_col}) AS n_rows,
                 CAST(sum(CAST({value_col} AS DECIMAL(18,4))) OVER past AS DOUBLE) AS s1p,
                 CAST(sum(CAST({value_col} AS DECIMAL(18,4))) OVER fut AS DOUBLE) AS s1f,
                 CAST(sum(CAST({value_col} AS DECIMAL(18,4))
                          * CAST({value_col} AS DECIMAL(18,4))) OVER past AS DOUBLE) AS s2p,
                 CAST(sum(CAST({value_col} AS DECIMAL(18,4))
                          * CAST({value_col} AS DECIMAL(18,4))) OVER fut AS DOUBLE) AS s2f
          FROM {table}
          WINDOW past AS (PARTITION BY {key_col} ORDER BY {ts_col}
                          ROWS BETWEEN {w} PRECEDING AND 1 PRECEDING),
                 fut  AS (PARTITION BY {key_col} ORDER BY {ts_col}
                          ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
        ) t
    """


def sessionize(df: DataFrame, keys, ts_col: str = 'ts',
               gap_seconds: int = 1800) -> DataFrame:
    """Adds ``session_seq``: gap-based session index per key (0-based) — a
    new session starts when the gap to the previous event exceeds
    ``gap_seconds``.  Running-window only (lag + running sum over the
    per-key sort): one key-hash exchange, O(n) per key, SQL-portable."""
    keys = list(keys)
    order = Window.partitionBy(*keys).orderBy(ts_col)
    prev = F.lag(ts_col).over(order)
    # parquet fixtures carry TIMESTAMP_NTZ; unix_micros needs TIMESTAMP and
    # the session timezone is pinned to UTC, so the cast is deterministic
    us = lambda c: F.unix_micros(c.cast('timestamp'))  # noqa: E731
    new_sess = F.when(
        prev.isNull() | ((us(F.col(ts_col)) - us(prev)) > gap_seconds * 1_000_000),
        F.lit(1)).otherwise(F.lit(0))
    running = Window.partitionBy(*keys).orderBy(ts_col) \
                    .rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn('session_seq',
                         (F.sum(new_sess).over(running) - 1).cast('long'))


def session_stats(df: DataFrame, keys, ts_col: str = 'ts',
                  gap_seconds: int = 1800) -> DataFrame:
    """(keys, session_seq, n_events, session_start, session_end,
    duration_sec) — the per-session rollup of :func:`sessionize`."""
    keys = list(keys)
    s = sessionize(df, keys, ts_col, gap_seconds)
    return (s.groupBy(*keys, 'session_seq')
             .agg(F.count('*').alias('n_events'),
                  F.min(ts_col).alias('session_start'),
                  F.max(ts_col).alias('session_end'))
             .withColumn('duration_sec',
                         ((F.unix_micros(F.col('session_end').cast('timestamp'))
                           - F.unix_micros(F.col('session_start').cast('timestamp')))
                          / 1e6)))


def ewma_smooth(df: DataFrame, keys, ts_col: str = 'ts',
                value_col: str = 'value', alpha: float = 0.25,
                order_cols=()) -> DataFrame:
    """Adds ``ewma``: per-key exponentially-weighted moving average,
    y[0] = x[0], y[t] = (1-alpha)*y[t-1] + alpha*x[t] (the adjust=False
    recursion — the smoothing channel a retention tier keeps alongside raw
    aggregates).

    The recursion is inherently sequential per key, so it runs as an Arrow
    grouped-map (one shuffle on the keys, O(n) per key, never per-row
    Python at the DataFrame layer).  The update is evaluated literally as
    ``(1-alpha)*prev + alpha*x`` — two products and one add — so any engine
    computing that same expression shape reproduces it bit-for-bit; with
    alpha a power-of-two-exact fraction (0.25, 0.5) the weights carry no
    representation error either.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    keys = list(keys)
    out_schema = T.StructType(list(df.schema.fields) +
                              [T.StructField('ewma', T.DoubleType())])
    a, b = float(alpha), 1.0 - float(alpha)
    sort_cols = [ts_col, *order_cols]

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols)
        x = pdf[value_col].to_numpy(dtype=np.float64)
        y = np.empty_like(x)
        if len(x):
            y[0] = x[0]
            for i in range(1, len(x)):
                y[i] = b * y[i - 1] + a * x[i]
        pdf = pdf.copy()
        pdf['ewma'] = y
        return pdf

    return df.groupBy(*keys).applyInPandas(smooth, schema=out_schema)


def lttb_downsample(df, keys, ts_col: str = 'ts', value_col: str = 'value',
                    n_out: int = 600):
    """Largest-Triangle-Three-Buckets downsampling per series (Steinarsson
    2013 — the visualization-grade downsampler Grafana/Timescale use):
    keeps the ~n_out points that best preserve the series' SHAPE (peaks,
    cliffs), where tier averaging would flatten them.

    Per-series Arrow grouped-map (the same one-series-fits-one-task
    assumption as the scoring kernels; chunk first for pathological
    series).  Deterministic: ties in triangle area resolve to the earliest
    point (np.argmax).  First/last points are always kept.

    ENGINE-EXACT by construction (round 5): the selection math runs on
    integer-quantized coordinates — timestamps as microsecond offsets from
    the series start (int64; rebasing also keeps bucket sums far from
    int64 overflow at any realistic bucket size) and values as
    floor(v * 1e6) micro-units — with INTEGER bucket edges
    ``1 + (j*(n-2)) // (n_out-2)``.  Bucket means are exact-int sums
    divided once in double, and every area term is a float op on exactly
    reproducible inputs, so the chosen indices (and hence the emitted
    original rows) bit-match any engine that evaluates the same
    expressions — the DuckDB recursive-CTE oracle for events_lttb_* does.
    Float-mean LTTB would hinge on summation order (np.mean's pairwise
    unrolling diverges from sequential SQL sums even at n<=8).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    keys = list(keys)
    kf = [df.schema[k] for k in keys]
    out_schema = T.StructType(kf + [df.schema[ts_col], df.schema[value_col]])

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col)
        n = len(pdf)
        if n <= n_out:
            return pdf[keys + [ts_col, value_col]]
        t = pdf[ts_col].to_numpy()
        tn = (t.astype('datetime64[us]').astype(np.int64)
              if np.issubdtype(t.dtype, np.datetime64)
              else np.floor(t.astype(np.float64) * 1e6).astype(np.int64))
        tn = tn - tn[0]
        vq = np.floor(pdf[value_col].to_numpy(dtype=np.float64) * 1e6) \
               .astype(np.int64)
        # integer bucket edges over the interior points (first/last pinned);
        # strictly increasing because n > n_out
        m = n_out - 2
        edges = 1 + (np.arange(n_out - 1, dtype=np.int64) * (n - 2)) // m
        chosen = [0]
        a = 0
        for i in range(m):
            lo, hi = int(edges[i]), int(edges[i + 1])
            nxt_lo = hi
            nxt_hi = int(edges[i + 2]) if i + 2 < n_out - 1 else n
            cnt = nxt_hi - nxt_lo
            # float(int_sum)/cnt == SQL CAST(sum AS DOUBLE)/cnt: the same
            # two correctly-rounded steps, in the same order
            avg_t = float(tn[nxt_lo:nxt_hi].sum()) / cnt
            avg_v = float(vq[nxt_lo:nxt_hi].sum()) / cnt
            area = np.abs((tn[a] - avg_t) * (vq[lo:hi] - vq[a])
                          - (tn[a] - tn[lo:hi]) * (avg_v - vq[a]))
            a = lo + int(np.argmax(area))
            chosen.append(a)
        chosen.append(n - 1)
        return pdf.iloc[chosen][keys + [ts_col, value_col]]

    return df.select(*keys, ts_col, value_col).groupBy(*keys) \
             .applyInPandas(kernel, schema=out_schema)


def detect_changepoints(scores: DataFrame, key_col: str = 'user_id',
                        pos_col: str = 'rn', score_col: str = 'score',
                        threshold: float = 1.0, min_distance: int = 8) -> DataFrame:
    """Score series -> changepoint positions: a position is a changepoint
    iff its score clears ``threshold`` AND is STRICTLY greater than every
    score in the ``min_distance`` positions before it AND >= every score in
    the ``min_distance`` after (leftmost-of-ties wins — deterministic on
    any engine).  Pure running-window expressions, one key exchange."""
    order = Window.partitionBy(key_col).orderBy(pos_col)
    left = F.max(score_col).over(order.rowsBetween(-min_distance, -1))
    right = F.max(score_col).over(order.rowsBetween(1, min_distance))
    s = F.col(score_col)
    is_cp = ((s >= threshold)
             & (s > F.coalesce(left, F.lit(float('-inf'))))
             & (s >= F.coalesce(right, F.lit(float('-inf')))))
    return scores.withColumn('is_changepoint', is_cp)


def score_segments(scores: DataFrame, key_col: str = 'user_id',
                   pos_col: str = 'rn', score_col: str = 'score',
                   threshold: float = 1.0, min_distance: int = 8) -> DataFrame:
    """Segmentation view: consecutive positions between changepoints become
    segments — (key, segment_id, start_pos, end_pos, n_points, mean_score).
    The downstream table every changepoint consumer actually wants (the
    reference stops at scores).  ``mean_score`` is a plain double
    sum/count; for cross-engine-deterministic output the CALLER rounds the
    mean (the shipped contract query applies round-3 to the non-dyadic
    mean, never to the near-dyadic addends — see
    events_changepoint_segments)."""
    cp = detect_changepoints(scores, key_col, pos_col, score_col,
                             threshold, min_distance)
    order = Window.partitionBy(key_col).orderBy(pos_col)
    seg = F.sum(F.col('is_changepoint').cast('long')) \
           .over(order.rowsBetween(Window.unboundedPreceding, 0))
    out = cp.withColumn('segment_id', seg)
    return (out.groupBy(key_col, 'segment_id')
               .agg(F.min(pos_col).alias('start_pos'),
                    F.max(pos_col).alias('end_pos'),
                    F.count('*').alias('n_points'),
                    (F.sum(score_col) / F.count('*')).alias('mean_score')))


def robust_anomaly_flags(df: DataFrame, keys, ts_col: str = 'ts',
                         value_col: str = 'value', window: int = 61,
                         k: float = 3.5) -> DataFrame:
    """Adds ``med``, ``mad``, ``is_anomaly``: rolling-median/MAD robust
    z-score — the outlier detector that mean/stddev scoring cannot be (a
    single spike inflates the stddev and masks itself; the median/MAD
    breakdown point is 50%).

    is_anomaly = |x - med| > k * 1.4826 * MAD over a centered ``window``
    (k=3.5 at the normal-consistency constant ~ p<0.0005).  MAD==0
    (constant window) flags any deviation.  Two window passes over the
    same key-hash exchange (median, then median absolute deviation) — the
    sort is paid once, both frames are bounded, everything is exact
    element picks + one interpolating mean -> deterministic cross-engine.
    """
    keys = list(keys)
    half = window // 2
    w = Window.partitionBy(*keys).orderBy(ts_col).rowsBetween(-half, half)
    med = F.expr(f'percentile({value_col}, 0.5)').over(w)
    out = df.withColumn('med', med)
    out = out.withColumn('_ad', F.abs(F.col(value_col) - F.col('med')))
    w2 = Window.partitionBy(*keys).orderBy(ts_col).rowsBetween(-half, half)
    out = out.withColumn('mad', F.expr('percentile(_ad, 0.5)').over(w2))
    dev = F.abs(F.col(value_col) - F.col('med'))
    flag = F.when(F.col('mad') > 0, dev > k * 1.4826 * F.col('mad')) \
            .otherwise(dev > 0)
    return out.drop('_ad').withColumn('is_anomaly', flag)


def rolling_autocorr(df: DataFrame, keys, ts_col: str = 'ts',
                     value_col: str = 'value', lag: int = 1,
                     window: int = 30) -> DataFrame:
    """Adds ``autocorr``: Pearson correlation between x[t] and x[t-lag]
    over a trailing ``window`` of pairs — the seasonality/persistence
    diagnostic of a telemetry tier (autocorr ~ 1: smooth drift, ~ 0:
    noise, < 0: oscillation).

    Decimal-exact moment sums (the moving_window discipline): all five
    window sums accumulate in DECIMAL — order-independent — and the
    correlation is derived in double from exact operands, so the result is
    bit-identical cross-engine.  One key-hash exchange; windows with
    degenerate variance yield NULL.
    """
    keys = list(keys)
    order = Window.partitionBy(*keys).orderBy(ts_col)
    x = F.col(value_col).cast('decimal(18,4)')
    y = F.lag(value_col, lag).over(order).cast('decimal(18,4)')
    d = df.withColumn('_x', x).withColumn('_y', y)
    w = Window.partitionBy(*keys).orderBy(ts_col).rowsBetween(-(window - 1), 0)
    pair = F.col('_y').isNotNull()
    n = F.sum(pair.cast('long')).over(w)
    sx = F.sum(F.when(pair, F.col('_x'))).over(w).cast('double')
    sy = F.sum(F.when(pair, F.col('_y'))).over(w).cast('double')
    sxx = F.sum(F.when(pair, F.col('_x') * F.col('_x'))).over(w).cast('double')
    syy = F.sum(F.when(pair, F.col('_y') * F.col('_y'))).over(w).cast('double')
    sxy = F.sum(F.when(pair, F.col('_x') * F.col('_y'))).over(w).cast('double')
    nd = n.cast('double')
    num = nd * sxy - sx * sy
    var_x = nd * sxx - sx * sx
    var_y = nd * syy - sy * sy
    corr = F.when((n >= 3) & (var_x > 0) & (var_y > 0),
                  num / F.sqrt(var_x * var_y))
    return (d.withColumn('n_pairs', n)
             .withColumn('autocorr', corr)
             .drop('_x', '_y'))


def seasonal_decompose(df: DataFrame, keys, period: int,
                       ts_col: str = 'ts', value_col: str = 'value') -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average method
    of statsmodels' ``seasonal_decompose`` / the X-11 first pass):
    ``value = trend + seasonal + resid`` per key over a REGULAR series
    (e.g. a rollup tier's round-6 averages — gap-fill first if sparse).

    * ``trend``: centered moving average — for even ``period`` the standard
      2xMA (half weights on the two ends), for odd the plain centered MA;
      NULL at the edges where the full span is unavailable.
    * ``seasonal``: per-phase mean of the detrended series, centered so the
      seasonal component sums to ~0 over one period (phase =
      row_number % period per key — position-based, so any regular grid
      works).
    * ``resid``: what remains; NULL wherever trend is NULL.

    Cross-engine exactness (the moving_window discipline): every SUM runs
    in DECIMAL (trend numerators) or INT64 micro-units (detrended values
    and the per-phase means, each quantized once by a fixed-shape round),
    so accumulation order cannot move a digit anywhere — including the
    cross-phase centering constant, which is an INTEGER sum of the
    quantized phase means.  Derived doubles are single fixed-shape
    expressions of exact operands.  Output trend/seasonal/resid are
    rounded to 6 decimals.

    One key-partitioned window pass + one tiny (keys x period, broadcast)
    phase-mean join: same scale shape as the moving-window operators.
    """
    keys = list(keys)
    p = int(period)
    if p < 2:
        raise ValueError(f'period must be >= 2, got {period}')
    order = Window.partitionBy(*keys).orderBy(ts_col)
    dec = F.col(value_col).cast('decimal(18,6)')
    half = p // 2
    if p % 2 == 0:
        # 2xMA: (sum of rows [-half, half-1]) + (sum of rows [-half+1, half])
        wa = order.rowsBetween(-half, half - 1)
        wb = order.rowsBetween(-half + 1, half)
        span = order.rowsBetween(-half, half)
        num = (F.sum(dec).over(wa) + F.sum(dec).over(wb)).cast('double')
        trend = num / F.lit(2 * p)
        full = F.count(value_col).over(span) == (p + 1)
    else:
        wc = order.rowsBetween(-half, half)
        trend = F.sum(dec).over(wc).cast('double') / F.lit(p)
        full = F.count(value_col).over(wc) == p
    d = (df.withColumn('_rn', F.row_number().over(order) - 1)
           .withColumn('_trend', F.when(full, trend))
           .withColumn('_phase', F.pmod('_rn', F.lit(p)).cast('int'))
           .withColumn('_dq', F.round((F.col(value_col) - F.col('_trend'))
                                      * F.lit(1_000_000.0)).cast('long')))
    pm = (d.filter(F.col('_dq').isNotNull())
           .groupBy(*keys, '_phase')
           .agg(F.round(F.sum('_dq').cast('double') / F.count('_dq'))
                 .cast('long').alias('_smq')))     # phase mean, micro-units
    # centering constant per key: INTEGER sum of the quantized phase means
    cent = (pm.groupBy(*keys)
              .agg((F.sum('_smq').cast('double') / F.count('_smq'))
                   .alias('_cq')))
    pm = pm.join(F.broadcast(cent), keys) if keys else \
        pm.crossJoin(F.broadcast(cent))
    pm = pm.select(*keys, '_phase',
                   ((F.col('_smq').cast('double') - F.col('_cq'))
                    / F.lit(1_000_000.0)).alias('_seasonal'))
    out = d.join(F.broadcast(pm), keys + ['_phase'], 'left')
    resid = (F.col(value_col) - F.col('_trend') - F.col('_seasonal'))
    return (out.select(*keys, ts_col, value_col,
                       F.round('_trend', 6).alias('trend'),
                       F.round('_seasonal', 6).alias('seasonal'),
                       F.when(F.col('_trend').isNotNull(),
                              F.round(resid, 6)).alias('resid')))


def cross_correlation(df: DataFrame, key_col: str, key_a, key_b,
                      lags, ts_col: str = 'ts',
                      value_col: str = 'value') -> DataFrame:
    """Lead-lag cross-correlation between two series of one keyed tier:
    Pearson corr of (a[t], b[t+lag]) for each requested lag — "does gauge A
    lead gauge B, and by how much?" (positive-lag argmax: A leads).  The
    pair analogue of :func:`rolling_autocorr`.

    Buckets are aligned by ``ts_col`` equality (feed a regular tier;
    gap-fill first if sparse).  The lag shift is by ROW on b's ordered
    series, so one lag unit = one tier interval.

    Decimal-exact moment sums over the aligned pairs (order-independent);
    the correlation is one fixed-shape double expression of exact operands
    — bit-identical cross-engine.  Output: (lag, n_pairs, xcorr), one row
    per lag, NULL xcorr on degenerate variance.

    Scale shape (one pass, all lags): every lag is a ``lead(value, lag)``
    column over ONE per-series sort of b (window partitioned by the key
    column — a single series, but the plan stays a partitioned window),
    then ONE a↔b equality join on ``ts_col``, then ONE aggregation that
    emits every per-lag decimal moment as a conditional sum (valid iff the
    lagged ROW exists, tracked by a led presence indicator so a null value
    in an existing row still pairs, exactly like the former row-index
    join).  The single moment row is unpivoted to one row per lag with
    ``inline`` — no per-lag joins, no unpartitioned row_number, ≤4
    exchanges total regardless of len(lags).
    """
    lags = [int(x) for x in lags]
    a = (df.filter(F.col(key_col) == key_a)
           .select(F.col(ts_col).alias('_ts'),
                   F.col(value_col).cast('decimal(18,4)').alias('_xa')))
    b = (df.filter(F.col(key_col) == key_b)
           .select(F.col(key_col).alias('_k'),
                   F.col(ts_col).alias('_ts'),
                   F.col(value_col).cast('decimal(18,4)').alias('_xb'),
                   F.lit(1).alias('_one')))
    w = Window.partitionBy('_k').orderBy('_ts')
    shift_cols = []
    for i, lag in enumerate(lags):
        mk = (lambda c: F.lead(c, lag)) if lag >= 0 else \
             (lambda c: F.lag(c, -lag))
        shift_cols += [mk(F.col('_xb')).over(w).alias(f'_xb_{i}'),
                       mk(F.col('_one')).over(w).alias(f'_p_{i}')]
    b = b.select('_ts', *shift_cols)
    pairs = a.join(b, '_ts')
    aggs = []
    for i, _lag in enumerate(lags):
        xb = F.col(f'_xb_{i}')
        ok = F.col(f'_p_{i}').isNotNull()   # lagged ROW exists
        aggs += [
            F.count(F.when(ok, F.lit(1))).alias(f'n_{i}'),
            F.sum(F.when(ok, F.col('_xa'))).cast('double').alias(f'sx_{i}'),
            F.sum(F.when(ok, xb)).cast('double').alias(f'sy_{i}'),
            F.sum(F.when(ok, F.col('_xa') * F.col('_xa')))
             .cast('double').alias(f'sxx_{i}'),
            F.sum(F.when(ok, xb * xb)).cast('double').alias(f'syy_{i}'),
            F.sum(F.when(ok, F.col('_xa') * xb))
             .cast('double').alias(f'sxy_{i}'),
        ]
    row = pairs.agg(*aggs)
    structs = [F.struct(F.lit(lag).alias('lag'),
                        F.col(f'n_{i}').alias('n_pairs'),
                        F.col(f'sx_{i}').alias('sx'),
                        F.col(f'sy_{i}').alias('sy'),
                        F.col(f'sxx_{i}').alias('sxx'),
                        F.col(f'syy_{i}').alias('syy'),
                        F.col(f'sxy_{i}').alias('sxy'))
               for i, lag in enumerate(lags)]
    out = row.select(F.inline(F.array(*structs)))
    nd = F.col('n_pairs').cast('double')
    num = nd * F.col('sxy') - F.col('sx') * F.col('sy')
    var_x = nd * F.col('sxx') - F.col('sx') * F.col('sx')
    var_y = nd * F.col('syy') - F.col('sy') * F.col('sy')
    corr = F.when((F.col('n_pairs') >= 3) & (var_x > 0) & (var_y > 0),
                  F.round(num / F.sqrt(var_x * var_y), 6))
    return out.select('lag', 'n_pairs', corr.alias('xcorr')).orderBy('lag')
