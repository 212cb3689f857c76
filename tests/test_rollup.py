"""Rollup cascade / gap-fill / compressed-block tests against independent
pandas oracles, on the driver-provided events fixture and synthetic spines."""
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from changepoynt_spark.operators import rollup
from changepoynt_spark.operators.scoring import score_series, explode_scores
from changepoynt_spark.plans import partitioning
from changepoynt_spark.sources import datagen


@pytest.fixture(scope='module')
def events(spark, sf_dir):
    df = spark.read.parquet(f'{sf_dir}/events.parquet')
    df.cache().count()
    return df


def _pandas_rollup(pdf, keys, freq):
    g = (pdf.set_index('ts').groupby(keys).resample(freq)['value']
            .agg(['count', 'sum', 'min', 'max', 'mean', 'first', 'last'])
            .reset_index())
    return g[g['count'] > 0]


def test_rollup_1m_matches_pandas(spark, events):
    tiers = rollup.rollup_cascade(events.withColumnRenamed('event_type', 'etype'),
                                  keys=['user_id'], ts_col='ts', value_col='value')
    got = tiers['1m'].toPandas().sort_values(['user_id', 'bucket_start']).reset_index(drop=True)
    pdf = events.select('user_id', 'ts', 'value').toPandas()
    exp = _pandas_rollup(pdf, ['user_id'], '1min').sort_values(['user_id', 'ts']).reset_index(drop=True)
    assert len(got) == len(exp)
    np.testing.assert_array_equal(got['cnt_points'].to_numpy(), exp['count'].to_numpy())
    np.testing.assert_allclose(got['sum_value'].to_numpy(), exp['sum'].to_numpy(), rtol=1e-12)
    np.testing.assert_allclose(got['min_value'].to_numpy(), exp['min'].to_numpy())
    np.testing.assert_allclose(got['max_value'].to_numpy(), exp['max'].to_numpy())
    np.testing.assert_allclose(got['avg_value'].to_numpy(), exp['mean'].to_numpy(), rtol=1e-12)
    np.testing.assert_allclose(got['first_value'].to_numpy(), exp['first'].to_numpy())
    np.testing.assert_allclose(got['last_value'].to_numpy(), exp['last'].to_numpy())


def test_cascade_tiers_consistent(spark, events):
    """1h/1d computed from the 1m tier must equal rollups computed directly
    from raw points (continuous-aggregate correctness)."""
    tiers = rollup.rollup_cascade(events, keys=['user_id'], ts_col='ts', value_col='value')
    direct_1d = rollup.rollup_from_points(events, ['user_id'], ts_col='ts',
                                          value_col='value', interval='1 day')
    a = tiers['1d'].toPandas().sort_values(['user_id', 'bucket_start']).reset_index(drop=True)
    b = direct_1d.toPandas().sort_values(['user_id', 'bucket_start']).reset_index(drop=True)
    assert len(a) == len(b)
    for col in rollup.AGG_COLS:
        np.testing.assert_allclose(a[col].to_numpy(dtype=float),
                                   b[col].to_numpy(dtype=float), rtol=1e-9, err_msg=col)


def test_gap_fill_linear_and_locf(spark):
    pdf = pd.DataFrame({
        'k': ['a'] * 4 + ['b'] * 2,
        'bucket_start': pd.to_datetime(['2026-01-01 00:00', '2026-01-01 00:01',
                                        '2026-01-01 00:04', '2026-01-01 00:06',
                                        '2026-01-01 00:00', '2026-01-01 00:03']),
        'avg_value': [1.0, 2.0, 8.0, 10.0, 5.0, 11.0],
    })
    df = spark.createDataFrame(pdf)
    filled = rollup.gap_fill(df, keys=['k'], interval_seconds=60, method='linear')
    got = filled.toPandas().sort_values(['k', 'bucket_start']).reset_index(drop=True)
    a = got[got.k == 'a']['avg_value'].tolist()
    np.testing.assert_allclose(a, [1, 2, 4, 6, 8, 9, 10])
    assert got[got.k == 'a']['is_gap'].tolist() == [False, False, True, True, False, True, False]
    b = got[got.k == 'b']['avg_value'].tolist()
    np.testing.assert_allclose(b, [5, 7, 9, 11])

    locf = rollup.gap_fill(df, keys=['k'], interval_seconds=60, method='locf').toPandas()
    locf = locf.sort_values(['k', 'bucket_start'])
    np.testing.assert_allclose(locf[locf.k == 'a']['avg_value'].tolist(),
                               [1, 2, 2, 2, 8, 8, 10])


def test_compress_roundtrip_on_rollup(spark, events):
    tier = rollup.rollup_from_points(events, ['user_id'], ts_col='ts', value_col='value',
                                     interval='1 minute')
    blocks = rollup.compress_blocks(tier, keys=['user_id'], ts_col='bucket_start',
                                    value_col='avg_value', block_interval='1 day')
    restored = rollup.decompress_blocks(blocks, keys=['user_id'])
    a = tier.select('user_id', 'bucket_start', 'avg_value').toPandas()
    b = restored.toPandas()
    a = a.sort_values(['user_id', 'bucket_start']).reset_index(drop=True)
    b = b.sort_values(['user_id', 'bucket_start']).reset_index(drop=True)
    assert len(a) == len(b)
    np.testing.assert_array_equal(a['bucket_start'].to_numpy(), b['bucket_start'].to_numpy())
    assert (a['avg_value'].to_numpy().view(np.uint64)
            == b['avg_value'].to_numpy().view(np.uint64)).all()
    # sanity bound only: sf0.001 blocks are tiny and values high-entropy, so
    # near-raw size is expected here; real ratios are asserted in
    # tests/test_codecs.py on structured series.
    stats = blocks.select(F.sum(F.length('ts_blob') + F.length('value_blob')).alias('enc'),
                          F.sum(F.col('n_points') * 16).alias('raw')).first()
    assert stats['enc'] < stats['raw'] * 1.6


def test_attach_timestamps(spark):
    df = datagen.tokens_table(spark, n_docs=3, seed=5, max_len=800, include_golden=False)
    scored = score_series(df, algorithm='zero')
    long = rollup.attach_timestamps(explode_scores(scored))
    row = long.filter('pos = 120').select('ts').first()
    assert str(row['ts']) == '2026-01-01 00:02:00'


def test_chunked_moving_window_equals_unchunked(spark):
    """Deterministic local kernels chunk exactly: chunk-with-halo scores ==
    whole-series scores at every owned position."""
    df = datagen.tokens_table(spark, n_docs=6, seed=9, max_len=3500, include_golden=False)
    params = {'window_length': 50}
    whole = explode_scores(score_series(df, algorithm='moving_window', params=params))
    chunked_in = partitioning.chunk_series(df, max_len=1000, halo=2 * 50 + 1)
    scored = score_series(chunked_in, algorithm='moving_window', params=params)
    chunked = partitioning.reassemble_chunked_scores(scored)
    a = whole.toPandas().sort_values(['doc_id', 'pos']).reset_index(drop=True)
    b = chunked.toPandas().sort_values(['doc_id', 'pos']).reset_index(drop=True)
    assert len(a) == len(b)
    assert (a['doc_id'] == b['doc_id']).all()
    np.testing.assert_array_equal(a['pos'].to_numpy(), b['pos'].to_numpy())
    np.testing.assert_allclose(a['score'].to_numpy(), b['score'].to_numpy(), atol=1e-12)


def test_salted_repartition_spreads_heavy_docs(spark):
    df = datagen.tokens_table(spark, n_docs=60, seed=11, max_len=4000, include_golden=False)
    out = partitioning.salted_repartition(df, 8)
    sizes = (out.withColumn('p', F.spark_partition_id())
                .groupBy('p').agg(F.sum('n_tok').alias('c')).toPandas()['c'])
    assert sizes.max() < 4 * sizes.mean()


def test_chunked_scoring_spreads_whale_chunks_across_tasks(spark):
    """Round-5 scale-probe regression: ``explode`` preserves partitioning, so
    repartitioning BEFORE chunking left every chunk of a long doc in one
    task (the whale serialized, 17 s max-task at probe scale).  The fixed
    composition repartitions on (source, doc_id, chunk_idx) AFTER chunking —
    a single whale's chunks must land on many partitions."""
    whale = pd.DataFrame({'doc_id': ['whale'], 'source': ['src0'],
                          'tokens': [list(range(40_000))], 'n_tok': [40_000]})
    df = spark.createDataFrame(whale[['doc_id', 'tokens', 'n_tok', 'source']],
                               schema=datagen.TOKENS_SCHEMA)
    chunked = partitioning.chunk_series(df, max_len=2_000, halo=101)
    spread = chunked.repartition(16, F.xxhash64('source', 'doc_id', 'chunk_idx'))
    parts = (spread.withColumn('p', F.spark_partition_id())
                   .select('p').distinct().count())
    assert parts >= 8, f'whale chunks landed on only {parts} partitions'


@pytest.mark.parametrize('day', ['2026-01-01', '1969-12-31'])
@pytest.mark.parametrize('method', ['null', 'locf', 'linear'])
def test_gap_fill_off_grid_bucket_raises(spark, method, day):
    """A bucket that is not on the interval grid is out of contract for
    every method: the query fails instead of dropping the row (the old
    null spine join) or emitting it as its own segment."""
    pdf = pd.DataFrame({
        'k': ['a'] * 3,
        'bucket_start': pd.to_datetime([f'{day} 00:00:00', f'{day} 00:01:30',
                                        f'{day} 00:03:00']),
        'avg_value': [1.0, 2.0, 3.0],
    })
    filled = rollup.gap_fill(spark.createDataFrame(pdf), keys=['k'],
                             interval_seconds=60, method=method)
    with pytest.raises(Exception, match='off the 60-second grid'):
        filled.collect()


@pytest.mark.parametrize('method, want', [
    ('null', [1.0, 2.0, None, None, 8.0]),
    ('locf', [1.0, 2.0, 2.0, 2.0, 8.0]),
    ('linear', [1.0, 2.0, 4.0, 6.0, 8.0]),
])
def test_gap_fill_pre_1970_series_crossing_the_epoch(spark, method, want):
    pdf = pd.DataFrame({
        'k': ['a'] * 3,
        'bucket_start': pd.to_datetime(['1969-12-31 23:57', '1969-12-31 23:58',
                                        '1970-01-01 00:01']),
        'avg_value': [1.0, 2.0, 8.0],
    })
    got = (rollup.gap_fill(spark.createDataFrame(pdf), keys=['k'],
                           interval_seconds=60, method=method)
           .toPandas().sort_values('bucket_start'))
    assert got['bucket_start'].tolist() == list(
        pd.date_range('1969-12-31 23:57', periods=5, freq='min'))
    assert got['is_gap'].tolist() == [False, False, True, True, False]
    assert [None if pd.isna(v) else v for v in got['avg_value']] == want


def test_gap_fill_linear_native_bitmatches_np_interp(spark):
    """The window-function linear fill (no Python, spillable at decade-long
    series scale) must reproduce np.interp bit-for-bit, edges included."""
    rng = np.random.default_rng(7)
    n = 500
    base = pd.Timestamp('2026-01-01')
    pdf = pd.DataFrame({'k': 'x',
                        'bucket_start': [base + pd.Timedelta(minutes=i)
                                         for i in range(n)],
                        'avg_value': rng.standard_normal(n).cumsum()})
    pdf = pdf[rng.random(n) > 0.4]
    df = spark.createDataFrame(pdf)
    got = rollup.gap_fill(df, keys=['k'], interval_seconds=60, method='linear') \
                .toPandas().sort_values('bucket_start').reset_index(drop=True)
    idx = ((pdf['bucket_start'] - pdf['bucket_start'].min())
           .dt.total_seconds() // 60).to_numpy()
    x = np.arange(idx.max() + 1, dtype=np.float64)
    expect = np.interp(x, idx.astype(np.float64), pdf['avg_value'].to_numpy())
    assert len(got) == len(x)
    np.testing.assert_array_equal(got['avg_value'].to_numpy(), expect)


def test_gap_fill_linear_plan_uses_running_frames_only(spark):
    """Regression guard for the round-2 O(n^2) plan: 'next observed value'
    must come from a DESCENDING running frame, never from a
    (CURRENT ROW, UNBOUNDED FOLLOWING) frame — Spark re-aggregates the
    remaining rows per row in that frame shape (measured 4x cost per input
    doubling).  Also: the exploded spine must be explicitly repartitioned by
    keys so AQE's byte-based coalesce cannot serialize all keys onto one
    task."""
    import pandas as pd
    from changepoynt_spark.operators.rollup import gap_fill

    pdf = pd.DataFrame({
        'k': ['a'] * 5,
        'bucket_start': pd.date_range('2026-01-01', periods=5, freq='1min'),
        'avg_value': [1.0, None, None, 4.0, None],
    })
    df = spark.createDataFrame(pdf)
    filled = gap_fill(df, ['k'], interval_seconds=60, method='linear')
    plan = filled._jdf.queryExecution().executedPlan().toString()
    assert 'unboundedfollowing' not in plan.lower(), 'O(n^2) frame is back'
    opt = filled._jdf.queryExecution().optimizedPlan().toString()
    assert 'repartitionbyexpression' in opt.lower().replace(' ', ''), \
        'spine no longer key-repartitioned'


def test_counter_rate_resets_and_first_sample_semantics(spark):
    """PromQL-convention counter semantics: reset -> whole current value is
    the delta; a key's first sample contributes nothing (unknowable); an
    increase spanning a bucket boundary lands in the LATER bucket."""
    import datetime as dt
    from changepoynt_spark.operators.rollup import counter_rate

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        # key 'a': 10 -> 25 -> 5 (reset) -> 8, hourly buckets
        ('a', t0 + dt.timedelta(minutes=1), 10),
        ('a', t0 + dt.timedelta(minutes=2), 25),
        ('a', t0 + dt.timedelta(minutes=3), 5),
        ('a', t0 + dt.timedelta(minutes=61), 8),   # spans into hour 2
        # key 'b': single sample — no usable delta, bucket dropped
        ('b', t0 + dt.timedelta(minutes=5), 100),
    ]
    df = spark.createDataFrame(rows, 'k string, ts timestamp, counter long')
    out = {(r['k'], r['bucket_start'].hour): r
           for r in counter_rate(df, ['k'], interval='1 hour').collect()}
    assert set(out) == {('a', 0), ('a', 1)}        # 'b' dropped entirely
    h0, h1 = out[('a', 0)], out[('a', 1)]
    assert h0['increase'] == 15 + 5                # 25-10, then reset: +5
    assert h0['n_resets'] == 1 and h0['n_samples'] == 2
    assert h1['increase'] == 3                     # 8-5 lands in hour 1
    assert h1['n_resets'] == 0 and h1['n_samples'] == 1
    assert abs(h1['rate_per_sec'] - 3 / 3600) < 1e-15
    # empty input flows through
    empty = spark.createDataFrame([], 'k string, ts timestamp, counter long')
    assert counter_rate(empty, ['k']).count() == 0


def test_percentile_rollup_nearest_rank_semantics(spark):
    """rank = ceil(p*n) (1-based): p50 of [1..4] is the 2nd value, p99 is
    the max; a single-point bucket returns that point for every p."""
    import datetime as dt
    from changepoynt_spark.operators.rollup import percentile_rollup

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [('a', t0 + dt.timedelta(seconds=i), float(v))
            for i, v in enumerate([4.0, 1.0, 3.0, 2.0])]      # unsorted input
    rows.append(('b', t0, 7.0))
    df = spark.createDataFrame(rows, 'k string, ts timestamp, value double')
    out = {r['k']: r for r in
           percentile_rollup(df, ['k'], interval='1 minute').collect()}
    a, b = out['a'], out['b']
    assert (a['n_points'], a['p50'], a['p95'], a['p99']) == (4, 2.0, 4.0, 4.0)
    assert (b['n_points'], b['p50'], b['p95'], b['p99']) == (1, 7.0, 7.0, 7.0)
    empty = spark.createDataFrame([], 'k string, ts timestamp, value double')
    assert percentile_rollup(empty, ['k']).count() == 0


def test_ewma_smooth_matches_pandas_recursion(spark):
    import datetime as dt
    import numpy as np
    import pandas as pd
    from changepoynt_spark.operators.window_ops import ewma_smooth

    rng = np.random.default_rng(7)
    t0 = dt.datetime(2026, 1, 1)
    rows = [(k, t0 + dt.timedelta(seconds=i), float(v))
            for k in ('a', 'b')
            for i, v in enumerate(rng.normal(size=50))]
    df = spark.createDataFrame(rows, 'k string, ts timestamp, value double')
    out = (ewma_smooth(df, ['k'], alpha=0.25).toPandas()
           .sort_values(['k', 'ts']).reset_index(drop=True))
    for k in ('a', 'b'):
        got = out[out['k'] == k]['ewma'].to_numpy()
        ref = (pd.Series([v for kk, _, v in rows if kk == k])
               .ewm(alpha=0.25, adjust=False).mean().to_numpy())
        # same recursion; pandas may differ in the last ulp, so allow 1e-12
        np.testing.assert_allclose(got, ref, rtol=1e-12, atol=0)
    empty = spark.createDataFrame([], 'k string, ts timestamp, value double')
    assert ewma_smooth(empty, ['k']).count() == 0


def test_backfill_merge_equals_full_rollup_and_composes(spark):
    from changepoynt_spark.operators import rollup
    import datetime as dt
    rows = []
    for i in range(300):
        rows.append((i % 3, dt.datetime(2026, 1, 1, 0, i % 50, i % 60),
                     float(i) * 0.37 - 20))
    df = spark.createDataFrame(rows, 'k long, ts timestamp, value double')
    full = rollup.finalize_rollup(
        rollup.rollup_partial(df, ['k']), ['k']).toPandas()

    # split three ways, merge in two different groupings -> same result
    a = df.filter('value < -10')
    b = df.filter('value >= -10 and value < 10')
    c = df.filter('value >= 10')
    pa, pb, pc = (rollup.rollup_partial(x, ['k']) for x in (a, b, c))
    m1 = rollup.merge_rollup_partials(rollup.merge_rollup_partials(pa, pb, ['k']), pc, ['k'])
    m2 = rollup.merge_rollup_partials(pa, rollup.merge_rollup_partials(pb, pc, ['k']), ['k'])

    def norm(pdf):
        return (pdf.sort_values(['k', 'bucket_start'])
                   .reset_index(drop=True).astype(str))

    f1 = rollup.finalize_rollup(m1, ['k']).toPandas()
    f2 = rollup.finalize_rollup(m2, ['k']).toPandas()
    assert norm(f1).equals(norm(full))
    assert norm(f2).equals(norm(full))

    # finalize matches the plain exact-sum tier (same schema, same values)
    tier = rollup.rollup_from_points(df, ['k'], exact_sum=True).toPandas()
    assert norm(full).equals(norm(tier))


def test_sketch_tier_cascade_bit_equals_direct_and_bounds_error(spark, sf_dir):
    from changepoynt_spark.operators import rollup
    from pyspark.sql import functions as F
    ev = spark.read.parquet(f'{sf_dir}/events.parquet')

    hourly = rollup.sketch_rollup(ev, [], 'user_id', interval='1 hour')
    daily_cascaded = rollup.sketch_rollup_merge(hourly, [], interval='1 day')
    daily_direct = rollup.sketch_rollup(ev, [], 'user_id', interval='1 day')

    c = (rollup.sketch_estimate(daily_cascaded, []).toPandas()
         .sort_values('bucket_start').reset_index(drop=True))
    d = (rollup.sketch_estimate(daily_direct, []).toPandas()
         .sort_values('bucket_start').reset_index(drop=True))
    # union is associative/commutative and insertion order-independent:
    # cascading through the hourly tier must give EXACTLY the direct result
    assert (c['n_distinct_est'] == d['n_distinct_est']).all()
    assert (c['cnt_points'] == d['cnt_points']).all()

    exact = (ev.groupBy(F.window('ts', '1 day').alias('w'))
               .agg(F.count_distinct('user_id').alias('n'))
               .select(F.col('w.start').alias('bucket_start'), 'n')
               .toPandas().sort_values('bucket_start').reset_index(drop=True))
    rel_err = ((c['n_distinct_est'] - exact['n']).abs() / exact['n']).max()
    assert rel_err <= 0.05, f'HLL relative error {rel_err}'


def test_time_weighted_avg_matches_numpy_integral(spark, sf_dir):
    import numpy as np
    from changepoynt_spark.operators import rollup
    ev = spark.read.parquet(f'{sf_dir}/events.parquet')
    pdf = rollup.time_weighted_avg(ev, ['user_id'], interval_seconds=3600).toPandas()
    step = 3600 * 1_000_000
    for uid in (1, 3, 7):
        sub = (ev.filter(f'user_id = {uid}').select('ts', 'value')
                 .toPandas().sort_values('ts'))
        t = sub['ts'].astype('datetime64[us]').to_numpy().view(np.int64)
        v = sub['value'].to_numpy()
        integ, cov = {}, {}
        for i in range(len(t)):
            t0 = t[i]
            t1 = t[i + 1] if i + 1 < len(t) else (t[i] // step + 1) * step
            b = t0 // step
            while True:
                lo, hi = max(t0, b * step), min(t1, (b + 1) * step)
                if hi > lo:
                    # mirror the operator's 6dp value quantization
                    integ[b] = integ.get(b, 0.0) + round(v[i], 6) * (hi - lo)
                    cov[b] = cov.get(b, 0) + (hi - lo)
                if (b + 1) * step >= t1:
                    break
                b += 1
        g = pdf[pdf.user_id == uid].copy()
        g['b'] = g['bucket_start'].astype('datetime64[us]').astype(np.int64) // step
        g = g.set_index('b')
        assert len(g) == len(integ)
        for b in integ:
            np.testing.assert_allclose(g.loc[b, 'twa'], integ[b] / cov[b], rtol=1e-9)
            assert int(g.loc[b, 'covered_us']) == cov[b]
    # TWA differs from plain AVG on irregular spacing (the point of the op)
    import pandas as pd
    from pyspark.sql import functions as F
    plain = (ev.groupBy('user_id', F.window('ts', '1 hour')['start'].alias('bucket_start'))
               .agg(F.avg('value').alias('avg'))).toPandas()
    m = pdf.merge(plain, on=['user_id', 'bucket_start'])
    assert (np.abs(m['twa'] - m['avg']) > 1e-9).any()


def test_lttb_downsample_shape_preserving(spark):
    import datetime as dt
    import numpy as np
    from changepoynt_spark.operators.window_ops import lttb_downsample
    # a smooth wave with one violent spike the downsample must keep
    n = 5000
    t0 = dt.datetime(2026, 1, 1)
    rows = []
    for i in range(n):
        v = float(np.sin(i / 80.0))
        if i == 3333:
            v = 40.0
        rows.append((1, t0 + dt.timedelta(seconds=i), v))
    df = spark.createDataFrame(rows, 'k long, ts timestamp, value double')
    out = (lttb_downsample(df, ['k'], n_out=200).toPandas()
           .sort_values('ts').reset_index(drop=True))
    assert len(out) == 200
    # endpoints pinned
    assert out['ts'].iloc[0] == t0 and out['ts'].iloc[-1] == rows[-1][1]
    # the spike survives; a 25x coarser uniform stride would likely miss it
    assert (out['value'] == 40.0).any()
    # deterministic
    out2 = (lttb_downsample(df, ['k'], n_out=200).toPandas()
            .sort_values('ts').reset_index(drop=True))
    assert out['ts'].equals(out2['ts'])
    # short series pass through untouched
    short = spark.createDataFrame(rows[:50], 'k long, ts timestamp, value double')
    assert lttb_downsample(short, ['k'], n_out=200).count() == 50


def test_changepoint_segments_structure(spark, sf_dir):
    from changepoynt_spark.operators import window_ops as w
    ev = spark.read.parquet(f'{sf_dir}/events.parquet')
    s = w.moving_window_score(ev, window_length=8, method='meanvar')
    cps = (w.detect_changepoints(s, threshold=2000.0, min_distance=8)
             .filter('is_changepoint').toPandas())
    segs = (w.score_segments(s, threshold=2000.0, min_distance=8)
              .toPandas().sort_values(['user_id', 'segment_id']))
    # min-distance: no two changepoints within 8 positions of each other
    for _, g in cps.groupby('user_id'):
        d = g['rn'].sort_values().diff().dropna()
        assert (d > 8).all()
    # segments tile each series exactly: contiguous, non-overlapping
    for uid, g in segs.groupby('user_id'):
        g = g.sort_values('segment_id')
        assert (g['end_pos'] - g['start_pos'] + 1 == g['n_points']).all()
        nxt = g['start_pos'].shift(-1).dropna()
        assert (nxt.to_numpy() == g['end_pos'].to_numpy()[:-1] + 1).all()
    n_cp = len(cps)
    assert len(segs) == segs['user_id'].nunique() + n_cp


import pytest as _pytest


@_pytest.mark.parametrize('seed', [0, 1, 2])
def test_time_weighted_avg_randomized_vs_numpy(spark, seed):
    import datetime as dt
    import numpy as np
    from changepoynt_spark.operators import rollup
    rng = np.random.default_rng(seed)
    base = dt.datetime(2026, 1, 1)
    secs = np.sort(rng.choice(200_000, size=300, replace=False))
    rows = [(int(i % 4), base + dt.timedelta(seconds=int(s)),
             float(np.round(rng.normal(0, 50), 6))) for i, s in enumerate(secs)]
    df = spark.createDataFrame(rows, 'k long, ts timestamp, value double')
    got = rollup.time_weighted_avg(df, ['k'], interval_seconds=3600).toPandas()
    step = 3600 * 1_000_000
    for k in range(4):
        sub = sorted([(r[1], r[2]) for r in rows if r[0] == k])
        t = np.array([dt_.timestamp() * 1e6 for dt_, _ in sub], dtype=np.int64)
        v = np.array([x for _, x in sub])
        integ, cov = {}, {}
        for i in range(len(t)):
            t0 = t[i]
            t1 = t[i + 1] if i + 1 < len(t) else (t[i] // step + 1) * step
            b = t0 // step
            while True:
                lo, hi = max(t0, b * step), min(t1, (b + 1) * step)
                if hi > lo:
                    integ[b] = integ.get(b, 0.0) + v[i] * (hi - lo)
                    cov[b] = cov.get(b, 0) + (hi - lo)
                if (b + 1) * step >= t1:
                    break
                b += 1
        g = got[got.k == k].copy()
        g['b'] = (g['bucket_start'].astype('datetime64[us]').astype(np.int64)
                  // step)
        g = g.set_index('b')
        assert len(g) == len(integ)
        for b in integ:
            np.testing.assert_allclose(g.loc[b, 'twa'], integ[b] / cov[b],
                                       rtol=1e-9)


def test_robust_anomaly_flags_catch_spike_mean_misses(spark):
    import datetime as dt
    import numpy as np
    from changepoynt_spark.operators.window_ops import robust_anomaly_flags
    rng = np.random.default_rng(3)
    vals = rng.normal(10, 0.5, size=200)
    vals[100] = 200.0                   # one massive spike
    rows = [(1, dt.datetime(2026, 1, 1, 0, 0, 0) + dt.timedelta(seconds=i),
             float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, 'k long, ts timestamp, value double')
    out = (robust_anomaly_flags(df, ['k'], window=21, k=3.5)
           .toPandas().sort_values('ts').reset_index(drop=True))
    assert bool(out.loc[100, 'is_anomaly'])
    # the spike must NOT mask itself: its neighbors stay clean (a
    # mean/stddev detector inflates sigma and often flags nothing at all)
    assert not out.loc[95:99, 'is_anomaly'].any()
    assert not out.loc[101:105, 'is_anomaly'].any()
    assert out['is_anomaly'].sum() <= 5   # ~p<0.0005 on 200 normal points


def test_rolling_autocorr_detects_persistence_vs_alternation(spark):
    import datetime as dt
    from changepoynt_spark.operators.window_ops import rolling_autocorr
    t0 = dt.datetime(2026, 1, 1)
    smooth = [(1, t0 + dt.timedelta(seconds=i), float(i)) for i in range(60)]
    alt = [(2, t0 + dt.timedelta(seconds=i), float((-1) ** i)) for i in range(60)]
    df = spark.createDataFrame(smooth + alt, 'k long, ts timestamp, value double')
    out = rolling_autocorr(df, ['k'], lag=1, window=30).toPandas()
    last = out.sort_values('ts').groupby('k').last()
    assert last.loc[1, 'autocorr'] > 0.99     # linear drift: persistent
    assert last.loc[2, 'autocorr'] < -0.99    # alternating: anti-persistent
    # warmup rows (n < 3 pairs) are NULL, not garbage
    import pandas as pd
    first = out.sort_values('ts').groupby('k').nth(0)
    assert pd.isna(first['autocorr']).all()


def test_moments_rollup_degenerate_bucket_yields_null_moments(spark):
    """Degenerate buckets (constant values / n==1) keep their row —
    n_points and mean intact — with NULL variance/skewness/kurtosis;
    well-conditioned buckets get real moments."""
    import datetime as dt
    rows = (
        # hour 0: constant values -> degenerate
        [(dt.datetime(2026, 1, 1, 0, 0, m), 'a', 5.0) for m in range(10)]
        # hour 1: single point -> degenerate
        + [(dt.datetime(2026, 1, 1, 1, 0, 0), 'a', 2.5)]
        # hour 2: real spread -> well-conditioned
        + [(dt.datetime(2026, 1, 1, 2, 0, m), 'a', float(v))
           for m, v in enumerate([1, 9, 2, 8, 3, 7, 4, 6, 5, 50])])
    df = spark.createDataFrame(rows, 'ts timestamp, user_id string, value double')
    got = (rollup.moments_rollup(df, ['user_id'], interval='1 hour')
           .orderBy('bucket_start').toPandas())
    assert len(got) == 3
    assert got['n_points'].tolist() == [10, 1, 10]
    assert got['mean'].tolist() == [5.0, 2.5, 9.5]
    assert got['variance'].isna().tolist() == [True, True, False]
    assert got['skewness'].isna().tolist() == [True, True, False]
    assert got['kurtosis'].isna().tolist() == [True, True, False]
    # well-conditioned bucket: verify against numpy population moments
    vals = np.array([1, 9, 2, 8, 3, 7, 4, 6, 5, 50], dtype=float)
    m2 = ((vals - vals.mean()) ** 2).mean()
    m3 = ((vals - vals.mean()) ** 3).mean()
    m4 = ((vals - vals.mean()) ** 4).mean()
    assert got['variance'].iloc[2] == pytest.approx(m2, abs=1e-5)
    assert got['skewness'].iloc[2] == pytest.approx(m3 / m2 ** 1.5, abs=1e-5)
    assert got['kurtosis'].iloc[2] == pytest.approx(m4 / m2 ** 2 - 3, abs=1e-5)


def test_dd_sketch_quantile_tier_cascades_and_bounds_error(spark, events):
    """DDSketch-style quantile tier: (a) cascading 1h sketches into 1d by
    bucket-count addition gives IDENTICAL quantiles to sketching raw points
    directly; (b) estimates are within the (gamma-1)/(gamma+1) ~ 0.78%
    relative bound of the exact lower order statistic; (c) the sketch is
    partition-invariant."""
    tier_1h = rollup.dd_sketch_from_points(events, [], interval='1 hour')
    direct_1d = rollup.dd_sketch_from_points(events, [], interval='1 day')
    casc_1d = rollup.dd_sketch_merge(tier_1h, [], interval='1 day')
    a = rollup.dd_sketch_quantiles(direct_1d, []).orderBy('bucket_start').toPandas()
    b = rollup.dd_sketch_quantiles(casc_1d, []).orderBy('bucket_start').toPandas()
    assert len(a) == len(b) > 0
    assert a.equals(b)

    pdf = events.select(F.date_trunc('day', 'ts').alias('b'), 'value').toPandas()
    got = a.set_index('bucket_start')
    for bucket, g in pdf.groupby('b'):
        v = np.sort(g['value'].to_numpy())
        for q in (0.5, 0.95, 0.99):
            exact = v[int(np.ceil(q * len(v))) - 1]
            est = got.loc[bucket, f'p{int(q * 100)}']
            assert abs(est - exact) / abs(exact) < 0.0079, (bucket, q)

    one = rollup.dd_sketch_quantiles(
        rollup.dd_sketch_from_points(events.repartition(1), [], interval='1 day'),
        []).orderBy('bucket_start').toPandas()
    assert one.equals(a)


def test_dd_sketch_handles_negatives_and_zeros(spark):
    """Sign-split histograms: negatives walk first (value order), the zero
    bucket in the middle; quantiles land in the right region."""
    import datetime as dt
    vals = [-100.0, -10.0, -1.0, 0.0, 0.0, 1.0, 10.0, 100.0, 1000.0, 10000.0]
    rows = [(dt.datetime(2026, 1, 1, 0, 0, i), float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, 'ts timestamp, value double')
    tier = rollup.dd_sketch_from_points(df, [], interval='1 day')
    got = rollup.dd_sketch_quantiles(tier, [], qs=(0.1, 0.5, 0.99)).toPandas().iloc[0]
    assert got['n_points'] == 10
    assert got['p10'] < 0            # rank 1 -> most negative
    assert abs(got['p10'] - (-100.0)) / 100.0 < 0.0079
    assert got['p50'] == 0.0         # rank 5 -> the zero bucket
    assert abs(got['p99'] - 10000.0) / 10000.0 < 0.0079


def test_sax_rollup_symbols_and_znorm(spark):
    """SAX: hourly PAA frames z-scored against the whole series and mapped
    to equiprobable letters; numpy recomputation agrees; constant series
    emit NULL z/symbol."""
    import datetime as dt
    # series 'a': strongly varying hour means 0..5 -> spans all 4 letters;
    # series 'b': constant -> degenerate (NULL symbol)
    rows = []
    hour_means = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0]
    for h, mu in enumerate(hour_means):
        for m in range(4):
            rows.append((dt.datetime(2026, 1, 1, h, m), 'a', mu + (m - 1.5)))
    for h in range(3):
        rows.append((dt.datetime(2026, 1, 1, h, 0), 'b', 7.0))
    df = spark.createDataFrame(rows, 'ts timestamp, user_id string, value double')
    got = (rollup.sax_rollup(df, ['user_id'], interval='1 hour', alphabet=4)
           .orderBy('user_id', 'frame_start').toPandas())
    a = got[got.user_id == 'a']
    assert a['n_points'].tolist() == [4] * 6
    assert a['paa'].tolist() == hour_means
    # numpy recomputation of z over the whole series
    vals = np.array([mu + (m - 1.5) for mu in hour_means for m in range(4)])
    z_np = (np.array(hour_means) - vals.mean()) / vals.std()
    assert np.allclose(a['z'].to_numpy(), z_np, atol=1e-5)
    # symbols: monotone means -> non-decreasing letters covering a..d
    assert a['symbol'].tolist() == sorted(a['symbol'].tolist())
    assert a['symbol'].iloc[0] == 'a' and a['symbol'].iloc[-1] == 'd'
    b = got[got.user_id == 'b']
    assert b['z'].isna().all() and b['symbol'].isna().all()
    assert b['paa'].tolist() == [7.0] * 3


def test_sax_rollup_partition_invariance(spark):
    """Decimal-exact sums make paa/z/symbol identical under any input
    partitioning (the cross-engine/cross-run reproducibility contract)."""
    import datetime as dt
    rng = np.random.default_rng(11)
    rows = [(dt.datetime(2026, 1, 1, int(h), int(m)), f'u{u}',
             float(round(rng.normal(50, 20), 2)))
            for u in range(3) for h in range(8) for m in range(0, 60, 7)]
    df = spark.createDataFrame(rows, 'ts timestamp, user_id string, value double')
    out1 = (rollup.sax_rollup(df.coalesce(1), ['user_id'], interval='1 hour')
            .orderBy('user_id', 'frame_start').toPandas())
    out8 = (rollup.sax_rollup(df.repartition(8), ['user_id'], interval='1 hour')
            .orderBy('user_id', 'frame_start').toPandas())
    assert out1.astype(str).equals(out8.astype(str))


def test_sax_breakpoints_table(spark):
    """Breakpoints are the standard-normal equiprobable quantiles (the
    published SAX table values for a=3..5)."""
    assert np.allclose(rollup.sax_breakpoints(3), [-0.4307273, 0.4307273], atol=1e-6)
    assert np.allclose(rollup.sax_breakpoints(4), [-0.6744898, 0.0, 0.6744898], atol=1e-6)
    assert np.allclose(rollup.sax_breakpoints(5),
                       [-0.8416212, -0.2533471, 0.2533471, 0.8416212], atol=1e-6)


def test_sax_words_assembly_and_gap_gate(spark):
    """Sliding w-frame words follow frame order; windows crossing a gap or
    containing a NULL symbol are suppressed."""
    import datetime as dt
    rows = []
    # 6 contiguous hours with strongly varying means, then a 2h gap, then 2 more
    means = [10, 60, 20, 50, 30, 40, 15, 55]
    hours = [0, 1, 2, 3, 4, 5, 8, 9]
    for h, mu in zip(hours, means):
        for m in range(4):
            rows.append((dt.datetime(2026, 1, 1, h, m), 'a', float(mu + m)))
    df = spark.createDataFrame(rows, 'ts timestamp, user_id string, value double')
    sax = rollup.sax_rollup(df, ['user_id'], interval='1 hour', alphabet=4)
    words = (rollup.sax_words(sax, ['user_id'], w=3, frame_sec=3600)
             .orderBy('frame_start').toPandas())
    # contiguous 3-frame windows: starts at hours 0..3 only (4 and 5 would
    # cross the gap; 8 has too few following frames)
    assert len(words) == 4
    assert [t.hour for t in words['frame_start']] == [0, 1, 2, 3]
    sym = {t.hour: s for t, s in
           zip(*(sax.orderBy('frame_start').toPandas()[c]
                 for c in ('frame_start', 'symbol')))}
    for _, r in words.iterrows():
        h = r['frame_start'].hour
        assert r['word'] == sym[h] + sym[h + 1] + sym[h + 2]


def test_sax_rollup_global_series(spark):
    """keys=[] symbolizes ONE global series (broadcast stats, no cartesian
    error); z-scores match the per-value numpy computation."""
    import datetime as dt
    rows = [(dt.datetime(2026, 1, 1, h, m), float(10 * h + m))
            for h in range(4) for m in range(3)]
    df = spark.createDataFrame(rows, 'ts timestamp, value double')
    got = (rollup.sax_rollup(df, [], interval='1 hour', alphabet=4)
           .orderBy('frame_start').toPandas())
    assert len(got) == 4
    vals = np.array([10 * h + m for h in range(4) for m in range(3)], dtype=float)
    paa = np.array([vals[3 * h:3 * h + 3].mean() for h in range(4)])
    z = (paa - vals.mean()) / vals.std()
    assert np.allclose(got['z'].to_numpy(), z, atol=1e-5)
    assert got['symbol'].tolist() == ['a', 'b', 'c', 'd']


def test_sax_discords_rarest_first(spark):
    """Discord candidates rank globally rarest words first with the
    deterministic (count, frame_start, word) total order; a planted
    anomalous stretch surfaces at rank 1."""
    import datetime as dt
    rows = []
    # 16 hours of a repeating low/high pattern, one anomalous spike hour
    pattern = [10.0, 60.0] * 8
    pattern[9] = 200.0   # hour 9 breaks the motif
    for h, mu in enumerate(pattern):
        for m in range(4):
            rows.append((dt.datetime(2026, 1, 1, h, m), mu + 0.1 * m))
    df = spark.createDataFrame(rows, 'ts timestamp, value double')
    sax = rollup.sax_rollup(df, [], interval='1 hour', alphabet=4)
    words = rollup.sax_words(sax, [], w=3, frame_sec=3600)
    got = rollup.sax_discords(words, [], k=5).toPandas()
    assert got['rank'].tolist() == [1, 2, 3, 4, 5]
    # ranks follow the count order
    assert got['word_count'].is_monotonic_increasing
    # the rank-1..3 words cover the anomalous hour (words touching hour 9
    # start at hours 7-9); the planted spike's words are unique
    assert got['word_count'].iloc[0] == 1
    top_hours = {t.hour for t in got['frame_start'][:3]}
    assert top_hours & {7, 8, 9}


def test_sax_series_dups_planted_twin(spark):
    """Two series with identical dynamics share their whole SAX word set
    (jaccard 1.0); an unrelated series scores lower; df_cap drops
    ubiquitous words before the self-join."""
    import datetime as dt
    rng = np.random.default_rng(23)
    mus = rng.uniform(10, 90, 24)
    rows = []
    for h in range(24):
        for m in range(4):
            v = float(mus[h] + 0.1 * m)
            rows.append((dt.datetime(2026, 1, 1, h, m), 's1', v))
            rows.append((dt.datetime(2026, 1, 1, h, m), 's2', v))   # twin
            rows.append((dt.datetime(2026, 1, 1, h, m), 's3',
                         float(rng.uniform(10, 90))))               # unrelated
    df = spark.createDataFrame(rows, 'ts timestamp, user_id string, value double')
    sax = rollup.sax_rollup(df, ['user_id'], interval='1 hour', alphabet=4)
    words = rollup.sax_words(sax, ['user_id'], w=3, frame_sec=3600)
    got = (rollup.sax_series_dups(words, 'user_id', threshold=0.0)
           .orderBy('series_a', 'series_b').toPandas())
    pair = {(a, b): j for a, b, j in got.itertuples(index=False)}
    assert pair[('s1', 's2')] == 1.0
    assert pair.get(('s1', 's3'), 0.0) < 1.0
    assert pair.get(('s2', 's3'), 0.0) == pair.get(('s1', 's3'), 0.0)
    # df_cap=1 drops every word shared by >1 series -> twins lose all their
    # (shared) words and no pair survives with jaccard > 0
    capped = rollup.sax_series_dups(words, 'user_id', threshold=0.5, df_cap=1)
    assert capped.count() == 0


def test_sax_words_numerosity_reduction(spark):
    """numerosity=True collapses consecutive identical words to their first
    occurrence (Lin/Keogh 2003 §4): a planted flat stretch that symbolizes
    to a run of one repeated word contributes it once, and the reduced
    stream equals the pandas drop-consecutive-duplicates reference."""
    import datetime as dt
    rows = []
    # hours 0-3 vary, hours 4-15 are FLAT (one repeated word), 16-19 vary
    means = [10, 60, 20, 50] + [35] * 12 + [15, 55, 25, 45]
    for h, mu in enumerate(means):
        for m in range(4):
            rows.append((dt.datetime(2026, 1, 1, h, m), 'a', float(mu)))
    df = spark.createDataFrame(rows, 'ts timestamp, user_id string, value double')
    sax = rollup.sax_rollup(df, ['user_id'], interval='1 hour', alphabet=4)
    full = (rollup.sax_words(sax, ['user_id'], w=3, frame_sec=3600)
            .orderBy('frame_start').toPandas())
    red = (rollup.sax_words(sax, ['user_id'], w=3, frame_sec=3600,
                            numerosity=True)
           .orderBy('frame_start').toPandas())
    # pandas reference: keep row i iff word != previous emitted word
    keep = full['word'] != full['word'].shift(1)
    expect = full[keep.fillna(True)].reset_index(drop=True)
    assert red['word'].tolist() == expect['word'].tolist()
    assert red['frame_start'].tolist() == expect['frame_start'].tolist()
    # the flat stretch produced a run of identical words that must collapse
    run = full['word'].value_counts().max()
    assert run > 1 and len(red) < len(full)
    # reduction is idempotent on the reduced stream: no adjacent dups remain
    assert (red['word'] != red['word'].shift(1)).fillna(True).all()


def test_sax_words_numerosity_desaturates_series_dups(spark):
    """Two series sharing ONLY a long flat stretch jaccard-saturate without
    numerosity reduction (the repeated flat word dominates both word sets)
    and drop apart with it."""
    import datetime as dt
    rng = np.random.default_rng(29)
    rows = []
    for h in range(36):
        for m in range(4):
            flat = 35.0
            # s1/s2: 6 varying private hours each + 24 shared flat hours
            v1 = float(rng.uniform(10, 90)) if h < 6 else flat
            v2 = float(rng.uniform(10, 90)) if h >= 30 else flat
            rows.append((dt.datetime(2026, 1, 1 + h // 24, h % 24, m), 's1', v1))
            rows.append((dt.datetime(2026, 1, 1 + h // 24, h % 24, m), 's2', v2))
    df = spark.createDataFrame(rows, 'ts timestamp, user_id string, value double')
    sax = rollup.sax_rollup(df, ['user_id'], interval='1 hour', alphabet=4)

    def jac(numerosity):
        words = rollup.sax_words(sax, ['user_id'], w=3, frame_sec=3600,
                                 numerosity=numerosity)
        got = rollup.sax_series_dups(words, 'user_id', threshold=0.0).toPandas()
        m = {(a, b): j for a, b, j in got.itertuples(index=False)}
        return m.get(('s1', 's2'), 0.0)

    # word SETS are identical either way (reduction drops repeats, not
    # types) — the desaturation shows up once counts matter, so compare the
    # word-STREAM overlap instead: share of emitted words that are the
    # flat word
    full = rollup.sax_words(sax, ['user_id'], w=3, frame_sec=3600).toPandas()
    red = rollup.sax_words(sax, ['user_id'], w=3, frame_sec=3600,
                           numerosity=True).toPandas()
    flat_word = full['word'].mode()[0]
    share_full = (full['word'] == flat_word).mean()
    share_red = (red['word'] == flat_word).mean()
    assert share_full > 0.5          # saturated: flat word dominates
    assert share_red < share_full / 2  # reduced: once per run only
    # set-level jaccard is unchanged by construction — a regression guard
    # that reduction never INVENTS or LOSES word types
    assert jac(False) == jac(True)


def test_sax_discords_keys_empty_is_takeordered(spark):
    """keys=[] discord ranking must plan as TakeOrderedAndProject (per-
    partition heap + driver merge), NOT a row_number over the full word
    tier in one task; the rank window runs on the <= k survivors only."""
    import datetime as dt
    rows = []
    pattern = ([10.0, 60.0] * 10)[:20]
    for h, mu in enumerate(pattern):
        for m in range(4):
            rows.append((dt.datetime(2026, 1, 1, h, m), mu + 0.1 * m))
    df = spark.createDataFrame(rows, 'ts timestamp, value double')
    sax = rollup.sax_rollup(df, [], interval='1 hour', alphabet=4)
    words = rollup.sax_words(sax, [], w=3, frame_sec=3600)
    d = rollup.sax_discords(words, [], k=5)
    plan = d._jdf.queryExecution().executedPlan().toString()
    assert 'TakeOrderedAndProject' in plan
    # the final Window feeds DIRECTLY off the TakeOrdered node (r9: plus
    # the <= k-row sort/exchange its non-foldable constant partition key
    # adds — see rollup._one_part) — i.e. every operator above the
    # TakeOrdered heap touches <= k rows, never the full word tier
    lines = plan.splitlines()
    wi = next(i for i, l in enumerate(lines) if 'Window' in l)
    ti = next(i for i, l in enumerate(lines) if 'TakeOrderedAndProject' in l)
    assert wi < ti <= wi + 4, (wi, ti)
    between = '\n'.join(lines[wi + 1:ti])
    # nothing between the window and the heap except the constant-key
    # sort/exchange machinery over the k survivors
    assert all(('Sort' in l) or ('Exchange' in l) or ('AQEShuffleRead' in l)
               or ('Project' in l) or (not l.strip('+- '))
               for l in between.splitlines()), between
    got = d.toPandas()
    assert got['rank'].tolist() == list(range(1, len(got) + 1))
    assert got['word_count'].is_monotonic_increasing


def test_sax_motifs_planted_pattern_ranks_first(spark):
    """Motif candidates rank the MOST frequent numerosity-reduced words
    first; a planted recurring low/high pattern dominates, an anomalous
    hour never reaches rank 1, and first/last_frame delimit the pattern's
    span."""
    import datetime as dt
    pattern = [10.0, 60.0] * 10
    pattern[9] = 200.0           # one anomalous hour amid the motif
    rows = []
    for h, mu in enumerate(pattern):
        for m in range(4):
            rows.append((dt.datetime(2026, 1, 1, h, m), mu + 0.1 * m))
    df = spark.createDataFrame(rows, 'ts timestamp, value double')
    sax = rollup.sax_rollup(df, [], interval='1 hour', alphabet=4)
    words = rollup.sax_words(sax, [], w=3, frame_sec=3600, numerosity=True)
    got = rollup.sax_motifs(words, [], k=5).toPandas()
    assert got['rank'].tolist() == list(range(1, len(got) + 1))
    assert got['n_occurrences'].is_monotonic_decreasing
    # the top motif recurs and spans (first < last frame); the anomalous
    # hour's words are singletons so they cannot hold rank 1
    assert got['n_occurrences'].iloc[0] > 1
    assert got['first_frame'].iloc[0] < got['last_frame'].iloc[0]
    # deterministic tie-break: equal counts ordered by word asc
    for i in range(1, len(got)):
        if got['n_occurrences'].iloc[i] == got['n_occurrences'].iloc[i - 1]:
            assert got['word'].iloc[i - 1] < got['word'].iloc[i]


def test_sax_motifs_keyed_rank_window(spark):
    """With keys, motifs rank within each key independently (rank restarts
    at 1 per key) and the per-key counts ignore other keys."""
    import datetime as dt
    rows = []
    for key, mus in (('a', [10.0, 60.0] * 8), ('b', [10.0, 20.0, 80.0] * 5)):
        for h, mu in enumerate(mus):
            for m in range(4):
                rows.append((key, dt.datetime(2026, 1, 1, h, m), mu + 0.1 * m))
    df = spark.createDataFrame(rows, 'k string, ts timestamp, value double')
    sax = rollup.sax_rollup(df, ['k'], interval='1 hour', alphabet=4)
    words = rollup.sax_words(sax, ['k'], w=3, frame_sec=3600, numerosity=True)
    got = rollup.sax_motifs(words, ['k'], k=3).toPandas()
    for k in ('a', 'b'):
        sub = got[got['k'] == k]
        assert sub['rank'].tolist() == list(range(1, len(sub) + 1))
        assert len(sub) > 0


def test_sax_motif_verify_planted_pair_and_nonoverlap(spark):
    """Exact-distance verification: for a planted recurring pattern the
    best pair is non-overlapping, int64-exact, and matches a numpy
    recomputation of the quantized-z distance over the same frames."""
    import datetime as dt
    import numpy as np
    pattern = [10.0, 60.0] * 10
    pattern[9] = 200.0
    rows = []
    for h, mu in enumerate(pattern):
        for m in range(4):
            rows.append((dt.datetime(2026, 1, 1, h, m), mu + 0.1 * m))
    df = spark.createDataFrame(rows, 'ts timestamp, value double')
    sax = rollup.sax_rollup(df, [], interval='1 hour', alphabet=4)
    w, frame_sec = 3, 3600
    got = rollup.sax_motif_verify(sax, [], w=w, frame_sec=frame_sec,
                                  k=5).toPandas()
    assert len(got) > 0
    # non-overlap gate and argmin determinism
    for _, r in got.iterrows():
        assert (r['frame_b'] - r['frame_a']).total_seconds() >= w * frame_sec
        assert r['n_occurrences'] >= 2
        assert r['dist2_micro'] >= 0

    # recompute the best pair's distance from the tier directly
    tier = sax.toPandas().sort_values('frame_start').reset_index(drop=True)
    zq = {t: int(round(z * 1_000_000)) for t, z in
          zip(tier['frame_start'], tier['z']) if z == z}
    frames = sorted(zq)
    top = got.sort_values('dist2_micro').iloc[0]
    def vec(start):
        i = frames.index(start)
        return np.array([zq[frames[i + j]] for j in range(w)], dtype=np.int64)
    d = vec(top['frame_a']) - vec(top['frame_b'])
    assert int((d * d).sum()) == int(top['dist2_micro'])


def test_sax_motif_verify_keyed_paths(spark):
    """Keyed verification: pair join and argmin window partition by key —
    each key's best pair uses only its own occurrences, and a key whose
    candidate words never recur non-overlapping emits nothing."""
    import datetime as dt
    rows = []
    for key, mus in (('a', [10.0, 60.0] * 10),
                     ('b', [5.0, 30.0, 90.0] * 6)):
        for h, mu in enumerate(mus):
            for m in range(4):
                rows.append((key, dt.datetime(2026, 1, 1, h, m), mu + 0.1 * m))
    df = spark.createDataFrame(rows, 'k string, ts timestamp, value double')
    sax = rollup.sax_rollup(df, ['k'], interval='1 hour', alphabet=4)
    got = rollup.sax_motif_verify(sax, ['k'], w=3, frame_sec=3600,
                                  k=4).toPandas()
    assert set(got['k']) <= {'a', 'b'} and len(got) > 0
    for _, r in got.iterrows():
        assert (r['frame_b'] - r['frame_a']).total_seconds() >= 3 * 3600
    # at most one row per (key, word)
    assert not got.duplicated(['k', 'word']).any()


def test_gap_fill_segment_form_null_observations_and_multicols(spark):
    """r9 segment-form guard: observed rows with NULL values are NOT
    interpolation anchors (the last/first NON-NULL observation is), two
    value columns fill independently, single-observation keys emit one
    row, and LOCF leaves a leading null-valued observation null — the
    exact semantics of the round-2..8 spine-window form."""
    pdf = pd.DataFrame({
        'k': ['a'] * 5 + ['b'],
        'bucket_start': pd.to_datetime([
            '2026-01-01 00:00', '2026-01-01 00:02', '2026-01-01 00:03',
            '2026-01-01 00:06', '2026-01-01 00:07', '2026-01-01 00:05']),
        'v1': [2.0, None, 8.0, None, 14.0, 7.0],
        'v2': [None, 4.0, None, 10.0, None, 9.0],
    })
    df = spark.createDataFrame(pdf)
    got = (rollup.gap_fill(df, keys=['k'], value_cols=('v1', 'v2'),
                           interval_seconds=60, method='linear')
           .toPandas().sort_values(['k', 'bucket_start'])
           .reset_index(drop=True))
    a = got[got.k == 'a']
    # v1 anchors at 00:00(2.0), 00:03(8.0), 00:07(14.0): null observed rows
    # (00:02, 00:06) interpolate like gaps
    np.testing.assert_allclose(a['v1'].tolist(),
                               [2.0, 4.0, 6.0, 8.0, 9.5, 11.0, 12.5, 14.0])
    # v2 anchors at 00:02(4.0), 00:06(10.0); ends clamp to nearest anchor
    np.testing.assert_allclose(a['v2'].tolist(),
                               [4.0, 4.0, 4.0, 5.5, 7.0, 8.5, 10.0, 10.0])
    assert a['is_gap'].tolist() == [False, True, False, False,
                                    True, True, False, False]
    b = got[got.k == 'b']
    assert len(b) == 1 and b['v1'].iloc[0] == 7.0 and b['v2'].iloc[0] == 9.0
    locf = (rollup.gap_fill(df, keys=['k'], value_cols=('v1', 'v2'),
                            interval_seconds=60, method='locf')
            .toPandas().sort_values(['k', 'bucket_start']))
    la = locf[locf.k == 'a']
    np.testing.assert_allclose(la['v1'].tolist(),
                               [2.0, 2.0, 2.0, 8.0, 8.0, 8.0, 8.0, 14.0])
    # nothing to carry before the first non-null observation: the leading
    # null-valued observation AND the gap row after it stay null
    assert pd.isna(la['v2'].iloc[0]) and pd.isna(la['v2'].iloc[1])
    np.testing.assert_allclose(la['v2'].tolist()[2:],
                               [4.0, 4.0, 4.0, 4.0, 10.0, 10.0])
