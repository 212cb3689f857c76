"""Streaming rollup == batch rollup on the same data (complete mode), and
append-mode emits exactly the watermark-closed buckets."""
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from changepoynt_spark.operators.rollup import AGG_COLS, rollup_from_points
from changepoynt_spark.streaming.rollup_stream import watermarked


@pytest.fixture()
def events_dir(spark, sf_dir, tmp_path):
    out = str(tmp_path / 'events_stream')
    spark.read.parquet(f'{sf_dir}/events.parquet').repartition(4).write.parquet(out)
    return out


def _run_stream(spark, events_dir, mode):
    schema = spark.read.parquet(events_dir).schema
    stream = (spark.readStream.schema(schema)
              .option('maxFilesPerTrigger', 2).parquet(events_dir))
    tier = rollup_from_points(watermarked(stream, 'ts', '30 minutes'), keys=['user_id'],
                              ts_col='ts', value_col='value', interval='1 hour')
    name = f'tier_{mode}'
    q = (tier.writeStream.outputMode(mode).format('memory').queryName(name)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.sql(f'SELECT * FROM {name}').toPandas()


def test_streaming_complete_matches_batch(spark, events_dir):
    got = _run_stream(spark, events_dir, 'complete')
    batch = rollup_from_points(spark.read.parquet(events_dir), ['user_id'],
                               ts_col='ts', value_col='value', interval='1 hour').toPandas()
    got = got.sort_values(['user_id', 'bucket_start']).reset_index(drop=True)
    batch = batch.sort_values(['user_id', 'bucket_start']).reset_index(drop=True)
    assert len(got) == len(batch) > 0
    for col in AGG_COLS:
        np.testing.assert_allclose(got[col].to_numpy(dtype=float),
                                   batch[col].to_numpy(dtype=float), rtol=1e-9, err_msg=col)


def test_stream_tier_has_the_batch_column_order(spark, events_dir):
    """The streaming tier is the batch operator over a watermarked stream,
    so its columns are the batch tier's, in the batch tier's order."""
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    tier = rollup_from_points(watermarked(stream, 'ts', '30 minutes'),
                              ['user_id'], interval='1 hour')
    batch = rollup_from_points(spark.read.parquet(events_dir), ['user_id'],
                               interval='1 hour')
    assert tier.columns == batch.columns == ['user_id', 'bucket_start',
                                             *AGG_COLS]


def test_streaming_append_emits_closed_buckets_once(spark, events_dir):
    got = _run_stream(spark, events_dir, 'append')
    batch = rollup_from_points(spark.read.parquet(events_dir), ['user_id'],
                               ts_col='ts', value_col='value', interval='1 hour').toPandas()
    # emitted buckets are final: each matches the batch value exactly
    merged = got.merge(batch, on=['user_id', 'bucket_start'], suffixes=('_s', '_b'))
    assert len(merged) == len(got)
    assert not got.duplicated(['user_id', 'bucket_start']).any()
    np.testing.assert_allclose(merged['sum_value_s'], merged['sum_value_b'], rtol=1e-9)
    # everything strictly before the final watermark was emitted
    max_ts = spark.read.parquet(events_dir).agg(F.max('ts')).first()[0]
    import pandas as pd
    closed = batch[batch['bucket_start'] + pd.Timedelta(hours=1)
                   < max_ts - pd.Timedelta(minutes=30)]
    have = set(zip(got['user_id'], got['bucket_start']))
    missing = [k for k in zip(closed['user_id'], closed['bucket_start']) if k not in have]
    assert not missing, missing[:5]


def test_streaming_exact_dedup_suppresses_cross_batch_duplicates(spark, tmp_path):
    """Duplicate texts arriving in LATER micro-batches (within the watermark
    horizon) are suppressed; the surviving set equals the batch-engine
    distinct set."""
    import os
    import pandas as pd
    from changepoynt_spark.streaming.dedup_stream import streaming_exact_dedup

    base = pd.Timestamp('2026-01-01 00:00:00')
    batches = [
        pd.DataFrame({'doc_id': [0, 1, 2],
                      'ts': [base, base, base + pd.Timedelta(minutes=1)],
                      'text': ['alpha beta', 'gamma delta', 'alpha beta']}),
        pd.DataFrame({'doc_id': [3, 4],
                      'ts': [base + pd.Timedelta(minutes=2)] * 2,
                      'text': ['alpha beta', 'epsilon zeta']}),
        pd.DataFrame({'doc_id': [5],
                      'ts': [base + pd.Timedelta(minutes=3)],
                      'text': ['gamma delta']}),
    ]
    src = str(tmp_path / 'docs')
    os.makedirs(src)
    for i, b in enumerate(batches):
        spark.createDataFrame(b).coalesce(1).write.parquet(f'{src}/batch={i}')
    schema = spark.read.parquet(f'{src}/batch=0').schema
    stream = (spark.readStream.schema(schema).option('maxFilesPerTrigger', 1)
              .parquet(f'{src}/batch=*'))
    deduped = streaming_exact_dedup(stream, ts_col='ts', text_col='text',
                                    delay='30 minutes')
    q = (deduped.writeStream.outputMode('append').format('memory')
         .queryName('dedup_stream').trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql('SELECT * FROM dedup_stream').toPandas()
    assert sorted(got['text'].tolist()) == ['alpha beta', 'epsilon zeta',
                                            'gamma delta']
    assert not got['text_hash'].duplicated().any()


def test_streaming_tier_cascades_to_1h_1d_exactly(spark, events_dir):
    """The streaming 1m tier is a valid cascade base: feeding its output
    through the batch cascade step (rollup_from_rollup) reproduces the
    1h and 1d tiers computed directly from raw points — bucket-for-bucket,
    aggregate-for-aggregate."""
    from changepoynt_spark.operators.rollup import rollup_from_rollup

    schema = spark.read.parquet(events_dir).schema
    stream = (spark.readStream.schema(schema)
              .option('maxFilesPerTrigger', 2).parquet(events_dir))
    tier_1m = rollup_from_points(watermarked(stream, 'ts', '30 minutes'), keys=['user_id'],
                                 ts_col='ts', value_col='value', interval='1 minute')
    q = (tier_1m.writeStream.outputMode('complete').format('memory')
         .queryName('tier_1m_cascade').trigger(availableNow=True).start())
    q.awaitTermination(120)
    stream_1m = spark.sql('SELECT * FROM tier_1m_cascade')

    raw = spark.read.parquet(events_dir)
    for interval in ('1 hour', '1 day'):
        got = (rollup_from_rollup(stream_1m, ['user_id'], interval=interval)
               .toPandas().sort_values(['user_id', 'bucket_start'])
               .reset_index(drop=True))
        exp = (rollup_from_points(raw, ['user_id'], ts_col='ts', value_col='value',
                                  interval=interval)
               .toPandas().sort_values(['user_id', 'bucket_start'])
               .reset_index(drop=True))
        assert len(got) == len(exp) > 0, interval
        assert (got['bucket_start'] == exp['bucket_start']).all()
        for col in AGG_COLS:
            np.testing.assert_allclose(got[col].to_numpy(dtype=float),
                                       exp[col].to_numpy(dtype=float),
                                       rtol=1e-9, err_msg=f'{interval}.{col}')


def test_streaming_session_windows_match_batch_sessionize(spark, events_dir):
    from changepoynt_spark.operators.window_ops import session_stats
    from changepoynt_spark.streaming.rollup_stream import streaming_sessionize

    schema = spark.read.parquet(events_dir).schema
    stream = (spark.readStream.schema(schema)
              .option('maxFilesPerTrigger', 2).parquet(events_dir))
    sess = streaming_sessionize(stream, keys=['user_id'], gap='30 minutes')
    q = (sess.writeStream.outputMode('complete').format('memory')
         .queryName('sessions_stream').trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = (spark.sql('SELECT user_id, session_start, session_end, n_events '
                     'FROM sessions_stream')
           .toPandas().sort_values(['user_id', 'session_start'])
           .reset_index(drop=True))

    batch = (session_stats(spark.read.parquet(events_dir), ['user_id'],
                           gap_seconds=1800)
             .select('user_id', 'session_start', 'session_end', 'n_events')
             .toPandas().sort_values(['user_id', 'session_start'])
             .reset_index(drop=True))
    assert len(got) == len(batch) > 0
    assert got.astype(str).equals(batch.astype(str))


def test_streaming_interval_join_matches_batch(spark, events_dir):
    from changepoynt_spark.operators.asof import interval_join
    from changepoynt_spark.streaming.rollup_stream import streaming_interval_join

    schema = spark.read.parquet(events_dir).schema
    mk = lambda: (spark.readStream.schema(schema)  # noqa: E731
                  .option('maxFilesPerTrigger', 2).parquet(events_dir))
    pts = (mk().filter("event_type = 'click'")
           .selectExpr('user_id', 'ts', 'event_id AS click_id'))
    iv = (mk().filter("event_type = 'error'")
          .selectExpr('user_id AS user_id', 'ts AS lo', 'event_id AS interval_id')
          .withColumnRenamed('user_id', 'user_id'))
    iv = iv.selectExpr('user_id', 'lo', 'interval_id')
    joined = streaming_interval_join(pts, iv, on='user_id', ts_col='ts',
                                     lo_col='lo', width='4 hours',
                                     watermark_delay='2 minutes')
    out = joined.selectExpr('p.user_id AS user_id', 'click_id', 'interval_id')
    q = (out.writeStream.outputMode('append').format('memory')
         .queryName('sj').trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = set(map(tuple, spark.sql(
        'SELECT user_id, click_id, interval_id FROM sj').collect()))

    ev = spark.read.parquet(events_dir)
    bi = (ev.filter("event_type = 'error'")
            .select('user_id', F.col('ts').alias('lo'),
                    (F.col('ts') + F.expr('INTERVAL 4 HOURS')).alias('hi'),
                    F.col('event_id').alias('interval_id')))
    bp = (ev.filter("event_type = 'click'")
            .select('user_id', 'ts', F.col('event_id').alias('click_id')))
    batch = interval_join(bp, bi, on=('user_id',), ts_col='ts',
                          bucket_seconds=14400, interval_cols=('interval_id',))
    want = set(map(tuple, batch.select('user_id', 'click_id', 'interval_id').collect()))
    assert len(want) > 0
    # append-mode stream must emit exactly the batch pair set (late rows are
    # within the watermark in availableNow replay)
    assert got == want


def test_streaming_sketch_tier_matches_batch_estimates(spark, events_dir):
    from changepoynt_spark.operators import rollup as r

    schema = spark.read.parquet(events_dir).schema
    stream = (spark.readStream.schema(schema)
              .option('maxFilesPerTrigger', 2).parquet(events_dir))
    stream = stream.withColumn('ts', F.col('ts').cast('timestamp'))
    agg = (stream.withWatermark('ts', '30 minutes')
           .groupBy(F.window('ts', '1 day').alias('w'))
           .agg(F.hll_sketch_agg('user_id').alias('sketch'),
                F.count('*').alias('cnt_points')))
    est = agg.select(F.col('w.start').alias('bucket_start'),
                     F.hll_sketch_estimate('sketch').alias('n_distinct_est'),
                     'cnt_points')
    q = (est.writeStream.outputMode('complete').format('memory')
         .queryName('sketch_stream').trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = (spark.sql('SELECT * FROM sketch_stream').toPandas()
           .sort_values('bucket_start').reset_index(drop=True))
    batch = (r.sketch_estimate(
                r.sketch_rollup(spark.read.parquet(events_dir), [], 'user_id',
                                interval='1 day'), [])
             .toPandas().sort_values('bucket_start').reset_index(drop=True))
    # HLL add/union are order-independent -> stream == batch EXACTLY
    assert got['n_distinct_est'].tolist() == batch['n_distinct_est'].tolist()
    assert got['cnt_points'].tolist() == batch['cnt_points'].tolist()


def test_streaming_lsh_candidates_cover_batch_pairs(spark, tmp_path):
    """Every batch LSH near-dup pair must surface as a streaming candidate
    (same band collision within the watermark window)."""
    import datetime as dt
    from changepoynt_spark.operators import dedup
    from changepoynt_spark.streaming.dedup_stream import streaming_lsh_candidates

    base = spark.read.parquet('/root/testdata/sf0.001/documents.parquet')
    t0 = dt.datetime(2026, 1, 1)
    docs = base.limit(200).withColumn(
        'ts', F.expr(f"timestamp'{t0}' + make_interval(0,0,0,0,0,0, doc_id % 60)"))
    path = str(tmp_path / 'docs_stream')
    docs.repartition(4).write.parquet(path)

    batch_pairs = {(min(a, b), max(a, b)) for a, b in
                   dedup.minhash_lsh_pairs(spark.read.parquet(path),
                                           num_hashes=32, bands=8, threshold=0.0)
                   .select('doc_a', 'doc_b').collect()}

    stream = (spark.readStream.schema(spark.read.parquet(path).schema)
              .option('maxFilesPerTrigger', 1).parquet(path))
    cands = streaming_lsh_candidates(stream, num_hashes=32, bands=8)
    q = (cands.writeStream.outputMode('append').format('memory')
         .queryName('lsh_stream').trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r['doc_a'], r['doc_b']) for r in
           spark.sql('SELECT doc_a, doc_b FROM lsh_stream').collect()}
    assert batch_pairs, 'fixture produced no batch pairs'
    # streaming candidates ⊇ verified batch pairs (the recall contract);
    # extras are unverified band collisions, filtered downstream
    assert batch_pairs <= got, f'missing {batch_pairs - got}'


def test_streaming_lsh_candidates_non_default_watermark(spark, tmp_path):
    """The pair time bound must TRACK a non-default watermark_delay (it was
    once hardcoded at +-10 minutes): with a 30-minute watermark and events
    spread over ~15 minutes, pairs more than 10 minutes apart must still
    surface."""
    import datetime as dt
    from changepoynt_spark.operators import dedup
    from changepoynt_spark.streaming.dedup_stream import streaming_lsh_candidates

    base = spark.read.parquet('/root/testdata/sf0.001/documents.parquet')
    t0 = dt.datetime(2026, 1, 1)
    docs = base.limit(200).withColumn(
        'ts', F.expr(f"timestamp'{t0}' + make_interval(0,0,0,0,0,0, (doc_id % 7) * 140)"))
    path = str(tmp_path / 'docs_stream_wide')
    docs.repartition(4).write.parquet(path)

    batch_pairs = {(min(a, b), max(a, b)) for a, b in
                   dedup.minhash_lsh_pairs(spark.read.parquet(path),
                                           num_hashes=32, bands=8, threshold=0.0)
                   .select('doc_a', 'doc_b').collect()}
    gaps = spark.read.parquet(path).select('doc_id', 'ts').toPandas()
    ts_by_id = dict(zip(gaps['doc_id'], gaps['ts']))
    wide = {(a, b) for a, b in batch_pairs
            if abs((ts_by_id[a] - ts_by_id[b]).total_seconds()) > 600}
    assert wide, 'fixture has no pairs wider than the old hardcoded bound'

    stream = (spark.readStream.schema(spark.read.parquet(path).schema)
              .option('maxFilesPerTrigger', 1).parquet(path))
    cands = streaming_lsh_candidates(stream, num_hashes=32, bands=8,
                                     watermark_delay='30 minutes')
    q = (cands.writeStream.outputMode('append').format('memory')
         .queryName('lsh_stream_wide').trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r['doc_a'], r['doc_b']) for r in
           spark.sql('SELECT doc_a, doc_b FROM lsh_stream_wide').collect()}
    assert batch_pairs <= got, f'missing {batch_pairs - got}'


def test_streaming_moments_rollup_bitmatches_batch(spark, events_dir):
    """The streaming moments tier shares the batch tier's decimal power-sum
    and finalize expressions, so closed buckets are bit-identical to the
    batch moments_rollup over the same rows (including NULL moments on
    degenerate buckets)."""
    from changepoynt_spark.operators.rollup import moments_rollup

    schema = spark.read.parquet(events_dir).schema
    stream = (spark.readStream.schema(schema)
              .option('maxFilesPerTrigger', 2).parquet(events_dir))
    tier = moments_rollup(watermarked(stream, 'ts', '30 minutes'), keys=['user_id'],
                          ts_col='ts', value_col='value', interval='1 hour')
    q = (tier.writeStream.outputMode('complete').format('memory')
         .queryName('moments_stream').trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = (spark.sql('SELECT * FROM moments_stream').toPandas()
           .sort_values(['user_id', 'bucket_start']).reset_index(drop=True))

    raw = spark.read.parquet(events_dir) \
        .withColumn('ts', F.col('ts').cast('timestamp'))
    exp = (moments_rollup(raw, ['user_id'], ts_col='ts', value_col='value',
                          interval='1 hour')
           .toPandas().sort_values(['user_id', 'bucket_start'])
           .reset_index(drop=True))
    assert len(got) == len(exp) > 0
    assert (got['bucket_start'] == exp['bucket_start']).all()
    assert (got['n_points'] == exp['n_points']).all()
    import numpy as np
    degenerate = 0
    for col in ('mean', 'variance', 'skewness', 'kurtosis'):
        g, e = got[col], exp[col]
        assert (g.isna() == e.isna()).all(), col
        degenerate += int(g.isna().sum())
        ga, ea = g.dropna().to_numpy(), e.dropna().to_numpy()
        assert np.array_equal(ga, ea), col  # BIT-identical, not approx
    assert degenerate > 0  # the fixture's sparse per-user cells hit the NULL path


def test_streaming_dd_sketch_rows_assemble_to_batch_tier(spark, events_dir):
    """Streaming quantile-sketch exchange rows (one stateful agg), assembled
    by the SAME batch view, bit-match the batch tier — maps, counts and the
    derived quantiles."""
    from changepoynt_spark.operators.rollup import (dd_rows_to_sketch,
                                                    dd_sketch_from_points,
                                                    dd_sketch_quantiles,
                                                    dd_sketch_rows)

    schema = spark.read.parquet(events_dir).schema
    stream = (spark.readStream.schema(schema)
              .option('maxFilesPerTrigger', 2).parquet(events_dir))
    rows = dd_sketch_rows(watermarked(stream, 'ts', '30 minutes'), keys=['user_id'],
                          interval='1 hour')
    q = (rows.writeStream.outputMode('complete').format('memory')
         .queryName('dd_rows_stream').trigger(availableNow=True).start())
    q.awaitTermination(120)
    assembled = dd_rows_to_sketch(spark.sql('SELECT * FROM dd_rows_stream'),
                                  ['user_id'])
    got = (dd_sketch_quantiles(assembled, ['user_id'])
           .orderBy('user_id', 'bucket_start').toPandas().reset_index(drop=True))

    raw = spark.read.parquet(events_dir) \
        .withColumn('ts', F.col('ts').cast('timestamp'))
    exp = (dd_sketch_quantiles(dd_sketch_from_points(raw, ['user_id'],
                                                     interval='1 hour'),
                               ['user_id'])
           .orderBy('user_id', 'bucket_start').toPandas().reset_index(drop=True))
    assert len(got) == len(exp) > 0
    assert got.equals(exp)


def test_streaming_sax_frames_finalize_to_batch_tier(spark, events_dir):
    """Streaming SAX frame rows (one stateful agg), symbolized by the SAME
    batch finalize view, bit-match the batch symbolic tier."""
    from changepoynt_spark.operators.rollup import (sax_finalize, sax_frames,
                                                    sax_rollup)

    schema = spark.read.parquet(events_dir).schema
    stream = (spark.readStream.schema(schema)
              .option('maxFilesPerTrigger', 2).parquet(events_dir))
    frames = sax_frames(watermarked(stream, 'ts', '30 minutes'), keys=['user_id'],
                        interval='1 hour')
    q = (frames.writeStream.outputMode('complete').format('memory')
         .queryName('sax_frames_stream').trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = (sax_finalize(spark.sql('SELECT * FROM sax_frames_stream'),
                        ['user_id'], alphabet=4)
           .orderBy('user_id', 'frame_start').toPandas().reset_index(drop=True))

    raw = spark.read.parquet(events_dir) \
        .withColumn('ts', F.col('ts').cast('timestamp'))
    exp = (sax_rollup(raw, ['user_id'], interval='1 hour', alphabet=4)
           .orderBy('user_id', 'frame_start').toPandas().reset_index(drop=True))
    assert len(got) == len(exp) > 0
    assert got.equals(exp)


@pytest.mark.parametrize('method', ['locf', 'linear', 'null'])
def test_streaming_gap_fill_matches_batch(spark, events_dir, tmp_path, method):
    """Closed-bucket tier (append mode, out-of-order input files, watermark
    drops late rows) relayed to parquet, then gap-filled two ways: the batch
    segment-form window operator vs the stateful streaming recurrence fed one
    file per micro-batch.  Row-for-row equal; linear fills BIT-identical."""
    import pandas as pd

    from changepoynt_spark.operators.rollup import gap_fill
    from changepoynt_spark.streaming.rollup_stream import streaming_gap_fill

    relay = str(tmp_path / f'tier_relay_{method}')
    ckpt = str(tmp_path / f'tier_ckpt_{method}')
    schema = spark.read.parquet(events_dir).schema
    stream = (spark.readStream.schema(schema)
              .option('maxFilesPerTrigger', 2).parquet(events_dir))
    tier = rollup_from_points(watermarked(stream, 'ts', '30 minutes'), keys=['user_id'],
                              ts_col='ts', value_col='value', interval='1 hour')
    q = (tier.selectExpr('user_id', 'bucket_start',
                         'CAST(avg_value AS DOUBLE) AS avg_value',
                         'CAST(sum_value AS DOUBLE) AS sum_value')
         .writeStream.outputMode('append').format('parquet')
         .option('path', relay).option('checkpointLocation', ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    tier_df = spark.read.parquet(relay)
    assert tier_df.count() > 0

    cols = ['avg_value', 'sum_value']
    exp = (gap_fill(tier_df, ['user_id'], value_cols=cols,
                    interval_seconds=3600, method=method)
           .toPandas().sort_values(['user_id', 'bucket_start'])
           .reset_index(drop=True))
    assert exp['is_gap'].any(), 'fixture produced no gaps — test is vacuous'

    # The operator's input contract is the upstream append stream's per-key
    # bucket monotonicity.  A parquet re-read with maxFilesPerTrigger picks
    # files by (mod-time, path), which does NOT reproduce emission order, so
    # relay the tier into sequentially-written time-chunk files: one file per
    # chunk -> four micro-batches arriving in event-time order, state carried
    # across all of them.
    ordered = str(tmp_path / f'tier_ordered_{method}')
    lo, hi = tier_df.selectExpr('min(bucket_start)', 'max(bucket_start)').first()
    edges = pd.date_range(lo, hi, periods=5)
    for i in range(4):
        chunk = tier_df.filter(
            (F.col('bucket_start') >= F.lit(edges[i])) &
            (F.col('bucket_start') <= F.lit(hi) if i == 3
             else F.col('bucket_start') < F.lit(edges[i + 1])))
        chunk.coalesce(1).write.mode('append').parquet(ordered)

    gstream = (spark.readStream.schema(tier_df.schema)
               .option('maxFilesPerTrigger', 1).parquet(ordered))
    filled = streaming_gap_fill(gstream, ['user_id'], value_cols=cols,
                                interval_seconds=3600, method=method)
    name = f'gapfill_stream_{method}'
    q = (filled.writeStream.outputMode('append').format('memory')
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = (spark.sql(f'SELECT * FROM {name}').toPandas()
           .sort_values(['user_id', 'bucket_start']).reset_index(drop=True))

    assert len(got) == len(exp)
    assert (got['user_id'].to_numpy() == exp['user_id'].to_numpy()).all()
    assert (got['bucket_start'].to_numpy() == exp['bucket_start'].to_numpy()).all()
    assert (got['is_gap'].to_numpy() == exp['is_gap'].to_numpy()).all()
    for c in cols:
        g, e = got[c], exp[c].astype('float64')
        assert (g.isna().to_numpy() == e.isna().to_numpy()).all(), c
        # BIT-identical (same IEEE op order as the batch window expression)
        assert np.array_equal(g.dropna().to_numpy(), e.dropna().to_numpy()), c


def test_streaming_heavy_hitters_superset_and_exact_recount(spark, tmp_path):
    """Bounded-memory streaming Misra-Gries: after the stream drains, every
    (N_group/(candidate_k+1))-heavy item survives in its salt group's state
    (pigeonhole — under ANY micro-batch split), the state never exceeds the
    4*candidate_k cap, and the exact recount over the streamed candidates
    equals the batch heavy_hitters top-k."""
    import os
    import pandas as pd
    from changepoynt_spark.operators.frequent import heavy_hitters
    from changepoynt_spark.streaming.frequent_stream import (
        recount_candidates, streaming_heavy_hitter_state)

    rng = __import__('numpy').random.default_rng(11)
    # long-tail vocabulary + two planted heavy items spread across batches
    batches = []
    for i in range(4):
        tail = [f'w{int(x)}' for x in rng.integers(0, 400, size=800)]
        batches.append(pd.DataFrame({'item': tail + ['HH'] * 120 + ['H2'] * 60}))
    src = str(tmp_path / 'items')
    os.makedirs(src)
    for i, b in enumerate(batches):
        spark.createDataFrame(b).coalesce(1).write.parquet(f'{src}/batch={i}')
    schema = spark.read.parquet(f'{src}/batch=0').schema
    stream = (spark.readStream.schema(schema).option('maxFilesPerTrigger', 1)
              .parquet(f'{src}/batch=*'))

    ck, salt_n = 8, 4
    st = streaming_heavy_hitter_state(stream, 'item', candidate_k=ck,
                                      salt_n=salt_n)
    q = (st.writeStream.outputMode('update').format('memory')
         .queryName('hh_stream').trigger(availableNow=True).start())
    q.awaitTermination(180)
    emitted = spark.sql('SELECT * FROM hh_stream').toPandas()
    final = (emitted.sort_values('version')
             .groupby('salt').apply(
                 lambda g: g[g['version'] == g['version'].max()],
                 include_groups=False)
             .reset_index(level='salt').reset_index(drop=True))
    # bounded state per group
    assert final.groupby('salt').size().max() <= 4 * ck

    batch_df = spark.read.parquet(f'{src}/batch=*')
    from pyspark.sql import functions as F
    salted = batch_df.select(
        F.pmod(F.xxhash64('item'), F.lit(salt_n)).cast('int').alias('salt'),
        'item')
    gcounts = salted.groupBy('salt', 'item').count().toPandas()
    gtot = gcounts.groupby('salt')['count'].sum()
    cand = set(zip(final['salt'], final['item']))
    for _, r in gcounts.iterrows():
        if r['count'] > gtot[r['salt']] / (ck + 1):
            assert (r['salt'], r['item']) in cand, \
                f"heavy item {r['item']} missing from group {r['salt']}"

    # exact recount over streamed candidates == batch operator's top-k
    # WITHIN the guaranteed region: the MG pigeonhole only promises items
    # heavier than N_group/(candidate_k+1), so equality is asserted for the
    # top-k prefix above the loosest group bound (planted HH/H2 qualify by
    # construction); tail items below the bound may legitimately differ
    cands_df = spark.createDataFrame(final[['item']].drop_duplicates())
    got = recount_candidates(batch_df, 'item', cands_df, k=5).toPandas()
    exp = heavy_hitters(batch_df, 'item', k=5, candidate_k=256).toPandas()
    bound = float(gtot.max()) / (ck + 1)
    n_guar = int((exp['cnt'] > bound).sum())
    assert n_guar >= 2            # the planted items are above the bound
    assert got['item'].tolist()[:n_guar] == exp['item'].tolist()[:n_guar]
    assert got['cnt'].tolist()[:n_guar] == exp['cnt'].tolist()[:n_guar]
    assert got['item'].iloc[0] == 'HH' and got['item'].iloc[1] == 'H2'


def test_stream_fed_tier_realtime_read_matches_batch_refresh(spark, sf_dir,
                                                             tmp_path):
    """r7: the streaming 1m rollup feeds the SAME tier table a batch
    ContinuousAggregate refresh would — foreachBatch appends PARTIAL-form
    closed buckets via IcebergishTable.append with the watermark metadata.
    read_realtime_stream (tier + raw tail past the event-time frontier)
    must bit-match the batch-refreshed tier on the same input; a replayed
    micro-batch must not double-append (restart exactly-once); a later
    batch refresh takes over with a full recompute."""
    import pandas as pd
    from changepoynt_spark.sources.continuous import ContinuousAggregate
    from changepoynt_spark.sources.tables import IcebergishTable
    from changepoynt_spark.operators.rollup import rollup_partial

    ev = (spark.read.parquet(f'{sf_dir}/events.parquet')
          .select('user_id', 'ts', 'value'))
    raw = IcebergishTable(str(tmp_path / 'raw'))
    halves = [ev.filter(F.pmod('user_id', F.lit(2)) == i) for i in (0, 1)]
    for h in halves:
        raw.append(h, partition_by=())

    # batch-refreshed twin on the same rows
    ca_batch = ContinuousAggregate(raw, str(tmp_path / 'tb'), ['user_id'],
                                   interval='1 hour', partition_by=())
    ca_batch.refresh(spark)

    # stream-fed tier: file stream over the raw table's snapshot dirs
    ca = ContinuousAggregate(raw, str(tmp_path / 'ts'), ['user_id'],
                             interval='1 hour', partition_by=())
    schema = ev.schema
    src_glob = os.path.join(raw.data_dir, 'snap-*')
    ckpt = str(tmp_path / 'ckpt')

    def run_once():
        stream = (spark.readStream.schema(schema)
                  .option('maxFilesPerTrigger', 3).parquet(src_glob))
        tier = rollup_partial(watermarked(stream, 'ts', '30 minutes'),
                              keys=['user_id'], interval='1 hour')
        q = (tier.writeStream.outputMode('append')
             .foreachBatch(ca.stream_sink())
             .option('checkpointLocation', ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    run_once()
    n_snaps = ca.tier.current_snapshot_id()
    assert n_snaps >= 0
    assert ca.rollup_watermark() is not None       # watermark metadata rode along

    # realtime view == the batch-refreshed tier, bit-for-bit
    cols = ['user_id', 'bucket_start', 'cnt_points', 'sum_value',
            'min_value', 'max_value', 'first_value', 'last_value',
            'avg_value']
    a = (ca.read_realtime_stream(spark).select(cols).toPandas()
         .sort_values(['user_id', 'bucket_start']).reset_index(drop=True))
    b = (ca_batch.read(spark).select(cols).toPandas()
         .sort_values(['user_id', 'bucket_start']).reset_index(drop=True))
    assert len(a) == len(b) > 0
    assert a.astype(str).equals(b.astype(str))
    # the stream actually materialized buckets (not everything on-the-fly)
    assert ca.read(spark).count() > 0

    # restart from the same checkpoint with no new input: zero new snapshots
    run_once()
    assert ca.tier.current_snapshot_id() == n_snaps
    # simulated crash-replay of an old micro-batch id: skipped
    replay = ca._partial(ev.limit(50))
    ca.stream_sink()(replay, 0)
    assert ca.tier.current_snapshot_id() == n_snaps

    # new raw data flows through on the next trigger and realtime stays exact
    late = ev.withColumn('ts', F.col('ts') + F.expr('INTERVAL 40 DAYS'))
    raw.append(late, partition_by=())
    run_once()
    ca_batch.refresh(spark)
    a2 = (ca.read_realtime_stream(spark).select(cols).toPandas()
          .sort_values(['user_id', 'bucket_start']).reset_index(drop=True))
    b2 = (ca_batch.read(spark).select(cols).toPandas()
          .sort_values(['user_id', 'bucket_start']).reset_index(drop=True))
    assert len(a2) == len(b2) == 2 * len(a)
    assert a2.astype(str).equals(b2.astype(str))

    # batch refresh TAKES OVER a stream-fed tier: full recompute, still exact
    rep = ca.refresh(spark)
    assert rep['mode'] == 'full'
    a3 = (ca.read(spark).select(cols).toPandas()
          .sort_values(['user_id', 'bucket_start']).reset_index(drop=True))
    assert a3.astype(str).equals(b2.astype(str))


def test_stream_read_tolerates_raw_maintenance(spark, sf_dir, tmp_path):
    """ADVICE r7 (medium): the raw glob re-ingested maintenance rewrites —
    a raw-table compact() mid-stream rewrote all live rows into a new snap
    dir the file stream counted AGAIN (double-counting the watermark-window
    tail into the tier), and a MoR delete's key-tuple files flowed in as
    null-rows.  stream_read filters to content snapshots via the snapshot
    manifests: with compact + delete_keys + expire running mid-stream, the
    realtime view must still equal the batch rollup exactly, and pure-
    maintenance triggers must add NO tier snapshots."""
    import datetime

    from changepoynt_spark.operators.rollup import rollup_from_points
    from changepoynt_spark.sources.continuous import ContinuousAggregate
    from changepoynt_spark.sources.tables import IcebergishTable

    ev = (spark.read.parquet(f'{sf_dir}/events.parquet')
          .select('user_id', 'ts', 'value').cache())
    raw = IcebergishTable(str(tmp_path / 'raw'))
    raw.append(ev, partition_by=())

    ca = ContinuousAggregate(raw, str(tmp_path / 'tier'), ['user_id'],
                             interval='1 hour', partition_by=())
    ckpt = str(tmp_path / 'ckpt')

    def run_once():
        from changepoynt_spark.operators.rollup import rollup_partial
        stream = raw.stream_read(spark, schema=ev.schema)
        tier = rollup_partial(watermarked(stream, 'ts', '30 minutes'),
                              keys=['user_id'], interval='1 hour')
        q = (tier.writeStream.outputMode('append')
             .foreachBatch(ca.stream_sink())
             .option('checkpointLocation', ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    run_once()
    # mid-stream maintenance: compact rewrites ALL live rows into a new
    # snap dir.  The rewritten rows inside the watermark window would
    # re-aggregate into still-open buckets if the stream ingested them —
    # the filtered stream must not.
    raw.compact(spark)
    late = ev.withColumn('ts', F.col('ts') + F.expr('INTERVAL 40 DAYS'))
    raw.append(late, partition_by=())
    run_once()

    cols = ['user_id', 'bucket_start', 'cnt_points', 'sum_value']
    got = (ca.read_realtime_stream(spark).select(cols).toPandas()
           .sort_values(['user_id', 'bucket_start']).reset_index(drop=True))
    exp = (rollup_from_points(ev.unionByName(late), ['user_id'], ts_col='ts',
                              value_col='value', interval='1 hour')
           .select(cols).toPandas()
           .sort_values(['user_id', 'bucket_start']).reset_index(drop=True))
    _cmp_rollup(got, exp, cols)

    # pure maintenance commits (MoR delete key-files, expire rewrite of the
    # straddling snapshot) must contribute ZERO rows: the filtered stream
    # sees only non-content snapshots and the sink skips the empty batch
    some_user = int(ev.first()['user_id'])
    raw.delete_keys(spark.createDataFrame([(some_user,)], 'user_id bigint'),
                    ['user_id'])
    cut = ev.agg(F.min('ts')).first()[0]
    raw.expire_before(spark, cut + datetime.timedelta(hours=1))
    tier_before = (ca.read(spark).select(cols).toPandas()
                   .sort_values(['user_id', 'bucket_start'])
                   .reset_index(drop=True))
    n_before = ca.tier.current_snapshot_id()
    run_once()
    assert ca.tier.current_snapshot_id() == n_before
    tier_after = (ca.read(spark).select(cols).toPandas()
                  .sort_values(['user_id', 'bucket_start'])
                  .reset_index(drop=True))
    _cmp_rollup(tier_after, tier_before, cols)
    ev.unpersist()


def _cmp_rollup(got, exp, cols):
    assert len(got) == len(exp) > 0
    for c in cols:
        a, b = got[c], exp[c]
        if c == 'sum_value':                   # decimal string scale differs
            assert np.allclose(a.astype(float), b.astype(float),
                               rtol=0, atol=1e-9)
            continue
        assert a.astype(str).equals(b.astype(str)), c


def test_stream_sink_auto_compacts_and_batch_ids_survive(spark, sf_dir,
                                                         tmp_path):
    """ADVICE r7: the stream path never auto-compacted, so live-snapshot
    count (and per-batch lineage walks) grew with committed batches.  The
    sink now folds the pile past auto_compact_snapshots, exactly-once
    replay still holds across compaction (ids live on the walked lineage,
    amortized by the monotone cache), and reads stay exact."""
    from changepoynt_spark.operators.rollup import rollup_from_points
    from changepoynt_spark.sources.continuous import ContinuousAggregate
    from changepoynt_spark.sources.tables import IcebergishTable

    ev = (spark.read.parquet(f'{sf_dir}/events.parquet')
          .select('user_id', 'ts', 'value').limit(2000).cache())
    raw = IcebergishTable(str(tmp_path / 'raw'))
    raw.append(ev, partition_by=())
    ca = ContinuousAggregate(raw, str(tmp_path / 'tier'), ['user_id'],
                             interval='1 hour', partition_by=(),
                             auto_compact_snapshots=3)
    sink = ca.stream_sink()
    # 8 hand-driven micro-batches (disjoint slices in PARTIAL form)
    for i in range(8):
        part = ca._partial(ev.filter(F.pmod('user_id', F.lit(8)) == i))
        sink(part, i)
    live = ca.tier._live_snapshots(ca.tier.current_snapshot_id())
    assert len(live) <= 4          # bounded by policy (K=3 checked post-append)
    assert ca._max_stream_batch_id() == 7
    # replay of every already-committed id is a no-op (exactly-once across
    # the compactions)
    tip = ca.tier.current_snapshot_id()
    for i in range(8):
        sink(ca._partial(ev.limit(50)), i)
    assert ca.tier.current_snapshot_id() == tip
    # and the merged tier content is exact
    cols = ['user_id', 'bucket_start', 'cnt_points', 'sum_value']
    got = (ca.read(spark).select(cols).toPandas()
           .sort_values(['user_id', 'bucket_start']).reset_index(drop=True))
    exp = (rollup_from_points(ev, ['user_id'], ts_col='ts',
                              value_col='value', interval='1 hour')
           .select(cols).toPandas()
           .sort_values(['user_id', 'bucket_start']).reset_index(drop=True))
    _cmp_rollup(got, exp, cols)
    ev.unpersist()


def test_streaming_hierarchical_continuous_aggregates(spark, sf_dir,
                                                      tmp_path):
    """r8: raw -> 1m tier -> 1h tier as TWO chained streams — the 1h level
    re-buckets the 1m tier's PARTIAL snapshots (rebucket_partials over the
    watermarked IcebergishTable.stream_read) into the same CA substrate via the
    same stream_sink.  The finalized 1h view must equal the direct batch
    1h rollup over raw exactly, a mid-chain 1m tier-compact must be
    invisible to the 1h stream (manifest filter), and restart replays at
    both levels must be no-ops."""
    import jobs.tier_stream_job as tier_job
    from changepoynt_spark.operators.rollup import rollup_from_points
    from changepoynt_spark.sources.continuous import ContinuousAggregate
    from changepoynt_spark.sources.tables import IcebergishTable

    ev = (spark.read.parquet(f'{sf_dir}/events.parquet')
          .select('user_id', 'ts', 'value').cache())
    raw = IcebergishTable(str(tmp_path / 'raw'))
    raw.append(ev, partition_by=())

    t1m, t1h = str(tmp_path / 't1m'), str(tmp_path / 't1h')
    args_1m = ['--raw', str(tmp_path / 'raw'), '--tier', t1m,
               '--checkpoint', str(tmp_path / 'ck1m'), '--keys', 'user_id',
               '--interval', '1 minute', '--watermark-delay', '30 minutes',
               '--available-now']
    args_1h = ['--raw', t1m, '--tier', t1h,
               '--checkpoint', str(tmp_path / 'ck1h'), '--keys', 'user_id',
               '--interval', '1 hour', '--watermark-delay', '2 minutes',
               '--source-kind', 'partial', '--available-now']
    tier_job.main(args_1m, spark=spark)
    tier_job.main(args_1h, spark=spark)

    ca_1m = ContinuousAggregate(raw, t1m, ['user_id'], interval='1 minute',
                                partition_by=())
    ca_1h = ContinuousAggregate(ca_1m.tier, t1h, ['user_id'],
                                ts_col='bucket_start', interval='1 hour',
                                partition_by=(), source_kind='partial')
    # the 1h view is exact over everything the 1m stream has MATERIALIZED:
    # raw points still inside the 1m stream's open tail (ts past its
    # event-time frontier) are not yet visible at level 2 — the expected
    # rollup is raw cut at the 1m frontier (frontier + one 1m interval)
    import pandas as pd

    def exp_until_1m_frontier(points):
        cut = ca_1m.rollup_watermark() + pd.Timedelta('1 minute')
        return rollup_from_points(
            points.filter(F.col('ts') < F.lit(cut)), ['user_id'],
            ts_col='ts', value_col='value', interval='1 hour')

    cols = ['user_id', 'bucket_start', 'cnt_points', 'sum_value']
    got = (ca_1h.read_realtime_stream(spark).select(cols).toPandas()
           .sort_values(['user_id', 'bucket_start']).reset_index(drop=True))
    exp = (exp_until_1m_frontier(ev)
           .select(cols).toPandas()
           .sort_values(['user_id', 'bucket_start']).reset_index(drop=True))
    _cmp_rollup(got, exp, cols)

    # mid-chain maintenance on the FINE tier + late raw data: the 1h
    # stream must pick up only the new 1m content snapshots
    ca_1m.compact(spark)
    late = ev.withColumn('ts', F.col('ts') + F.expr('INTERVAL 40 DAYS'))
    raw.append(late, partition_by=())
    tier_job.main(args_1m, spark=spark)
    tier_job.main(args_1h, spark=spark)
    got2 = (ca_1h.read_realtime_stream(spark).select(cols).toPandas()
            .sort_values(['user_id', 'bucket_start']).reset_index(drop=True))
    exp2 = (exp_until_1m_frontier(ev.unionByName(late))
            .select(cols).toPandas()
            .sort_values(['user_id', 'bucket_start']).reset_index(drop=True))
    _cmp_rollup(got2, exp2, cols)
    assert len(got2) > len(got)        # the late data actually flowed through

    # restart with no new input: zero new snapshots at either level
    n1m, n1h = (ca_1m.tier.current_snapshot_id(),
                ca_1h.tier.current_snapshot_id())
    tier_job.main(args_1m, spark=spark)
    tier_job.main(args_1h, spark=spark)
    assert (ca_1m.tier.current_snapshot_id(),
            ca_1h.tier.current_snapshot_id()) == (n1m, n1h)
    ev.unpersist()


def test_state_free_tokens_ingest_stream(spark, tmp_path):
    """r8: STATE-FREE streaming ingest (stream_sink_raw /
    tier_stream_job --mode partials-per-batch --transform tokens-points).
    The pre-tokenized sequence table's position timestamps all share one
    fixed window, so under a watermarked aggregation every batch after the
    first is 'late' and silently dropped — the state-free mode rolls each
    micro-batch up batch-locally and lets the merge-on-read monoid carry
    exactness: two same-window appends (plus a mid-stream raw compact)
    must read back as exactly the one-shot rollup, with replay a no-op."""
    import jobs.tier_stream_job as tier_job
    from changepoynt_spark.operators.rollup import rollup_from_points
    from changepoynt_spark.operators.scoring import tokens_to_points
    from changepoynt_spark.sources.continuous import ContinuousAggregate
    from changepoynt_spark.sources.datagen import tokens_table_distributed
    from changepoynt_spark.sources.tables import IcebergishTable

    seqs = tokens_table_distributed(spark, n_docs=40, max_len=2000,
                                    partitions=4).cache()
    raw = IcebergishTable(str(tmp_path / 'raw'))
    halves = [seqs.filter(F.pmod(F.xxhash64('doc_id'), F.lit(2)) == i)
              for i in (0, 1)]
    raw.append(halves[0], partition_by=())

    args = ['--raw', str(tmp_path / 'raw'), '--tier', str(tmp_path / 'tier'),
            '--checkpoint', str(tmp_path / 'ckpt'), '--keys', 'source',
            '--interval', '1 minute', '--mode', 'partials-per-batch',
            '--transform', 'tokens-points', '--available-now']
    tier_job.main(args, spark=spark)
    raw.compact(spark)                      # maintenance mid-stream
    raw.append(halves[1], partition_by=())  # SAME ts window: would be
    tier_job.main(args, spark=spark)        # late-dropped under a watermark

    ca = ContinuousAggregate(raw, str(tmp_path / 'tier'), ['source'],
                             interval='1 minute', partition_by=(),
                             transform=lambda df: tokens_to_points(
                                 df, keys=('source',)))
    cols = ['source', 'bucket_start', 'cnt_points', 'sum_value']
    got = (ca.read(spark).select(cols).toPandas()
           .sort_values(['source', 'bucket_start']).reset_index(drop=True))
    exp = (rollup_from_points(tokens_to_points(seqs, keys=('source',)),
                              ['source'], ts_col='ts', value_col='value',
                              interval='1 minute')
           .select(cols).toPandas()
           .sort_values(['source', 'bucket_start']).reset_index(drop=True))
    _cmp_rollup(got, exp, cols)

    # replay: every committed batch id is skipped (exactly-once)
    tip = ca.tier.current_snapshot_id()
    sink = ca.stream_sink_raw()
    for bid in range(ca._max_stream_batch_id() + 1):
        sink(halves[0].limit(2), bid)
    assert ca.tier.current_snapshot_id() == tip

    # and a batch refresh takes the state-free tier over cleanly
    assert ca.refresh(spark)['mode'] == 'full'
    got2 = (ca.read(spark).select(cols).toPandas()
            .sort_values(['source', 'bucket_start']).reset_index(drop=True))
    _cmp_rollup(got2, exp, cols)
    seqs.unpersist()


def _drain(spark, table, tmp_path):
    """One availableNow run of ``table.stream_read`` into a parquet sink
    (restartable from its checkpoint); returns everything the sink holds."""
    out = str(tmp_path / 'sink')
    q = (table.stream_read(spark).writeStream.format('parquet')
         .option('path', out)
         .option('checkpointLocation', str(tmp_path / 'sink_ckpt'))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    return spark.read.parquet(out)


def _same_rows(got, exp):
    got = got.select(*exp.columns)
    return got.exceptAll(exp).count() == 0 == exp.exceptAll(got).count()


def test_stream_read_partitioned_table_keeps_partition_types(spark, tmp_path):
    """A hidden-partitioned table streams (the file stream failed its first
    micro-batch on one), and partition columns keep their written type:
    '007' stays the string '007'."""
    from changepoynt_spark.sources.tables import IcebergishTable

    t = IcebergishTable(str(tmp_path / 'raw'))

    def rows(lo, hi):
        return spark.createDataFrame(
            [(i, '007' if i % 3 else '10', float(i)) for i in range(lo, hi)],
            'id bigint, source string, value double')

    t.append(rows(0, 60))                         # partition_by=('source',)
    got = _drain(spark, t, tmp_path)
    assert dict(got.dtypes)['source'] == 'string'
    assert _same_rows(got, t.read(spark))
    t.append(rows(60, 100))
    got = _drain(spark, t, tmp_path)
    assert got.count() == 100
    assert sorted(r[0] for r in got.select('source').distinct().collect()) \
        == ['007', '10']
    assert _same_rows(got, t.read(spark))


def test_stream_read_ingests_a_staged_snapshot_only_after_publish(spark,
                                                                  tmp_path):
    from changepoynt_spark.sources.tables import IcebergishTable

    t = IcebergishTable(str(tmp_path / 'raw'))
    t.append(spark.range(100).withColumn('value', F.col('id') * 0.5),
             partition_by=())
    staged = t.stage(spark.range(100, 150).withColumn('value', F.lit(1.0)),
                     partition_by=())
    assert _drain(spark, t, tmp_path).count() == 100
    t.publish(staged['snapshot_id'])
    got = _drain(spark, t, tmp_path)
    assert got.count() == 150
    assert _same_rows(got, t.read(spark))


def test_stream_read_never_ingests_a_crashed_append(spark, tmp_path):
    """Data files with no snapshot json (an append that crashed before its
    commit) are not the table's: the stream never sees them."""
    from changepoynt_spark.sources.tables import IcebergishTable

    t = IcebergishTable(str(tmp_path / 'raw'))
    t.append(spark.range(100), partition_by=())
    spark.range(1000, 1030).write.parquet(os.path.join(t.data_dir, 'snap-1'))
    assert _drain(spark, t, tmp_path).count() == 100
    t.append(spark.range(100, 120), partition_by=())
    got = _drain(spark, t, tmp_path)
    assert got.count() == 120
    assert _same_rows(got, t.read(spark))


def test_stream_read_raises_on_a_rollback_under_the_stream(spark, tmp_path):
    """Rows a running stream already emitted stop being the table's after
    ``rollback``: the next micro-batch fails loudly instead of streaming on
    over a history the table no longer has."""
    from pyspark.errors import StreamingQueryException

    from changepoynt_spark.sources.tables import IcebergishTable

    t = IcebergishTable(str(tmp_path / 'raw'))
    t.append(spark.range(100), partition_by=())
    t.append(spark.range(100, 200), partition_by=())
    out = str(tmp_path / 'sink')
    q = (t.stream_read(spark).writeStream.format('parquet')
         .option('path', out).option('checkpointLocation', str(tmp_path / 'ck'))
         .trigger(processingTime='100 milliseconds').start())
    try:
        q.processAllAvailable()
        assert spark.read.parquet(out).count() == 200
        t.rollback(0)
        with pytest.raises(StreamingQueryException, match='not an ancestor'):
            q.awaitTermination(60)
    finally:
        q.stop()
