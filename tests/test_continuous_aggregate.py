"""Continuous aggregate (snapshot-driven incremental tier refresh):
incremental refreshes over an append-only raw table must equal a one-shot
rollup of everything; non-append-only history must be detected and fall
back to a full recompute; tier compaction and repeated refreshes must be
exactly idempotent."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from changepoynt_spark.operators import rollup
from changepoynt_spark.sources.continuous import ContinuousAggregate
from changepoynt_spark.sources.tables import IcebergishTable

KEYS = ['user_id']


@pytest.fixture(scope='module')
def events(spark, sf_dir):
    df = spark.read.parquet(f'{sf_dir}/events.parquet') \
              .select('user_id', 'ts', 'value')
    df.cache().count()
    return df


def _batches(events, n=3):
    """Deterministic disjoint slices of the events fixture (hash split —
    simulates micro-batch arrival; batch 2 is 'late data' for buckets the
    earlier batches already touched)."""
    b = F.pmod(F.xxhash64('user_id', 'ts'), F.lit(n))
    return [events.filter(b == i) for i in range(n)]


def _tier_pdf(df):
    pdf = df.toPandas().sort_values(KEYS + ['bucket_start']).reset_index(drop=True)
    return pdf


def _assert_tier_equal(a, b):
    a, b = _tier_pdf(a), _tier_pdf(b)
    assert len(a) == len(b) > 0
    assert list(a['user_id']) == list(b['user_id'])
    assert list(a['bucket_start']) == list(b['bucket_start'])
    for col in rollup.AGG_COLS:
        np.testing.assert_allclose(a[col].to_numpy(dtype=float),
                                   b[col].to_numpy(dtype=float),
                                   rtol=0, atol=0, err_msg=col)


def test_incremental_refresh_equals_one_shot(spark, events, tmp_path):
    raw = IcebergishTable(str(tmp_path / 'raw'))
    ca = ContinuousAggregate(raw, str(tmp_path / 'tier'), KEYS,
                             interval='1 hour', partition_by=())
    batches = _batches(events)

    # refresh before any data: noop
    assert ca.refresh(spark)['mode'] == 'noop'

    reports = []
    for b in batches:
        raw.append(b, partition_by=())
        reports.append(ca.refresh(spark))
    assert [r['mode'] for r in reports] == ['incremental'] * 3
    assert ca.refreshed_through() == raw.current_snapshot_id() == 2
    # three merge-on-read snapshots in the tier, none invalidated
    assert len(ca.tier._live_snapshots(ca.tier.current_snapshot_id())) == 3

    expected = rollup.rollup_from_points(events, KEYS, interval='1 hour', exact_sum=True)
    _assert_tier_equal(ca.read(spark), expected)

    # refresh with nothing new: noop, tier unchanged
    before = ca.tier.current_snapshot_id()
    assert ca.refresh(spark)['mode'] == 'noop'
    assert ca.tier.current_snapshot_id() == before

    # watermark properties recorded per refresh snapshot
    props = ca.tier.snapshot(0)['manifest']['properties']
    assert props['operation'] == 'refresh-incremental'
    assert props['refreshed_through_snapshot'] == 0
    assert props['refresh_from_snapshot'] == -1
    assert props['points_rolled'] == batches[0].count()


def test_tier_compact_preserves_results_and_watermark(spark, events, tmp_path):
    raw = IcebergishTable(str(tmp_path / 'raw'))
    ca = ContinuousAggregate(raw, str(tmp_path / 'tier'), KEYS,
                             interval='1 hour', partition_by=())
    b0, b1, b2 = _batches(events)
    raw.append(b0, partition_by=())
    ca.refresh(spark)
    raw.append(b1, partition_by=())
    ca.refresh(spark)

    res = ca.compact(spark)
    assert res['replaced'] == 2
    live = ca.tier._live_snapshots(ca.tier.current_snapshot_id())
    assert live == [res['snapshot_id']]
    assert ca.refreshed_through() == 1  # compaction preserves the watermark

    # compaction is invisible to readers AND to later refreshes
    raw.append(b2, partition_by=())
    assert ca.refresh(spark)['mode'] == 'incremental'
    expected = rollup.rollup_from_points(events, KEYS, interval='1 hour', exact_sum=True)
    _assert_tier_equal(ca.read(spark), expected)


def test_raw_compaction_midrange_forces_full_recompute(spark, events, tmp_path):
    raw = IcebergishTable(str(tmp_path / 'raw'))
    ca = ContinuousAggregate(raw, str(tmp_path / 'tier'), KEYS,
                             interval='1 hour', partition_by=())
    b0, b1, b2 = _batches(events)
    raw.append(b0, partition_by=())
    ca.refresh(spark)
    raw.append(b1, partition_by=())
    # raw compaction rewrites files the tier has NOT yet seen -> the range
    # refreshed_through..current is not append-only
    raw.compact(spark)
    raw.append(b2, partition_by=())

    rep = ca.refresh(spark)
    assert rep['mode'] == 'full'
    # the full recompute invalidated the earlier incremental snapshot
    assert len(ca.tier._live_snapshots(ca.tier.current_snapshot_id())) == 1
    expected = rollup.rollup_from_points(events, KEYS, interval='1 hour', exact_sum=True)
    _assert_tier_equal(ca.read(spark), expected)

    # and the history is append-only again afterwards
    extra = events.limit(500)
    raw.append(extra, partition_by=())
    assert ca.refresh(spark)['mode'] == 'incremental'
    _assert_tier_equal(
        ca.read(spark),
        rollup.rollup_from_points(events.unionByName(extra), KEYS,
                                  interval='1 hour', exact_sum=True))


def test_raw_compaction_before_watermark_is_fine(spark, events, tmp_path):
    """A compaction whose invalidations are already part of the refreshed
    view must NOT force a recompute (read_delta's documented contract)."""
    raw = IcebergishTable(str(tmp_path / 'raw'))
    ca = ContinuousAggregate(raw, str(tmp_path / 'tier'), KEYS,
                             interval='1 hour', partition_by=())
    b0, b1, b2 = _batches(events)
    raw.append(b0, partition_by=())
    raw.append(b1, partition_by=())
    raw.compact(spark)          # compacts 0+1 BEFORE the first refresh sees them
    ca.refresh(spark)
    raw.append(b2, partition_by=())
    assert ca.refresh(spark)['mode'] == 'incremental'
    expected = rollup.rollup_from_points(events, KEYS, interval='1 hour', exact_sum=True)
    _assert_tier_equal(ca.read(spark), expected)


def test_read_delta_raises_on_inrange_invalidation(spark, events, tmp_path):
    raw = IcebergishTable(str(tmp_path / 'raw'))
    b0, b1, _ = _batches(events)
    raw.append(b0, partition_by=())
    raw.append(b1, partition_by=())
    raw.compact(spark)
    with pytest.raises(ValueError, match='not append-only'):
        raw.read_delta(spark, 0)
    # full-range delta from -1 is fine (nothing was visible 'before')
    assert raw.read_delta(spark, -1).count() == b0.count() + b1.count()


def test_reflected_raw_compaction_does_not_retrigger_refresh(spark, events, tmp_path):
    """A raw compaction that only rewrote already-reflected snapshots is
    maintenance, not data: the next refresh must stay incremental (delta
    excludes the rewrite) instead of recomputing the tier."""
    raw = IcebergishTable(str(tmp_path / 'raw'))
    ca = ContinuousAggregate(raw, str(tmp_path / 'tier'), KEYS,
                             interval='1 hour', partition_by=())
    b0, b1, b2 = _batches(events)
    raw.append(b0, partition_by=())
    raw.append(b1, partition_by=())
    ca.refresh(spark)
    raw.compact(spark)                      # rewrites ONLY reflected data
    rep = ca.refresh(spark)
    assert rep['mode'] == 'empty'           # watermark advanced, nothing new
    raw.append(b2, partition_by=())
    assert ca.refresh(spark)['mode'] == 'incremental'
    expected = rollup.rollup_from_points(events, KEYS, interval='1 hour',
                                         exact_sum=True)
    _assert_tier_equal(ca.read(spark), expected)


def test_raw_expiry_keeps_tier_history(spark, events, tmp_path):
    """Downsample-then-drop: after raw rows age out via expire_before, the
    tier still serves the FULL history and later refreshes stay
    incremental — retention never re-triggers the aggregate."""
    import datetime
    raw = IcebergishTable(str(tmp_path / 'raw'))
    ca = ContinuousAggregate(raw, str(tmp_path / 'tier'), KEYS,
                             interval='1 hour', partition_by=())
    early = events.filter(F.dayofmonth('ts') <= 20)
    late = events.filter(F.dayofmonth('ts') > 20)
    raw.append(early, partition_by=())
    ca.refresh(spark)

    cut = datetime.datetime(2024, 1, 15)
    rep = raw.expire_before(spark, cut, ts_col='ts')
    assert rep['dropped_snapshots'] or rep['rewritten_snapshots']
    assert raw.read(spark).count() < early.count()   # raw really trimmed

    assert ca.refresh(spark)['mode'] == 'empty'      # maintenance tolerated
    raw.append(late, partition_by=())
    assert ca.refresh(spark)['mode'] == 'incremental'

    # the tier covers ALL history, including buckets whose raw is gone
    expected = rollup.rollup_from_points(events, KEYS, interval='1 hour',
                                         exact_sum=True)
    _assert_tier_equal(ca.read(spark), expected)


def test_expiry_folding_unreflected_data_forces_full(spark, events, tmp_path):
    """An expiry whose straddling REWRITE folded in a snapshot the tier had
    not yet seen cannot be tolerated: excluding it would lose that data, so
    refresh must detect it and recompute."""
    import datetime
    raw = IcebergishTable(str(tmp_path / 'raw'))
    ca = ContinuousAggregate(raw, str(tmp_path / 'tier'), KEYS,
                             interval='1 hour', partition_by=())
    b0, b1, _ = _batches(events)
    raw.append(b0, partition_by=())
    ca.refresh(spark)
    raw.append(b1, partition_by=())          # NOT yet reflected
    # expiry rewrite folds b0+b1 survivors together
    raw.expire_before(spark, datetime.datetime(2024, 1, 15), ts_col='ts')
    rep = ca.refresh(spark)
    assert rep['mode'] == 'full'
    expected = rollup.rollup_from_points(
        b0.unionByName(b1).filter(
            F.col('ts') >= F.lit(datetime.datetime(2024, 1, 15))),
        KEYS, interval='1 hour', exact_sum=True)
    _assert_tier_equal(ca.read(spark), expected)


def test_hierarchical_cascade_1m_tier_feeds_1h_tier(spark, events, tmp_path):
    """Hierarchical continuous aggregates: the 1h tier refreshes from the 1m
    TIER's snapshot deltas (rebucket_partials), never from raw — and both
    tiers stay exactly equal to one-shot rollups through arrivals, late
    data, and a 1m tier-compaction (tolerated maintenance downstream)."""
    raw = IcebergishTable(str(tmp_path / 'raw'))
    ca_1m = ContinuousAggregate(raw, str(tmp_path / 't1m'), KEYS,
                                interval='1 minute', partition_by=())
    ca_1h = ContinuousAggregate(ca_1m.tier, str(tmp_path / 't1h'), KEYS,
                                interval='1 hour', partition_by=(),
                                source_kind='partial')
    b0, b1, b2 = _batches(events)
    for b in (b0, b1):
        raw.append(b, partition_by=())
        assert ca_1m.refresh(spark)['mode'] == 'incremental'
        assert ca_1h.refresh(spark)['mode'] == 'incremental'

    # 1m maintenance is invisible to the 1h tier
    ca_1m.compact(spark)
    assert ca_1h.refresh(spark)['mode'] == 'empty'

    # late arrival propagates tier-to-tier
    raw.append(b2, partition_by=())
    assert ca_1m.refresh(spark)['mode'] == 'incremental'
    assert ca_1h.refresh(spark)['mode'] == 'incremental'

    exp_1m = rollup.rollup_from_points(events, KEYS, interval='1 minute',
                                       exact_sum=True)
    exp_1h = rollup.rollup_from_points(events, KEYS, interval='1 hour',
                                       exact_sum=True)
    _assert_tier_equal(ca_1m.read(spark), exp_1m)
    _assert_tier_equal(ca_1h.read(spark), exp_1h)


# -- real-time aggregate reads ------------------------------------------------

def test_realtime_read_merges_unreflected_tail(spark, events, tmp_path):
    """Tier refreshed through batch 1, batches 2-3 only appended: the
    real-time view must equal a full rollup over everything (watermark-
    straddling buckets merge exactly), while read() still shows only the
    materialized slice."""
    raw = IcebergishTable(str(tmp_path / 'raw'))
    ca = ContinuousAggregate(raw, str(tmp_path / 'tier'), KEYS,
                             interval='1 hour', partition_by=())
    b0, b1, b2 = _batches(events)
    raw.append(b0, partition_by=())
    ca.refresh(spark)
    raw.append(b1, partition_by=())
    raw.append(b2, partition_by=())

    expected = rollup.rollup_from_points(events, KEYS, interval='1 hour',
                                         exact_sum=True)
    _assert_tier_equal(ca.read_realtime(spark), expected)
    # nothing was committed by the read
    assert ca.refreshed_through() == 0
    exp_b0 = rollup.rollup_from_points(b0, KEYS, interval='1 hour',
                                       exact_sum=True)
    _assert_tier_equal(ca.read(spark), exp_b0)

    # after catching up, realtime == materialized read
    ca.refresh(spark)
    _assert_tier_equal(ca.read_realtime(spark), expected)
    _assert_tier_equal(ca.read(spark), expected)


def test_realtime_read_never_refreshed_and_fallback_on_overwrite(spark, events, tmp_path):
    raw = IcebergishTable(str(tmp_path / 'raw'))
    ca = ContinuousAggregate(raw, str(tmp_path / 'tier'), KEYS,
                             interval='1 hour', partition_by=())
    b0, b1, b2 = _batches(events)
    raw.append(b0, partition_by=())

    # never refreshed: the whole answer is computed on the fly
    exp_b0 = rollup.rollup_from_points(b0, KEYS, interval='1 hour',
                                       exact_sum=True)
    _assert_tier_equal(ca.read_realtime(spark), exp_b0)

    ca.refresh(spark)
    raw.append(b1, partition_by=())
    # a raw OVERWRITE past the watermark (delete_where rewrites files):
    # the delta is no longer append-only, realtime must fall back to a
    # full on-the-fly recompute of CURRENT raw — and commit nothing
    uid = int(b1.first()['user_id'])
    raw.delete_where(spark, [('user_id', '=', uid)])
    raw.append(b2, partition_by=())

    current = raw.read(spark)
    expected = rollup.rollup_from_points(current, KEYS, interval='1 hour',
                                         exact_sum=True)
    _assert_tier_equal(ca.read_realtime(spark), expected)
    assert ca.refreshed_through() == 0
    # the next refresh resolves it the same way (full mode)
    assert ca.refresh(spark)['mode'] == 'full'
    _assert_tier_equal(ca.read(spark), expected)


def test_realtime_read_hierarchical_partial_source(spark, events, tmp_path):
    """The 1h tier's realtime view over an un-refreshed 1m TIER delta:
    rebucket_partials is the on-the-fly leg for source_kind='partial'."""
    raw = IcebergishTable(str(tmp_path / 'raw'))
    ca_1m = ContinuousAggregate(raw, str(tmp_path / 't1m'), KEYS,
                                interval='1 minute', partition_by=())
    ca_1h = ContinuousAggregate(ca_1m.tier, str(tmp_path / 't1h'), KEYS,
                                interval='1 hour', partition_by=(),
                                source_kind='partial')
    b0, b1, b2 = _batches(events)
    raw.append(b0, partition_by=())
    ca_1m.refresh(spark)
    ca_1h.refresh(spark)
    raw.append(b1, partition_by=())
    raw.append(b2, partition_by=())
    ca_1m.refresh(spark)       # 1m is current; 1h is one refresh behind

    expected = rollup.rollup_from_points(events, KEYS, interval='1 hour',
                                         exact_sum=True)
    _assert_tier_equal(ca_1h.read_realtime(spark), expected)


# -- derived (transformed) tiers ----------------------------------------------

def test_scored_tier_incremental_equals_full(spark, tmp_path):
    """The north-star pipeline as a CONTINUOUS aggregate: token sequences
    land in snapshot appends; each refresh scores ONLY the delta docs
    (score_series is row-local: one doc -> one score array) and rolls the
    exploded score points into the tier.  Three incremental refreshes must
    equal a one-shot score+rollup of everything, and the realtime view must
    cover unreflected docs."""
    from changepoynt_spark.operators.scoring import explode_scores, score_series
    from changepoynt_spark.sources.datagen import tokens_table

    toks = tokens_table(spark, n_docs=30, seed=7, max_len=2000,
                        include_golden=False).cache()
    toks.count()

    def transform(df):
        scored = score_series(df, algorithm='moving_window',
                              params={'window_length': 20, 'method': 'mean'})
        pts = explode_scores(scored)
        return pts.select(
            'source',
            F.expr("timestampadd(SECOND, pos, TIMESTAMP '2026-01-01')").alias('ts'),
            F.col('score').alias('value'))

    raw = IcebergishTable(str(tmp_path / 'raw'))
    ca = ContinuousAggregate(raw, str(tmp_path / 'tier'), ['source'],
                             interval='1 minute', partition_by=(),
                             transform=transform)
    b = F.pmod(F.xxhash64('doc_id'), F.lit(3))
    for i in range(3):
        raw.append(toks.filter(b == i), partition_by=())
        if i < 2:
            ca.refresh(spark)

    expected = rollup.rollup_from_points(transform(toks), ['source'],
                                         interval='1 minute', exact_sum=True)

    def cmp(df):
        pdf = df.toPandas().sort_values(['source', 'bucket_start']).reset_index(drop=True)
        return pdf
    # first/last are excluded: many docs of one source share identical ts
    # positions, so the first/last-at-min/max-ts anchors are tie-ambiguous
    # across merge orders (events-style inputs have unique ts per key)
    tie_free = ['cnt_points', 'sum_value', 'min_value', 'max_value', 'avg_value']
    got_rt = cmp(ca.read_realtime(spark))
    exp = cmp(expected)
    assert len(got_rt) == len(exp) > 0
    for col in tie_free:
        np.testing.assert_allclose(got_rt[col].to_numpy(dtype=float),
                                   exp[col].to_numpy(dtype=float),
                                   rtol=0, atol=0, err_msg=col)

    ca.refresh(spark)
    got = cmp(ca.read(spark))
    for col in tie_free:
        np.testing.assert_allclose(got[col].to_numpy(dtype=float),
                                   exp[col].to_numpy(dtype=float),
                                   rtol=0, atol=0, err_msg=col)


def test_transform_rejected_on_partial_source(tmp_path):
    raw = IcebergishTable(str(tmp_path / 'raw'))
    with pytest.raises(ValueError, match='raw sources only'):
        ContinuousAggregate(raw, str(tmp_path / 'tier'), [],
                            source_kind='partial', transform=lambda df: df)


@pytest.mark.parametrize('kw, match', [
    ({'source_kind': 'bogus', 'transform': lambda df: df}, 'unknown source_kind'),
    ({'source_kind': 'bogus'}, 'unknown source_kind'),
    ({'agg_form': 'hll'}, 'requires distinct_col'),
])
def test_constructor_rejects_out_of_contract_args(tmp_path, kw, match):
    """Input checks raise ValueError, so they hold under ``python -O``."""
    raw = IcebergishTable(str(tmp_path / 'raw'))
    with pytest.raises(ValueError, match=match):
        ContinuousAggregate(raw, str(tmp_path / 'tier'), [], **kw)


# -- sketch-form tiers ---------------------------------------------------------

def test_hll_ca_incremental_equals_one_shot(spark, events, tmp_path):
    """HLL continuous aggregate: snapshot-delta refreshes + a mid-stream
    tier compaction produce BIT-identical distinct estimates to one pass
    over raw (sketch union is order-independent)."""
    raw = IcebergishTable(str(tmp_path / 'raw'))
    ca = ContinuousAggregate(raw, str(tmp_path / 'tier'), [],
                             interval='1 hour', partition_by=(),
                             agg_form='hll', distinct_col='user_id')
    for i, b in enumerate(_batches(events)):
        raw.append(b, partition_by=())
        ca.refresh(spark)
        if i == 1:
            ca.compact(spark)
    got = (ca.read(spark).toPandas()
             .sort_values('bucket_start').reset_index(drop=True))
    exp = (rollup.sketch_estimate(
               rollup.sketch_rollup(events, [], 'user_id',
                                    interval='1 hour'), [])
           .toPandas().sort_values('bucket_start').reset_index(drop=True))
    assert list(got['bucket_start']) == list(exp['bucket_start'])
    assert list(got['n_distinct_est']) == list(exp['n_distinct_est'])
    assert list(got['cnt_points']) == list(exp['cnt_points'])


def _dd_pdf(df):
    pdf = df.toPandas().sort_values('bucket_start').reset_index(drop=True)
    pdf['pos_sketch'] = pdf['pos_sketch'].map(lambda m: sorted(dict(m).items()))
    pdf['neg_sketch'] = pdf['neg_sketch'].map(lambda m: sorted(dict(m).items()))
    return pdf


def test_dd_ca_realtime_equals_one_shot(spark, events, tmp_path):
    """DD quantile-sketch continuous aggregate: two materialized refreshes
    + a realtime tail over the third append produce the integer-exact same
    histogram as sketching all raw points in one pass; hierarchical 1h->1d
    rebucket matches the direct 1d sketch."""
    raw = IcebergishTable(str(tmp_path / 'raw'))
    ca = ContinuousAggregate(raw, str(tmp_path / 't1h'), [],
                             interval='1 hour', partition_by=(),
                             agg_form='dd')
    b0, b1, b2 = _batches(events)
    for i, b in enumerate((b0, b1, b2)):
        raw.append(b, partition_by=())
        if i < 2:
            ca.refresh(spark)
    got = _dd_pdf(ca.read_realtime(spark))
    exp = _dd_pdf(rollup.dd_sketch_from_points(events, [], interval='1 hour'))
    for col in ('bucket_start', 'zero_cnt', 'pos_sketch', 'neg_sketch',
                'n_points'):
        assert list(got[col]) == list(exp[col]), col

    # hierarchical: the 1d tier refreshes from the 1h TIER's exchange rows
    ca.refresh(spark)
    ca_1d = ContinuousAggregate(ca.tier, str(tmp_path / 't1d'), [],
                                interval='1 day', partition_by=(),
                                agg_form='dd', source_kind='partial')
    ca_1d.refresh(spark)
    got_1d = _dd_pdf(ca_1d.read(spark))
    exp_1d = _dd_pdf(rollup.dd_sketch_from_points(events, [],
                                                  interval='1 day'))
    for col in ('bucket_start', 'zero_cnt', 'pos_sketch', 'neg_sketch',
                'n_points'):
        assert list(got_1d[col]) == list(exp_1d[col]), col


def test_auto_compaction_bounds_live_snapshots(spark, events, tmp_path):
    """r7: an always-on refresh pipeline must not let the merge-on-read pile
    grow without bound — refresh() auto-compacts (watermark-preserving)
    once live tier snapshots exceed the policy K, so read cost stays O(K)
    snapshots amortized while results remain EXACTLY the one-shot rollup."""
    raw = IcebergishTable(str(tmp_path / 'raw'))
    K = 6
    ca = ContinuousAggregate(raw, str(tmp_path / 'tier'), KEYS,
                             interval='1 hour', partition_by=(),
                             auto_compact_snapshots=K)
    n = 20
    b = F.pmod(F.xxhash64('user_id', 'ts'), F.lit(n))
    compactions = 0
    for i in range(n):
        raw.append(events.filter(b == i), partition_by=())
        rep = ca.refresh(spark)
        assert rep['mode'] == 'incremental'
        compactions += 1 if 'compacted' in rep else 0
        live = ca.tier._live_snapshots(ca.tier.current_snapshot_id())
        assert len(live) <= K, f'batch {i}: {len(live)} live snapshots'
    assert compactions >= 2, 'policy never triggered'
    # watermark preserved across compactions; results exact; realtime reads
    # (which union the live pile) see the same bounded pile
    assert ca.refreshed_through() == raw.current_snapshot_id()
    expected = rollup.rollup_from_points(events, KEYS, interval='1 hour',
                                         exact_sum=True)
    _assert_tier_equal(ca.read(spark), expected)
    _assert_tier_equal(ca.read_realtime(spark), expected)
    # disabled policy: the pile grows monotonically (control)
    ca2 = ContinuousAggregate(raw, str(tmp_path / 'tier2'), KEYS,
                              interval='1 hour', partition_by=(),
                              auto_compact_snapshots=None)
    assert ca2.refresh(spark)['mode'] in ('incremental', 'full')
    assert 'compacted' not in ca2.refresh(spark)


def test_compact_summary_bounds_lineage_walks(spark, events, tmp_path):
    """rollup_watermark() and _max_stream_batch_id() read the current
    snapshot's summary: one json, however many refreshes, stream batches
    and compactions the tier has committed, and the values survive a
    compact (which re-records nothing)."""
    raw = IcebergishTable(str(tmp_path / 'raw'))
    b = F.pmod('user_id', F.lit(8))
    raw.append(events.filter(b == 0), partition_by=())
    ca = ContinuousAggregate(raw, str(tmp_path / 'tier'), KEYS,
                             interval='1 hour', partition_by=(),
                             auto_compact_snapshots=None)
    ca.refresh(spark)
    for i in range(1, 8):
        raw.append(events.filter(b == i), partition_by=())
        assert ca.refresh(spark)['mode'] == 'incremental'
    wm_full = ca.rollup_watermark()
    assert wm_full is not None
    ca.compact(spark)

    # the compact snapshot carries the summary: value unchanged, one json
    reads = []
    orig = ca.tier.snapshot

    def counting(sid=None):
        reads.append(sid)
        return orig(sid)

    ca.tier.snapshot = counting
    assert ca.rollup_watermark() == wm_full
    assert len(reads) == 1, f'read {len(reads)} snapshot jsons past compact'
    ca.tier.snapshot = orig

    # a post-compact refresh still advances the watermark correctly
    late = events.withColumn('ts', F.col('ts') + F.expr('INTERVAL 40 DAYS'))
    raw.append(late, partition_by=())
    assert ca.refresh(spark)['mode'] == 'incremental'
    assert ca.rollup_watermark() > wm_full

    # stream batch ids survive a compact via the summary (fresh CA
    # instance: nothing cached on the aggregate)
    sink = ca.stream_sink()
    sink(ca._partial(late.limit(100)), 41)
    ca.compact(spark)
    ca_cold = ContinuousAggregate(raw, str(tmp_path / 'tier'), KEYS,
                                  interval='1 hour', partition_by=())
    reads2 = []
    orig2 = ca_cold.tier.snapshot

    def counting2(sid=None):
        reads2.append(sid)
        return orig2(sid)

    ca_cold.tier.snapshot = counting2
    assert ca_cold._max_stream_batch_id() == 41
    assert len(reads2) == 1, f'read {len(reads2)} snapshot jsons'
    ca_cold.tier.snapshot = orig2


def _walked_tier_state(tier):
    """Oracle for the snapshot summary: the lineage walks it replaced, run
    to the root — the newest watermark property, the max rollup watermark
    and the max stream batch id on the tier lineage."""
    import datetime
    from changepoynt_spark.sources.continuous import WATERMARK_PROP
    through, wm, bid = None, None, None
    for snap in tier.lineage():                       # newest first
        props = snap['manifest']['properties']
        if through is None and WATERMARK_PROP in props:
            through = int(props[WATERMARK_PROP])
        w = props.get('rollup_watermark')
        if w and w != 'None':
            d = datetime.datetime.fromisoformat(w)
            wm = d if wm is None or d > wm else wm
        b = props.get('stream_batch_id')
        if b is not None:
            bid = int(b) if bid is None else max(bid, int(b))
    return (-1 if through is None else through), wm, bid


def test_summary_tier_state_matches_lineage_walks(spark, events, tmp_path):
    """refreshed_through, rollup_watermark and _max_stream_batch_id read
    the current snapshot's summary; after every commit of a mixed history
    they equal the full lineage walks: stream batches (one replayed), a
    full-recompute takeover of the stream-fed tier, incremental refreshes,
    an empty refresh, a tier compact, and stream batches after it."""
    raw = IcebergishTable(str(tmp_path / 'raw'))
    ca = ContinuousAggregate(raw, str(tmp_path / 'tier'), KEYS,
                             interval='1 hour', partition_by=(),
                             auto_compact_snapshots=None)
    b0, b1, b2 = _batches(events)
    sink = ca.stream_sink()
    late = events.withColumn('ts', F.col('ts') + F.expr('INTERVAL 40 DAYS'))
    modes = []

    def check():
        assert (ca.refreshed_through(), ca.rollup_watermark(),
                ca._max_stream_batch_id()) == _walked_tier_state(ca.tier)

    steps = [
        lambda: sink(ca._partial(b0.limit(200)), 0),
        lambda: sink(ca._partial(late.limit(50)), 1),
        lambda: sink(ca._partial(b1.limit(200)), 1),       # replayed id
        lambda: raw.append(b0, partition_by=()),
        lambda: modes.append(ca.refresh(spark)['mode']),   # takeover
        lambda: raw.append(b1, partition_by=()),
        lambda: modes.append(ca.refresh(spark)['mode']),
        lambda: raw.compact(spark),
        lambda: modes.append(ca.refresh(spark)['mode']),   # no new data
        lambda: ca.compact(spark),
        lambda: raw.append(b2, partition_by=()),
        lambda: modes.append(ca.refresh(spark)['mode']),
        lambda: sink(ca._partial(b2.limit(100)), 2),
        lambda: sink(ca._partial(b2.limit(100)), 1),       # replayed id
    ]
    n_commits = 0
    for step in steps:
        step()
        n = len(ca.tier.history())
        assert n - n_commits <= 1                # one commit per step at most
        n_commits = n
        check()
    assert modes == ['full', 'incremental', 'empty', 'incremental']
    assert ca._max_stream_batch_id() == 2
    assert ca.refreshed_through() == raw.current_snapshot_id()
    assert ca.rollup_watermark() is not None


# -- one tier-append path: job budgets ----------------------------------------

def _points(spark, i0, n):
    import datetime
    base = datetime.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(f's{i % 3}', base + datetime.timedelta(minutes=7 * i), float(i))
         for i in range(i0, i0 + n)], 'source string, ts timestamp, value double')


def _run_in_group(spark, group, fn):
    """(fn(), number of Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_watermark_only_refresh_is_a_data_less_commit(spark, tmp_path):
    """A raw delta with no data files (a compaction of reflected data)
    advances the watermark with a data-less commit: no Spark job, no
    ``snap-<n>`` dir, and the tier's own partition spec recorded."""
    import os
    raw = IcebergishTable(str(tmp_path / 'raw'))
    ca = ContinuousAggregate(raw, str(tmp_path / 'tier'), ['source'],
                             interval='1 hour')
    assert ca.partition_by == ('source',)
    raw.append(_points(spark, 0, 40), partition_by=())
    raw.append(_points(spark, 40, 40), partition_by=())
    ca.refresh(spark)
    raw.compact(spark)
    rep, n_jobs = _run_in_group(spark, 'ca-watermark-only',
                                lambda: ca.refresh(spark))
    assert rep == {'mode': 'empty', 'from': 1, 'to': 2, 'rows': 0}
    assert n_jobs == 0
    sid = ca.tier.current_snapshot_id()
    snap = ca.tier.snapshot(sid)
    assert not os.path.exists(os.path.join(ca.tier.data_dir, f'snap-{sid}'))
    assert snap['partition_spec'] == ['source']
    assert snap['manifest']['entries'] == []
    assert ca.refreshed_through() == raw.current_snapshot_id()
    # later refreshes stay incremental and exact
    raw.append(_points(spark, 80, 20), partition_by=())
    assert ca.refresh(spark)['mode'] == 'incremental'
    cols = ['source', 'bucket_start', *rollup.AGG_COLS]
    exp = rollup.rollup_from_points(_points(spark, 0, 100), ['source'],
                                    interval='1 hour', exact_sum=True)
    got = sorted(tuple(r) for r in ca.read(spark).select(*cols).collect())
    assert got == sorted(tuple(r) for r in exp.select(*cols).collect()) and got


def test_refresh_and_stream_batch_job_budgets(spark, tmp_path):
    """The tier append observes its watermark stats on the write job, so
    an incremental refresh runs at most 2 Spark jobs and a non-empty
    stream_sink micro-batch at most 5 (one emptiness check, then the
    write): no separate stats aggregate."""
    raw = IcebergishTable(str(tmp_path / 'raw'))
    ca = ContinuousAggregate(raw, str(tmp_path / 'tier'), ['source'],
                             interval='1 hour')
    raw.append(_points(spark, 0, 40), partition_by=())
    ca.refresh(spark)
    raw.append(_points(spark, 40, 40), partition_by=())
    rep, n_jobs = _run_in_group(spark, 'ca-incremental',
                                lambda: ca.refresh(spark))
    assert rep['mode'] == 'incremental' and rep['rows'] > 0
    assert n_jobs <= 2, n_jobs

    fed = ContinuousAggregate(raw, str(tmp_path / 'stream_tier'), ['source'],
                              interval='1 hour')
    sink = fed.stream_sink()
    part = rollup.rollup_partial(_points(spark, 0, 30), ['source'],
                                 interval='1 hour')
    _, n_jobs = _run_in_group(spark, 'ca-stream-batch', lambda: sink(part, 0))
    assert n_jobs <= 5, n_jobs
    props = fed.tier.snapshot()['manifest']['properties']
    assert props['stream_batch_id'] == 0
    assert props['points_rolled'] == 30
    assert props['rollup_watermark'] == '2024-01-01 03:00:00'
    # a replayed batch id starts no job and commits nothing
    tip = fed.tier.current_snapshot_id()
    _, n_jobs = _run_in_group(spark, 'ca-stream-replay', lambda: sink(part, 0))
    assert n_jobs == 0 and fed.tier.current_snapshot_id() == tip
