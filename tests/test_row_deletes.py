"""Row-level deletes on IcebergishTable.

Merge-on-read equality deletes (Iceberg v2 semantics): delete_keys commits
key tuples only; read/scan anti-join them against rows of EARLIER snapshots,
so delete-then-reingest survives; compaction materializes them.  Copy-on-
write predicate deletes (delete_where): only snapshots whose manifest stats
may match are rewritten.  Incremental readers raise on an in-range delete so
a continuous aggregate falls back to full recompute.
"""
import datetime
import os

import pytest
from pyspark.sql import functions as F

from changepoynt_spark.sources.continuous import ContinuousAggregate
from changepoynt_spark.sources.tables import IcebergishTable


@pytest.fixture(scope='module')
def events(spark, sf_dir):
    df = (spark.read.parquet(f'{sf_dir}/events.parquet')
          .select('event_id', 'ts', 'user_id', 'event_type', 'value'))
    df.cache().count()
    return df


def _rows(df):
    return sorted(tuple(r) for r in df.select('event_id', 'ts', 'user_id',
                                              'event_type', 'value').collect())


@pytest.fixture()
def sliced(spark, events, tmp_path):
    """Two appends (event_id mod 3 == 0, 1), a delete of user_id % 11 == 4,
    then a third append (mod 3 == 2) re-inserting rows for deleted users."""
    t = IcebergishTable(str(tmp_path / 'ev'))
    for i in (0, 1):
        t.append(events.filter(F.pmod('event_id', F.lit(3)) == i),
                 partition_by=('event_type',))
    purge = (events.filter(F.pmod('user_id', F.lit(11)) == 4)
             .select('user_id').distinct())
    t.delete_keys(purge, ['user_id'], properties={'reason': 'test-purge'})
    t.append(events.filter(F.pmod('event_id', F.lit(3)) == 2),
             partition_by=('event_type',))
    return t


def _expected(events):
    """Slices 0,1 minus purged users; slice 2 fully present."""
    return events.filter(~((F.pmod('event_id', F.lit(3)) < 2)
                           & (F.pmod('user_id', F.lit(11)) == 4)))


def test_mor_delete_applies_only_to_earlier_snapshots(spark, events, sliced):
    got = _rows(sliced.read(spark))
    exp = _rows(_expected(events))
    assert got == exp and len(got) > 0
    # the delete actually removed something, and the re-inserted slice kept
    # rows for purged users (sequence semantics, not a global key filter)
    assert len(got) < events.count()
    reinserted = (sliced.read(spark)
                  .filter((F.pmod('user_id', F.lit(11)) == 4)
                          & (F.pmod('event_id', F.lit(3)) == 2)).count())
    assert reinserted > 0


def test_time_travel_before_delete_sees_rows(spark, events, sliced):
    # snapshot 1 = after the second append, before the delete
    pre = sliced.read(spark, snapshot_id=1)
    exp = _rows(events.filter(F.pmod('event_id', F.lit(3)) < 2))
    assert _rows(pre) == exp


def test_scan_applies_deletes_and_plans_data_files_only(spark, events, sliced):
    preds = [('ts', '>=', datetime.datetime(2024, 1, 15))]
    plan = sliced.plan_files(preds)
    # delete snapshot (id 2) contributes no scannable files
    assert not any('snap-2' in d for d in plan['kept'])
    got = _rows(sliced.scan(spark, preds))
    exp = _rows(_expected(events).filter(
        F.col('ts') >= F.lit(datetime.datetime(2024, 1, 15))))
    assert got == exp and len(got) > 0


def test_compact_materializes_deletes(spark, events, sliced):
    before = _rows(sliced.read(spark))
    sliced.compact(spark)
    # delete snapshot is no longer live; the fast no-deletes read path serves
    _, dels = sliced._split_live(sliced.current_snapshot_id())
    assert dels == []
    assert _rows(sliced.read(spark)) == before
    # and vacuum reclaims the key files alongside the replaced data
    removed = sliced.vacuum()
    assert 2 in removed                          # the delete snapshot's dir
    assert _rows(sliced.read(spark)) == before


def test_read_delta_raises_on_inrange_delete(spark, events, sliced):
    with pytest.raises(ValueError, match='row-level delete'):
        sliced.read_delta(spark, 1, 3, tolerate_ops=('expire', 'compact'))
    # a delete fully reflected at 'from' does not block later increments
    delta = sliced.read_delta(spark, 2, 3)
    assert delta.count() == events.filter(F.pmod('event_id', F.lit(3)) == 2).count()


def test_continuous_aggregate_full_recompute_on_delete(spark, events, tmp_path):
    raw = IcebergishTable(str(tmp_path / 'raw'))
    raw.append(events.filter(F.pmod('event_id', F.lit(2)) == 0), partition_by=())
    ca = ContinuousAggregate(raw, str(tmp_path / 'tier'), ['user_id'],
                             interval='1 hour', partition_by=())
    assert ca.refresh(spark)['mode'] == 'incremental'
    purge = (events.filter(F.pmod('user_id', F.lit(7)) == 3)
             .select('user_id').distinct())
    raw.delete_keys(purge, ['user_id'])
    raw.append(events.filter(F.pmod('event_id', F.lit(2)) == 1), partition_by=())
    rep = ca.refresh(spark)
    assert rep['mode'] == 'full'
    got = sorted(tuple(r) for r in ca.read(spark)
                 .select('user_id', 'cnt_points').collect())
    exp_df = (raw.read(spark)
              .groupBy('user_id', F.window('ts', '1 hour'))
              .agg(F.count('*').alias('cnt_points'))
              .select('user_id', 'cnt_points'))
    exp = sorted(tuple(r) for r in exp_df.collect())
    assert got == exp
    # follow-up appends refresh incrementally again (delete now reflected)
    raw.append(events.limit(0), partition_by=())
    assert ca.refresh(spark)['mode'] in ('incremental', 'empty')


def test_expire_rewrite_materializes_pending_deletes(spark, events, tmp_path):
    t = IcebergishTable(str(tmp_path / 'exp'))
    # one snapshot straddling the cutoff, one entirely before it
    t.append(events.filter(F.dayofmonth('ts') <= 10), partition_by=())
    t.append(events.filter(F.dayofmonth('ts') > 10), partition_by=())
    purge = (events.filter(F.pmod('user_id', F.lit(5)) == 1)
             .select('user_id').distinct())
    t.delete_keys(purge, ['user_id'])
    exp_after = _rows(events.filter((F.pmod('user_id', F.lit(5)) != 1)
                                    & (F.dayofmonth('ts') >= 15)))
    cut = datetime.datetime(2024, 1, 15)
    rep = t.expire_before(spark, cut, ts_col='ts')
    assert rep['dropped_snapshots'] == [0]
    assert rep['rewritten_snapshots'] == [1]
    assert _rows(t.read(spark)) == exp_after
    # the rewritten rows no longer depend on the delete file: even reading
    # raw parquet of the rewrite snapshot shows the purged users gone
    import os
    rewrite_sid = t.current_snapshot_id()
    raw = spark.read.parquet(os.path.join(t.data_dir, f'snap-{rewrite_sid}'))
    assert raw.filter(F.pmod('user_id', F.lit(5)) == 1).count() == 0


def test_cow_delete_prunes_by_manifest_stats(spark, events, tmp_path):
    t = IcebergishTable(str(tmp_path / 'cow'))
    # three ts-ordered snapshots: delete range falls inside the second
    for lo, hi in ((1, 11), (11, 21), (21, 32)):
        t.append(events.filter(F.dayofmonth('ts').between(lo, hi - 1)),
                 partition_by=())
    lo = datetime.datetime(2024, 1, 13)
    hi = datetime.datetime(2024, 1, 18)
    rep = t.delete_where(spark, [('ts', '>=', lo), ('ts', '<', hi)])
    assert rep['rewritten_snapshots'] == [1]       # snapshots 0, 2 untouched
    assert rep['dropped_snapshots'] == []
    got = _rows(t.read(spark))
    exp = _rows(events.filter(~((F.col('ts') >= F.lit(lo))
                                & (F.col('ts') < F.lit(hi)))))
    assert got == exp and len(got) > 0


def test_cow_delete_whole_snapshot_is_metadata_only(spark, events, tmp_path):
    t = IcebergishTable(str(tmp_path / 'cowdrop'))
    t.append(events.filter(F.dayofmonth('ts') <= 10), partition_by=())
    t.append(events.filter(F.dayofmonth('ts') > 10), partition_by=())
    # everything in snapshot 0 provably matches ts < cutoff -> pure metadata
    rep = t.delete_where(spark, [('ts', '<', datetime.datetime(2024, 1, 11))])
    assert rep['dropped_snapshots'] == [0]
    assert rep['rewritten_snapshots'] == []
    assert t.snapshot()['manifest']['entries'] == []
    got = _rows(t.read(spark))
    assert got == _rows(events.filter(F.dayofmonth('ts') > 10))


def test_cow_delete_noop_when_disjoint(spark, events, tmp_path):
    t = IcebergishTable(str(tmp_path / 'cownoop'))
    t.append(events, partition_by=())
    sid = t.current_snapshot_id()
    rep = t.delete_where(spark, [('ts', '>=', datetime.datetime(2030, 1, 1))])
    assert rep == {'dropped_snapshots': [], 'rewritten_snapshots': []}
    assert t.current_snapshot_id() == sid          # no snapshot committed


def test_cow_delete_invalidates_continuous_aggregate(spark, events, tmp_path):
    raw = IcebergishTable(str(tmp_path / 'raw'))
    raw.append(events, partition_by=())
    ca = ContinuousAggregate(raw, str(tmp_path / 'tier'), ['user_id'],
                             interval='1 hour', partition_by=())
    ca.refresh(spark)
    raw.delete_where(spark, [('ts', '<', datetime.datetime(2024, 1, 10))])
    rep = ca.refresh(spark)
    assert rep['mode'] == 'full'
    assert (ca.read(spark).agg(F.sum('cnt_points')).first()[0]
            == raw.read(spark).count())


def test_upsert_updates_and_inserts(spark, events, tmp_path):
    t = IcebergishTable(str(tmp_path / 'up'))
    t.append(events, partition_by=('event_type',))
    base_sid = t.current_snapshot_id()
    corrections = (events.filter(F.pmod('event_id', F.lit(5)) == 0)
                   .withColumn('value', F.col('value') * 2))
    inserts = (events.filter(F.pmod('event_id', F.lit(5)) == 1)
               .withColumn('event_id', F.col('event_id') + 10_000_000))
    t.upsert(corrections.unionByName(inserts), ['event_id'],
             partition_by=('event_type',))
    # the hint moved ONCE, past the internal delete snapshot
    assert t.current_snapshot_id() == base_sid + 2
    got = _rows(t.read(spark))
    exp = _rows(events.withColumn(
        'value', F.when(F.pmod('event_id', F.lit(5)) == 0,
                        F.col('value') * 2).otherwise(F.col('value')))
        .unionByName(inserts))
    assert got == exp
    # repeated upsert of the same keys: last write wins
    t.upsert(corrections.withColumn('value', F.col('value') * 0 + 1.5),
             ['event_id'], partition_by=('event_type',))
    ups = t.read(spark).filter(F.pmod('event_id', F.lit(5)) == 0)
    vals = {r['value'] for r in ups.filter(F.col('event_id') < 10_000_000)
            .select('value').distinct().collect()}
    assert vals == {1.5}


def test_upsert_compact_materializes_and_delta_semantics(spark, events, tmp_path):
    t = IcebergishTable(str(tmp_path / 'up2'))
    t.append(events, partition_by=())
    corrections = (events.filter(F.pmod('event_id', F.lit(5)) == 0)
                   .withColumn('value', F.col('value') * 2))
    t.upsert(corrections, ['event_id'])
    with pytest.raises(ValueError, match='row-level delete'):
        t.read_delta(spark, 0, t.current_snapshot_id())
    before = _rows(t.read(spark))
    t.compact(spark)
    _, dels = t._split_live(t.current_snapshot_id())
    assert dels == []
    assert _rows(t.read(spark)) == before
    # appends after the reflected upsert increment cleanly
    frm = t.current_snapshot_id()
    t.append(events.limit(7), partition_by=())
    assert t.read_delta(spark, frm).count() == 7


def test_orphaned_snapshot_from_crashed_commit_is_skipped(spark, events, tmp_path):
    t = IcebergishTable(str(tmp_path / 'orph'))
    t.append(events.limit(10), partition_by=())
    # simulate a crash between an upsert's two snapshots: metadata written,
    # hint never advanced
    t.append(events.limit(3).select('event_id'), partition_by=(),
             properties={'operation': 'delete', 'equality_cols': ['event_id'],
                         'upsert_part': 'delete'},
             _advance_hint=False)
    assert t.current_snapshot_id() == 0          # reader sees the old table
    assert t.read(spark).count() == 10           # orphan delete NOT applied
    snap = t.append(events.limit(5), partition_by=())
    assert snap['snapshot_id'] == 2              # id skipped past the orphan
    assert snap['parent'] == 0                   # chained to the public hint
    assert t.read(spark).count() == 15


def test_crashed_append_dir_does_not_block_later_appends(spark, events,
                                                        tmp_path):
    """A crashed append leaves ``data/snap-<n>`` with no snapshot json.  New
    ids skip the dir, so the next append commits instead of colliding with
    it, and the debris never becomes table data."""
    t = IcebergishTable(str(tmp_path / 'debris'))
    t.append(events.limit(10), partition_by=())
    events.limit(4).write.parquet(os.path.join(t.data_dir, 'snap-1'))
    snap = t.append(events.limit(5), partition_by=())
    assert snap['snapshot_id'] == 2 and snap['parent'] == 0
    assert t.read(spark).count() == 15


def test_write_audit_publish(spark, events, tmp_path):
    t = IcebergishTable(str(tmp_path / 'wap'))
    t.append(events.filter(F.dayofmonth('ts') <= 15), partition_by=())
    base = t.current_snapshot_id()
    n_base = t.read(spark).count()

    # stage a bad batch; audit rejects it -> production never saw it
    bad = t.stage(events.limit(50).withColumn('value', F.lit(float('nan'))),
                  partition_by=())
    staged = t.read(spark, snapshot_id=bad['snapshot_id'])
    assert staged.filter(F.isnan('value')).count() == 50   # audit sees it
    assert t.current_snapshot_id() == base                 # readers do not
    assert t.read(spark).count() == n_base

    # stage a good batch, audit, publish: atomic fast-forward
    good = t.stage(events.filter(F.dayofmonth('ts') > 15), partition_by=())
    assert t.read(spark).count() == n_base                 # still unpublished
    t.publish(good['snapshot_id'])
    assert t.current_snapshot_id() == good['snapshot_id']
    assert _rows(t.read(spark)) == _rows(events)           # bad batch absent

    # divergent publish refused: a commit landed after staging
    stale = t.stage(events.limit(5), partition_by=())
    t.append(events.limit(3), partition_by=())
    with pytest.raises(ValueError, match='re-stage'):
        t.publish(stale['snapshot_id'])


def test_vacuum_retains_staged_wap_snapshots(spark, events, tmp_path):
    """ADVICE r6: a maintenance vacuum between stage() and publish() must
    NOT reclaim the staged snapshot (Iceberg branch/ref retention) — and a
    forced reclaim makes the later publish raise loudly instead of
    publishing metadata whose data dir is gone (silent data loss)."""
    import os
    t = IcebergishTable(str(tmp_path / 'wapvac'))
    t.append(events.filter(F.dayofmonth('ts') <= 15), partition_by=())
    staged = t.stage(events.filter(F.dayofmonth('ts') > 15), partition_by=())
    sid = staged['snapshot_id']
    d = os.path.join(t.data_dir, f'snap-{sid}')
    # default vacuum: the live stage survives; publish then works
    assert t.vacuum() == []
    assert os.path.isdir(d)
    # leave a genuine orphan too: vacuum reclaims IT but not the stage
    t.append(events.limit(7), partition_by=(), _advance_hint=False)
    orphan = [s for s in
              (int(n.split('-')[1].split('.')[0])
               for n in os.listdir(t.meta_dir) if n.startswith('snapshot-'))
              if s not in (0, sid)]
    assert t.vacuum() == orphan and os.path.isdir(d)
    t.publish(sid)
    assert _rows(t.read(spark)) == _rows(events)
    # abandoned-stage reclaim is explicit, and a stale publish of it raises
    stale = t.stage(events.limit(5), partition_by=())
    removed = t.vacuum(retain_staged=False)
    assert stale['snapshot_id'] in removed
    with pytest.raises(ValueError, match='vacuumed'):
        t.publish(stale['snapshot_id'])


def test_fully_expired_table_reads_empty_and_refresh_noops(spark, events,
                                                           tmp_path):
    """ADVICE r6: once retention ages out every raw row (downsample-then-
    drop), the table must read as EMPTY with its schema — and a continuous
    aggregate refresh over it must advance its watermark, not crash."""
    import datetime
    from changepoynt_spark.sources.continuous import ContinuousAggregate
    t = IcebergishTable(str(tmp_path / 'exp'))
    t.append(events.limit(300), partition_by=())
    ca = ContinuousAggregate(t, str(tmp_path / 'tier'), keys=['event_type'],
                             interval='1 hour')
    assert ca.refresh(spark)['mode'] in ('full', 'incremental')
    n_tier = ca.read(spark).count()
    assert n_tier > 0
    # expire EVERYTHING from the raw table (metadata-only surgery)
    t.expire_before(spark, datetime.datetime(2100, 1, 1), ts_col='ts')
    t.vacuum()
    raw = t.read(spark)
    assert raw.count() == 0 and 'event_type' in raw.columns
    # the refresh over the empty table advances the watermark and no-ops
    rep = ca.refresh(spark)
    assert rep['rows'] == 0 or rep['mode'] in ('noop', 'empty', 'full')
    assert ca.refreshed_through() == t.current_snapshot_id()
    # the tier's history is intact (downsample-then-drop invariant)
    assert ca.read(spark).count() == n_tier or rep['mode'] == 'full'


def test_expire_before_keeps_null_ts_rows(spark, tmp_path):
    """expire_before follows delete_where's null rule: a NULL ts is not
    older than the cutoff, so its row survives whether its snapshot is
    rewritten (all-old or straddling) or untouched."""
    d = datetime.datetime
    t = IcebergishTable(str(tmp_path / 'nullts'))
    for rows in ([(1, d(2024, 1, 1)), (2, d(2024, 1, 2)), (3, None)],      # all old
                 [(4, d(2024, 1, 10)), (5, d(2024, 1, 20)), (6, None)],    # straddles
                 [(7, d(2024, 1, 16)), (8, d(2024, 1, 17)), (9, None)]):   # all new
        t.append(spark.createDataFrame(rows, 'id int, ts timestamp').coalesce(1),
                 partition_by=())
    rep = t.expire_before(spark, d(2024, 1, 15), ts_col='ts')
    assert rep['dropped_snapshots'] == [] and rep['rewritten_snapshots'] == [0, 1]
    assert 2 in t._live_snapshots(t.current_snapshot_id())       # untouched
    assert sorted(r['id'] for r in t.read(spark).collect()) == [3, 5, 6, 7, 8, 9]


def test_metadata_only_commit_records_live_set_and_hint_like_a_data_commit(
        spark, events, tmp_path):
    """A data-less commit (every target dropped whole) goes through the same
    commit path as a data commit: same recorded live set, same hint flip."""
    def two_slices(name):
        t = IcebergishTable(str(tmp_path / name))
        t.append(events.filter(F.dayofmonth('ts') <= 10), partition_by=())
        t.append(events.filter(F.dayofmonth('ts') > 10), partition_by=())
        return t

    data = two_slices('data')
    data.compact(spark)                   # data commit superseding everything
    meta = two_slices('meta')
    rep = meta.delete_where(spark, [('ts', '<', datetime.datetime(2100, 1, 1))])
    assert rep == {'dropped_snapshots': [0, 1], 'rewritten_snapshots': []}
    for t in (data, meta):
        snap = t.snapshot()
        with open(t._hint_path()) as f:
            assert f.read() == '2'
        assert snap['snapshot_id'] == 2 and snap['parent'] == 1
        assert snap['invalidates'] == [0, 1]
        assert snap['live'] == [[2, 'data']]
        assert t._live_snapshots(2) == [2]
    assert meta.snapshot()['manifest']['entries'] == []
    assert meta.snapshot()['manifest']['row_count'] == 0
    assert meta.read(spark).count() == 0
    # the running summary counts the live data snapshots' files and rows
    assert meta.summary()['total-records'] == meta.summary()['total-data-files'] == 0
    assert data.summary() == {
        'total-records': events.count(),
        'total-data-files': len(data.snapshot()['manifest']['entries'])}
    # superseding only part of the live set: the untouched snapshot stays
    # live on either path
    partial = two_slices('partial')
    partial.delete_where(spark, [('ts', '<', datetime.datetime(2024, 1, 11))])
    rewrite = two_slices('rewrite')
    rewrite.delete_where(spark, [('ts', '<', datetime.datetime(2024, 1, 5))])
    for t in (partial, rewrite):
        assert t.current_snapshot_id() == 2
        assert t.snapshot()['live'] == [[2, 'data'], [1, 'data']]
        assert t.summary()['total-records'] == t.read(spark).count()
    assert partial.snapshot()['manifest']['entries'] == []
    assert rewrite.snapshot()['manifest']['entries'] != []


def test_data_less_delete_keeps_the_data_schema(spark, tmp_path):
    """A data-less copy-on-write commit records the schema of the newest
    live DATA snapshot, not the current snapshot's: after a merge-on-read
    delete the current snapshot is a key-file layout (``doc_id`` only)."""
    t = IcebergishTable(str(tmp_path / 'keys'))
    df = spark.createDataFrame([('a', 1, 1.0), ('b', 2, 2.0)],
                               'source string, doc_id bigint, value double')
    t.append(df, partition_by=())
    t.delete_keys(df.limit(1).select('doc_id'), ['doc_id'])
    rep = t.delete_where(spark, [('doc_id', '>=', 0)])
    assert rep == {'dropped_snapshots': [0], 'rewritten_snapshots': []}
    got = t.read(spark)
    assert got.count() == 0
    assert got.schema == df.schema


def test_equality_delete_join_is_not_hinted_to_broadcast(spark, sliced):
    """The equality-delete key side grows with the deletes, so the anti-join
    carries no broadcast hint: with broadcast joins switched off, a read of
    a table with live deletes plans no BroadcastExchange (a hint would plan
    one regardless of the threshold)."""
    assert sliced._split_live(sliced.current_snapshot_id())[1]   # live deletes
    key = 'spark.sql.autoBroadcastJoinThreshold'
    old = spark.conf.get(key)
    spark.conf.set(key, '-1')
    try:
        plan = sliced.read(spark)._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert 'LeftAnti' in plan
    assert 'BroadcastExchange' not in plan


def test_vacuum_reclaims_json_less_dirs_below_the_hint(spark, events, tmp_path):
    """A crashed append leaves a ``snap-<n>`` data dir with no json; once a
    later commit moves the hint past it, vacuum reclaims it and reads are
    unchanged.  A json-less dir above the hint may be an in-flight upsert
    or stage write: it stays."""
    import shutil
    t = IcebergishTable(str(tmp_path / 'debris'))
    t.append(events.filter(F.dayofmonth('ts') <= 15), partition_by=())
    crashed = os.path.join(t.data_dir, 'snap-1')
    shutil.copytree(os.path.join(t.data_dir, 'snap-0'), crashed)
    t.append(events.filter(F.dayofmonth('ts') > 15), partition_by=())
    assert t.current_snapshot_id() == 2
    in_flight = os.path.join(t.data_dir, 'snap-3')
    shutil.copytree(os.path.join(t.data_dir, 'snap-0'), in_flight)
    before = _rows(t.read(spark))
    assert before == _rows(events)
    assert t.vacuum() == [1]
    assert not os.path.exists(crashed) and os.path.isdir(in_flight)
    assert _rows(t.read(spark)) == before
