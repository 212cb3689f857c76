"""Iceberg-style table + checkpoint/resume tests (FIXTURES.md §5 resume):
crash mid-job, rerun, final table identical to a single-shot run; no
duplicate partitions; changed input reprocesses only its bucket."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from changepoynt_spark.plans.checkpoint import RollupCheckpointJob, with_bucket
from changepoynt_spark.sources import datagen
from changepoynt_spark.sources.tables import IcebergishTable

PARAMS = {'window_length': 15, 'n_windows': 15, 'lag': 5, 'rank': 2, 'method': 'ika',
          'scoring_step': 4}


@pytest.fixture(scope='module')
def tokens(spark):
    df = datagen.tokens_table(spark, n_docs=24, seed=33, max_len=2500, include_golden=False)
    df.cache().count()
    return df


def _table_pdf(spark, root):
    df = IcebergishTable(root).read(spark)
    return (df.select('doc_id', 'tier', 'block_start', 'n_points',
                      F.md5(F.hex('value_blob')).alias('vh'))
              .toPandas().sort_values(['doc_id', 'tier', 'block_start'])
              .reset_index(drop=True))


def test_iceberg_table_snapshots_and_time_travel(spark, tokens, tmp_path):
    t = IcebergishTable(str(tmp_path / 'tt'))
    half = tokens.filter("doc_id < 'doc_00000012'")
    rest = tokens.filter("doc_id >= 'doc_00000012'")
    s0 = t.append(half.select('doc_id', 'n_tok', 'source'), partition_by=('source',),
                  properties={'step': 'first'})
    s1 = t.append(rest.select('doc_id', 'n_tok', 'source'), partition_by=('source',))
    assert s0['snapshot_id'] == 0 and s1['snapshot_id'] == 1 and s1['parent'] == 0
    assert t.read(spark).count() == tokens.count()
    assert t.read(spark, snapshot_id=0).count() == half.count()  # time travel
    assert [s['snapshot_id'] for s in t.history()] == [0, 1]
    assert t.snapshot(0)['manifest']['properties'] == {'step': 'first'}
    assert t.snapshot(0)['manifest']['row_count'] == half.count()


def test_resume_after_partial_run_matches_single_shot(spark, tokens, tmp_path):
    # single-shot reference run
    ref = RollupCheckpointJob(str(tmp_path / 'ref'), n_buckets=4, algorithm='sst',
                              params=PARAMS)
    res = ref.run(spark, tokens)
    assert sorted(res['processed']) == [0, 1, 2, 3]

    # crashed run: only 2 buckets, then resume
    job = RollupCheckpointJob(str(tmp_path / 'resume'), n_buckets=4, algorithm='sst',
                              params=PARAMS)
    first = job.run(spark, tokens, max_buckets=2)
    assert len(first['processed']) == 2 and len(first['remaining']) == 2
    second = job.run(spark, tokens)
    assert sorted(first['processed'] + second['processed']) == [0, 1, 2, 3]
    assert sorted(second['skipped']) == sorted(first['processed'])

    a = _table_pdf(spark, str(tmp_path / 'ref'))
    b = _table_pdf(spark, str(tmp_path / 'resume'))
    assert len(a) == len(b) > 0
    assert (a == b).all().all()

    # idempotent: a third run does nothing
    third = job.run(spark, tokens)
    assert third['processed'] == [] and sorted(third['skipped']) == [0, 1, 2, 3]


def test_changed_bucket_reprocessed_without_duplicates(spark, tokens, tmp_path):
    job = RollupCheckpointJob(str(tmp_path / 'chg'), n_buckets=4, algorithm='sst',
                              params=PARAMS)
    job.run(spark, tokens)
    before = _table_pdf(spark, str(tmp_path / 'chg'))

    # mutate one doc's tokens -> exactly one bucket's fingerprint changes
    target = tokens.limit(1).select('doc_id').first()[0]
    changed = tokens.withColumn(
        'tokens', F.when(F.col('doc_id') == target,
                         F.reverse('tokens')).otherwise(F.col('tokens')))
    changed_bucket = with_bucket(tokens.filter(F.col('doc_id') == target), 4) \
        .select('doc_bucket').first()[0]
    res = job.run(spark, changed)
    assert res['processed'] == [changed_bucket]

    after = _table_pdf(spark, str(tmp_path / 'chg'))
    # no duplicates: same (doc, tier, block) key set
    assert len(after) == len(before)
    assert (after[['doc_id', 'tier', 'block_start']]
            .duplicated().sum()) == 0
    # watermark + lineage metrics recorded
    props = job.completed()[changed_bucket]
    assert 'watermark' in props and 'fingerprint' in props and 'kernel_version' in props


def test_hidden_partitioning_prunes_files(spark, tokens, tmp_path):
    job = RollupCheckpointJob(str(tmp_path / 'prune'), n_buckets=2, algorithm='sst',
                              params=PARAMS)
    job.run(spark, tokens)
    df = job.table.read(spark)
    plan = df.filter("tier = '1d'")._jdf.queryExecution().executedPlan().toString()
    assert 'PartitionFilters: [isnotnull(tier' in plan, plan


def test_pending_buckets_is_one_spark_job(spark, tokens, tmp_path):
    """all_bucket_fingerprints replaces the per-bucket full-scan loop: the
    whole pending-bucket diff must launch exactly one Spark job."""
    job = RollupCheckpointJob(str(tmp_path / 'onejob'), n_buckets=8,
                              algorithm='moving_window', params={'window_length': 8})
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    sc = spark.sparkContext
    sc.setJobGroup('pending-probe', 'pending_buckets job count probe')
    try:
        pending = job.pending_buckets(tokens)
    finally:
        sc.setJobGroup(None, None)
    jobs = tracker.getJobIdsForGroup('pending-probe')
    # AQE materializes the aggregate's shuffle stage as its own job, so a
    # single grouped aggregate = 2 jobs; the regression being guarded is the
    # old one-full-scan-PER-BUCKET loop (>= n_buckets jobs)
    assert len(jobs) <= 2, f'pending_buckets launched {len(jobs)} jobs'
    assert len(pending) == 8  # empty table: everything pending


def test_changed_settings_reprocess_all_buckets(spark, tokens, tmp_path):
    """Matching fingerprints must NOT skip a bucket when the algorithm,
    params, or kernel version recorded in the manifest differ (stale
    old-algorithm snapshots would otherwise silently survive a rerun)."""
    root = str(tmp_path / 'settings')
    job = RollupCheckpointJob(root, n_buckets=4, algorithm='moving_window',
                              params={'window_length': 8})
    job.run(spark, tokens)
    assert job.pending_buckets(tokens) == []  # same settings: all skipped
    job2 = RollupCheckpointJob(root, n_buckets=4, algorithm='moving_window',
                               params={'window_length': 16})
    assert len(job2.pending_buckets(tokens)) == 4  # params changed: all redo
    job3 = RollupCheckpointJob(root, n_buckets=4, algorithm='zero', params={})
    assert len(job3.pending_buckets(tokens)) == 4  # algorithm changed


def test_compaction_packs_files_preserves_rows_and_time_travel(spark, tokens, tmp_path):
    """Many tiny appends -> compact -> one snapshot with few files, identical
    rows; pre-compaction time travel works until vacuum reclaims the old
    snapshots."""
    import os
    t = IcebergishTable(str(tmp_path / 'ct'))
    base = tokens.select('doc_id', 'n_tok', 'source')
    ids = sorted(r['doc_id'] for r in base.select('doc_id').collect())
    cuts = [ids[i * len(ids) // 4] for i in range(1, 4)]
    lo = None
    for hi in cuts + [None]:  # 4 small appends (the small-files problem)
        part = base
        if lo is not None:
            part = part.filter(F.col('doc_id') >= lo)
        if hi is not None:
            part = part.filter(F.col('doc_id') < hi)
        t.append(part.repartition(8), partition_by=())
        lo = hi

    def live_files():
        files = []
        for d, _, names in os.walk(t.data_dir):
            files += [os.path.join(d, n) for n in names if n.endswith('.parquet')]
        return files

    before = t.read(spark).toPandas().sort_values('doc_id').reset_index(drop=True)
    n_before = len(live_files())
    snap = t.compact(spark, target_file_bytes=1 << 30)  # everything -> 1 file
    assert snap['manifest']['properties']['operation'] == 'compact'
    assert snap['manifest']['properties']['replaced_snapshots'] == 4
    after = t.read(spark).toPandas().sort_values('doc_id').reset_index(drop=True)
    assert after.equals(before)                        # content unchanged
    new_dir = os.path.join(t.data_dir, f"snap-{snap['snapshot_id']}")
    packed = [f for f in live_files() if f.startswith(new_dir)]
    assert len(packed) == 1 and n_before > 4           # 32+ files -> 1
    # time travel to a pre-compaction snapshot still works...
    assert t.read(spark, snapshot_id=1).count() > 0
    # ...until vacuum physically reclaims the replaced snapshots
    assert t.vacuum() == [0, 1, 2, 3]
    assert len(live_files()) == 1
    assert t.read(spark).count() == len(before)


def test_checkpoint_run_scores_each_bucket_once(spark, tokens, tmp_path):
    """Besides the one fingerprint aggregate, RollupCheckpointJob.run starts
    exactly one job per bucket — the scoring write itself; the watermark
    rides that write, so no second scoring pass runs."""
    job = RollupCheckpointJob(str(tmp_path / 'once'), n_buckets=2,
                              algorithm='moving_window', params={'window_length': 8})
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    append, groups = job.table.append, []

    def append_in_own_group(*a, **kw):
        groups.append(f'append-{len(groups)}')
        sc.setJobGroup(groups[-1], 'checkpoint append')
        try:
            return append(*a, **kw)
        finally:
            sc.setJobGroup('run', 'checkpoint run')
    job.table.append = append_in_own_group
    sc.setJobGroup('run', 'checkpoint run')
    try:
        res = job.run(spark, tokens)
    finally:
        sc.setJobGroup(None, None)
    assert res['processed'] == [0, 1] and len(groups) == 2
    assert [len(tracker.getJobIdsForGroup(g)) for g in groups] == [1, 1]
    # outside the appends: only the fingerprint aggregate (2 jobs under AQE)
    assert len(tracker.getJobIdsForGroup('run')) <= 2


def test_checkpoint_watermark_is_max_block_start_of_committed_rows(
        spark, tokens, tmp_path):
    import os
    longest = tokens.orderBy(F.desc('n_tok')).first()['doc_id']
    one_doc = tokens.filter(F.col('doc_id') == longest)
    job = RollupCheckpointJob(str(tmp_path / 'wm'), n_buckets=2,
                              algorithm='moving_window', params={'window_length': 8})
    assert job.run(spark, one_doc)['processed'] == [0, 1]
    full, empty = [], []
    for snap in job.table.history():
        wm = snap['manifest']['properties']['watermark']
        if snap['manifest']['row_count'] == 0:
            empty.append(wm)
            continue
        rows = spark.read.parquet(
            os.path.join(job.table.data_dir, f"snap-{snap['snapshot_id']}"))
        full.append((wm, str(rows.agg(F.max('block_start')).first()[0])))
    # one doc: one bucket holds its blocks, the other committed empty
    assert len(full) == 1 and full[0][0] == full[0][1] != 'None', full
    assert empty == ['None']


def test_snapshot_cache_is_lru_over_long_lineages(tmp_path, monkeypatch):
    """Sliding lineage walks over a table longer than the cache bound: LRU
    eviction drops only the coldest manifest, so each walk parses just the
    one snapshot it has not seen (a clear-everything bound re-parsed the
    whole window every few walks)."""
    import itertools
    import json
    import os
    from changepoynt_spark.sources import tables
    t = IcebergishTable(str(tmp_path / 'long'))
    os.makedirs(t.meta_dir)
    n, window = tables._SNAP_CACHE_MAX + 64, tables._SNAP_CACHE_MAX - 8
    for sid in range(n):
        with open(os.path.join(t.meta_dir, f'snapshot-{sid}.json'), 'w') as f:
            json.dump({'snapshot_id': sid, 'parent': sid - 1,
                       'manifest': {'properties': {}}}, f)
    parsed = []

    def counting_open(path, *a, **kw):
        parsed.append(path)
        return open(path, *a, **kw)
    monkeypatch.setattr(tables, 'open', counting_open, raising=False)
    assert len(list(t.lineage(window - 1))) == window          # warm the cache
    assert len(parsed) == window
    del parsed[:]
    visits = 0
    for tip in range(window, n):
        walk = [s['snapshot_id'] for s in itertools.islice(t.lineage(tip), window)]
        assert walk == list(range(tip, tip - window, -1))
        visits += window
    assert len(parsed) == n - window                   # one new manifest per walk
    assert 1 - len(parsed) / visits > 0.999
    assert len(t._snap_cache) == tables._SNAP_CACHE_MAX


def _grow(table, n, props_fn, schema):
    """n data-less commits, commit i replacing the previous one of slot
    i % 8 (as checkpoint resumes replace their bucket's snapshot): each
    invalidates only part of the live set, so the live set stays small
    while the history grows."""
    last = {}
    for i in range(n):
        sid = table._next_sid()
        table._commit(sid, table.current_snapshot_id(),
                      [last[i % 8]] if i % 8 in last else (),
                      props_fn(i), schema, [], [])
        last[i % 8] = sid


def test_metadata_reads_are_o_live_not_o_history(spark, tmp_path, monkeypatch):
    """Commits and reads take the table state from the snapshot json's
    recorded live set and summary: the snapshot jsons read by a commit, a
    read's plan, _split_live, a continuous-aggregate refresh and its
    watermark reads, and RollupCheckpointJob.completed() are the same
    count after 50 and after 500 commits."""
    import datetime
    from changepoynt_spark.sources.continuous import (WATERMARK_PROP,
                                                      ContinuousAggregate)
    base = datetime.datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [(u, base + datetime.timedelta(minutes=7 * i), float(i))
         for i in range(40) for u in (1, 2)], 'user_id long, ts timestamp, value double')

    def counts(n):
        root = tmp_path / f'n{n}'
        job = RollupCheckpointJob(str(root / 'blocks'), n_buckets=8)
        t = job.table
        t.append(pts, partition_by=())
        t.delete_keys(pts.filter('user_id = 2 and value < 3'), ['user_id', 'value'])
        schema = pts.schema.jsonValue()
        _grow(t, n, lambda i: {'bucket': i % 8, 'fingerprint': i}, schema)
        raw = IcebergishTable(str(root / 'raw'))
        raw.append(pts.filter('value < 20'), partition_by=())
        _grow(raw, n, lambda i: {}, schema)
        ca = ContinuousAggregate(raw, str(root / 'tier'), ['user_id'],
                                 interval='1 hour', partition_by=(),
                                 auto_compact_snapshots=None)
        tier_schema = ca._partial(pts).schema.jsonValue()
        through = raw.current_snapshot_id()
        _grow(ca.tier, n, lambda i: {
            WATERMARK_PROP: through, 'stream_batch_id': i,
            'rollup_watermark': str(base + datetime.timedelta(hours=i % 5))},
            tier_schema)
        raw.append(pts.filter('value >= 20'), partition_by=())

        reads = []
        orig = IcebergishTable.snapshot

        def counting(self, snapshot_id=None):
            reads.append(snapshot_id)
            return orig(self, snapshot_id)
        monkeypatch.setattr(IcebergishTable, 'snapshot', counting)
        out = {}
        ops = {
            '_commit': lambda: _grow(t, 1, lambda i: {'bucket': 0}, schema),
            'read': lambda: t.read(spark),
            '_split_live': lambda: t._split_live(t.current_snapshot_id()),
            'refresh': lambda: ca.refresh(spark),
            'rollup_watermark': ca.rollup_watermark,
            '_max_stream_batch_id': ca._max_stream_batch_id,
            'completed': job.completed,
        }
        for name, op in ops.items():
            del reads[:]
            op()
            out[name] = len(reads)
        monkeypatch.setattr(IcebergishTable, 'snapshot', orig)
        assert sorted(job.completed()) == list(range(8))
        assert ca._max_stream_batch_id() == n - 1
        assert t.read(spark).count() == pts.count() - 3
        return out

    small, large = counts(50), counts(500)
    assert small == large, (small, large)
