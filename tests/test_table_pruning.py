"""Manifest stats + predicate-pruned scans: file-level min/max and hidden
partition values recorded at write time must let plan_files() prune files a
predicate cannot match — pure metadata, no data read — while scan() stays
exactly equal to full-read + filter (pruning may only ever be a superset)."""
import datetime

import pytest
from pyspark.sql import functions as F

from changepoynt_spark.sources.tables import (
    IcebergishTable, _truncate_upper)


@pytest.fixture(scope='module')
def events(spark, sf_dir):
    df = spark.read.parquet(f'{sf_dir}/events.parquet')
    df.cache().count()
    return df


@pytest.fixture()
def table(spark, events, tmp_path):
    """Three time-sliced appends (the rollup pipeline's arrival order),
    hidden-partitioned by event_type."""
    t = IcebergishTable(str(tmp_path / 'ev'))
    for lo, hi in ((1, 11), (11, 21), (21, 32)):
        t.append(events.filter(F.dayofmonth('ts').between(lo, hi - 1)),
                 partition_by=('event_type',))
    return t


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.select('event_id', 'ts', 'user_id',
                                              'event_type', 'value').collect())


def test_manifest_records_partition_and_stats(table):
    entries = table.snapshot(0)['manifest']['entries']
    assert entries, 'no data files recorded'
    for e in entries:
        et = e['partition'].get('event_type')
        assert isinstance(et, str) and et
        for col in ('ts', 'value', 'event_id'):
            s = e['stats'][col]
            assert s['min'] <= s['max']
        assert isinstance(e['stats']['ts']['min'], int)  # epoch micros


def test_time_predicate_prunes_files_and_scan_is_exact(spark, events, table):
    cut = datetime.datetime(2024, 1, 25)
    preds = [('ts', '>=', cut)]
    plan = table.plan_files(preds)
    assert 0 < plan['n_kept'] < plan['n_total']
    # only the third (day >= 21) snapshot can contain matching rows
    assert set(plan['kept']) == {table.data_dir + '/snap-2'}
    got = _sorted_rows(table.scan(spark, preds))
    exp = _sorted_rows(events.filter(F.col('ts') >= F.lit(cut)))
    assert got == exp and len(got) > 0


def test_partition_predicate_prunes_and_restores_partition_column(spark, events, table):
    preds = [('event_type', '=', 'click')]
    plan = table.plan_files(preds)
    assert 0 < plan['n_kept'] < plan['n_total']
    for paths in plan['kept'].values():
        assert all('event_type=click' in p for p in paths)
    got = _sorted_rows(table.scan(spark, preds))
    exp = _sorted_rows(events.filter(F.col('event_type') == 'click'))
    assert got == exp and len(got) > 0


def test_combined_predicates_prune_multiplicatively(spark, events, table):
    cut = datetime.datetime(2024, 1, 25)
    preds = [('event_type', '=', 'view'), ('ts', '>', cut)]
    plan = table.plan_files(preds)
    assert plan['n_kept'] < table.plan_files([('ts', '>', cut)])['n_kept']
    got = _sorted_rows(table.scan(spark, preds))
    exp = _sorted_rows(events.filter((F.col('event_type') == 'view')
                                     & (F.col('ts') > F.lit(cut))))
    assert got == exp


def test_impossible_predicate_yields_empty_with_schema(spark, events, table):
    df = table.scan(spark, [('value', '<', -1.0)])
    assert df.count() == 0
    assert set(events.columns) == set(df.columns)


def test_missing_stats_never_prune(spark, events, table):
    """Back-compat: a manifest written before stats existed (or a column
    with unusable footer stats) must keep its files."""
    import json
    import os
    p = os.path.join(table.meta_dir, 'snapshot-1.json')
    with open(p) as f:
        snap = json.load(f)
    for e in snap['manifest']['entries']:
        e.pop('stats', None)
        e.pop('partition', None)
    with open(p, 'w') as f:
        json.dump(snap, f)
    preds = [('ts', '>=', datetime.datetime(2024, 1, 25))]
    plan = table.plan_files(preds)
    # snapshot-1 (days 11..20, all outside the predicate) is now kept whole
    assert table.data_dir + '/snap-1' in plan['kept']
    got = _sorted_rows(table.scan(spark, preds))
    exp = _sorted_rows(events.filter(F.col('ts') >= F.lit(datetime.datetime(2024, 1, 25))))
    assert got == exp


def test_scan_exact_after_compaction(spark, events, table):
    table.compact(spark, partition_by=('event_type',))
    preds = [('event_type', '=', 'purchase'),
             ('ts', '<', datetime.datetime(2024, 1, 8))]
    got = _sorted_rows(table.scan(spark, preds))
    exp = _sorted_rows(events.filter((F.col('event_type') == 'purchase')
                                     & (F.col('ts') < F.lit(datetime.datetime(2024, 1, 8)))))
    assert got == exp and len(got) > 0
    # partition pruning still active on the compacted files
    plan = table.plan_files([('event_type', '=', 'purchase')])
    assert 0 < plan['n_kept'] < plan['n_total']


def test_string_stat_truncation_is_sound(spark, tmp_path):
    """Truncated string bounds must stay valid bounds: a file whose true max
    exceeds the 16-char stat prefix must NOT be pruned for values between
    the prefix and the true max ('abcz' > 'abc' pitfall)."""
    t = IcebergishTable(str(tmp_path / 'st'))
    long_hi = 'prefixprefixprefix_zzzz'      # > 16 chars
    t.append(spark.createDataFrame([('aaa',)], 'name string').coalesce(1),
             partition_by=())
    t.append(spark.createDataFrame([(long_hi,)], 'name string').coalesce(1),
             partition_by=())
    s = t.snapshot(1)['manifest']['entries'][0]['stats']['name']
    assert len(s['min']) <= 16 and len(s['max']) <= 16
    assert s['max'] > long_hi[:16]            # incremented upper bound
    plan = t.plan_files([('name', '=', long_hi)])
    assert plan['n_kept'] == 1
    assert t.scan(spark, [('name', '=', long_hi)]).count() == 1
    # and pruning still fires for values truly out of range
    assert t.plan_files([('name', '=', 'zzz')])['n_kept'] == 0


def test_truncate_upper_unit():
    assert _truncate_upper('short', 16) == 'short'
    assert _truncate_upper('a' * 20, 16) == 'a' * 15 + 'b'
    assert _truncate_upper('ab' + chr(0x10FFFF) * 20, 3) == 'ac'
    assert _truncate_upper(chr(0x10FFFF) * 20, 3) is None


def test_clustered_write_makes_stats_selective(spark, events, tmp_path):
    """cluster_by range-partitions the write so files cover disjoint value
    ranges: a point predicate then keeps O(1) files where an unclustered
    write keeps nearly all of them — the write-side half of stats pruning."""
    un = IcebergishTable(str(tmp_path / 'un'))
    un.append(events.repartition(8), partition_by=())
    cl = IcebergishTable(str(tmp_path / 'cl'))
    cl.append(events, partition_by=(), cluster_by=['user_id'], n_files=8)

    preds = [('user_id', '=', 3)]
    p_un = un.plan_files(preds)
    p_cl = cl.plan_files(preds)
    assert p_un['n_kept'] == p_un['n_total'] > 1     # hash layout: no pruning
    assert p_cl['n_kept'] <= 2 < p_cl['n_total']     # range layout: point hit

    got = _sorted_rows(cl.scan(spark, preds))
    exp = _sorted_rows(events.filter(F.col('user_id') == 3))
    assert got == exp and len(got) > 0

    # time-range predicate on a ts-clustered copy
    ts = IcebergishTable(str(tmp_path / 'ts'))
    ts.append(events, partition_by=(), cluster_by=['ts'], n_files=8)
    cut = datetime.datetime(2024, 1, 29)
    p_ts = ts.plan_files([('ts', '>=', cut)])
    assert p_ts['n_kept'] < p_ts['n_total'] / 2
    assert (_sorted_rows(ts.scan(spark, [('ts', '>=', cut)]))
            == _sorted_rows(events.filter(F.col('ts') >= F.lit(cut))))


def test_expire_before_drops_whole_snapshots_metadata_only(spark, events, table):
    """Fully-expired snapshots are retired by manifest surgery alone — no
    data read, no rewrite — when the cutoff falls on a snapshot boundary."""
    cut = datetime.datetime(2024, 1, 21)
    rep = table.expire_before(spark, cut, ts_col='ts')
    assert rep['dropped_snapshots'] == [0, 1]
    assert rep['rewritten_snapshots'] == []
    assert rep['dropped_bytes'] > 0 and rep['rewritten_bytes'] == 0
    got = _sorted_rows(table.read(spark))
    exp = _sorted_rows(events.filter(F.col('ts') >= F.lit(cut)))
    assert got == exp and len(got) > 0
    # physical reclaim, reads unchanged
    assert sorted(table.vacuum()) == [0, 1]
    assert _sorted_rows(table.read(spark)) == exp


def test_expire_before_rewrites_only_the_straddling_snapshot(spark, events, table):
    cut = datetime.datetime(2024, 1, 15)
    rep = table.expire_before(spark, cut, ts_col='ts')
    assert rep['dropped_snapshots'] == [0]
    assert rep['rewritten_snapshots'] == [1]        # days 11..20 straddle
    live = table._live_snapshots(table.current_snapshot_id())
    assert 2 in live                                 # days 21.. untouched
    got = _sorted_rows(table.read(spark))
    exp = _sorted_rows(events.filter(F.col('ts') >= F.lit(cut)))
    assert got == exp and len(got) > 0


def test_expire_before_noop_and_missing_stats_rewrite(spark, events, table):
    import json
    import os
    rep = table.expire_before(spark, datetime.datetime(2023, 1, 1), ts_col='ts')
    assert rep == {'dropped_snapshots': [], 'rewritten_snapshots': [],
                   'dropped_bytes': 0, 'rewritten_bytes': 0}
    # a snapshot without usable stats must be REWRITTEN (exact filter),
    # never silently dropped
    p = os.path.join(table.meta_dir, 'snapshot-0.json')
    with open(p) as f:
        snap = json.load(f)
    for e in snap['manifest']['entries']:
        e.pop('stats', None)
    with open(p, 'w') as f:
        json.dump(snap, f)
    cut = datetime.datetime(2024, 1, 15)
    rep = table.expire_before(spark, cut, ts_col='ts')
    assert 0 in rep['rewritten_snapshots']
    got = _sorted_rows(table.read(spark))
    exp = _sorted_rows(events.filter(F.col('ts') >= F.lit(cut)))
    assert got == exp


def test_zorder_write_prunes_on_every_dimension(spark, events, tmp_path):
    """Z-order clustering: a point predicate on user_id AND a range
    predicate on ts must BOTH prune files of the same write — single-column
    clustering can only ever serve one of them — and scans stay exact."""
    from changepoynt_spark.sources.tables import zorder_key

    tz = IcebergishTable(str(tmp_path / 'zord'))
    tz.append(events, partition_by=(), zorder_by=['user_id', 'ts'], n_files=16)
    tl = IcebergishTable(str(tmp_path / 'lin'))
    tl.append(events, partition_by=(), cluster_by=['ts'], n_files=16)

    uid = events.select('user_id').first()['user_id']
    u_preds = [('user_id', '=', int(uid))]
    t_preds = [('ts', '>=', datetime.datetime(2024, 1, 28))]

    pz_u, pz_t = tz.plan_files(u_preds), tz.plan_files(t_preds)
    pl_u = tl.plan_files(u_preds)
    assert pz_u['n_total'] == 16
    # both dimensions prune under z-order ...
    assert pz_u['n_kept'] <= pz_u['n_total'] // 2
    assert pz_t['n_kept'] <= pz_t['n_total'] // 2
    # ... while ts-clustered files all span the full user_id domain
    assert pl_u['n_kept'] == pl_u['n_total']

    got = _sorted_rows(tz.scan(spark, u_preds))
    exp = _sorted_rows(events.filter(F.col('user_id') == int(uid)))
    assert got == exp and len(got) > 0
    got_t = _sorted_rows(tz.scan(spark, t_preds))
    exp_t = _sorted_rows(events.filter(
        F.col('ts') >= F.lit(datetime.datetime(2024, 1, 28))))
    assert got_t == exp_t and len(got_t) > 0

    # the key itself: interleaving is deterministic and bounded
    zk = zorder_key(events.limit(500), ['user_id', 'value'], bits_per_col=4)
    vals = [r['_z'] for r in zk.select('_z').collect()]
    assert all(0 <= v < (1 << 8) for v in vals)
    assert len(set(vals)) > 1


# -- per-file bloom filters (manifest point-lookup pruning) ------------------

@pytest.fixture()
def bloom_table(spark, events, tmp_path):
    """Unclustered 16-file write (every file spans the full event_id range,
    so min/max stats are useless for point lookups) with manifest blooms on
    the two id columns.  event_id % 3 == 0 rows are withheld so in-range
    ABSENT probes exist."""
    t = IcebergishTable(str(tmp_path / 'bl'))
    t.append(events.filter(F.col('event_id') % 3 != 0), partition_by=(),
             n_files=16, bloom_cols=['event_id', 'user_id'])
    return t


def test_bloom_prunes_point_lookup_where_minmax_cannot(spark, events, bloom_table):
    entries = bloom_table.snapshot(0)['manifest']['entries']
    assert all('event_id' in e.get('blooms', {}) for e in entries)
    # the write is unclustered: min/max alone keeps every file for an
    # in-range probe (ranges all span ~the full id domain)
    present = [r['event_id'] for r in
               events.filter(F.col('event_id') % 3 != 0).limit(20).collect()]
    for eid in present[:5]:
        plan = bloom_table.plan_files([('event_id', '=', int(eid))])
        assert plan['n_total'] == 16
        # a unique id lives in exactly one file; allow bloom false positives
        assert 1 <= plan['n_kept'] <= 4
        got = _sorted_rows(bloom_table.scan(spark, [('event_id', '=', int(eid))]))
        exp = _sorted_rows(events.filter(F.col('event_id') == int(eid)))
        assert got == exp and len(got) == 1


def test_bloom_absent_inrange_probe_prunes_to_near_zero(bloom_table):
    # ids divisible by 3 are in-range (min/max keeps all files) but absent
    kept = [bloom_table.plan_files([('event_id', '=', eid)])['n_kept']
            for eid in range(0, 300, 3)]
    # ~2-3% per-file fp rate at 16 bits/row: overwhelmingly 0 files kept
    assert sum(kept) <= len(kept) * 2
    assert kept.count(0) >= len(kept) * 3 // 4


def test_bloom_no_false_negatives_across_all_present_ids(spark, events, bloom_table):
    """Soundness: every present id must keep >= 1 file and scan must equal
    full-read + filter (the bloom may only ever over-keep)."""
    present = [int(r['event_id']) for r in
               events.filter(F.col('event_id') % 3 != 0).collect()]
    for eid in present:
        assert bloom_table.plan_files([('event_id', '=', eid)])['n_kept'] >= 1


def test_bloom_numeric_type_coercion_is_sound(spark, events, bloom_table):
    """SQL equality is typeless: probing an int64 column with the equal
    FLOAT literal must not prune the containing file."""
    eid = int(events.filter(F.col('event_id') % 3 != 0)
              .first()['event_id'])
    plan_i = bloom_table.plan_files([('event_id', '=', eid)])
    plan_f = bloom_table.plan_files([('event_id', '=', float(eid))])
    assert plan_f['kept'] == plan_i['kept'] and plan_i['n_kept'] >= 1
    got = _sorted_rows(bloom_table.scan(spark, [('event_id', '=', float(eid))]))
    exp = _sorted_rows(events.filter(F.col('event_id') == eid))
    assert got == exp and len(got) == 1


def test_bloom_only_equality_consults_the_bloom(spark, events, bloom_table):
    """Range ops must ignore blooms entirely (a bloom cannot answer them):
    a range over the bloom column keeps all files and scans exactly."""
    plan = bloom_table.plan_files([('event_id', '>', 500)])
    assert plan['n_kept'] == plan['n_total']
    got = _sorted_rows(bloom_table.scan(spark, [('event_id', '>', 500)]))
    exp = _sorted_rows(events.filter((F.col('event_id') % 3 != 0)
                                     & (F.col('event_id') > 500)))
    assert got == exp and len(got) > 0


def _file_bloom(path, col):
    """Bloom of one column of a written parquet file, built the way the
    write path builds it: batch by batch through ``_BloomAccumulator``
    (None when the file has no such column)."""
    import pyarrow.parquet as pq
    from changepoynt_spark.sources.tables import _BloomAccumulator
    acc = _BloomAccumulator()
    pf = pq.ParquetFile(path)
    if col in pf.schema_arrow.names:
        for batch in pf.iter_batches(columns=[col]):
            acc.update(batch.column(0))
    return acc.finish()


def test_bloom_unit_determinism_and_unhashable_probe():
    """Same file -> bit-identical bloom (manifests must be reproducible);
    a probe value the bloom cannot canonicalize never prunes."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from changepoynt_spark.sources.tables import _bloom_may_contain
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, 'f.parquet')
        pq.write_table(pa.table({'x': [1, 2, 3, None], 's': ['a', 'b', 'c', 'd']}), p)
        b1, b2 = _file_bloom(p, 'x'), _file_bloom(p, 'x')
        assert b1 == b2
        assert all(_bloom_may_contain(b1, v) for v in (1, 2, 3, 1.0, 2.0))
        assert not _bloom_may_contain(b1, 4)
        assert _bloom_may_contain(b1, True)      # bool canon is None: keep
        bs = _file_bloom(p, 's')
        assert _bloom_may_contain(bs, 'a') and not _bloom_may_contain(bs, 'z')
        assert _file_bloom(p, 'missing') is None


def test_in_list_predicate_single_scan(spark, events, bloom_table):
    """IN-list batch point lookup: one plan/scan for a needle set; a file
    is kept iff ANY value may be present (bloom-pruned per value), and the
    scan equals a plain isin filter.  Values absent from the table prune
    to (near) zero extra files."""
    present = [int(r['event_id']) for r in
               events.filter(F.col('event_id') % 3 != 0).limit(3).collect()]
    absent = [e for e in range(0, 30, 3)][:3]        # %3==0 ids withheld
    preds = [('event_id', 'in', present + absent)]
    plan = bloom_table.plan_files(preds)
    assert 1 <= plan['n_kept'] <= 3 + 3   # <=1 file/needle + rare fps
    got = _sorted_rows(bloom_table.scan(spark, preds))
    exp = _sorted_rows(events.filter((F.col('event_id') % 3 != 0)
                                     & F.col('event_id').isin(present + absent)))
    assert got == exp and len(got) == len(present)

    # range + IN conjunction stays exact
    preds2 = [('event_id', 'in', present + absent), ('event_id', '>', 0)]
    got2 = _sorted_rows(bloom_table.scan(spark, preds2))
    exp2 = [r for r in exp if r[0] > 0]
    assert got2 == exp2


def test_in_list_delete_where(spark, events, tmp_path):
    """delete_where with an IN purge list: straddling snapshots rewrite,
    result equals NOT-IN over everything."""
    t = IcebergishTable(str(tmp_path / 'din'))
    t.append(events, partition_by=(), cluster_by=['event_id'], n_files=8)
    purge = [5, 6, 7, 700, 701]
    rep = t.delete_where(spark, [('event_id', 'in', purge)])
    assert rep['rewritten_snapshots'] or rep['dropped_snapshots']
    got = _sorted_rows(t.read(spark))
    exp = _sorted_rows(events.filter(~F.col('event_id').isin(purge)))
    assert got == exp


def test_bloom_soundness_property():
    """Property (hypothesis): a bloom built over ANY column values never
    yields a false negative — every inserted value (and its numeric-coerced
    twin) may_contain; and values are judged independently of row order."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from changepoynt_spark.sources.tables import _bloom_may_contain

    scalars = st.one_of(
        st.integers(min_value=-2**50, max_value=2**50),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.text(max_size=24))

    @settings(max_examples=40, deadline=None)
    @given(st.lists(scalars, min_size=1, max_size=120))
    def prop(values):
        # a parquet column is homogeneous: group by python type
        for typ in (int, float, str):
            vals = [v for v in values if type(v) is typ]
            if not vals:
                continue
            with tempfile.TemporaryDirectory() as d:
                p = os.path.join(d, 'f.parquet')
                pq.write_table(pa.table({'x': vals}), p)
                b = _file_bloom(p, 'x')
                assert b is not None
                for v in vals:
                    assert _bloom_may_contain(b, v), v
                    if isinstance(v, int) and abs(v) < 2**52:
                        assert _bloom_may_contain(b, float(v)), v
                    if isinstance(v, float) and v.is_integer() \
                            and abs(v) < 2**52:
                        assert _bloom_may_contain(b, int(v)), v
                # order independence: reversed build is bit-identical
                p2 = os.path.join(d, 'g.parquet')
                pq.write_table(pa.table({'x': list(reversed(vals))}), p2)
                assert _file_bloom(p2, 'x') == b

    prop()


def test_bloom_declines_unhashable_column_types(tmp_path):
    """ADVICE r6: a bloom over a column whose values _bloom_canon cannot
    hash (Decimal) must NOT be built at all — a silently-empty bloom would
    answer 'definitely absent' for int/float/str probes and unsoundly prune
    files that DO contain matching rows."""
    import decimal
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq
    from changepoynt_spark.sources.tables import _bloom_may_contain
    p = os.path.join(str(tmp_path), 'dec.parquet')
    vals = [decimal.Decimal('1.5000'), decimal.Decimal('2.0000'), None]
    pq.write_table(pa.table({'x': pa.array(vals, pa.decimal128(18, 4))}), p)
    assert _file_bloom(p, 'x') is None
    # nulls alone never poison a hashable column
    p2 = os.path.join(str(tmp_path), 'ok.parquet')
    pq.write_table(pa.table({'x': [1, None, 3]}), p2)
    b = _file_bloom(p2, 'x')
    assert b is not None and _bloom_may_contain(b, 3)


def test_partition_equality_unescapes_and_coerces(spark, events, tmp_path):
    """ADVICE r6: Hive path partition values are percent-escaped by Spark
    (':' -> '%3A' in timestamps) and stringly typed; '=' pruning must
    compare the unescaped TYPED value — predicate 1.0 matches an int
    partition '1', a datetime literal matches its escaped path spelling —
    or every matching file is wrongly pruned (silently empty scans)."""
    t = IcebergishTable(str(tmp_path / 'esc'))
    df = (events.limit(200)
                .withColumn('day', F.date_trunc('day', 'ts'))
                .withColumn('bucket', (F.col('event_id') % 3).cast('int')))
    t.append(df, partition_by=('day', 'bucket'))
    ent = t.snapshot(0)['manifest']['entries'][0]
    assert ':' in ent['partition']['day'], 'expected unescaped timestamp'
    some_day = datetime.datetime.fromisoformat(ent['partition']['day'])
    # timestamp equality on the partition column keeps the matching files
    plan = t.plan_files([('day', '=', some_day)])
    assert 0 < plan['n_kept'] < plan['n_total']
    got = sorted(r['event_id'] for r in
                 t.scan(spark, [('day', '=', some_day)]).collect())
    exp = sorted(r['event_id'] for r in
                 df.filter(F.col('day') == F.lit(some_day)).collect())
    assert got == exp and got
    # typeless numeric equality: float probe on an int partition value
    got_f = t.scan(spark, [('bucket', '=', 1.0)]).count()
    exp_f = df.filter(F.col('bucket') == 1).count()
    assert got_f == exp_f > 0
    # and a definitely-absent day prunes everything
    assert t.plan_files([('day', '=', datetime.datetime(1999, 1, 1))
                         ])['n_kept'] == 0


def test_bloom_accumulator_fold_matches_direct_build():
    """ADVICE r7: the streaming write path builds blooms per BATCH at the
    2^20-bit cap and folds down to the row-count size at the end; the fold
    must be bit-identical to a direct single-shot build (power-of-two
    moduli: H mod 2^j is the low j bits of H), at every size tier and for
    every split of the rows into batches."""
    import base64

    import pyarrow as pa

    from changepoynt_spark.sources.tables import (
        _BLOOM_K, _BloomAccumulator, _bloom_canon, _bloom_hashes)

    def direct_build(arr):
        """Single-shot oracle: hash every value straight into a bloom of
        the row-count-sized power of two (~16 bits/row, 2^10..2^20 bits);
        None when empty or any non-null value cannot be hashed."""
        if len(arr) == 0:
            return None
        n_bits = 1 << max(10, min(20, (16 * len(arr) - 1).bit_length()))
        bits = bytearray(n_bits // 8)
        for v in arr.to_pylist():
            if v is None:
                continue
            c = _bloom_canon(v)
            if c is None:
                return None
            for pos in _bloom_hashes(c, n_bits, _BLOOM_K):
                bits[pos >> 3] |= 1 << (pos & 7)
        return {'n_bits': n_bits, 'k': _BLOOM_K,
                'bits': base64.b64encode(bytes(bits)).decode()}

    for n in (3, 70, 5000, 80_000):          # 2^10 floor, mid, 2^20 cap tiers
        vals = [f'v{i}' if i % 7 else None for i in range(n)]
        direct = direct_build(pa.chunked_array([vals]))
        for n_batches in (1, 4):
            acc = _BloomAccumulator()
            step = (n + n_batches - 1) // n_batches
            for i in range(0, n, step):
                acc.update(pa.array(vals[i:i + step]))
            assert acc.finish() == direct, (n, n_batches)

    # poisoning (unhashable value anywhere) and emptiness match too
    assert _BloomAccumulator().finish() is None
    acc = _BloomAccumulator()
    acc.update(pa.array([1, 2]))
    acc.update(pa.array([True]))             # bool canon is None: unsound
    assert acc.finish() is None
    assert direct_build(pa.array([True, False])) is None


def test_bloom_cols_require_an_unpartitioned_write(spark, events, tmp_path):
    """Blooms are built inside the write task, one file per task, so a
    bloom table is unpartitioned: a partitioned bloom write raises before
    anything is written."""
    import os
    t = IcebergishTable(str(tmp_path / 'blpart'))
    with pytest.raises(ValueError, match='bloom_cols'):
        t.append(events, partition_by=('event_type',), bloom_cols=['event_id'])
    assert t.current_snapshot_id() == -1
    assert not os.path.exists(t.data_dir)


def test_bloom_write_leaves_no_temp_files(spark, events, tmp_path):
    """The streaming bloom writer publishes via attempt-private temp +
    atomic rename; after the commit no .tmp debris may remain and the read
    must see exactly the input rows."""
    import os
    n_in = events.count()
    t = IcebergishTable(str(tmp_path / 'bltmp'))
    t.append(events, partition_by=(), n_files=4, bloom_cols=['event_id'])
    snap_dir = os.path.join(t.data_dir, 'snap-0')
    names = os.listdir(snap_dir)
    assert not [n for n in names if n.endswith('.tmp')]
    assert len([n for n in names if n.endswith('.parquet')]) == 4
    assert t.read(spark).count() == n_in
