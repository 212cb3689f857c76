"""Storage-layout proofs: bucketed joins run exchange-free, time-partitioned
tiers prune at the file index."""
import re

import pytest
from pyspark.sql import functions as F

from changepoynt_spark.plans import layout


@pytest.fixture()
def warehouse_spark(spark, tmp_path):
    # bucketed tables live in the session catalog; point the warehouse at
    # tmp and disable auto-broadcast so the join's exchange behavior is
    # decided by layout alone
    old = spark.conf.get('spark.sql.autoBroadcastJoinThreshold')
    spark.conf.set('spark.sql.autoBroadcastJoinThreshold', '-1')
    yield spark
    spark.conf.set('spark.sql.autoBroadcastJoinThreshold', old)
    for t in ('pts_b', 'meta_b'):
        spark.sql(f'DROP TABLE IF EXISTS {t}')


def test_bucketed_join_has_zero_exchanges(warehouse_spark, sf_dir, tmp_path):
    spark = warehouse_spark
    ev = spark.read.parquet(f'{sf_dir}/events.parquet')
    pts = ev.select('user_id', 'ts', 'value')
    meta = ev.groupBy('user_id').agg(F.count('*').alias('n_events'))
    layout.write_bucketed(pts, 'pts_b', str(tmp_path / 'pts'), ['user_id'], n_buckets=8)
    layout.write_bucketed(meta, 'meta_b', str(tmp_path / 'meta'), ['user_id'], n_buckets=8)
    j = spark.table('pts_b').join(spark.table('meta_b'), 'user_id')
    n = j.count()
    assert n == ev.count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    # co-located by layout: SortMergeJoin with NO shuffle on either side
    assert 'SortMergeJoin' in plan
    assert 'Exchange' not in plan.replace('BroadcastExchange', '')
    assert 'BroadcastExchange' not in plan


def test_time_partitioned_tier_prunes_and_pushes_down(spark, sf_dir, tmp_path):
    from changepoynt_spark.operators.rollup import rollup_from_points
    ev = spark.read.parquet(f'{sf_dir}/events.parquet')
    tier = rollup_from_points(ev, ['user_id'], interval='1 hour')
    root = str(tmp_path / 'tier1h')
    layout.write_time_partitioned(tier, root)
    r = layout.read_time_range(spark, root, '2024-01-03', '2024-01-04')
    assert r.count() > 0
    plan = r._jdf.queryExecution().executedPlan().toString()
    m = re.search(r'PartitionFilters: \[([^\]]*)\]', plan)
    assert m and 'p_date' in m.group(1)          # date dirs pruned at the index
    # NTZ timestamps get no parquet PushedFilters entry in this Spark
    # version; the residual ts filter still sits directly on the scan
    m2 = re.search(r'DataFilters: \[([^\]]*)\]', plan)
    assert m2 and 'bucket_start' in m2.group(1)
    # pruning is real: only the matching date directories are read
    files = {row[0] for row in r.select(F.input_file_name()).distinct().collect()}
    assert files and all('p_date=2024-01-0' in f for f in files)
    days = {f.split('p_date=')[1].split('/')[0] for f in files}
    assert days <= {'2024-01-03', '2024-01-04'}


def test_zorder_narrows_file_ranges_on_both_dims(spark, sf_dir, tmp_path):
    from changepoynt_spark.sources.tables import zorder_key
    ev = spark.read.parquet(f'{sf_dir}/events.parquet') \
              .select('user_id', 'ts', 'value')
    zp = str(tmp_path / 'zord')
    tp = str(tmp_path / 'tsorted')
    # the write append(zorder_by=...) performs: range-partition + sort on
    # the Morton key, which is dropped before the files are written
    (zorder_key(ev, ['user_id', 'ts'], bits_per_col=8)
       .repartitionByRange(16, '_z').sortWithinPartitions('_z').drop('_z')
       .write.mode('overwrite').parquet(zp))
    # baseline: single-column (time) clustering
    (ev.repartitionByRange(16, 'ts').sortWithinPartitions('ts')
       .write.mode('overwrite').parquet(tp))

    def widths(path):
        df = spark.read.parquet(path)
        per = (df.groupBy(F.input_file_name().alias('f'))
                 .agg((F.max('user_id') - F.min('user_id')).alias('uw'),
                      (F.unix_micros(F.max('ts').cast('timestamp'))
                       - F.unix_micros(F.min('ts').cast('timestamp'))).alias('tw'))
                 .toPandas())
        return per['uw'].mean(), per['tw'].mean()

    z_uw, z_tw = widths(zp)
    t_uw, t_tw = widths(tp)
    g_uw = ev.agg(F.max('user_id') - F.min('user_id')).first()[0]
    g_tw = (ev.agg(F.unix_micros(F.max('ts').cast('timestamp'))
                   - F.unix_micros(F.min('ts').cast('timestamp'))).first()[0])
    # time-sorted files: great ts ranges, useless user ranges (~global)
    assert t_uw > 0.9 * g_uw
    # z-ordered files: BOTH dims substantially narrowed vs global
    assert z_uw < 0.5 * g_uw, (z_uw, g_uw)
    assert z_tw < 0.5 * g_tw, (z_tw, g_tw)
    # row counts preserved
    assert spark.read.parquet(zp).count() == ev.count()


def test_package_script_builds_engine_zip_from_package_source(tmp_path):
    """scripts/package.sh (the spark-submit --py-files artifact builder)
    zips exactly the package's .py files, byte-identical to the source."""
    import os
    import subprocess
    import zipfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zpath = tmp_path / 'engine.zip'
    subprocess.run(['bash', os.path.join(repo, 'scripts', 'package.sh'),
                    str(zpath)], check=True, capture_output=True)
    z = zipfile.ZipFile(zpath)
    on_disk = set()
    for root, _, files in os.walk(os.path.join(repo, 'changepoynt_spark')):
        if '__pycache__' in root:
            continue
        on_disk.update(os.path.relpath(os.path.join(root, f), repo)
                       for f in files if f.endswith('.py'))
    assert set(z.namelist()) == on_disk
    for n in sorted(on_disk):
        with open(os.path.join(repo, n), 'rb') as f:
            assert z.read(n) == f.read(), n
