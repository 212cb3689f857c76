"""Storage-layout proofs: z-ordered files narrow both dims' ranges, and the
spark-submit artifact packs exactly the package source.  Hidden-partition
pruning of tier tables is covered by tests/test_table_pruning.py."""
from pyspark.sql import functions as F


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
