"""Manifest-planned reads: every read of a snapshot dir takes its schema from
that snapshot's manifest.  Building a read therefore starts no Spark job
(nothing infers a parquet footer), hidden-partition columns keep the type
they were written with instead of the one Spark infers from the path, and
the read path's guards raise ``ValueError``, which ``python -O`` keeps."""
import json
import os
import shutil

import pytest
from pyspark.sql import types as T

from changepoynt_spark.sources.tables import IcebergishTable

SCHEMA = T.StructType([T.StructField('source', T.StringType()),
                       T.StructField('doc_id', T.LongType()),
                       T.StructField('value', T.DoubleType())])


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _source_values(df):
    return sorted({r['source'] for r in df.select('source').collect()})


def test_partition_values_keep_their_written_type(spark, tmp_path):
    """String partition values that look like numbers ('007', '2024') read
    back as the strings they were written as, not as inferred ints."""
    t = IcebergishTable(str(tmp_path / 't'))
    t.append(_batch(spark, [('007', 1, 1.0), ('2024', 2, 2.0)]))
    t.append(_batch(spark, [('007', 3, 3.0), ('2024', 4, 4.0)]))
    reads = {'read': t.read(spark),
             'scan': t.scan(spark, [('doc_id', '>=', 1)]),
             'read_delta': t.read_delta(spark, 0)}
    for name, df in reads.items():
        assert df.schema['source'].dataType == T.StringType(), name
        assert _source_values(df) == ['007', '2024'], name
    point = t.scan(spark, [('source', '=', '007')])
    assert sorted(r['doc_id'] for r in point.collect()) == [1, 3]


def test_building_a_read_starts_no_spark_job(spark, tmp_path):
    """Planning comes from the manifests: building read / scan / read_delta
    over a partitioned table with a live equality delete runs no job."""
    t = IcebergishTable(str(tmp_path / 't'))
    t.append(_batch(spark, [('a', 1, 1.0), ('b', 2, 2.0), ('a', 3, 3.0)]))
    t.delete_keys(spark.createDataFrame([(3,)], 'doc_id long'), ['doc_id'])
    t.append(_batch(spark, [('b', 4, 4.0), ('c', 5, 5.0)]))
    sc = spark.sparkContext
    sc.setJobGroup('build-reads', 'building table reads')
    try:
        reads = [t.read(spark), t.scan(spark, [('source', '=', 'a')]),
                 t.read_delta(spark, 1)]
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup('build-reads') == []
    assert [sorted(r['doc_id'] for r in df.collect()) for df in reads] == \
        [[1, 2, 4, 5], [1], [4, 5]]


def test_read_path_guards_raise_value_error(spark, tmp_path):
    """The empty-table and vacuumed-time-travel guards are ValueErrors, not
    asserts: under ``python -O`` an assert is stripped and ``read`` would
    silently drop the vacuumed snapshot's rows."""
    empty = IcebergishTable(str(tmp_path / 'empty'))
    for call in (lambda: empty.read(spark),
                 lambda: empty.read_delta(spark, -1),
                 lambda: empty.plan_files([('doc_id', '=', 1)])):
        with pytest.raises(ValueError, match='has no snapshots'):
            call()
    t = IcebergishTable(str(tmp_path / 't'))
    t.append(_batch(spark, [('a', 1, 1.0)]))
    t.append(_batch(spark, [('b', 2, 2.0)]))
    shutil.rmtree(os.path.join(t.data_dir, 'snap-0'))
    with pytest.raises(ValueError, match='vacuumed snapshot'):
        t.read(spark)


def test_manifest_without_schema_is_corrupt(spark, tmp_path):
    """No fallback to footer inference: a committed snapshot that records
    no schema is a corrupt table and the read raises."""
    t = IcebergishTable(str(tmp_path / 't'))
    t.append(_batch(spark, [('a', 1, 1.0)]))
    path = os.path.join(t.meta_dir, 'snapshot-0.json')
    with open(path) as f:
        snap = json.load(f)
    del snap['schema']
    with open(path, 'w') as f:
        json.dump(snap, f)
    with pytest.raises(ValueError, match='records no schema'):
        t.read(spark)



def test_decimal_column_appends_without_footer_stats(spark, tmp_path):
    """pyarrow cannot decode the footer stats of an INT32/INT64-backed
    decimal (``decimal(10,2)``, ``decimal(18,4)``): the append records no
    stats for that column instead of failing, the values round-trip, and a
    predicate on the column never prunes a file."""
    import decimal
    rows = [(i, decimal.Decimal(f'{i}.25'), decimal.Decimal(f'{i}.5'))
            for i in range(12)]
    df = spark.createDataFrame(rows, 'doc_id long, price decimal(10,2), '
                                     'weight decimal(18,4)').repartition(3)
    t = IcebergishTable(str(tmp_path / 'dec'))
    t.append(df, partition_by=())
    entries = t.snapshot()['manifest']['entries']
    assert all('price' not in e['stats'] and 'doc_id' in e['stats']
               for e in entries if e['rows'])
    got = sorted(tuple(r) for r in t.read(spark).collect())
    assert got == sorted(rows)
    plan = t.plan_files([('price', '>', 100)])
    assert plan['n_kept'] == plan['n_total'] == 3
