"""Storage layout for repeated access at scale: bucketed co-located joins
and time-partitioned tier pruning.

Two layout disciplines a 100 TB deployment applies once at WRITE time so
every later query skips work:

- **Bucketing**: tables that join repeatedly on the same key (points with
  per-series metadata, tier with tier) are written ``bucketBy(N, key)``.
  Both sides then satisfy the join's hash-partitioning requirement from
  their file layout alone — the SortMergeJoin plans with ZERO Exchange
  (plan-asserted in tests/test_layout.py), where an unbucketed join
  shuffles BOTH full tables every single run.

- **Time partitioning**: tier tables are written ``partitionBy(day)``
  (derived from bucket_start — Iceberg-style hidden partitioning would
  derive it transparently; plain Spark keeps the explicit column).  Any
  time-ranged read hits only the matching date directories
  (``PartitionFilters`` in the scan, plan-asserted) — the difference
  between scanning a day and scanning a decade.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(df: DataFrame, table_name: str, path: str, keys,
                   n_buckets: int = 64, sort: bool = True) -> None:
    """Write df bucketed (and optionally sorted) by ``keys`` — the layout
    that lets every later equi-join/aggregation on ``keys`` run
    exchange-free.  ``n_buckets`` should match the downstream join fan-out
    (buckets = max useful parallelism for co-located work)."""
    keys = list(keys)
    w = df.write.mode('overwrite').bucketBy(n_buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.option('path', path).saveAsTable(table_name)


def write_time_partitioned(df: DataFrame, path: str,
                           ts_col: str = 'bucket_start',
                           granularity: str = 'day') -> None:
    """Write a tier time-partitioned for pruning: adds a ``p_date`` column
    (truncated ``ts_col``) and partitions the files by it."""
    part = F.to_date(F.date_trunc(granularity, F.col(ts_col)))
    (df.withColumn('p_date', part)
       .write.mode('overwrite').partitionBy('p_date').parquet(path))


def read_time_range(spark: SparkSession, path: str, start: str, end: str,
                    ts_col: str = 'bucket_start') -> DataFrame:
    """Time-ranged tier read whose date predicate prunes partitions at the
    file index (and whose ts predicate pushes into the parquet scan)."""
    # literals cast to the column's type EXPLICITLY: a bare string literal
    # can coerce the comparison onto the column side, which kills pushdown
    lo = F.to_timestamp(F.lit(start)).cast('timestamp_ntz')
    hi = F.to_timestamp(F.lit(end)).cast('timestamp_ntz')
    return (spark.read.parquet(path)
            .filter((F.col('p_date') >= F.to_date(F.lit(start)))
                    & (F.col('p_date') <= F.to_date(F.lit(end)))
                    & (F.col(ts_col) >= lo) & (F.col(ts_col) <= hi)))
