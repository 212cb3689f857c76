"""SparkSession factory with engine defaults.

Arrow on (all kernel execution crosses the JVM->Python boundary as Arrow
batches), AQE on (runtime skew-join/partition coalescing), shuffle
partitions sized for the local harness but overridable for cluster runs.
``release`` frees the blocks of a cached or localCheckpoint'ed frame.
The ``jobs/`` entries share the job lifecycle below (a streaming job is its
``build_stream`` plus a sink and a trigger).
"""
from __future__ import annotations

import os
from contextlib import nullcontext

from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = 'changepoynt-spark', master: str = None,
              shuffle_partitions: int = None, extra_conf: dict = None) -> SparkSession:
    # one BLAS thread per Python worker: parallelism comes from Spark tasks;
    # multi-threaded BLAS on the kernels' tiny gemms only causes contention
    for var in ('OMP_NUM_THREADS', 'OPENBLAS_NUM_THREADS', 'MKL_NUM_THREADS',
                'VECLIB_MAXIMUM_THREADS', 'NUMEXPR_NUM_THREADS'):
        os.environ.setdefault(var, '1')
    cpus = int(os.environ.get('SPARK_GRAFT_CPUS', '32'))
    master = master or f'local[{cpus}]'
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config('spark.sql.shuffle.partitions', str(shuffle_partitions))
        .config('spark.sql.adaptive.enabled', 'true')
        .config('spark.sql.adaptive.coalescePartitions.enabled', 'true')
        # AQE's coalescing targets BYTES per partition (1 MiB floor by
        # default) — the wrong cost proxy for CPU-heavy kernel stages, where
        # a 100 KB partition of token arrays is seconds of numpy.  Lowering
        # the floor keeps small-SF shuffles spread across the cores; at
        # cluster scale partitions are far above either floor, so this is a
        # no-op there.
        .config('spark.sql.adaptive.coalescePartitions.minPartitionSize', '64k')
        .config('spark.sql.adaptive.skewJoin.enabled', 'true')
        .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
        .config('spark.sql.execution.arrow.maxRecordsPerBatch', '1024')
        .config('spark.driver.memory', os.environ.get('SPARK_DRIVER_MEMORY', '8g'))
        .config('spark.sql.session.timeZone', 'UTC')
        # INT64 micros, not legacy INT96: INT96 carries NO parquet footer
        # min/max, which blinds the manifest-stats scan planning
        # (IcebergishTable.plan_files / expire_before) on every
        # engine-written TIMESTAMP column.  NTZ columns already write
        # INT64; this aligns LTZ with them (and with what Iceberg requires)
        .config('spark.sql.parquet.outputTimestampType', 'TIMESTAMP_MICROS')
        .config('spark.ui.enabled', 'false')
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def release(df: DataFrame) -> None:
    """Drop the blocks of a (possibly localCheckpoint'ed) frame.
    ``DataFrame.unpersist`` only uncaches plans held by the cache manager, so
    on a checkpointed frame it frees nothing: those blocks belong to the RDD
    under the frame's ``LogicalRDD`` leaf."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == 'LogicalRDD':
        plan.rdd().unpersist(False)
    df.unpersist()


def job_session(spark: SparkSession = None, app_name: str = 'changepoynt-spark'):
    """A job's session as a context manager: ``spark=None`` (spark-submit)
    creates one, which the ``with`` block stops on exit (SparkSession's own
    ``__exit__``); an injected session (pytest, a driver) is left running."""
    return nullcontext(spark) if spark is not None else get_spark(app_name=app_name)


def parquet_stream(spark: SparkSession, path: str) -> DataFrame:
    """readStream over a parquet dir; a file stream needs its schema up
    front, so it is taken from the files already there."""
    return spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)


def run_stream(writer, checkpoint: str, available_now: bool) -> None:
    """Start a checkpointed streaming query: ``available_now`` drains the
    current input and returns; otherwise the query runs until killed."""
    writer = writer.option('checkpointLocation', checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    writer.start().awaitTermination()


def comma_list(value: str) -> list:
    """argparse ``type`` of a comma-separated flag: 'a, b,' -> ['a', 'b']."""
    return [v.strip() for v in value.split(',') if v.strip()]
