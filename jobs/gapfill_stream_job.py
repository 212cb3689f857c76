#!/usr/bin/env python
"""Streaming gap-fill job — the 7th spark-submit entry, completing the tier
cascade's streaming coverage (rollup/moments/DD-sketch/SAX tiers already
stream; gap-fill was the one cascade member without a twin).

Consumes a CLOSED-bucket tier stream (the append-mode parquet sink of the
tier rollup job) and emits the dense filled tier: every missing bucket
strictly between consecutive observed buckets per key, filled with LOCF /
linear interpolation / NULL, ``is_gap`` flagged.  State per key is one
(last bucket, last values) row regardless of stream length
(streaming/rollup_stream.py:streaming_gap_fill); filled rows are
bit-identical to the batch gap_fill window expressions
(tests/test_streaming.py).

    spark-submit --master local[32] --py-files engine.zip \
        jobs/gapfill_stream_job.py \
        --input /path/tier_1m --output /path/tier_1m_dense \
        --checkpoint /path/ckpt --keys user_id \
        --value-cols avg_value --interval-seconds 60 \
        --method locf [--available-now]

Input-order contract: the tier stream must deliver each key's buckets in
nondecreasing order across micro-batches — exactly what a chained
watermarked append-mode rollup produces.  Late/duplicate closed buckets
are dropped, never double-emitted (exactly-once composes with the file
sink + checkpoint: a restart with no new input adds zero rows,
tests/test_jobs.py).
"""
from __future__ import annotations

import argparse

from changepoynt_spark.session import (comma_list, job_session, parquet_stream,
                                       run_stream)


def build_stream(spark, input_path: str, keys, value_cols,
                 bucket_col: str = 'bucket_start',
                 interval_seconds: int = 60, method: str = 'locf'):
    """readStream over the tier sink -> streaming_gap_fill; one definition
    shared by main() and the tests (the ingest job's pattern)."""
    from pyspark.sql import functions as F
    from changepoynt_spark.streaming.rollup_stream import streaming_gap_fill
    stream = parquet_stream(spark, input_path)
    # the fill contract is double arithmetic (bit-matching the batch window
    # expressions); tiers that store decimals are cast on the way in
    stream = stream.select(
        *[c for c in stream.columns if c not in value_cols],
        *[F.col(c).cast('double').alias(c) for c in value_cols])
    return streaming_gap_fill(stream, keys=list(keys),
                              value_cols=list(value_cols),
                              bucket_col=bucket_col,
                              interval_seconds=interval_seconds,
                              method=method)


def main(argv=None, spark=None):
    ap = argparse.ArgumentParser()
    ap.add_argument('--input', required=True,
                    help='closed-bucket tier directory (parquet)')
    ap.add_argument('--output', required=True)
    ap.add_argument('--checkpoint', required=True)
    ap.add_argument('--keys', default='user_id', type=comma_list,
                    help='comma-separated key columns')
    ap.add_argument('--value-cols', default='avg_value', type=comma_list,
                    help='comma-separated value columns to fill')
    ap.add_argument('--bucket-col', default='bucket_start')
    ap.add_argument('--interval-seconds', type=int, default=60)
    ap.add_argument('--method', default='locf',
                    choices=['locf', 'linear', 'null'])
    ap.add_argument('--available-now', action='store_true',
                    help='drain the current input and stop')
    args = ap.parse_args(argv)

    with job_session(spark, 'gapfill-stream') as spark:
        dense = build_stream(spark, args.input, args.keys, args.value_cols,
                             args.bucket_col, args.interval_seconds,
                             args.method)
        run_stream(dense.writeStream.outputMode('append').format('parquet')
                   .option('path', args.output),
                   args.checkpoint, args.available_now)


if __name__ == '__main__':
    main()
