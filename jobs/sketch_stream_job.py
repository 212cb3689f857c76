#!/usr/bin/env python
"""Streaming quantile-sketch tier job — the 5th spark-submit entry: events
stream in, ONE watermarked stateful aggregation emits the DD-sketch tier's
exchange rows (keys, bucket_start, _sgn, _idx, _cnt), which land as
parquet.  Because the exchange-row design keeps sketch-map assembly a
STATELESS view (operators.rollup.dd_rows_to_sketch, shared verbatim with
the batch tier), the sink is directly mergeable: assembled closed buckets
bit-match the batch tier under any partitioning or restart history.

    spark-submit --master local[32] --py-files engine.zip \
        jobs/sketch_stream_job.py \
        --input /path/events_stream --output /path/dd_rows \
        --checkpoint /path/ckpt --keys user_id --interval '1 hour' \
        --watermark '2 minutes' [--available-now] \
        [--quantiles-output /path/quantiles]

With --quantiles-output, after an --available-now drain the job also
materializes the human-readable quantile view (dd_sketch_quantiles over
the assembled sink) — a batch post-pass, exactly the tier's read path.
"""
from __future__ import annotations

import argparse

from changepoynt_spark.session import (comma_list, job_session, parquet_stream,
                                       run_stream)


def build_stream(spark, input_path: str, keys, interval: str = '1 hour',
                 watermark: str = '2 minutes', ts_col: str = 'ts',
                 value_col: str = 'value'):
    """readStream -> watermarked -> dd_sketch_rows (the batch tier's own
    operator); one definition shared by main() and the tests (the ingest
    job's pattern)."""
    from changepoynt_spark.operators.rollup import dd_sketch_rows
    from changepoynt_spark.streaming.rollup_stream import watermarked
    stream = parquet_stream(spark, input_path)
    return dd_sketch_rows(watermarked(stream, ts_col, watermark),
                          keys=list(keys), ts_col=ts_col,
                          value_col=value_col, interval=interval)


def assemble_quantiles(spark, rows_path: str, keys, qs=(0.5, 0.95, 0.99)):
    """Batch read path over the sink: exchange rows -> sketch maps ->
    quantile estimates (both steps are the batch tier's own code)."""
    from changepoynt_spark.operators.rollup import dd_rows_to_sketch, \
        dd_sketch_quantiles
    rows = spark.read.parquet(rows_path)
    return dd_sketch_quantiles(dd_rows_to_sketch(rows, keys=list(keys)),
                               keys=list(keys), qs=qs)


def main(argv=None, spark=None):
    ap = argparse.ArgumentParser()
    ap.add_argument('--input', required=True)
    ap.add_argument('--output', required=True)
    ap.add_argument('--checkpoint', required=True)
    ap.add_argument('--keys', default='user_id', type=comma_list,
                    help='comma-separated key columns')
    ap.add_argument('--interval', default='1 hour')
    ap.add_argument('--watermark', default='2 minutes')
    ap.add_argument('--ts-col', default='ts')
    ap.add_argument('--value-col', default='value')
    ap.add_argument('--available-now', action='store_true',
                    help='drain the current input and stop')
    ap.add_argument('--quantiles-output', default=None,
                    help='with --available-now: also write the assembled '
                         'quantile view here (batch post-pass)')
    args = ap.parse_args(argv)

    with job_session(spark, 'sketch-stream') as spark:
        rows = build_stream(spark, args.input, args.keys, args.interval,
                            args.watermark, args.ts_col, args.value_col)
        run_stream(rows.writeStream.outputMode('append').format('parquet')
                   .option('path', args.output),
                   args.checkpoint, args.available_now)
        if args.available_now and args.quantiles_output:
            assemble_quantiles(spark, args.output, args.keys) \
                .write.mode('overwrite').parquet(args.quantiles_output)


if __name__ == '__main__':
    main()
