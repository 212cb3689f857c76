#!/usr/bin/env python
"""Streaming SAX frame-tier job — the 6th spark-submit entry: events stream
in, ONE watermarked stateful aggregation emits the symbolic tier's PAA frame
rows (keys, frame_start, n_points, decimal _f1/_f2), which land as parquet.
Symbolization needs WHOLE-series stats, so it stays a STATELESS batch view
over the sink (operators.rollup.sax_finalize, shared verbatim with the batch
tier): assembled symbols bit-match batch under any partitioning or restart
history — the sketch_stream_job exchange-row design applied to the symbolic
tier.

    spark-submit --master local[32] --py-files engine.zip \
        jobs/sax_stream_job.py \
        --input /path/events_stream --output /path/sax_frames \
        --checkpoint /path/ckpt --keys user_id --interval '1 hour' \
        --watermark '2 minutes' [--available-now] \
        [--symbols-output /path/sax_symbols]

With --symbols-output, after an --available-now drain the job also
materializes the symbolized view (sax_finalize over the frame sink) — a
batch post-pass, exactly the tier's read path.
"""
from __future__ import annotations

import argparse

from changepoynt_spark.session import (comma_list, job_session, parquet_stream,
                                       run_stream)


def build_stream(spark, input_path: str, keys, interval: str = '1 hour',
                 watermark: str = '2 minutes', ts_col: str = 'ts',
                 value_col: str = 'value'):
    """readStream -> watermarked -> sax_frames (the batch tier's own
    operator); one definition shared by main() and the tests (the ingest
    job's pattern)."""
    from changepoynt_spark.operators.rollup import sax_frames
    from changepoynt_spark.streaming.rollup_stream import watermarked
    stream = parquet_stream(spark, input_path)
    return sax_frames(watermarked(stream, ts_col, watermark),
                      keys=list(keys), ts_col=ts_col, value_col=value_col,
                      interval=interval)


def assemble_symbols(spark, frames_path: str, keys, alphabet: int = 4):
    """Batch read path over the sink: frame rows -> series stats -> z ->
    letters (the batch tier's own finalize)."""
    from changepoynt_spark.operators.rollup import sax_finalize
    frames = spark.read.parquet(frames_path)
    return sax_finalize(frames, keys=list(keys), alphabet=alphabet)


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
    ap.add_argument('--alphabet', type=int, default=4)
    ap.add_argument('--available-now', action='store_true',
                    help='drain the current input and stop')
    ap.add_argument('--symbols-output', default=None,
                    help='with --available-now: also write the symbolized '
                         'view here (batch post-pass)')
    args = ap.parse_args(argv)

    with job_session(spark, 'sax-stream') as spark:
        frames = build_stream(spark, args.input, args.keys, args.interval,
                              args.watermark, args.ts_col, args.value_col)
        run_stream(frames.writeStream.outputMode('append').format('parquet')
                   .option('path', args.output),
                   args.checkpoint, args.available_now)
        if args.available_now and args.symbols_output:
            assemble_symbols(spark, args.output, args.keys, args.alphabet) \
                .write.mode('overwrite').parquet(args.symbols_output)


if __name__ == '__main__':
    main()
