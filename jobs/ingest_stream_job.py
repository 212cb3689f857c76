#!/usr/bin/env python
"""Streaming corpus-ingest job — the Structured Streaming entry point for
the training-data pipeline: documents stream in, pass the learned quality
gate, survive exact dedup, land as parquet.

    spark-submit --master local[32] --py-files engine.zip \
        jobs/ingest_stream_job.py \
        --input /path/docs_stream --output /path/clean \
        --checkpoint /path/ckpt --quality-threshold 0.5 \
        --watermark '10 minutes' [--available-now]

Stages (each is an engine operator the batch contract queries exercise):

  1. QUALITY GATE — quality_score_linear (operators/text.py): a stateless
     zero-shuffle scan (higher-order aggregate over the split array, seeded
     hashed-linear model), so it runs on the stream unchanged.
  2. EXACT DEDUP — streaming_exact_dedup (streaming/dedup_stream.py):
     dropDuplicatesWithinWatermark keyed on md5(text); state bounded by the
     watermark horizon, exactly-once emission of first-seen texts.
  3. SINK — append-mode parquet with a checkpoint: a restart resumes from
     the checkpoint and cannot double-write (exactly-once file sink).

Rows without an event-time column are stamped with the ingest time
(current_timestamp) — the standard processing-time watermark fallback.
"""
from __future__ import annotations

import argparse

from changepoynt_spark.session import job_session, parquet_stream, run_stream


def build_stream(spark, input_path: str, quality_threshold: float = 0.5,
                 watermark: str = '10 minutes', ts_col: str = 'ts',
                 weights_seed: int = 31, dim: int = 256):
    """Assemble the ingest DataFrame (readStream -> gate -> dedup); returns
    the streaming DataFrame so tests and main() share one definition."""
    import numpy as np
    from pyspark.sql import functions as F
    from changepoynt_spark.operators.text import quality_score_linear
    from changepoynt_spark.streaming.dedup_stream import streaming_exact_dedup

    stream = parquet_stream(spark, input_path)
    if ts_col not in stream.columns:
        stream = stream.withColumn(ts_col, F.current_timestamp())
    weights = list(np.random.default_rng(weights_seed).standard_normal(dim))
    gated = quality_score_linear(stream, weights,
                                 threshold=quality_threshold).filter('keep')
    return streaming_exact_dedup(gated, ts_col=ts_col, text_col='text',
                                 delay=watermark)


def main(argv=None, spark=None):
    ap = argparse.ArgumentParser()
    ap.add_argument('--input', required=True)
    ap.add_argument('--output', required=True)
    ap.add_argument('--checkpoint', required=True)
    ap.add_argument('--quality-threshold', type=float, default=0.5)
    ap.add_argument('--watermark', default='10 minutes')
    ap.add_argument('--ts-col', default='ts')
    ap.add_argument('--weights-seed', type=int, default=31)
    ap.add_argument('--dim', type=int, default=256)
    ap.add_argument('--available-now', action='store_true',
                    help='drain the current input and stop (batch-style run '
                         'of the streaming pipeline; otherwise runs forever)')
    args = ap.parse_args(argv)

    with job_session(spark, 'ingest-stream') as spark:
        clean = build_stream(spark, args.input, args.quality_threshold,
                             args.watermark, args.ts_col,
                             args.weights_seed, args.dim)
        run_stream(clean.writeStream.outputMode('append').format('parquet')
                   .option('path', args.output),
                   args.checkpoint, args.available_now)


if __name__ == '__main__':
    main()
