#!/usr/bin/env python
"""Streaming continuous-aggregate refresh — the 9th spark-submit entry:
the streaming counterpart of jobs/continuous_agg_job.py, keeping a
ContinuousAggregate TIER table fresh from a Structured Streaming source
instead of batch snapshot polling.

A manifest-planned stream over the raw Icebergish table
(IcebergishTable.stream_read: offsets are snapshot ids, each micro-batch
reads the files the manifests list for the snapshots committed since the
last one) feeds the PARTIAL-form 1m/1h rollup (rollup_partial over the
watermarked stream: decimal-exact sums + first/last ts anchors, the same
operator batch refreshes run); each micro-batch's CLOSED buckets land in
the tier via foreachBatch -> IcebergishTable.append with the stream batch
id and rollup watermark in the snapshot properties.

The stream ingests only CONTENT snapshots on the table's lineage: raw-table
maintenance (compact / expire rewrites, MoR delete key-files) is skipped by
manifest operation, so it can run concurrently without double-counting
rewritten rows into the tier — the same ops the batch refresh tolerates via
read_delta.  Staged and crashed commits are never ingested, and a rollback
of the raw table under the stream fails the stream.  Still out of
contract: commits that logically MUTATE reflected raw rows (upsert
updates, delete retractions) — an append stream cannot retract emitted
buckets; run a batch ContinuousAggregate.refresh (full recompute takeover)
after such commits.  vacuum must lag the stream by one trigger interval
(standard streaming-read retention rule).  The stream and batch refresh
share ONE tier substrate: every tier reader (read / read_partial / read_realtime_stream,
compaction, hierarchical rebucketing) works unchanged, and a later BATCH
refresh takes the tier over with a full recompute (the stream snapshots
carry no raw-snapshot watermark, so refresh() falls back — asserted in
tests/test_streaming.py).

Exactly-once across restarts: Structured Streaming replays the last
uncommitted micro-batch with the same batch_id; the sink skips ids already
in the tier lineage.  One checkpoint dir per tier.

--source-kind partial chains the job into STREAMING HIERARCHICAL
continuous aggregates: --raw is then itself a CA tier in partial form
(e.g. the 1m tier this job keeps fresh from raw), and micro-batches fold
with rebucket_partials, watermarked on bucket_start — raw -> 1m -> 1h as
two always-on streams, each tier-compactable mid-stream (the
manifest-aware source skips maintenance snapshots at every level).

    spark-submit --master local[32] --py-files engine.zip \
        jobs/tier_stream_job.py \
        --raw /path/raw_table --tier /path/tier_table \
        --checkpoint /path/ckpt --keys user_id --interval '1 hour' \
        --watermark-delay '30 minutes' [--available-now]
"""
from __future__ import annotations

import argparse
import json

from changepoynt_spark.session import comma_list, job_session, run_stream


def main(argv=None, spark=None):
    ap = argparse.ArgumentParser()
    ap.add_argument('--raw', required=True,
                    help='Iceberg-style raw points table root')
    ap.add_argument('--tier', required=True,
                    help='Iceberg-style tier table root')
    ap.add_argument('--checkpoint', required=True)
    ap.add_argument('--keys', default='user_id', type=comma_list)
    ap.add_argument('--ts-col', default='ts')
    ap.add_argument('--value-col', default='value')
    ap.add_argument('--interval', default='1 hour')
    ap.add_argument('--watermark-delay', default='30 minutes')
    ap.add_argument('--source-kind', default='points',
                    choices=('points', 'partial'),
                    help="'partial': --raw is itself a CA tier in partial "
                         'form (streaming HIERARCHICAL continuous '
                         'aggregates, e.g. a stream-fed 1m tier feeding '
                         'this 1h tier); folds with rebucket_partials '
                         'instead of the raw rollup')
    ap.add_argument('--mode', default='closed-buckets',
                    choices=('closed-buckets', 'partials-per-batch'),
                    help="'closed-buckets' (default): watermarked streaming "
                         'agg, each bucket emitted once when closed; '
                         "'partials-per-batch': STATE-FREE ingest — every "
                         'micro-batch rolls up batch-locally and appends a '
                         'partial snapshot (merge-on-read exactness, no '
                         'late-data drops, zero agg state; the mode for '
                         'draining/backfilling the pre-tokenized sequence '
                         'table whose position timestamps share one window)')
    ap.add_argument('--transform', default=None,
                    choices=(None, 'tokens-points'),
                    help="row-local transform applied to raw rows before "
                         "the rollup; 'tokens-points' explodes the "
                         'north-rule sequence shape (doc_id, tokens, n_tok, '
                         'source) into timestamped points keyed by --keys')
    ap.add_argument('--epoch', default='2026-01-01',
                    help='epoch for the tokens-points position->timestamp '
                         'mapping')
    ap.add_argument('--available-now', action='store_true',
                    help='drain the current input and stop')
    args = ap.parse_args(argv)
    if args.transform is not None and args.source_kind == 'partial':
        ap.error('--transform applies to raw sources, not --source-kind partial')

    with job_session(spark, 'tier-stream') as spark:
        from changepoynt_spark.sources.continuous import ContinuousAggregate
        from changepoynt_spark.sources.tables import IcebergishTable
        from changepoynt_spark.operators.rollup import (rebucket_partials,
                                                        rollup_partial)
        from changepoynt_spark.streaming.rollup_stream import watermarked
        raw = IcebergishTable(args.raw)
        partial_src = args.source_kind == 'partial'
        transform = None
        if args.transform == 'tokens-points':
            from changepoynt_spark.operators.scoring import tokens_to_points

            def transform(df, _keys=tuple(args.keys), _epoch=args.epoch):
                return tokens_to_points(df, keys=_keys, epoch=_epoch,
                                        ts_col=args.ts_col,
                                        value_col=args.value_col)
        ca = ContinuousAggregate(
            raw, args.tier, args.keys,
            # a partial source's event time IS its bucket_start (used by
            # realtime reads to cut the on-the-fly tail)
            ts_col='bucket_start' if partial_src else args.ts_col,
            value_col=args.value_col, interval=args.interval,
            partition_by=(), source_kind=args.source_kind,
            transform=transform)
        stream = raw.stream_read(spark)
        if args.mode == 'partials-per-batch':
            # state-free ingest: raw micro-batches roll up batch-locally in
            # the sink (through the transform hook) — no watermark, nothing
            # dropped as late, merge-on-read carries exactness
            writer = stream.writeStream.foreachBatch(ca.stream_sink_raw())
        else:
            if partial_src:
                tier = rebucket_partials(
                    watermarked(stream, 'bucket_start', args.watermark_delay),
                    keys=args.keys, interval=args.interval)
            else:
                if transform is not None:
                    stream = transform(stream)
                tier = rollup_partial(
                    watermarked(stream, args.ts_col, args.watermark_delay),
                    keys=args.keys, ts_col=args.ts_col, value_col=args.value_col,
                    interval=args.interval)
            writer = (tier.writeStream.outputMode('append')
                      .foreachBatch(ca.stream_sink()))
        run_stream(writer, args.checkpoint, args.available_now)
        print(json.dumps({
            'tier_snapshots': ca.tier.current_snapshot_id() + 1,
            'rollup_watermark': str(ca.rollup_watermark()),
            'stream_batch_id': ca._max_stream_batch_id(),
        }))


if __name__ == '__main__':
    main()
