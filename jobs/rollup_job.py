#!/usr/bin/env python
"""Resumable scored-rollup job — the spark-submit entry point (north rule).

    spark-submit --master local[32] --py-files engine.zip jobs/rollup_job.py \
        --input /path/tokens_parquet --output /path/rollup_table \
        --buckets 16 --algorithm sst \
        --params '{"window_length": 30, "rank": 2, "method": "ika"}'

Reads the tokens table (parquet in the input_hint shape, or --synth-docs N
for deterministic synthetic input), scores + rolls up + compresses every
pending bucket into an Iceberg-style table with per-partition lineage +
watermark manifests, and exits.  Re-running resumes: completed buckets whose
input fingerprints still match are skipped.

Uses no cluster-only APIs — the same invocation works on a real cluster by
changing --master / deploy mode.
"""
from __future__ import annotations

import argparse
import json
import sys

from changepoynt_spark.session import job_session


def main(argv=None, spark=None):
    p = argparse.ArgumentParser()
    p.add_argument('--input', help='tokens parquet path (doc_id, tokens, n_tok, source)')
    p.add_argument('--synth-docs', type=int, default=0,
                   help='generate N deterministic synthetic docs instead of --input')
    p.add_argument('--synth-max-len', type=int, default=4000)
    p.add_argument('--output', required=True, help='Iceberg-style table root')
    p.add_argument('--buckets', type=int, default=16)
    p.add_argument('--algorithm', default='sst')
    p.add_argument('--params', default='{"window_length": 30, "rank": 2, "method": "ika"}')
    p.add_argument('--max-buckets', type=int, default=None,
                   help='process at most this many pending buckets (for staged runs)')
    args = p.parse_args(argv)
    if not (args.synth_docs or args.input):
        p.error('need --input or --synth-docs')

    from changepoynt_spark.plans.checkpoint import RollupCheckpointJob

    with job_session(spark, 'changepoynt-rollup-job') as spark:
        if args.synth_docs:
            from changepoynt_spark.sources.datagen import tokens_table_distributed
            tokens = tokens_table_distributed(spark, n_docs=args.synth_docs,
                                              max_len=args.synth_max_len)
        else:
            import os as _os
            if _os.path.exists(f'{args.input}/metadata/version-hint.txt'):
                # input is itself an Iceberg-style table of tokenized sequences
                from changepoynt_spark.sources.tables import IcebergishTable
                tokens = IcebergishTable(args.input).read(spark)
            else:
                tokens = spark.read.parquet(args.input)
        tokens = tokens.cache()
        try:
            job = RollupCheckpointJob(args.output, n_buckets=args.buckets,
                                      algorithm=args.algorithm,
                                      params=json.loads(args.params))
            result = job.run(spark, tokens, max_buckets=args.max_buckets)
            summary = {
                'processed': result['processed'],
                'skipped': result['skipped'],
                'remaining': result['remaining'],
                'snapshots': job.table.current_snapshot_id() + 1,
                'watermarks': {k: v.get('watermark') for k, v in job.completed().items()},
            }
            print(json.dumps(summary))
            return 0
        finally:
            tokens.unpersist()


if __name__ == '__main__':
    sys.exit(main())
