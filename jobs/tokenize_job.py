#!/usr/bin/env python
"""Corpus tokenization job — the 10th spark-submit entry, closing the
pipeline's front door: raw documents -> learned (or loaded) windowed-BPE
vocabulary -> an Iceberg-style TOKENS table in exactly the north-rule input
shape ``(doc_id string, tokens array<int>, n_tok int, source string)`` that
jobs/rollup_job.py (scoring + tier cascade) consumes.

Vocabulary handling mirrors a production tokenizer pipeline:

* ``--merges <table-root>`` loads a previously persisted Icebergish merge
  table (bpe.write_merge_table) — tokenization is then a pure map + one
  broadcast-join pass with NO learning;
* ``--learn`` learns the vocabulary from the input corpus (rank-batched
  windowed BPE, rounds x batch merges) and, with ``--write-merges``,
  persists it as the reusable artifact.

Byte-exactness: the job's token_ids are the bpe_tokenize_windowed stream
verbatim (md5-portable ids), and the output table records the merge-table
provenance (n_merges, source root) in its snapshot properties.

    spark-submit --master local[32] --py-files engine.zip \
        jobs/tokenize_job.py --docs /path/documents.parquet \
        --output /path/tokens_table --learn --write-merges /path/bpe_vocab \
        [--rounds 18 --batch 64 --window 4]
"""
from __future__ import annotations

import argparse
import json

from changepoynt_spark.session import job_session


def main(argv=None, spark=None):
    ap = argparse.ArgumentParser()
    ap.add_argument('--docs', required=True,
                    help='documents parquet (doc_id, text, source)')
    ap.add_argument('--output', required=True,
                    help='Iceberg-style tokens table root')
    ap.add_argument('--merges', default=None,
                    help='Icebergish merge-table root to LOAD (no learning)')
    ap.add_argument('--learn', action='store_true',
                    help='learn the vocabulary from --docs')
    ap.add_argument('--write-merges', default=None,
                    help='with --learn: persist the learned merge table here')
    ap.add_argument('--rounds', type=int, default=18)
    ap.add_argument('--batch', type=int, default=64)
    ap.add_argument('--window', type=int, default=4)
    args = ap.parse_args(argv)
    if not (args.merges or args.learn):
        ap.error('need --merges or --learn')

    from pyspark.sql import functions as F

    with job_session(spark, 'tokenize-job') as spark:
        from changepoynt_spark.operators import bpe
        from changepoynt_spark.sources.tables import IcebergishTable
        docs = spark.read.parquet(args.docs)
        reprs = None
        if args.merges:
            merges = bpe.read_merge_table(spark, args.merges)
            provenance = args.merges
        else:
            merges, reprs = bpe.learn_bpe_merges_windowed(
                docs, n_rounds=args.rounds, batch=args.batch,
                window=args.window)
            provenance = 'learned-in-job'
            if args.write_merges:
                bpe.write_merge_table(spark, args.write_merges, merges,
                                      properties={'corpus': args.docs})
                provenance = args.write_merges
        tok = bpe.bpe_tokenize_windowed(docs, merges=merges,
                                        window_reprs=reprs,
                                        window=args.window, batch=args.batch)
        out = tok.select(
            F.col('doc_id').cast('string').alias('doc_id'),
            F.col('token_ids').alias('tokens'),
            F.col('n_bpe').cast('int').alias('n_tok'),
            *(['source'] if 'source' in tok.columns else []))
        table = IcebergishTable(args.output)
        snap = table.append(
            out, partition_by=('source',) if 'source' in out.columns else (),
            properties={'operation': 'tokenize',
                        'n_merges': len(merges),
                        'merge_table': provenance})
        print(json.dumps({
            'docs': snap['manifest']['row_count'],
            'n_merges': len(merges),
            'snapshot_id': snap['snapshot_id'],
            'merge_table': provenance,
        }))
        return 0


if __name__ == '__main__':
    main()
