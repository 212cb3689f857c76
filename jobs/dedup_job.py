#!/usr/bin/env python
"""Corpus deduplication job — the spark-submit entry point for the
training-data pipeline surface.

    spark-submit --master local[32] --py-files engine.zip jobs/dedup_job.py \
        --input /path/documents_parquet --output /path/deduped \
        --threshold 0.5 --df-cap 1000

Pipeline (each stage is the engine operator the contract queries exercise):

  1. EXACT dedup — md5 hash-groupBy; keep the smallest doc_id per text.
  2. NEAR-DUP candidates — MinHash+LSH banded bucket join (ids only through
     the exchanges), exact-Jaccard verify at --threshold.
  3. CLUSTERING — connected components over the verified pair graph;
     cluster representative = smallest doc id.
  4. WRITE — the surviving corpus (exact survivors minus non-representative
     near-dup members) as parquet, plus a JSON report of drop counts.

Re-running is idempotent (same input -> same survivors).  No cluster-only
APIs: change --master / deploy mode for a real cluster.
"""
from __future__ import annotations

import argparse
import json
import sys

from changepoynt_spark.session import job_session


def _write_text(spark, path: str, content: str) -> None:
    """Write a small text file via the Hadoop FileSystem of ``path``'s URI
    scheme (works for hdfs://, s3a://, file:/ and bare local paths alike)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(content.encode('utf-8')))
    finally:
        out.close()


def main(argv=None, spark=None):
    p = argparse.ArgumentParser()
    p.add_argument('--input', required=True,
                   help='documents parquet (doc_id, text, ...)')
    p.add_argument('--output', required=True, help='deduped parquet path')
    p.add_argument('--threshold', type=float, default=0.5,
                   help='near-dup Jaccard threshold')
    p.add_argument('--ngram', type=int, default=3)
    p.add_argument('--num-hashes', type=int, default=32)
    p.add_argument('--bands', type=int, default=8)
    p.add_argument('--df-cap', type=int, default=1000,
                   help='hot-shingle document-frequency ceiling')
    args = p.parse_args(argv)

    from pyspark.sql import functions as F
    from changepoynt_spark.operators import dedup

    docs = exact_survivors = None
    with job_session(spark, 'changepoynt-dedup-job') as spark:
        try:
            docs = spark.read.parquet(args.input)
            par = spark.sparkContext.defaultParallelism
            if docs.rdd.getNumPartitions() < par:
                docs = docs.repartition(par)
            docs = docs.cache()
            n_input = docs.count()

            # 1. exact dedup (to count the stage separately)
            keep_exact = (docs.groupBy(F.md5('text').alias('_h'))
                              .agg(F.min('doc_id').alias('doc_id')))
            exact_survivors = docs.join(keep_exact.select('doc_id'), 'doc_id', 'left_semi') \
                                  .cache()
            n_exact = exact_survivors.count()

            # 2.-3. near-dup candidates + clustering + representative selection
            # (the same composition as dedup.dedupe_corpus, staged here so the
            # report can attribute drops per stage)
            pairs = dedup.minhash_lsh_pairs(exact_survivors, num_hashes=args.num_hashes,
                                            bands=args.bands, n=args.ngram,
                                            threshold=args.threshold)
            clusters = dedup.dup_clusters(pairs)
            drop_near = clusters.filter(F.col('doc_id') != F.col('cluster_id')) \
                                .select('doc_id')
            survivors = exact_survivors.join(drop_near, 'doc_id', 'left_anti')

            survivors.write.mode('overwrite').parquet(args.output)
            n_out = spark.read.parquet(args.output).count()
            report = {
                'input_docs': n_input,
                'exact_dups_dropped': n_input - n_exact,
                'near_dups_dropped': n_exact - n_out,
                'surviving_docs': n_out,
                'threshold': args.threshold,
            }
            # write through the Hadoop FileSystem API so the report lands next to
            # the parquet under ANY --output scheme (hdfs://, s3a://, file:/...),
            # not on the driver's local disk
            _write_text(spark, f'{args.output}_report.json',
                        json.dumps(report, indent=1))
            print(json.dumps(report))
            return report
        finally:
            for cached in (docs, exact_survivors):
                if cached is not None:
                    cached.unpersist()


if __name__ == '__main__':
    main(sys.argv[1:])
