"""Per-partition checkpoint / resume for the rollup job (north rule).

The input is split into B logical buckets (hidden partitioning:
``pmod(xxhash64(doc_id), B)``).  Each bucket is processed independently
through the fused score->rollup->compress pipeline and committed as one
snapshot of an :class:`IcebergishTable`, whose manifest entry carries the
bucket's lineage + metrics:

    bucket id, input fingerprint (order-independent xor-sum of doc hashes +
    doc/token counts), output rows, rollup watermark (max bucket_start),
    algorithm + params + kernel version.

Resume = diff the buckets recorded in the table's manifests against the
bucket list; a bucket is skipped iff it is present AND its recorded input
fingerprint matches the current input (so late-arriving or changed docs
re-process their bucket; nothing is ever double-counted because a bucket is
exactly one snapshot).  This is the anti-join-completed-partitions pattern
at 10^12 scale: the bucket count is the unit of work AND of failure.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from changepoynt_spark import __version__ as KERNEL_VERSION
from changepoynt_spark.operators.fused import score_rollup
from changepoynt_spark.sources.tables import IcebergishTable

BUCKET_COL = 'doc_bucket'


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(BUCKET_COL,
                         F.pmod(F.xxhash64('doc_id'), F.lit(n_buckets)).cast('int'))


def all_bucket_fingerprints(bucketed: DataFrame, n_buckets: int) -> dict:
    """Fingerprints for EVERY bucket in ONE grouped aggregate — a single
    scan of the input, vs one full-scan job per bucket (at 10^12-sequence
    scale, B scans of a 100 TB table).  Map-side partial aggregation means
    the shuffle carries one row per (partition, bucket)."""
    rows = bucketed.groupBy(BUCKET_COL).agg(
        F.count('*').alias('docs'),
        F.sum('n_tok').alias('tokens'),
        F.expr('bit_xor(xxhash64(doc_id, tokens, n_tok))').alias('hashxor')).collect()
    out = {b: {'docs': 0, 'tokens': 0, 'hashxor': 0} for b in range(n_buckets)}
    for r in rows:
        out[int(r[BUCKET_COL])] = {'docs': int(r['docs']), 'tokens': int(r['tokens'] or 0),
                                   'hashxor': int(r['hashxor'] or 0)}
    return out


class RollupCheckpointJob:
    """Resumable tokens -> scored rollup blocks job over an Iceberg-style
    table."""

    def __init__(self, table_root: str, n_buckets: int = 8, algorithm: str = 'sst',
                 params: dict = None):
        self.table = IcebergishTable(table_root)
        self.n_buckets = n_buckets
        self.algorithm = algorithm
        self.params = dict(params or {})

    def completed(self) -> dict:
        """bucket -> recorded properties of its live snapshot: reprocessing
        a bucket invalidates the snapshot it replaces (newest wins)."""
        out = {}
        for sid in reversed(self.table._live_snapshots(self.table.current_snapshot_id())):
            props = dict(self.table.snapshot(sid)['manifest']['properties'])
            if 'bucket' in props:
                props['snapshot_id'] = sid
                out[int(props['bucket'])] = props
        return out

    def _props_current(self) -> dict:
        return {'algorithm': self.algorithm,
                'params': repr(sorted(self.params.items())),
                'kernel_version': KERNEL_VERSION}

    def pending_buckets(self, tokens: DataFrame) -> list:
        """[(bucket, fingerprint, stale snapshot id or None)] for every
        bucket to (re)process; reprocessing replaces the stale snapshot."""
        done = self.completed()
        bucketed = with_bucket(tokens, self.n_buckets)
        fps = all_bucket_fingerprints(bucketed, self.n_buckets)  # one Spark job
        cur = self._props_current()
        pending = []
        for b in range(self.n_buckets):
            fp = fps[b]
            rec = done.get(b)
            # a bucket is skipped only if BOTH its input fingerprint AND the
            # scoring settings (algorithm/params/kernel version) match — a
            # rerun with different settings must not retain stale snapshots
            if rec and rec.get('fingerprint') == fp and \
                    all(rec.get(k) == v for k, v in cur.items()):
                continue
            pending.append((b, fp, rec['snapshot_id'] if rec else None))
        return pending

    def run(self, spark: SparkSession, tokens: DataFrame, max_buckets: int = None) -> dict:
        """Process pending buckets (optionally capped — lets tests simulate a
        crash mid-job).  Returns {'processed': [...], 'skipped': [...]}."""
        pending = self.pending_buckets(tokens)
        skipped = sorted(set(range(self.n_buckets)) - {p[0] for p in pending})
        processed = []
        bucketed = with_bucket(tokens, self.n_buckets)
        for b, fp, stale in pending[:max_buckets]:
            sub = bucketed.filter(F.col(BUCKET_COL) == b)
            blocks = score_rollup(sub.drop(BUCKET_COL), algorithm=self.algorithm,
                                  params=self.params, output='blocks')
            # the watermark rides the write job as an Observation metric: a
            # separate max() action would score the whole bucket twice
            obs = Observation()
            blocks = (blocks.withColumn(BUCKET_COL, F.lit(b))
                      .observe(obs, F.max('block_start').alias('wm')))
            self.table.append(
                blocks, partition_by=('source', BUCKET_COL, 'tier'),
                invalidates=[stale] if stale is not None else (),
                properties={'bucket': b, 'fingerprint': fp, **self._props_current()},
                properties_fn=lambda obs=obs: {'watermark': str(obs.get['wm'])})
            processed.append(b)
        return {'processed': processed, 'skipped': skipped,
                'remaining': [p[0] for p in pending[len(processed):]]}
