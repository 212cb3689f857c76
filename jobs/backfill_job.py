#!/usr/bin/env python
"""Incremental tier backfill — spark-submit entry for late/out-of-order data.

    spark-submit --master local[32] --py-files engine.zip jobs/backfill_job.py \
        --table /path/tier_table --late /path/late_points.parquet \
        --keys user_id --interval '1 minute'

The tier table (Iceberg-style, changepoynt_spark.sources.tables) stores
MERGEABLE PARTIALS (rollup.rollup_partial schema) and is maintained
merge-on-read, LSM/Hudi-style:

- a backfill run rolls up ONLY the late points and appends them as one new
  snapshot — cost proportional to the late data, never to tier history;
- readers collapse all live snapshots with rollup.merge_partials (a
  commutative monoid, so append order and snapshot count never change the
  result) and finalize to the tier schema;
- ``--compact`` merges every live snapshot into one and commits it with
  ``invalidates`` on all predecessors (Iceberg rewrite semantics) — run it
  when the snapshot count makes merge-on-read reads too wide;
- exactly-once: each backfill records its input path in the snapshot
  properties; re-submitting the same path is a no-op skip, so a retried
  orchestrator step cannot double-count.
"""
from __future__ import annotations

import argparse
import json

from changepoynt_spark.session import comma_list, job_session


def read_tier(spark, table, keys):
    """Merge-on-read view of a partial tier table -> finalized tier."""
    from changepoynt_spark.operators.rollup import finalize_rollup, merge_partials
    return finalize_rollup(merge_partials(table.read(spark), keys), keys)


def main(argv=None, spark=None):
    p = argparse.ArgumentParser()
    p.add_argument('--table', required=True, help='Iceberg-style tier table root')
    p.add_argument('--late', required=True, help='parquet of late/new raw points')
    p.add_argument('--keys', default='user_id', type=comma_list,
                   help='comma-separated series keys')
    p.add_argument('--ts-col', default='ts')
    p.add_argument('--value-col', default='value')
    p.add_argument('--interval', default='1 minute')
    p.add_argument('--compact', action='store_true',
                   help='also merge all live snapshots into one (rewrite)')
    args = p.parse_args(argv)

    from changepoynt_spark.operators.rollup import merge_partials, rollup_partial
    from changepoynt_spark.sources.tables import IcebergishTable

    with job_session(spark, 'changepoynt-backfill-job') as spark:
        table = IcebergishTable(args.table)
        done = {props.get('input') for props in table.properties_by_snapshot().values()}
        if args.late in done:
            summary = {'skipped': True, 'reason': 'input already applied',
                       'input': args.late,
                       'snapshot': table.current_snapshot_id()}
        else:
            late = spark.read.parquet(args.late)
            part = rollup_partial(late, args.keys, ts_col=args.ts_col,
                                  value_col=args.value_col, interval=args.interval)
            snap = table.append(part, partition_by=None,
                                properties={'input': args.late,
                                            'kind': 'backfill',
                                            'interval': args.interval})
            summary = {'skipped': False, 'snapshot': snap['snapshot_id'],
                       'rows_appended': snap['manifest']['row_count']}
        if args.compact:
            live = table.read(spark)
            merged = merge_partials(live, args.keys)
            prev = table._live_snapshots(table.current_snapshot_id())
            snap = table.append(merged, partition_by=None,
                                properties={'kind': 'compaction',
                                            'input': f'compact-{len(prev)}'},
                                invalidates=prev)
            summary['compacted_into'] = snap['snapshot_id']
            summary['rows_after_compaction'] = snap['manifest']['row_count']
        print(json.dumps(summary))
        return 0


if __name__ == '__main__':
    raise SystemExit(main())
