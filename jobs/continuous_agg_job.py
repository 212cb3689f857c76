#!/usr/bin/env python
"""Continuous-aggregate refresh — spark-submit entry for snapshot-driven
incremental tier maintenance.

    spark-submit --master local[32] --py-files engine.zip \
        jobs/continuous_agg_job.py \
        --raw /path/raw_table --tier /path/tier_table \
        --keys user_id --interval '1 hour' \
        [--ingest /path/new_points.parquet] [--compact-above 8]

Unlike jobs/backfill_job.py (where the ORCHESTRATOR hands the job the late
parquet and tracks what was merged), this job discovers its own work: the
tier carries a ``refreshed_through_snapshot`` watermark in its snapshot
properties, and each run rolls up exactly the raw-table snapshots committed
since — nothing when the raw table hasn't moved (idempotent by
construction: re-submitting after a success is a no-op, so a retried
orchestrator step cannot double-count).  When the raw history since the
watermark is NOT append-only (a compaction/overwrite landed mid-range), the
run detects it and recomputes the tier from scratch as an overwrite
snapshot — correctness never depends on coordination with upstream
maintenance.

``--ingest`` optionally appends a parquet of new raw points first (the
arrival step, for single-command pipelines and tests); ``--compact-above``
collapses the tier's merge-on-read pile once its live-snapshot count
exceeds the threshold.
"""
from __future__ import annotations

import argparse
import json
import sys

from changepoynt_spark.session import comma_list, job_session


def main(argv=None, spark=None):
    p = argparse.ArgumentParser()
    p.add_argument('--raw', required=True, help='Iceberg-style raw points table root')
    p.add_argument('--tier', required=True, help='Iceberg-style tier table root')
    p.add_argument('--keys', default='user_id', type=comma_list,
                   help='comma-separated series keys')
    p.add_argument('--ts-col', default='ts')
    p.add_argument('--value-col', default='value')
    p.add_argument('--interval', default='1 hour')
    p.add_argument('--ingest', default=None,
                   help='optional parquet of new raw points to append first')
    p.add_argument('--compact-above', type=int, default=None,
                   help='compact the tier when live snapshots exceed this')
    p.add_argument('--agg-form', default='points',
                   choices=('points', 'hll', 'dd'),
                   help="tier monoid: 'points' (decimal-exact rollup "
                        "partials), 'hll' (distinct sketches; needs "
                        "--distinct-col), 'dd' (quantile log-bucket rows)")
    p.add_argument('--distinct-col', default=None,
                   help="column sketched by --agg-form hll")
    p.add_argument('--raw-retention', default=None,
                   help="downsample-then-drop: after the refresh, expire raw "
                        "rows older than this age behind the rollup "
                        "watermark (e.g. '7 days'); the tier keeps the "
                        "history and stays incremental (expiry is tolerated "
                        "maintenance, never a refresh trigger)")
    args = p.parse_args(argv)
    retention = None
    if args.raw_retention:
        import re
        retention = re.fullmatch(r'(\d+)\s*(day|hour|minute|second)s?',
                                 args.raw_retention.strip())
        if retention is None:
            p.error(f'bad --raw-retention {args.raw_retention!r}')

    from changepoynt_spark.sources.continuous import ContinuousAggregate
    from changepoynt_spark.sources.tables import IcebergishTable

    with job_session(spark, 'changepoynt-continuous-agg') as spark:
        raw = IcebergishTable(args.raw)
        ca = ContinuousAggregate(raw, args.tier, args.keys, ts_col=args.ts_col,
                                 value_col=args.value_col,
                                 interval=args.interval, partition_by=(),
                                 agg_form=args.agg_form,
                                 distinct_col=args.distinct_col)
        if args.ingest:
            raw.append(spark.read.parquet(args.ingest), partition_by=())
        report = ca.refresh(spark)
        compacted = None
        if args.compact_above is not None:
            cur = ca.tier.current_snapshot_id()
            if cur >= 0 and len(ca.tier._live_snapshots(cur)) > args.compact_above:
                compacted = ca.compact(spark)
        expired = None
        if retention is not None:
            import datetime
            wm = ca.rollup_watermark()
            if wm is not None:
                cutoff = wm - datetime.timedelta(
                    **{retention.group(2) + 's': int(retention.group(1))})
                # safe by construction: refresh() above reflected everything
                # in raw, so every row older than the cutoff is in the tier
                expired = raw.expire_before(spark, cutoff, ts_col=args.ts_col)
        summary = {
            'refresh': report,
            'compacted': compacted,
            'expired': expired,
            'watermark': ca.refreshed_through(),
            'raw_snapshot': raw.current_snapshot_id(),
            'tier_snapshots': ca.tier.current_snapshot_id() + 1,
        }
        print(json.dumps(summary))
        return 0


if __name__ == '__main__':
    sys.exit(main())
