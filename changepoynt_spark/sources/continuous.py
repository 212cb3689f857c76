"""Continuous aggregate: snapshot-driven incremental tier refresh.

TimescaleDB's continuous aggregates / Iceberg's incremental append scan,
composed from pieces the engine already has:

* :meth:`IcebergishTable.read_delta` — the rows appended to the RAW table
  between two snapshots (raises when the range is not append-only);
* :func:`rollup_partial` / :func:`merge_partials` — the commutative-monoid
  partial form, so a tier stored append-only (merge-on-read) is exactly
  correct under ANY merge order (decimal-exact sums, first/last TS anchors).

The aggregate owns a TIER table whose snapshots each carry a
``refreshed_through_snapshot`` watermark property: refresh = roll up ONLY
the raw delta since that watermark and append it (one tiny snapshot), never
re-aggregating history.  At 10^12-sequence scale this is the difference
between a per-refresh scan of the appended micro-batch and a per-refresh
scan of 100 TB.  When the raw history is NOT append-only across the range
(a compaction/overwrite landed mid-range, so additive refresh would double-
or under-count), refresh detects it via :meth:`read_delta`'s invariant and
falls back to a full recompute committed as an overwrite snapshot —
correctness never depends on the caller knowing what happened upstream.

Reads are merge-on-read (:func:`merge_partials` over the live tier
snapshots); :meth:`compact` collapses the accumulated partials into one
merged snapshot — still in partial form, so later refreshes keep merging.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from changepoynt_spark.operators.rollup import (
    dd_rows_merge, dd_rows_to_sketch, dd_sketch_rows, finalize_rollup,
    merge_partials, rebucket_partials, rollup_partial, sketch_estimate,
    sketch_rollup, sketch_rollup_merge)
from changepoynt_spark.sources.tables import WATERMARK_PROP, IcebergishTable

# source maintenance that only touched reflected data never re-triggers the
# aggregate: an expiry keeps the TIER's history even after the raw rows age
# out (downsample-then-drop), and a compaction of already-rolled-up
# snapshots (raw 'compact', an upstream tier's 'tier-compact') is invisible
_TOLERATED_OPS = ('expire', 'compact', 'tier-compact')


class _PointsForm:
    """The default mergeable form: decimal-exact rollup partials."""
    points_col = 'cnt_points'

    def __init__(self, ca):
        self.ca = ca

    def partial(self, df):
        return rollup_partial(df, self.ca.keys, ts_col=self.ca.ts_col,
                              value_col=self.ca.value_col,
                              interval=self.ca.interval)

    def rebucket(self, df):
        return rebucket_partials(df, self.ca.keys, self.ca.interval)

    def merge(self, df):
        return merge_partials(df, self.ca.keys)

    def finalize(self, df):
        return finalize_rollup(df, self.ca.keys)


class _HllForm:
    """Approximate-distinct tier: Datasketches HLL per (keys, bucket).
    Sketch union is commutative/associative, so the merge-on-read pile and
    the snapshot-delta refreshes compose to the SAME sketch as one pass
    over raw (bit-identical estimates; asserted in tests)."""
    points_col = 'cnt_points'

    def __init__(self, ca, distinct_col: str, lg_k: int = 12):
        self.ca = ca
        self.distinct_col = distinct_col
        self.lg_k = lg_k

    def partial(self, df):
        return sketch_rollup(df, self.ca.keys, self.distinct_col,
                             ts_col=self.ca.ts_col,
                             interval=self.ca.interval, lg_k=self.lg_k)

    def rebucket(self, df):
        return sketch_rollup_merge(df, self.ca.keys, self.ca.interval)

    def merge(self, df):
        # same-interval regroup: snapshots' same-bucket sketches union
        return sketch_rollup_merge(df, self.ca.keys, self.ca.interval)

    def finalize(self, df):
        return sketch_estimate(df, self.ca.keys)


class _DdForm:
    """Quantile tier: DDSketch-style log-bucket exchange rows per
    (keys, bucket).  Merging is bucket-count ADDITION — commutative and
    integer-exact, so incremental == one-shot under any snapshot/merge
    order.  ``finalize`` yields the tier sketch schema; feed it to
    :func:`dd_sketch_quantiles` for percentile reads."""
    points_col = '_cnt'

    def __init__(self, ca):
        self.ca = ca

    def partial(self, df):
        return dd_sketch_rows(df, self.ca.keys, ts_col=self.ca.ts_col,
                              value_col=self.ca.value_col,
                              interval=self.ca.interval)

    def rebucket(self, df):
        return dd_rows_merge(df, self.ca.keys, self.ca.interval)

    def merge(self, df):
        return dd_rows_merge(df, self.ca.keys)

    def finalize(self, df):
        return dd_rows_to_sketch(df, self.ca.keys)


class ContinuousAggregate:
    """A rollup tier kept incrementally in sync with a raw points table.

    ``keys``/``ts_col``/``value_col``/``interval`` are the
    :func:`rollup_partial` contract; ``partition_by`` is the tier table's
    hidden partition spec (default: the first key if any, which for the
    engine's tiers is the low-cardinality ``source`` column).
    """

    def __init__(self, source: IcebergishTable, tier_root: str, keys,
                 ts_col: str = 'ts', value_col: str = 'value',
                 interval: str = '1 minute', partition_by=None,
                 source_kind: str = 'points', transform=None,
                 agg_form: str = 'points', distinct_col: str = None,
                 lg_k: int = 12, auto_compact_snapshots: int = 64):
        self.source = source
        self.tier = IcebergishTable(tier_root)
        self.keys = list(keys)
        self.ts_col = ts_col
        self.value_col = value_col
        self.interval = interval
        # agg_form: which mergeable partial the tier stores —
        #   'points' (default) decimal-exact rollup partials,
        #   'hll'    Datasketches HLL distinct sketches (distinct_col, lg_k),
        #   'dd'     DDSketch-style quantile exchange rows.
        # Sketch tiers are WHY continuous aggregates work for distinct
        # counts and percentiles at all: exact COUNT(DISTINCT)/median do
        # not merge, the sketches do — same watermark machinery, different
        # monoid.
        if agg_form == 'points':
            self._form = _PointsForm(self)
        elif agg_form == 'hll':
            if not distinct_col:
                raise ValueError("agg_form='hll' requires distinct_col")
            self._form = _HllForm(self, distinct_col, lg_k)
        elif agg_form == 'dd':
            self._form = _DdForm(self)
        else:
            raise ValueError(f'unknown agg_form {agg_form!r}')
        self.agg_form = agg_form
        # transform: DataFrame -> DataFrame mapped over each SOURCE DELTA
        # before the rollup (and over the full source on fallback) — the
        # hook that makes a DERIVED tier continuous: tokenize/explode a
        # sequence table into points, or run the change-point kernels so
        # SCORED points flow into the tier incrementally.  It MUST be
        # row-local (each output row a function of exactly one input row,
        # e.g. mapInPandas scoring / posexplode) — that is what makes
        # transform(delta) == delta-of-transform, i.e. incremental refresh
        # == full recompute.  Cross-row transforms would need a halo and
        # are out of contract.
        if source_kind not in ('points', 'partial'):
            raise ValueError(f'unknown source_kind {source_kind!r}')
        if transform is not None and source_kind != 'points':
            raise ValueError('transform applies to raw sources only '
                             '(a partial source is already in tier form)')
        self.transform = transform
        self.partition_by = tuple(partition_by) if partition_by is not None \
            else (tuple(self.keys[:1]) if self.keys else ())
        # 'partial': the source is itself a CA tier in partial form
        # (hierarchical continuous aggregates, raw -> 1m -> 1h -> 1d): a
        # source delta folds in with rebucket_partials instead of
        # rollup_partial, and the upstream's own maintenance commits
        # ('tier-compact') are tolerated like raw expiry/compaction
        self.source_kind = source_kind
        # auto-compaction policy: every refresh appends one merge-on-read
        # snapshot, so an always-on pipeline's read cost grows with the
        # number of live tier snapshots (union + merge width), not bytes.
        # When a refresh leaves MORE than this many live snapshots, the
        # refresh itself folds the pile with :meth:`compact` (watermark-
        # preserving) — readers stay O(1) snapshots amortized, and the
        # compaction cost is bounded: it re-reads tier PARTIALS (≤ one row
        # per keys×bucket), never raw history.  None/0 disables.
        self.auto_compact_snapshots = auto_compact_snapshots

    # -- watermark ---------------------------------------------------------

    def refreshed_through(self) -> int:
        """Raw-table snapshot id the tier reflects (-1 = never refreshed):
        the newest :data:`WATERMARK_PROP` on the tier lineage, read from the
        current snapshot's summary."""
        return self.tier.summary().get('refreshed_through', -1)

    # -- refresh -----------------------------------------------------------

    def _fold(self, df: DataFrame) -> DataFrame:
        """Source rows -> this tier's partial form, transform-free: a
        partial source re-buckets, a points source rolls up."""
        if self.source_kind == 'partial':
            return self._form.rebucket(df)
        return self._form.partial(df)

    def _partial(self, df: DataFrame) -> DataFrame:
        if self.transform is not None:   # only ever set on a points source
            df = self.transform(df)
        return self._fold(df)

    def refresh(self, spark: SparkSession) -> dict:
        """Bring the tier up to the raw table's current snapshot.

        Incremental when the raw history since the last refresh is
        append-only; full recompute (overwrite) otherwise; 'empty' (a
        data-less commit that only advances the watermark) when the new
        raw snapshots added no data files; no-op when nothing changed.
        Returns ``{'mode', 'from', 'to', 'rows'}``.
        """
        frm = self.refreshed_through()
        to = self.source.current_snapshot_id()
        if to < 0 or to == frm:
            return {'mode': 'noop', 'from': frm, 'to': to, 'rows': 0}
        cur = self.tier.current_snapshot_id()
        if frm < 0 and cur >= 0:
            # the tier has snapshots but NO raw-snapshot watermark: it was
            # fed by a stream (stream_sink), whose coverage is an event-time
            # frontier, not a snapshot id.  Treating the whole raw history
            # as a "delta" would double-count the stream's rows — take over
            # with a full recompute that atomically invalidates the
            # stream-fed snapshots instead.
            mode, delta = 'full', None
        else:
            mode, delta = self._plan_delta(spark, frm, to)
        props = {'operation': f'refresh-{mode}', WATERMARK_PROP: int(to),
                 'refresh_from_snapshot': int(frm)}
        out = {'mode': mode, 'from': frm, 'to': to, 'rows': 0}
        if mode == 'empty':
            # new source snapshots but no new data files (maintenance of
            # reflected data): the watermark lives in snapshot properties,
            # so a data-less commit advances it — no Spark job, no file
            schema = (self.tier._data_snapshot(cur)['schema'] if cur >= 0 else
                      self._partial(self.source.read(spark, to)).schema.jsonValue())
            self.tier._commit(self.tier._next_sid(), cur, (), props, schema,
                              self.partition_by, [])
            return out
        invalidates = ()
        if mode == 'full':
            delta = self.source.read(spark, to)
            invalidates = self.tier._live_snapshots(cur)   # [] at cur=-1
        snap, rep = self._append(self._partial(delta), props, invalidates)
        out['rows'] = snap['manifest']['row_count']
        if rep is not None:
            out['compacted'] = rep['replaced']
        return out

    def _plan_delta(self, spark: SparkSession, frm: int, to: int):
        """The one delta planner of :meth:`refresh` and
        :meth:`read_realtime`: ``('incremental', delta)`` with the source
        rows committed in ``(frm, to]``, ``('empty', None)`` when those
        commits added no data files, ``('full', None)`` when the history is
        not append-only (see :meth:`IcebergishTable.read_delta`)."""
        try:
            delta = self.source.read_delta(spark, frm, to,
                                           tolerate_ops=_TOLERATED_OPS)
        except ValueError:
            return 'full', None
        return ('empty' if delta is None else 'incremental'), delta

    def _append(self, part: DataFrame, properties: dict, invalidates=()):
        """The one tier append of refresh and the stream sinks: ``part``
        is written with the tier's ``partition_by``, its max
        ``bucket_start`` and points sum are recorded as
        ``rollup_watermark`` / ``points_rolled`` from Observation metrics
        of the WRITE job (no separate aggregate pass; the listener fires
        even for an empty zero-partition write, probed in tests), and the
        ``auto_compact_snapshots`` policy runs once after the commit.
        Returns ``(snapshot, compact report or None)``."""
        from pyspark.sql import Observation
        obs = Observation()
        part = part.observe(obs, F.max('bucket_start').alias('wm'),
                            F.sum(self._form.points_col).alias('pts'))

        def _stats_props():
            row = obs.get
            return {'rollup_watermark': str(row['wm']),
                    'points_rolled': int(row['pts'] or 0)}

        snap = self.tier.append(part, partition_by=self.partition_by,
                                invalidates=invalidates, properties=properties,
                                properties_fn=_stats_props)
        k = self.auto_compact_snapshots
        if k and len(snap['live']) > k:
            return snap, self.compact(part.sparkSession)
        return snap, None

    def rollup_watermark(self):
        """Max bucket_start ever rolled into the tier (``None`` if the tier
        never refreshed with data): the max per-snapshot
        ``rollup_watermark`` property on the lineage, invalidated snapshots
        included, read from the current snapshot's summary — one json
        however many refreshes were ever committed."""
        import datetime
        w = self.tier.summary().get('rollup_watermark')
        return datetime.datetime.fromisoformat(w) if w else None

    # -- read / maintain -----------------------------------------------------

    def read_partial(self, spark: SparkSession) -> DataFrame:
        """Merge-on-read view in partial form (one row per keys+bucket)."""
        return self._form.merge(self.tier.read(spark))

    def read(self, spark: SparkSession) -> DataFrame:
        """Finalized tier view (avg derived, anchors dropped)."""
        return self._form.finalize(self.read_partial(spark))

    def read_realtime(self, spark: SparkSession) -> DataFrame:
        """TimescaleDB-style REAL-TIME aggregate: the materialized tier
        merged with an on-the-fly partial over the raw rows appended since
        the last :meth:`refresh` — readers always see current data without
        paying a refresh-cadence staleness window, and without ever
        re-aggregating reflected history (the on-the-fly leg scans ONLY the
        snapshot delta, a micro-batch at 10^12-sequence scale).

        Buckets straddling the watermark are exact: the partial form is a
        commutative monoid, so a tier partial row and a delta partial row
        for the same (keys, bucket) merge to precisely the full-recompute
        row (decimal-exact sums, first/last ts anchors).

        When the raw history since the watermark is NOT append-only (an
        overwrite landed mid-range), falls back to a full on-the-fly
        recompute of the CURRENT raw table — same semantics as
        :meth:`refresh`'s full mode, but read-side only: nothing is
        committed, the tier is untouched."""
        frm = self.refreshed_through()
        to = self.source._resolve()
        if frm < 0:
            # never refreshed: everything on the fly
            return self._form.finalize(
                self._form.merge(self._partial(self.source.read(spark, to))))
        if to == frm:
            return self.read(spark)
        mode, delta = self._plan_delta(spark, frm, to)
        if mode == 'full':
            return self._form.finalize(
                self._form.merge(self._partial(self.source.read(spark, to))))
        part = self.tier.read(spark)
        if delta is not None:
            part = part.unionByName(self._partial(delta),
                                    allowMissingColumns=True)
        return self._form.finalize(self._form.merge(part))

    def compact(self, spark: SparkSession) -> dict:
        """Collapse the merge-on-read pile into ONE merged-partial snapshot
        that invalidates every prior live tier snapshot.  Readers atomically
        switch; the result is still a partial, so refreshes keep appending.
        Run this when live-snapshot count (not bytes) starts to dominate
        read planning — same rationale as :meth:`IcebergishTable.compact`,
        but merging rows instead of just repacking files."""
        live = self.tier._live_snapshots(self.tier._resolve())
        merged = self.read_partial(spark)
        # the watermarks ride the snapshot summary, which the compact
        # commit carries forward like any other
        snap = self.tier.append(
            merged, partition_by=self.partition_by, invalidates=live,
            properties={'operation': 'tier-compact',
                        'replaced_snapshots': len(live)})
        return {'snapshot_id': snap['snapshot_id'], 'replaced': len(live),
                'rows': snap['manifest']['row_count']}

    # -- streaming interop ---------------------------------------------------

    def _max_stream_batch_id(self):
        """Highest Structured-Streaming batch id already committed to the
        tier: the max 'stream_batch_id' snapshot property on the lineage,
        read from the current snapshot's summary (None when no stream
        batch was ever committed)."""
        return self.tier.summary().get('stream_batch_id')

    def stream_sink(self):
        """foreachBatch target for ``rollup_partial`` over a watermarked
        stream (or any stream emitting this tier's PARTIAL form; see
        streaming/rollup_stream.watermarked): appends each
        micro-batch's closed buckets to the SAME tier table batch refreshes
        use — same partial schema, same append path, same watermark
        metadata ('rollup_watermark' per snapshot), so every tier reader
        (read/read_partial/read_realtime_stream, compaction, hierarchical
        rebucketing) works unchanged on a stream-fed tier.

        EXACTLY-ONCE across restarts: Structured Streaming replays the last
        uncommitted micro-batch with the SAME batch_id after a crash; the
        sink skips any batch_id <= the max already recorded in the tier
        lineage (ids are monotone per checkpoint), so a replay cannot
        double-append.  One checkpoint dir per tier — mixing checkpoints
        restarts the id sequence and voids the guarantee.

        SINGLE WRITER per tier, full stop — not just one checkpoint dir.
        The skip check is check-then-append with no lock: a SECOND
        concurrent writer on the same tier (a duplicate stream, or a batch
        refresh() racing a micro-batch) can interleave between the
        batch-id check and the append, double-committing or fork-racing
        the lineage.  Run exactly one stream query per tier and stop it
        before a batch refresh takes over (the takeover full-recompute
        then atomically invalidates the stream's snapshots).

        The sink honors ``auto_compact_snapshots`` exactly like batch
        refresh: when a micro-batch leaves more than K live tier
        snapshots, it folds the merge-on-read pile (watermark-preserving
        tier-compact), so an always-on stream's read cost and per-batch
        planning stay O(K) instead of growing with committed batches.
        Exactly-once survives compaction: the max committed batch id rides
        the snapshot summary, which every commit (a compaction included)
        carries forward, so the per-batch check reads one json.

        A later BATCH refresh on a stream-fed tier is safe by fallback: the
        stream snapshots carry no raw-snapshot watermark, so
        refreshed_through() = -1 and refresh() full-recomputes, atomically
        invalidating the stream's snapshots (asserted in tests)."""
        def sink(batch_df, batch_id: int):
            self._append_stream_batch(batch_df, batch_id)
        return sink

    def stream_sink_raw(self):
        """STATE-FREE streaming ingest: foreachBatch target for a stream of
        RAW rows (``IcebergishTable.stream_read`` over the source: each
        micro-batch holds the rows of the content snapshots committed since
        the last one, run through the :attr:`transform` hook if set) —
        each micro-batch is
        rolled up BATCH-LOCALLY (:meth:`_partial`, the same code batch
        refresh runs on a snapshot delta) and appended as one partial
        snapshot.  No watermark, no streaming aggregation state, and
        NOTHING is ever dropped as late: exactness is carried entirely by
        the merge-on-read monoid (same-bucket partials from different
        micro-batches merge to exactly the one-shot rollup, asserted in
        tests).  This is the mode for ingesting/backfilling the
        pre-tokenized SEQUENCE table, whose position-derived timestamps
        all land in one fixed window — under a watermarked aggregation
        every batch after the first would be 'late' and silently dropped;
        here the 100 TB table drains through availableNow micro-batches
        with zero agg state, and :meth:`compact` (or the auto-compaction
        policy) folds the per-batch partials.

        Trade-off vs :meth:`stream_sink`: buckets are re-appended by every
        micro-batch that touches them (read-side merge width grows with
        batches until compaction — bounded by ``auto_compact_snapshots``),
        and the tier covers EVERYTHING ingested, so the realtime view is
        plain :meth:`read` — ``read_realtime_stream``'s frontier cut does
        not apply to this mode (it assumes watermark-closed coverage).
        Same exactly-once batch-id skip, same single-writer rule."""
        def sink(batch_df, batch_id: int):
            self._append_stream_batch(self._partial(batch_df), batch_id)
        return sink

    def _append_stream_batch(self, part: DataFrame, batch_id: int) -> None:
        part = part.persist()
        try:
            committed = self._max_stream_batch_id()
            if committed is not None and int(batch_id) <= committed:
                return  # crash-replay of an already-committed micro-batch
            # the one emptiness action: it also fills the cache the write
            # reads, and a micro-batch that closed no buckets commits nothing
            if not part.count():
                return
            self._append(part, {'operation': 'stream-refresh',
                                'stream_batch_id': int(batch_id)})
        finally:
            part.unpersist()

    def read_realtime_stream(self, spark: SparkSession) -> DataFrame:
        """Realtime read for a STREAM-fed tier: the materialized closed
        buckets merged with an on-the-fly partial over the raw rows AT OR
        AFTER the stream frontier (max closed bucket end = rollup_watermark
        + interval).  Append-mode emission closes every bucket ending at or
        before the event-time watermark, so the frontier is a clean
        event-time cut: tier rows and the on-the-fly leg cover disjoint
        bucket ranges and merge to exactly the full rollup — EXCEPT rows
        the watermark dropped as too late, which are absent from the tier
        by the streaming lateness contract (and from this view: the
        frontier filter excludes them by construction).

        NOT for tiers fed by :meth:`stream_sink_raw` (state-free mode):
        there the tier already covers EVERYTHING ingested — the frontier
        cut would double-count; the realtime view of that mode is plain
        :meth:`read`."""
        import pandas as pd
        frontier = self.rollup_watermark()
        raw = self.source.read(spark)
        if self.transform is not None:
            # row-local transform first: the frontier cut is on the OUTPUT
            # event time (the raw sequence shape has no ts column at all)
            raw = self.transform(raw)
        if frontier is None:
            return self._form.finalize(self._form.merge(self._fold(raw)))
        cut = frontier + pd.Timedelta(self.interval)
        tail = raw.filter(F.col(self.ts_col) >= F.lit(cut))
        part = self.tier.read(spark).unionByName(
            self._fold(tail), allowMissingColumns=True)
        return self._form.finalize(self._form.merge(part))
