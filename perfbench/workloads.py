"""The benchmark workloads: one closed loop, one client.

Every workload runs the same four user operations per cycle, so every
end-to-end metric exists on every workload:

* job     -- tokens -> scores -> 1m/1h/1d tiers -> Gorilla blocks for all docs
* resume  -- bring the output up to date after one bucket's docs changed
* read    -- read one (source, tier) slice back: retention filter, decode
* refresh -- fold a batch of newly arrived docs into the tiers

On the fused workloads these run on ``operators.fused.score_rollup`` with no
table (resume rescores the changed bucket, reads decode cached blocks, a
refresh scores the new batch).  On ``table_lifecycle`` they run through
``plans.checkpoint.RollupCheckpointJob``, ``IcebergishTable.scan`` and a
``ContinuousAggregate``.  Every operation's output is checked; a mismatch
or an exception counts as a failed operation.
"""
from __future__ import annotations

import contextlib
import datetime
import functools
import os
import shutil
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen
import stats
from changepoynt_spark.codecs import (decode_timestamps, decode_values,
                                      encode_timestamps, encode_values)
from changepoynt_spark.operators.fused import DEFAULT_EPOCH_S, TIER_SECONDS, score_rollup
from changepoynt_spark.operators.retention import retention_filter
from changepoynt_spark.operators.rollup import (decompress_blocks, finalize_rollup,
                                                merge_partials, rollup_partial)
from changepoynt_spark.operators.scoring import (build_algorithm, min_required_length,
                                                 series_seed, tokens_to_points)
from changepoynt_spark.plans import checkpoint
from changepoynt_spark.plans.checkpoint import BUCKET_COL, RollupCheckpointJob, with_bucket
from changepoynt_spark.sources.continuous import ContinuousAggregate
from changepoynt_spark.sources.datagen import QUANT_SCALE, TOKENS_SCHEMA
from changepoynt_spark.sources.tables import IcebergishTable

# the bench.py headline kernel
SST_PARAMS = {'window_length': 30, 'n_windows': 30, 'lag': 10, 'rank': 2,
              'method': 'ika', 'scoring_step': 2}
CHEAP_PARAMS = {'window_length': 20}
EPOCH = datetime.datetime.fromtimestamp(DEFAULT_EPOCH_S, datetime.timezone.utc) \
    .replace(tzinfo=None)
READ_NOW = EPOCH + datetime.timedelta(days=1)     # every tier within retention
# A scan that keeps only tier=1d files infers the partition value '1d' as a
# double (Java's "1d" literal) and fails, so reads cover the 1m and 1h tiers.
READ_TIERS = ('1m', '1h')
BLOCK_KEYS = ['doc_id', 'source', 'tier']
CA_KEYS = ['source', 'doc_id']
STAGES = ('score', 'bucket', 'encode', 'assemble')
PARTED_SCHEMA = T.StructType(TOKENS_SCHEMA.fields + [T.StructField('_part', T.LongType())])
RANGE_SAMPLE = 'spark.sql.execution.rangeExchange.sampleSizePerPartition'


@dataclass(frozen=True)
class Shape:
    docs: int               # docs in the job
    lo: int                 # doc length range (tokens) and Pareto tail index
    hi: int
    alpha: float
    algorithm: str
    params: dict
    buckets: int            # checkpoint buckets; resume changes one of them
    reads: int              # tier reads per cycle
    resumes: int            # one-bucket resumes per cycle
    batches: int            # arriving doc batches per cycle
    batch_docs: int
    sources: int            # each table commit writes one file per source and tier
    tables: bool


SHAPES = {
    'fused_sst_long': Shape(48, 700, 8000, 1.1, 'sst', SST_PARAMS, buckets=4, reads=4,
                            resumes=3, batches=3, batch_docs=8, sources=8, tables=False),
    'fused_cheap_short': Shape(3000, 60, 600, 1.0, 'moving_window', CHEAP_PARAMS,
                               buckets=4, reads=3, resumes=2, batches=2, batch_docs=300,
                               sources=8, tables=False),
    'table_lifecycle': Shape(120, 100, 1000, 1.0, 'moving_window', CHEAP_PARAMS,
                             buckets=2, reads=3, resumes=3, batches=6, batch_docs=40,
                             sources=2, tables=True),
}


def digest(blocks) -> dict:
    """Order-independent content digest of a blocks DataFrame (one job)."""
    row = blocks.agg(
        F.count(F.lit(1)).alias('blocks'),
        F.sum('n_points').alias('points'),
        F.sum(F.length('ts_blob')).alias('ts_bytes'),
        F.sum(F.length('value_blob')).alias('value_bytes'),
        F.expr('bit_xor(xxhash64(doc_id, tier, block_start, n_points, ts_blob, '
               'value_blob))').alias('hash')).first()
    return {k: int(v or 0) for k, v in row.asDict().items()}


def points_fn(df):
    return tokens_to_points(df, keys=CA_KEYS)


def _tier_rows(df) -> list:
    cols = CA_KEYS + ['bucket_start', 'cnt_points', 'sum_value', 'min_value',
                      'max_value', 'avg_value', 'first_value', 'last_value']
    return sorted(tuple(r) for r in df.select(*cols).collect())


class Bench:
    def __init__(self, spark, name: str, seed: int, tracer, work_dir: str,
                 traced: bool):
        self.spark, self.sc = spark, spark.sparkContext
        self.name, self.shape, self.seed = name, SHAPES[name], seed
        self.tracer, self.work_dir, self.traced = tracer, work_dir, traced
        self.cores = spark.sparkContext.defaultParallelism
        self.attempted = self.failed = 0
        self.cycle = None              # index of the measured cycle, else None
        self.cycles = 0
        self.samples = defaultdict(list)   # end-to-end samples, measured cycles
        self.layer = defaultdict(list)     # per-layer samples, traced runs
        self.setup_parts = {}

    # -- bookkeeping ---------------------------------------------------------

    def span(self, name: str):
        return self.tracer.span(name)

    @contextlib.contextmanager
    def op(self, name: str):
        """One attempted operation; an exception or failed check fails it."""
        state = {'failed': False}
        self.attempted += 1
        try:
            yield state
        except Exception:
            self._fail(state, name, traceback.format_exc())

    def check(self, state, name: str, ok: bool, detail='') -> None:
        if not ok:
            self._fail(state, name, detail)

    def _fail(self, state, name, detail):
        if not state['failed']:
            state['failed'] = True
            self.failed += 1
        print(f'perfbench: {self.name} cycle {self.cycle}: {name} failed: {detail}',
              file=sys.stderr)

    def record(self, metric: str, value: float) -> None:
        if self.cycle is not None:
            self.samples[metric].append(float(value))

    def record_layer(self, metric: str, value: float) -> None:
        if self.traced and self.cycle is not None:
            self.layer[metric].append(float(value))

    def stage_acc(self):
        if not self.traced:
            return None
        return {k: self.sc.accumulator(0.0) for k in STAGES}

    def record_stages(self, acc) -> None:
        if acc is not None:
            for k in STAGES:
                self.record_layer(f'fused.{k}_cpu_s', acc[k].value)

    # -- set-up ---------------------------------------------------------------

    def _frame(self, pdf, buckets):
        """Cached input frame, one partition per core, laid out by
        ``gen.balanced_parts``: a range exchange on the part index, sampled in
        full so each part is one partition.  More, smaller tasks would only
        add cost: every Python task pays about a third of a second to start
        its worker."""
        parts = gen.balanced_parts(pdf['n_tok'].to_numpy(), self.cores, buckets)
        df = self.spark.createDataFrame(pdf.assign(_part=parts), schema=PARTED_SCHEMA)
        self.spark.conf.set(RANGE_SAMPLE, str(len(pdf)))
        try:
            df = df.repartitionByRange(self.cores, '_part').drop('_part').cache()
            df.count()
        finally:
            self.spark.conf.unset(RANGE_SAMPLE)
        return df

    def _bucket_of(self, ids: list) -> list:
        """The checkpoint bucket of each doc id, as ``with_bucket`` computes it."""
        df = self.spark.createDataFrame([(i,) for i in ids], 'doc_id string')
        got = dict(with_bucket(df, self.shape.buckets).select('doc_id', BUCKET_COL).collect())
        return [got[i] for i in ids]

    def _generate(self):
        """Inputs, built and cached.  Every bucket carries the same work, so
        the bucket a resume redoes (picked by the seed) costs the same."""
        sh, s = self.shape, self.seed
        self.docs_pdf, buckets = gen.make_docs(
            [s, 0], sh.docs, sh.lo, sh.hi, sh.alpha, f'doc{s}', sh.sources,
            sh.buckets, self._bucket_of)
        self.batch_pdfs = [gen.make_docs([s, k + 1], sh.batch_docs, sh.lo, sh.hi,
                                         sh.alpha, f'new{s}x{k}', sh.sources)[0]
                           for k in range(sh.batches)]
        docs = self._frame(self.docs_pdf, buckets)
        # all arriving batches in one cached frame, each spread over every core
        arrivals = self._frame(pd.concat(self.batch_pdfs, ignore_index=True),
                               np.repeat(np.arange(sh.batches), sh.batch_docs))
        self.batches = [arrivals.filter(F.col('doc_id').startswith(f'new{s}x{k}_'))
                        for k in range(sh.batches)]
        minlen = min_required_length(sh.algorithm, sh.params)
        self.changed_bucket = s % sh.buckets
        in_bucket = self.docs_pdf[(buckets == self.changed_bucket) &
                                  (self.docs_pdf['n_tok'] >= minlen)]
        changed = self._frame(gen.change_one_doc(self.docs_pdf, in_bucket['doc_id'].min()),
                              buckets)
        return docs, changed, arrivals

    def setup(self, session_s: float) -> None:
        gen_s = []
        for rep in range(2):    # mean of two input builds
            t0 = time.perf_counter()
            frames = self._generate()
            gen_s.append(time.perf_counter() - t0)
            if rep < 1:
                for df in frames:
                    df.unpersist(blocking=True)
        self.docs, self.changed, self.arrivals = frames
        t0 = time.perf_counter()
        self._reference()
        self.run_cycle()                    # untimed warm-up cycle
        self.setup_parts = {'session_s': session_s, 'gen_s': stats.median(gen_s),
                            'warmup_s': time.perf_counter() - t0}

    def _reference(self) -> None:
        """Direct score_rollup of the inputs: the expected output of every
        later operation, and the sampled-doc and raw-token checks."""
        sh = self.shape
        blocks = score_rollup(self.docs, sh.algorithm, sh.params, output='blocks').cache()
        self.ref = digest(blocks)
        self.read_expect = {
            (r['source'], r['tier']): int(r['points']) for r in
            blocks.groupBy('source', 'tier').agg(F.sum('n_points').alias('points')).collect()}
        minlen = min_required_length(sh.algorithm, sh.params)
        ok = self.docs_pdf[self.docs_pdf['n_tok'] >= minlen].sort_values('n_tok')
        rng = np.random.default_rng([self.seed, 99])
        self.sample_ids = sorted({ok['doc_id'].iloc[0], ok['doc_id'].iloc[-1],
                                  ok['doc_id'].iloc[int(rng.integers(len(ok)))]})
        with self.op('sampled_docs') as st:
            rows = blocks.filter(F.col('doc_id').isin(self.sample_ids)).collect()
            self.check(st, 'sampled_docs', self._blocks_match(rows))
        with self.op('input_tokens') as st:
            got = self.docs.filter(F.col('doc_id').isin(self.sample_ids)) \
                           .select('doc_id', 'tokens').collect()
            self.check(st, 'input_tokens', self._tokens_match(got, self.docs_pdf))
        if sh.tables:
            blocks.unpersist()
            self.realtime_expect = _tier_rows(finalize_rollup(merge_partials(
                rollup_partial(points_fn(self.arrivals), CA_KEYS, interval='1 minute'),
                CA_KEYS), CA_KEYS))
        else:
            self.ref_bucket = digest(with_bucket(blocks, sh.buckets)
                                     .filter(F.col(BUCKET_COL) == self.changed_bucket))
            # reads decode a materialised copy with its own plan: a cached
            # score_rollup plan would also answer every later job from cache
            self.stored = blocks.coalesce(self.cores).localCheckpoint(eager=True)
            blocks.unpersist()
            self.batch_ref = [digest(score_rollup(b, sh.algorithm, sh.params,
                                                  output='blocks'))
                              for b in self.batches]

    # -- reference math for the sampled docs ---------------------------------

    def _score(self, doc_id: str, tokens) -> np.ndarray:
        x = np.asarray(tokens, dtype=np.float64) / QUANT_SCALE
        np.random.seed(series_seed(doc_id))
        algo = build_algorithm(self.shape.algorithm, self.shape.params)
        return np.asarray(algo.transform(x), dtype=np.float64)

    @staticmethod
    def _tiers(score: np.ndarray) -> dict:
        """(timestamps us, avg) per tier, folded as the fused kernel does:
        1m from points, 1h from 1m partials, 1d from 1h partials."""
        out, cnt, tot, step = {}, None, score, 1
        for tier, factor in (('1m', 60), ('1h', 60), ('1d', 24)):
            starts = np.arange(0, tot.shape[0], factor)
            ends = np.append(starts[1:], tot.shape[0])
            cnt = (ends - starts).astype(np.int64) if cnt is None \
                else np.add.reduceat(cnt, starts)
            tot = np.add.reduceat(tot, starts)
            step *= factor
            ts = DEFAULT_EPOCH_S + np.arange(tot.shape[0], dtype=np.int64) * step
            out[tier] = (ts * 1_000_000, tot / cnt)
        return out

    def _expected_blocks(self, doc_id, tokens) -> dict:
        out = {}
        for tier, (ts, avg) in self._tiers(self._score(doc_id, tokens)).items():
            blk = max(1, 86400 // TIER_SECONDS[tier])
            for s in range(0, ts.shape[0], blk):
                out[(tier, int(ts[s]))] = (ts[s:s + blk], avg[s:s + blk])
        return out

    def _blocks_match(self, rows) -> bool:
        toks = dict(zip(self.docs_pdf['doc_id'], self.docs_pdf['tokens']))
        got = defaultdict(dict)
        for r in rows:
            ts = decode_timestamps(r['ts_blob'])
            got[r['doc_id']][(r['tier'], int(ts[0]))] = (ts, decode_values(r['value_blob']))
        if sorted(got) != self.sample_ids:
            return False
        for doc_id in self.sample_ids:
            want = self._expected_blocks(doc_id, toks[doc_id])
            have = got[doc_id]
            if sorted(want) != sorted(have):
                return False
            for key, (ts, avg) in want.items():
                if not (np.array_equal(have[key][0], ts) and
                        np.array_equal(have[key][1].view(np.int64), avg.view(np.int64))):
                    return False
        return True

    @staticmethod
    def _tokens_match(rows, pdf) -> bool:
        want = dict(zip(pdf['doc_id'], pdf['tokens']))
        return len(rows) > 0 and all(
            np.asarray(r['tokens'], dtype=np.int32).tobytes() == want[r['doc_id']].tobytes()
            for r in rows)

    # -- the measured loop ----------------------------------------------------

    def measure(self, seconds: float, min_cycles: int = 2) -> None:
        """Whole cycles, at least two, while the next one is expected to end
        within ``seconds``."""
        t0 = time.perf_counter()
        while self.cycles < min_cycles or \
                (time.perf_counter() - t0) * (self.cycles + 1) / self.cycles <= seconds:
            self.cycle = self.tracer.cycle = self.cycles
            self.run_cycle()
            self.cycles += 1
        self.cycle = self.tracer.cycle = None

    def run_cycle(self) -> None:
        if self.shape.tables:
            root = tempfile.mkdtemp(prefix='cycle-', dir=self.work_dir)
            try:
                self._table_cycle(root)
            finally:
                shutil.rmtree(root, ignore_errors=True)
        else:
            self._fused_cycle()

    def _record_job(self, rec, d) -> None:
        self.record('job_s', rec['dur'])
        self.record('rolled_points_per_s', d['points'] / rec['dur'])
        self.record('compressed_bytes_per_point',
                    (d['ts_bytes'] + d['value_bytes']) / d['points'])

    def _fused_cycle(self) -> None:
        sh = self.shape
        with self.op('job') as st:
            acc = self.stage_acc()
            with self.span('job') as rec:
                d = digest(score_rollup(self.docs, sh.algorithm, sh.params,
                                        output='blocks', stage_acc=acc))
            self.check(st, 'job', d == self.ref, f'{d} != {self.ref}')
            self._record_job(rec, d)
            self.record_stages(acc)
        for _ in range(self._repeats(sh.resumes)):
            with self.op('resume') as st:
                with self.span('resume') as rec:
                    sub = with_bucket(self.changed, sh.buckets) \
                        .filter(F.col(BUCKET_COL) == self.changed_bucket).drop(BUCKET_COL)
                    d = digest(score_rollup(sub, sh.algorithm, sh.params, output='blocks'))
                ref = self.ref_bucket
                self.check(st, 'resume',
                           (d['blocks'], d['points']) == (ref['blocks'], ref['points'])
                           and d['hash'] != ref['hash'], f'{d} vs {ref}')
                self.record('resume_s', rec['dur'])
        for i in range(self._repeats(sh.reads)):
            self._read(i)
        for k, batch in enumerate(self.batches):
            with self.op('refresh') as st:
                with self.span('refresh') as rec:
                    d = digest(score_rollup(batch, sh.algorithm, sh.params, output='blocks'))
                self.check(st, 'refresh', d == self.batch_ref[k], f'{d} != {self.batch_ref[k]}')
                self.record('refresh_s', rec['dur'])

    def _repeats(self, n: int) -> int:
        """Reads or resumes per cycle: all ``n`` when measured, one in warm-up."""
        return n if self.cycle is not None else 1

    def _read(self, i: int, table=None) -> None:
        n = (self.cycle or 0) * self.shape.reads + i
        src, tier = f'src{n % self.shape.sources}', READ_TIERS[n % len(READ_TIERS)]
        preds = [('source', '=', src), ('tier', '=', tier), ('block_start', '>=', EPOCH)]
        with self.op('read') as st:
            with self.span('read') as rec:
                if table is not None:
                    scanned = table.scan(self.spark, preds)
                else:
                    scanned = self.stored.filter(
                        (F.col('source') == src) & (F.col('tier') == tier) &
                        (F.col('block_start') >= F.lit(EPOCH)))
                kept = retention_filter(scanned, now=READ_NOW, ts_col='block_start')
                pts = decompress_blocks(kept, BLOCK_KEYS)
                build_s = time.perf_counter() - rec['start']
                got = pts.agg(F.count(F.lit(1)).alias('n')).first()['n']
            want = self.read_expect.get((src, tier), 0)
            self.check(st, 'read', got == want, f'{src}/{tier}: {got} != {want} points')
            self.record('read_s', rec['dur'])
            self.record_layer('spark.driver_build_s', build_s)
            if self.traced and self.cycle is not None:
                with self.span('check'):
                    self.record_layer('retention.filter_rows_in', scanned.count())
                    self.record_layer('retention.filter_rows_out', kept.count())

    @contextlib.contextmanager
    def _stage_acc_in_checkpoint(self, acc):
        """RollupCheckpointJob calls checkpoint.score_rollup without stage
        accumulators; a traced run hands them in for the job's duration."""
        if acc is None:
            yield
            return
        orig = checkpoint.score_rollup
        checkpoint.score_rollup = functools.partial(orig, stage_acc=acc)
        try:
            yield
        finally:
            checkpoint.score_rollup = orig

    def _instrument(self, *tables) -> None:
        if not self.traced:
            return
        for t in tables:
            self.tracer.wrap(t, 'append', 'tables.append')
            self.tracer.wrap(t, 'plan_files', 'tables.plan_files',
                             after=lambda rec, out: rec.update(n_kept=out['n_kept']))

    def _checkpoint_job(self, root: str) -> RollupCheckpointJob:
        sh = self.shape
        return RollupCheckpointJob(os.path.join(root, 'blocks'), n_buckets=sh.buckets,
                                   algorithm=sh.algorithm, params=sh.params)

    def _table_cycle(self, root: str) -> None:
        sh = self.shape
        job = self._checkpoint_job(root)
        raw = IcebergishTable(os.path.join(root, 'raw'))
        ca = ContinuousAggregate(raw, os.path.join(root, 'tier'), CA_KEYS,
                                 interval='1 minute', partition_by=('source',),
                                 transform=points_fn)
        self._instrument(job.table, raw, ca.tier)
        if self.traced:
            self.tracer.wrap(job, 'pending_buckets', 'checkpoint.pending_buckets')
        buckets = {'processed': 0, 'skipped': 0}
        with self.op('job') as st:
            acc = self.stage_acc()
            with self._stage_acc_in_checkpoint(acc), self.span('job') as rec:
                res = job.run(self.spark, self.docs)
            self.check(st, 'job', res['processed'] == list(range(sh.buckets)), str(res))
            with self.span('check'):
                d = digest(job.table.read(self.spark))
            self.check(st, 'job', d == self.ref, f'table {d} != direct {self.ref}')
            self._record_job(rec, d)
            self.record_stages(acc)
            buckets['processed'] += len(res['processed'])
        # each resume flips the changed doc, to its new version and back, so
        # every one of them reprocesses exactly the changed bucket
        others = [b for b in range(sh.buckets) if b != self.changed_bucket]
        for r in range(self._repeats(sh.resumes)):
            with self.op('resume') as st:
                with self.span('resume') as rec:
                    res = job.run(self.spark, (self.changed, self.docs)[r % 2])
                self.check(st, 'resume', res['processed'] == [self.changed_bucket] and
                           sorted(res['skipped']) == others, str(res))
                self.record('resume_s', rec['dur'])
                buckets['processed'] += len(res['processed'])
                buckets['skipped'] += len(res['skipped'])
        for i in range(self._repeats(sh.reads)):
            self._read(i, table=job.table)
        *arrivals, tail = self.batches
        for k, batch in enumerate(arrivals):
            with self.op('refresh') as st:
                raw.append(batch, partition_by=())
                with self.span('refresh') as rec:
                    r = ca.refresh(self.spark)
                self.check(st, 'refresh', r['mode'] == 'incremental' and r['rows'] > 0, str(r))
                self.record('refresh_s', rec['dur'])
                self.record_layer('continuous.refresh_delta_rows', r['rows'])
            if k == (len(arrivals) - 1) // 2:
                with self.op('compact'), self.span('compact') as rec:
                    ca.compact(self.spark)
                self.record_layer('continuous.compact_s', rec['dur'])
        with self.op('realtime') as st:
            raw.append(tail, partition_by=())        # not refreshed: realtime leg
            with self.span('realtime') as rec:
                got = _tier_rows(ca.read_realtime(self.spark))
            self.check(st, 'realtime', got == self.realtime_expect,
                       f'{len(got)} rows vs {len(self.realtime_expect)} one-shot rows')
            self.record_layer('continuous.read_realtime_s', rec['dur'])
        with self.op('raw_tokens') as st, self.span('check'):
            first = {p['doc_id'].iloc[0]: p for p in self.batch_pdfs}
            rows = raw.read(self.spark).filter(F.col('doc_id').isin(list(first))) \
                      .select('doc_id', 'tokens').collect()
            self.check(st, 'raw_tokens', len(rows) == len(first) and all(
                self._tokens_match([r], first[r['doc_id']]) for r in rows))
        if self.traced and self.cycle is not None:
            self._table_stats(root, self.ref['points'], buckets)

    def _table_stats(self, root: str, points: int, buckets: dict) -> None:
        snaps = data = meta = data_bytes = 0
        for dirpath, _, names in os.walk(root):
            for n in names:
                if os.sep + 'metadata' in dirpath:
                    meta += 1
                    snaps += n.startswith('snapshot-') and n.endswith('.json')
                elif n.endswith('.parquet'):
                    data += 1
                    if dirpath.startswith(os.path.join(root, 'blocks')):
                        data_bytes += os.path.getsize(os.path.join(dirpath, n))
        self.record_layer('tables.snapshots', snaps)
        self.record_layer('tables.data_files', data)
        self.record_layer('tables.metadata_files', meta)
        self.record_layer('tables.bytes_written_per_point', data_bytes / points)
        self.record_layer('checkpoint.buckets_processed', buckets['processed'])
        self.record_layer('checkpoint.buckets_skipped', buckets['skipped'])

    # -- trace-only in-process layer timings -----------------------------------

    def time_in_process(self, budget_s: float = 0.3) -> None:
        """Kernel and codec cost per million points on the sampled docs."""
        toks = dict(zip(self.docs_pdf['doc_id'], self.docs_pdf['tokens']))
        pts = sum(len(toks[d]) for d in self.sample_ids)
        reps, t0 = 0, time.perf_counter()
        while reps == 0 or time.perf_counter() - t0 < budget_s:
            scores = [self._score(d, toks[d]) for d in self.sample_ids]
            reps += 1
        self.layer['kernels.score_s_per_mpt'] = [(time.perf_counter() - t0) / reps / pts * 1e6]
        series = [v for s in scores for v in self._tiers(s).values()]
        n = sum(len(ts) for ts, _ in series)
        enc = dec = 0.0
        reps = 0
        while reps == 0 or enc + dec < budget_s:
            t0 = time.perf_counter()
            blobs = [(encode_timestamps(ts), encode_values(avg)) for ts, avg in series]
            t1 = time.perf_counter()
            for tb, vb in blobs:
                decode_timestamps(tb)
                decode_values(vb)
            enc += t1 - t0
            dec += time.perf_counter() - t1
            reps += 1
        self.layer['codecs.encode_s_per_mpt'] = [enc / reps / n * 1e6]
        self.layer['codecs.decode_s_per_mpt'] = [dec / reps / n * 1e6]
        self.layer['codecs.ts_bytes_per_point'] = [self.ref['ts_bytes'] / self.ref['points']]
        self.layer['codecs.value_bytes_per_point'] = [self.ref['value_bytes'] / self.ref['points']]
