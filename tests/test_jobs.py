"""End-to-end tests for the spark-submit job entry points (jobs/), run via
main() with the shared pytest session injected: idempotence (second run =
identical survivors) and staged drop-report counts vs a DuckDB brute-force +
recursive-CTE oracle on the same parquet."""
import json
import os
import subprocess
import sys

import duckdb
import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, 'jobs'))

import dedup_job  # noqa: E402
import rollup_job  # noqa: E402

THRESHOLD = 0.5

# Oracle for the whole dedup job on `documents`: exact dedup keeps the
# smallest doc_id per text; near-dup pairs are brute-force DISTINCT-3-shingle
# Jaccard >= threshold among exact survivors; connected components via
# WITH RECURSIVE; each cluster keeps its smallest member.
_SURVIVORS_SQL = f"""
WITH RECURSIVE ex AS (
    SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
docs AS (SELECT d.doc_id, d.text FROM documents d JOIN ex USING (doc_id)),
words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                 generate_subscripts(string_split(text, ' '), 1) AS i
          FROM docs),
sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
       FROM words a
       JOIN words b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       JOIN words c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
pair AS (SELECT x.doc_id AS da, y.doc_id AS db, COUNT(*) AS inter
         FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
         GROUP BY 1, 2),
dups AS (SELECT da, db
         FROM pair JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
         WHERE inter * 1.0 / (ca.n + cb.n - inter) >= {THRESHOLD}),
edges AS (SELECT da AS src, db AS dst FROM dups UNION SELECT db, da FROM dups),
reach(node, r) AS (
    SELECT src, src FROM edges
    UNION
    SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
),
clusters AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node)
SELECT doc_id FROM docs
WHERE doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
ORDER BY doc_id
"""


@pytest.fixture(scope='module')
def docs_parquet(sf_dir):
    return f'{sf_dir}/documents.parquet'


def _run_dedup(spark, docs_parquet, out):
    return dedup_job.main(
        ['--input', docs_parquet, '--output', out, '--threshold', str(THRESHOLD)],
        spark=spark)


def test_dedup_job_end_to_end_vs_oracle(spark, docs_parquet, tmp_path):
    out = str(tmp_path / 'deduped')
    report = _run_dedup(spark, docs_parquet, out)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs_parquet}'")
    oracle_ids = [r[0] for r in con.execute(_SURVIVORS_SQL).fetchall()]
    n_input = con.execute('SELECT COUNT(*) FROM documents').fetchone()[0]
    n_exact = con.execute('SELECT COUNT(DISTINCT md5(text)) FROM documents').fetchone()[0]

    got_ids = sorted(r['doc_id'] for r in
                     spark.read.parquet(out).select('doc_id').collect())
    assert got_ids == oracle_ids
    # staged report counts vs the oracle's stage counts
    assert report['input_docs'] == n_input
    assert report['exact_dups_dropped'] == n_input - n_exact
    assert report['surviving_docs'] == len(oracle_ids)
    assert report['near_dups_dropped'] == n_exact - len(oracle_ids)
    # the report file landed next to the output (Hadoop FS write)
    with open(f'{out}_report.json') as f:
        assert json.load(f) == report


def test_dedup_job_idempotent(spark, docs_parquet, tmp_path):
    out1, out2 = str(tmp_path / 'd1'), str(tmp_path / 'd2')
    r1 = _run_dedup(spark, docs_parquet, out1)
    r2 = _run_dedup(spark, docs_parquet, out2)
    assert r1 == r2
    ids1 = sorted(r['doc_id'] for r in spark.read.parquet(out1).select('doc_id').collect())
    ids2 = sorted(r['doc_id'] for r in spark.read.parquet(out2).select('doc_id').collect())
    assert ids1 == ids2


def test_rollup_job_runs_and_resumes(spark, tmp_path, capsys):
    out = str(tmp_path / 'rollup_table')
    argv = ['--synth-docs', '40', '--synth-max-len', '2000', '--output', out,
            '--buckets', '4', '--algorithm', 'moving_window',
            '--params', '{"window_length": 8}']
    assert rollup_job.main(argv, spark=spark) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(first['processed']) == 4 and len(first['remaining']) == 0
    # second run: everything fingerprint-skipped
    assert rollup_job.main(argv, spark=spark) == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(second['processed']) == 0 and len(second['skipped']) == 4


def test_backfill_job_merge_on_read_and_exactly_once(spark, tmp_path):
    import datetime as dt
    import json as _json

    from jobs import backfill_job
    from changepoynt_spark.operators import rollup
    from changepoynt_spark.sources.tables import IcebergishTable

    # ts UNIQUE per key (j < 80 < lcm(40,60)=120): first/last are only
    # well-defined under a total per-key ts order
    rows = [(i % 3, dt.datetime(2026, 1, 2, 0, (i // 3) % 40, (i // 3 * 7) % 60),
             float(i) * 1.3 - 5) for i in range(240)]
    df = spark.createDataFrame(rows, 'user_id long, ts timestamp, value double')
    early = df.filter('value < 100')
    late = df.filter('value >= 100')
    p_early = str(tmp_path / 'early.parquet')
    p_late = str(tmp_path / 'late.parquet')
    early.write.parquet(p_early)
    late.write.parquet(p_late)
    troot = str(tmp_path / 'tier')

    backfill_job.main(['--table', troot, '--late', p_early], spark=spark)
    backfill_job.main(['--table', troot, '--late', p_late], spark=spark)

    table = IcebergishTable(troot)
    got = backfill_job.read_tier(spark, table, ['user_id']).toPandas()
    want = rollup.finalize_rollup(
        rollup.rollup_partial(df, ['user_id']), ['user_id']).toPandas()

    def norm(p):
        return (p.sort_values(['user_id', 'bucket_start'])
                 .reset_index(drop=True).astype(str))
    assert norm(got).equals(norm(want))

    # exactly-once: resubmitting an applied input is a no-op
    sid_before = table.current_snapshot_id()
    backfill_job.main(['--table', troot, '--late', p_late], spark=spark)
    assert table.current_snapshot_id() == sid_before

    # compaction collapses to one live snapshot with identical reads
    backfill_job.main(['--table', troot, '--late', p_late, '--compact'],
                      spark=spark)
    got2 = backfill_job.read_tier(spark, table, ['user_id']).toPandas()
    assert norm(got2).equals(norm(want))


def test_ingest_stream_job_gates_dedups_and_restarts_exactly_once(spark, tmp_path):
    """Streaming ingest job end to end: quality gate (stateless scan) ->
    exact dedup (watermarked state) -> parquet sink.  Output = the quality-
    passing distinct texts; a checkpoint-resumed re-run with no new input
    adds zero rows (exactly-once restart)."""
    import numpy as np
    import pandas as pd
    import ingest_stream_job
    from changepoynt_spark.operators.text import quality_score_linear

    base = pd.Timestamp('2026-01-01 00:00:00')
    rows = []
    for i in range(40):
        # 20 distinct texts, each appearing twice (i and i+20)
        rows.append((i, f'text number {i % 20} with some words',
                     (base + pd.Timedelta(seconds=i)).to_pydatetime()))
    src = str(tmp_path / 'docs_in')
    spark.createDataFrame(rows, 'doc_id long, text string, ts timestamp') \
        .repartition(4).write.parquet(src)
    out, ckpt = str(tmp_path / 'clean'), str(tmp_path / 'ckpt')

    ingest_stream_job.main(['--input', src, '--output', out,
                            '--checkpoint', ckpt, '--available-now'],
                           spark=spark)
    got = spark.read.parquet(out).toPandas()

    # expected: distinct texts that pass the same seeded gate
    weights = list(np.random.default_rng(31).standard_normal(256))
    batch = spark.createDataFrame(rows, 'doc_id long, text string, ts timestamp')
    passing = set(quality_score_linear(batch, weights, threshold=0.5)
                  .filter('keep').select('text').toPandas()['text'])
    distinct_passing = passing  # texts, already a set
    assert set(got['text']) == distinct_passing
    assert not got['text'].duplicated().any()

    # restart with the same checkpoint and no new files: zero new rows
    ingest_stream_job.main(['--input', src, '--output', out,
                            '--checkpoint', ckpt, '--available-now'],
                           spark=spark)
    again = spark.read.parquet(out).toPandas()
    assert len(again) == len(got)


def test_sketch_stream_job_matches_batch_and_restarts_exactly_once(spark, tmp_path):
    """Streaming DD-sketch tier job end to end (round 5): one watermarked
    stateful agg -> parquet exchange rows; assembled CLOSED buckets
    bit-match the batch tier; a checkpoint-resumed re-run with no new input
    adds zero rows; the --quantiles-output post-pass equals the batch
    quantile view."""
    import pandas as pd
    import numpy as np
    import sketch_stream_job
    from pyspark.sql import functions as F
    from changepoynt_spark.operators.rollup import (dd_sketch_from_points,
                                                    dd_sketch_quantiles)

    rng = np.random.default_rng(5)
    base = pd.Timestamp('2026-01-01 00:00:00')
    rows = [(int(i % 3), (base + pd.Timedelta(minutes=int(i))).to_pydatetime(),
             float(np.round(rng.uniform(0.1, 200.0), 3)))
            for i in range(360)]                      # 6 hours of minutes
    # horizon pusher: one event far in the future closes every real bucket
    rows.append((0, (base + pd.Timedelta(days=2)).to_pydatetime(), 1.0))
    src = str(tmp_path / 'events_in')
    spark.createDataFrame(rows, 'user_id long, ts timestamp, value double') \
        .repartition(4).write.parquet(src)
    out, ckpt = str(tmp_path / 'dd_rows'), str(tmp_path / 'ckpt_dd')
    qout = str(tmp_path / 'dd_quantiles')

    sketch_stream_job.main(['--input', src, '--output', out,
                            '--checkpoint', ckpt, '--keys', 'user_id',
                            '--interval', '1 hour', '--watermark', '2 minutes',
                            '--available-now', '--quantiles-output', qout],
                           spark=spark)

    got_q = (spark.read.parquet(qout)
             .filter(F.col('bucket_start') < '2026-01-02')
             .orderBy('user_id', 'bucket_start').toPandas().reset_index(drop=True))
    batch = spark.createDataFrame(rows, 'user_id long, ts timestamp, value double')
    exp_q = (dd_sketch_quantiles(
                dd_sketch_from_points(batch, ['user_id'], interval='1 hour'),
                ['user_id'])
             .filter(F.col('bucket_start') < '2026-01-02')
             .orderBy('user_id', 'bucket_start').toPandas().reset_index(drop=True))
    assert len(got_q) == len(exp_q) == 18          # 3 users x 6 closed hours
    assert got_q.equals(exp_q)

    n_rows = spark.read.parquet(out).count()
    assert n_rows > 0
    # restart with the same checkpoint and no new files: zero new rows
    sketch_stream_job.main(['--input', src, '--output', out,
                            '--checkpoint', ckpt, '--keys', 'user_id',
                            '--interval', '1 hour', '--watermark', '2 minutes',
                            '--available-now'],
                           spark=spark)
    assert spark.read.parquet(out).count() == n_rows


def test_sax_stream_job_matches_batch_and_restarts_exactly_once(spark, tmp_path):
    """Streaming SAX frame-tier job end to end (round 5): one watermarked
    stateful agg -> parquet frame rows; the --symbols-output post-pass
    (sax_finalize over the sink) bit-matches the batch symbolic tier over
    the closed frames' rows; a checkpoint-resumed re-run with no new input
    adds zero rows."""
    import pandas as pd
    import numpy as np
    import sax_stream_job
    from changepoynt_spark.operators.rollup import sax_rollup

    rng = np.random.default_rng(9)
    base = pd.Timestamp('2026-01-01 00:00:00')
    rows = [(int(i % 3), (base + pd.Timedelta(minutes=int(i))).to_pydatetime(),
             float(np.round(rng.uniform(10.0, 90.0), 2)))
            for i in range(360)]                      # 6 hours of minutes
    # horizon pusher: one far-future event closes every real bucket; its own
    # frame stays open and never reaches the sink
    pusher = (0, (base + pd.Timedelta(days=2)).to_pydatetime(), 1.0)
    src = str(tmp_path / 'events_in_sax')
    spark.createDataFrame(rows + [pusher],
                          'user_id long, ts timestamp, value double') \
        .repartition(4).write.parquet(src)
    out, ckpt = str(tmp_path / 'sax_frames'), str(tmp_path / 'ckpt_sax')
    sout = str(tmp_path / 'sax_symbols')

    sax_stream_job.main(['--input', src, '--output', out,
                         '--checkpoint', ckpt, '--keys', 'user_id',
                         '--interval', '1 hour', '--watermark', '2 minutes',
                         '--available-now', '--symbols-output', sout],
                        spark=spark)

    got = (spark.read.parquet(sout)
           .orderBy('user_id', 'frame_start').toPandas().reset_index(drop=True))
    # batch twin over exactly the closed frames' rows (the pusher's frame
    # never closed, so its row is excluded from the stream's series stats)
    batch = spark.createDataFrame(rows, 'user_id long, ts timestamp, value double')
    exp = (sax_rollup(batch, ['user_id'], interval='1 hour', alphabet=4)
           .orderBy('user_id', 'frame_start').toPandas().reset_index(drop=True))
    assert len(got) == len(exp) == 18              # 3 users x 6 closed hours
    assert got.equals(exp)

    n_rows = spark.read.parquet(out).count()
    assert n_rows > 0
    sax_stream_job.main(['--input', src, '--output', out,
                         '--checkpoint', ckpt, '--keys', 'user_id',
                         '--interval', '1 hour', '--watermark', '2 minutes',
                         '--available-now'],
                        spark=spark)
    assert spark.read.parquet(out).count() == n_rows


def test_gapfill_stream_job_matches_batch_and_restarts_exactly_once(spark, tmp_path):
    """Streaming gap-fill job end to end (round 6): a closed-bucket tier
    written as time-ordered chunk files -> dense LOCF-filled tier in the
    sink, equal to the batch gap_fill; a checkpoint-resumed re-run with no
    new input adds zero rows."""
    import numpy as np
    import pandas as pd
    import gapfill_stream_job
    from changepoynt_spark.operators.rollup import gap_fill

    rng = np.random.default_rng(11)
    base = pd.Timestamp('2026-01-01 00:00:00')
    rows = []
    for uid in range(3):
        for i in range(240):
            if rng.uniform() < 0.35:        # ~35% of minutes missing
                continue
            rows.append((uid, (base + pd.Timedelta(minutes=i)).to_pydatetime(),
                         float(np.round(rng.uniform(0.1, 50.0), 3))))
    tier = spark.createDataFrame(
        rows, 'user_id long, bucket_start timestamp, avg_value double')
    src = str(tmp_path / 'tier_in')
    # sequential single-file chunks: micro-batch order == event-time order,
    # the input contract a chained append-mode rollup sink satisfies
    for h in range(4):
        lo = base + pd.Timedelta(hours=h)
        tier.filter((tier.bucket_start >= lo) &
                    (tier.bucket_start < lo + pd.Timedelta(hours=1))) \
            .coalesce(1).write.mode('append').parquet(src)
    out, ckpt = str(tmp_path / 'tier_dense'), str(tmp_path / 'ckpt_gf')

    gapfill_stream_job.main(['--input', src, '--output', out,
                             '--checkpoint', ckpt, '--keys', 'user_id',
                             '--value-cols', 'avg_value',
                             '--interval-seconds', '60',
                             '--method', 'locf', '--available-now'],
                            spark=spark)

    got = (spark.read.parquet(out).orderBy('user_id', 'bucket_start')
           .toPandas().reset_index(drop=True))
    exp = (gap_fill(tier, ['user_id'], value_cols=['avg_value'],
                    interval_seconds=60, method='locf')
           .orderBy('user_id', 'bucket_start').toPandas().reset_index(drop=True))
    assert exp['is_gap'].any()
    assert len(got) == len(exp)
    assert got[['user_id', 'bucket_start', 'is_gap']].equals(
        exp[['user_id', 'bucket_start', 'is_gap']])
    assert np.array_equal(got['avg_value'].to_numpy(), exp['avg_value'].to_numpy())

    n_rows = spark.read.parquet(out).count()
    gapfill_stream_job.main(['--input', src, '--output', out,
                             '--checkpoint', ckpt, '--keys', 'user_id',
                             '--value-cols', 'avg_value',
                             '--interval-seconds', '60',
                             '--method', 'locf', '--available-now'],
                            spark=spark)
    assert spark.read.parquet(out).count() == n_rows


def test_continuous_agg_job_refreshes_incrementally_and_recovers(spark, tmp_path, capsys):
    import datetime as dt

    from jobs import continuous_agg_job
    from changepoynt_spark.operators import rollup
    from changepoynt_spark.sources.tables import IcebergishTable

    rows = [(i % 5, dt.datetime(2026, 2, 1, i % 24, (i * 7) % 60, i % 60),
             float(i) * 0.7 - 3) for i in range(600)]
    df = spark.createDataFrame(rows, 'user_id long, ts timestamp, value double')
    slices = [df.filter(f'pmod(user_id + minute(ts), 3) = {i}') for i in range(3)]
    paths = []
    for i, s in enumerate(slices):
        p = str(tmp_path / f'arrive{i}.parquet')
        s.write.parquet(p)
        paths.append(p)

    raw_root = str(tmp_path / 'raw')
    tier_root = str(tmp_path / 'tier')
    base = ['--raw', raw_root, '--tier', tier_root, '--keys', 'user_id',
            '--interval', '1 hour']

    def run(extra):
        assert continuous_agg_job.main(base + extra, spark=spark) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    # three arrivals, each refresh incremental over just its delta
    reports = [run(['--ingest', p, '--compact-above', '2']) for p in paths]
    assert [r['refresh']['mode'] for r in reports] == ['incremental'] * 3
    assert reports[-1]['compacted'] is not None  # pile exceeded 2 -> compacted
    assert reports[-1]['watermark'] == 2

    def norm(p):
        return (p.sort_values(['user_id', 'bucket_start'])
                 .reset_index(drop=True).astype(str))

    from changepoynt_spark.sources.continuous import ContinuousAggregate
    ca = ContinuousAggregate(IcebergishTable(raw_root), tier_root, ['user_id'],
                             interval='1 hour', partition_by=())
    want = rollup.finalize_rollup(
        rollup.rollup_partial(df, ['user_id'], interval='1 hour'), ['user_id']).toPandas()
    assert norm(ca.read(spark).toPandas()).equals(norm(want))

    # idempotent: re-running without new data is a no-op
    sid = ca.tier.current_snapshot_id()
    assert run([])['refresh']['mode'] == 'noop'
    assert ca.tier.current_snapshot_id() == sid

    # raw compaction of fully-REFLECTED snapshots is tolerated maintenance:
    # the next refresh stays incremental over just the new arrival
    IcebergishTable(raw_root).compact(spark)
    # deterministic late slice (a limit() would be re-evaluated differently
    # on the ingest vs the expected side); duplicate (user_id, ts) rows are
    # fine — the tied first/last candidates carry identical values
    extra = df.filter('user_id = 0 and hour(ts) < 3')
    p_extra = str(tmp_path / 'extra.parquet')
    extra.write.parquet(p_extra)
    rep = run(['--ingest', p_extra])
    assert rep['refresh']['mode'] == 'incremental'
    want2 = rollup.finalize_rollup(
        rollup.rollup_partial(df.unionByName(extra), ['user_id'],
                              interval='1 hour'), ['user_id']).toPandas()
    assert norm(ca.read(spark).toPandas()).equals(norm(want2))


def test_continuous_agg_job_raw_retention_downsample_then_drop(spark, tmp_path, capsys):
    import datetime as dt

    from jobs import continuous_agg_job
    from changepoynt_spark.operators import rollup
    from changepoynt_spark.sources.continuous import ContinuousAggregate
    from changepoynt_spark.sources.tables import IcebergishTable

    # minute = i//24 makes ts UNIQUE within each (user, hour) bucket:
    # first/last are only well-defined under a total per-bucket ts order
    rows = [(i % 3, dt.datetime(2026, 3, 1, i % 24, i // 24, i % 60),
             float(i) * 0.31) for i in range(480)]
    df = spark.createDataFrame(rows, 'user_id long, ts timestamp, value double')
    p_in = str(tmp_path / 'pts.parquet')
    df.write.parquet(p_in)

    raw_root = str(tmp_path / 'raw')
    tier_root = str(tmp_path / 'tier')
    base = ['--raw', raw_root, '--tier', tier_root, '--keys', 'user_id',
            '--interval', '1 hour', '--raw-retention', '4 hours']

    def run(extra):
        assert continuous_agg_job.main(base + extra, spark=spark) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    rep = run(['--ingest', p_in])
    assert rep['refresh']['mode'] == 'incremental'
    # watermark 23:00, retention 4h -> raw rows before 19:00 expired
    assert rep['expired']['dropped_snapshots'] or rep['expired']['rewritten_snapshots']
    raw = IcebergishTable(raw_root)
    n_raw = raw.read(spark).count()
    assert n_raw < df.count()
    assert raw.read(spark).agg({'ts': 'min'}).first()[0] >= dt.datetime(2026, 3, 1, 19)

    # the tier still serves the FULL day the raw table no longer holds
    ca = ContinuousAggregate(raw, tier_root, ['user_id'],
                             interval='1 hour', partition_by=())
    want = rollup.finalize_rollup(
        rollup.rollup_partial(df, ['user_id'], interval='1 hour'),
        ['user_id']).toPandas()

    def norm(p):
        return (p.sort_values(['user_id', 'bucket_start'])
                 .reset_index(drop=True).astype(str))
    assert norm(ca.read(spark).toPandas()).equals(norm(want))

    # idempotent maintenance: rerun leaves raw and tier untouched
    sid_raw = raw.current_snapshot_id()
    sid_tier = ca.tier.current_snapshot_id()
    rep2 = run([])
    assert rep2['refresh']['mode'] in ('noop', 'empty')
    assert rep2['expired'] in (None, {'dropped_snapshots': [],
                                      'rewritten_snapshots': [],
                                      'dropped_bytes': 0, 'rewritten_bytes': 0})
    assert raw.current_snapshot_id() == sid_raw
    assert norm(ca.read(spark).toPandas()).equals(norm(want))


def test_continuous_agg_job_dd_form(spark, tmp_path, capsys):
    """--agg-form dd: the job maintains a quantile-sketch tier through the
    same watermark machinery; the incremental result integer-exactly
    matches sketching all points in one pass."""
    import datetime as dt

    from jobs import continuous_agg_job
    from changepoynt_spark.operators import rollup
    from changepoynt_spark.sources.continuous import ContinuousAggregate
    from changepoynt_spark.sources.tables import IcebergishTable

    rows = [(dt.datetime(2026, 2, 1, i % 24, (i * 7) % 60, i % 60),
             float(i) * 0.7 - 3) for i in range(600)]
    df = spark.createDataFrame(rows, 'ts timestamp, value double')
    paths = []
    for i in range(3):
        p = str(tmp_path / f'dd{i}.parquet')
        df.filter(f'pmod(minute(ts), 3) = {i}').write.parquet(p)
        paths.append(p)

    base = ['--raw', str(tmp_path / 'raw'), '--tier', str(tmp_path / 'tier'),
            '--keys', '', '--interval', '1 hour', '--agg-form', 'dd']
    for p in paths:
        assert continuous_agg_job.main(base + ['--ingest', p], spark=spark) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep['refresh']['mode'] == 'incremental'

    ca = ContinuousAggregate(IcebergishTable(str(tmp_path / 'raw')),
                             str(tmp_path / 'tier'), [], interval='1 hour',
                             partition_by=(), agg_form='dd')
    got = (rollup.dd_sketch_quantiles(ca.read(spark), []).toPandas()
           .sort_values('bucket_start').reset_index(drop=True))
    exp = (rollup.dd_sketch_quantiles(
               rollup.dd_sketch_from_points(df, [], interval='1 hour'), [])
           .toPandas().sort_values('bucket_start').reset_index(drop=True))
    assert got.astype(str).equals(exp.astype(str))


def test_tier_stream_job_feeds_ca_tier_and_restarts_exactly_once(
        spark, tmp_path, capsys):
    """r7: the streaming CA refresh job drains the raw table's snapshot
    dirs into the tier via foreachBatch + IcebergishTable.append; a
    restart with no new input commits nothing; read_realtime_stream over
    the job's tier matches a one-shot batch rollup."""
    import datetime as dt

    from jobs import tier_stream_job
    from changepoynt_spark.operators import rollup
    from changepoynt_spark.sources.continuous import ContinuousAggregate
    from changepoynt_spark.sources.tables import IcebergishTable

    rows = [(i % 4, dt.datetime(2026, 3, 1, (i // 25) % 24, (i * 7) % 60),
             float(i) * 0.3 - 2) for i in range(600)]
    df = spark.createDataFrame(rows,
                               'user_id long, ts timestamp, value double')
    raw = IcebergishTable(str(tmp_path / 'raw'))
    for i in range(2):
        raw.append(df.filter(f'pmod(user_id, 2) = {i}'), partition_by=())

    args = ['--raw', str(tmp_path / 'raw'), '--tier', str(tmp_path / 'tier'),
            '--checkpoint', str(tmp_path / 'ckpt'), '--keys', 'user_id',
            '--interval', '1 hour', '--watermark-delay', '30 minutes',
            '--available-now']
    tier_stream_job.main(args, spark=spark)
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep['tier_snapshots'] >= 1 and rep['stream_batch_id'] is not None

    ca = ContinuousAggregate(raw, str(tmp_path / 'tier'), ['user_id'],
                             interval='1 hour', partition_by=())
    got = (ca.read_realtime_stream(spark)
           .select('user_id', 'bucket_start', 'cnt_points', 'sum_value')
           .toPandas().sort_values(['user_id', 'bucket_start'])
           .reset_index(drop=True))
    exp = (rollup.rollup_from_points(df, ['user_id'], interval='1 hour',
                                     exact_sum=True)
           .select('user_id', 'bucket_start', 'cnt_points', 'sum_value')
           .toPandas().sort_values(['user_id', 'bucket_start'])
           .reset_index(drop=True))
    assert len(got) == len(exp) > 0
    assert got.astype(str).equals(exp.astype(str))

    # restart with no new input: zero new tier snapshots
    before = rep['tier_snapshots']
    tier_stream_job.main(args, spark=spark)
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2['tier_snapshots'] == before


def test_tokenize_job_chains_into_rollup_job(spark, tmp_path, capsys):
    """r7: the full front door — documents -> tokenize_job (learn + persist
    the BPE vocabulary artifact) -> tokens table in the north-rule input
    shape -> rollup_job scores and rolls it up.  A second tokenize run
    LOADING the persisted artifact produces byte-identical token arrays."""
    from jobs import rollup_job, tokenize_job

    docs_path = '/root/testdata/sf0.001/documents.parquet'
    tok_root = str(tmp_path / 'tokens')
    vocab_root = str(tmp_path / 'vocab')
    tokenize_job.main(['--docs', docs_path, '--output', tok_root,
                       '--learn', '--write-merges', vocab_root,
                       '--rounds', '2', '--batch', '32'], spark=spark)
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep['n_merges'] == 64 and rep['merge_table'] == vocab_root

    from changepoynt_spark.sources.tables import IcebergishTable
    out = IcebergishTable(tok_root).read(spark)
    schema = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert schema['doc_id'] == 'string'
    assert schema['tokens'].startswith('array<int')
    assert schema['n_tok'] == 'int' and schema['source'] == 'string'
    n_docs = spark.read.parquet(docs_path).count()
    assert out.count() == n_docs

    # reuse the persisted vocabulary: byte-identical token arrays
    tok2_root = str(tmp_path / 'tokens2')
    tokenize_job.main(['--docs', docs_path, '--output', tok2_root,
                       '--merges', vocab_root], spark=spark)
    capsys.readouterr()
    a = {r['doc_id']: list(r['tokens']) for r in out.collect()}
    b = {r['doc_id']: list(r['tokens'])
         for r in IcebergishTable(tok2_root).read(spark).collect()}
    assert a == b

    # the tokens table feeds the scoring/rollup job unchanged
    assert rollup_job.main(['--input', tok_root,
                            '--output', str(tmp_path / 'rollup'),
                            '--buckets', '4'], spark=spark) == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(rep2['processed']) == 4 and rep2['remaining'] == []


@pytest.mark.parametrize('job, argv', [
    ('continuous_agg_job', ['--raw', '{raw}', '--tier', '{out}',
                            '--keys', 'user_id', '--raw-retention', 'a week']),
    ('rollup_job', ['--output', '{out}']),
    ('tokenize_job', ['--docs', '{raw}', '--output', '{out}']),
    ('tier_stream_job', ['--raw', '{raw}', '--tier', '{out}',
                         '--checkpoint', '{ckpt}', '--source-kind', 'partial',
                         '--transform', 'tokens-points', '--available-now']),
])
def test_jobs_reject_bad_cli_input_before_committing(spark, tmp_path, job,
                                                     argv):
    """Argument checks run at parse time (``ap.error``, exit 2), not as
    ``assert``s that ``python -O`` strips, and before the job commits
    anything: a bad ``--raw-retention`` used to surface only after the
    refresh had committed the tier."""
    import datetime as dt
    import importlib

    from changepoynt_spark.sources.tables import IcebergishTable

    raw, out, ckpt = (str(tmp_path / d) for d in ('raw', 'out', 'ckpt'))
    IcebergishTable(raw).append(
        spark.createDataFrame([(1, dt.datetime(2026, 2, 1), 1.0)],
                              'user_id long, ts timestamp, value double'),
        partition_by=())
    with pytest.raises(SystemExit) as exc:
        importlib.import_module(f'jobs.{job}').main(
            [a.format(raw=raw, out=out, ckpt=ckpt) for a in argv], spark=spark)
    assert exc.value.code == 2
    assert not os.path.exists(out) and not os.path.exists(ckpt)
    assert IcebergishTable(raw).current_snapshot_id() == 0


def test_continuous_agg_job_strips_spaces_in_comma_list_keys(spark, tmp_path,
                                                               capsys):
    """Every list-valued flag goes through one parser: ``--keys 'user_id,
    source'`` names the ``source`` column, not ``' source'`` (which
    groupBy cannot resolve), as the sketch, SAX and gap-fill jobs always
    accepted."""
    import datetime as dt

    from pyspark.sql import functions as F

    from jobs import continuous_agg_job
    from changepoynt_spark.sources.continuous import ContinuousAggregate
    from changepoynt_spark.sources.tables import IcebergishTable

    rows = [(i % 2, 'ab'[i % 3 % 2], dt.datetime(2026, 2, 1, i % 3, i % 60),
             float(i)) for i in range(30)]
    df = spark.createDataFrame(
        rows, 'user_id long, source string, ts timestamp, value double')
    p = str(tmp_path / 'arrive.parquet')
    df.write.parquet(p)
    raw_root, tier_root = str(tmp_path / 'raw'), str(tmp_path / 'tier')
    assert continuous_agg_job.main(
        ['--raw', raw_root, '--tier', tier_root, '--keys', 'user_id, source',
         '--interval', '1 hour', '--ingest', p], spark=spark) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep['refresh']['mode'] == 'incremental'
    ca = ContinuousAggregate(IcebergishTable(raw_root), tier_root,
                             ['user_id', 'source'], interval='1 hour',
                             partition_by=())
    got = ca.read(spark).select('user_id', 'source', 'bucket_start',
                                'cnt_points').collect()
    want = (df.groupBy('user_id', 'source', F.date_trunc('hour', 'ts')
                       .alias('bucket_start')).count().collect())
    assert sorted(tuple(r) for r in got) == sorted(tuple(r) for r in want)


@pytest.fixture(scope='module')
def engine_zip(tmp_path_factory):
    out = tmp_path_factory.mktemp('pkg') / 'engine.zip'
    subprocess.run(['bash', os.path.join(_REPO, 'scripts', 'package.sh'),
                    str(out)], check=True, capture_output=True)
    return out


@pytest.mark.parametrize('job', sorted(
    f for f in os.listdir(os.path.join(_REPO, 'jobs')) if f.endswith('.py')))
def test_job_runs_as_a_script_from_engine_zip(engine_zip, tmp_path, job):
    """``spark-submit --py-files engine.zip jobs/<job>.py`` imports the
    engine from the zip and puts ``jobs/`` itself on ``sys.path``; run each
    job that way (outside the repo, only the zip on PYTHONPATH) up to its
    ``--help``."""
    env = dict(os.environ, PYTHONPATH=str(engine_zip))
    res = subprocess.run(
        [sys.executable, os.path.join(_REPO, 'jobs', job), '--help'],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr
    assert res.stdout.startswith('usage:')
