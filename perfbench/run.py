"""Benchmark of the changepoynt_spark pipeline: tokens -> change scores ->
1m/1h/1d tiers -> Gorilla blocks -> Iceberg-style tables.

Run from the repository root:

    python3 perfbench/run.py --workload fused_sst_long --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
runs the same loop with spans, stage accumulators and Spark's event log on,
and prints the per-layer metrics.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the exit code is 0 only
when every operation's output checked out.  Untracked results, spans and the
parsed event log go to perfbench/out/.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
OUT_DIR = os.path.join(HERE, 'out')
SPARK_COUNTERS = ('jobs', 'stages', 'tasks', 'run_ms', 'cpu_ns', 'shuffle_bytes',
                  'spill_bytes', 'py_init_ms', 'py_total_ms', 'arrow_sent',
                  'arrow_received')


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    p.add_argument('--workload', required=True)
    p.add_argument('--seed', type=int, required=True)
    p.add_argument('--seconds', type=float, required=True)
    p.add_argument('--trace', type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_spec(root: str) -> dict:
    with open(os.path.join(root, 'BENCHMARK.json')) as f:
        return json.load(f)


def prepare_env(root: str, work_dir: str) -> None:
    """Python workers import the package from the checkout; everything the
    run writes stays under ``work_dir``; one BLAS thread per process."""
    os.environ['PYTHONPATH'] = os.pathsep.join(
        p for p in (root, os.environ.get('PYTHONPATH')) if p)
    for var in ('OMP_NUM_THREADS', 'OPENBLAS_NUM_THREADS', 'MKL_NUM_THREADS',
                'VECLIB_MAXIMUM_THREADS', 'NUMEXPR_NUM_THREADS'):
        os.environ[var] = '1'
    os.environ['TMPDIR'] = os.path.join(work_dir, 'tmp')
    os.makedirs(os.environ['TMPDIR'])
    # every JVM, the launcher included: temp files under work_dir, no
    # hsperfdata file in the system temp directory
    os.environ['JAVA_TOOL_OPTIONS'] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ['SPARK_DRIVER_MEMORY'] = '1g'
    os.environ['TZ'] = 'UTC'
    time.tzset()
    sys.path.append(root)


def spark_conf(work_dir: str, event_dir: str = None) -> dict:
    # The driver heap is committed up front, so peak RSS does not depend on
    # when the collector happened to grow it.  The JIT stops at C1: with C2
    # every operation still got 30-50% faster over five cycles, so a run's
    # figures depended on where on that curve it was measured, and C2's
    # compile threads took cores from the Python workers.  With C1 timings
    # are flat after the warm-up cycle.
    heap = os.environ['SPARK_DRIVER_MEMORY']
    conf = {'spark.ui.showConsoleProgress': 'false',
            'spark.local.dir': os.path.join(work_dir, 'spark'),
            'spark.sql.warehouse.dir': os.path.join(work_dir, 'warehouse'),
            'spark.driver.extraJavaOptions':
                f'-Xms{heap} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1'}
    if event_dir:
        conf.update({'spark.eventLog.enabled': 'true',
                     'spark.eventLog.dir': 'file://' + event_dir,
                     'spark.eventLog.compress': 'false',
                     'spark.eventLog.rolling.enabled': 'false'})
    return conf


def stop_spark(spark) -> None:
    """Stop Spark, then close the JVM it launched and wait until it exits;
    the JVM takes its Python workers down with it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, 'proc', None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def end_to_end(bench, peak_rss: int) -> tuple:
    import stats
    s = bench.samples
    tail = stats.tail(s['read_s'])
    return {
        'setup_s': sum(bench.setup_parts.values()),
        'rolled_points_per_s': stats.median(s['rolled_points_per_s']),
        'job_s': stats.median(s['job_s']),
        'resume_s': stats.median(s['resume_s']),
        'read_s_p50': stats.median(s['read_s']),
        'read_s_tail': tail['value'],
        'refresh_s_p50': stats.median(s['refresh_s']),
        'compressed_bytes_per_point': stats.median(s['compressed_bytes_per_point']),
        'peak_rss_mb': peak_rss / 2 ** 20,
    }, tail


def per_layer(bench, spans: list, groups: dict) -> dict:
    """Fold spans and the event log into per-cycle layer metrics.  Layers a
    workload does not exercise read 0."""
    import stats

    def med(xs):
        return stats.median(xs) if xs else 0.0

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    cycles = max(1, bench.cycles)
    measured = [s for s in spans if isinstance(s['cycle'], int) and s['phase'] != 'check']
    total, job_jobs = defaultdict(float), 0.0
    for s in measured:
        g = groups.get(s['group'], {})
        for k in SPARK_COUNTERS:
            total[k] += g.get(k, 0.0)
        if s['phase'] == 'job':
            job_jobs += g.get('jobs', 0.0)
    skews = []
    for s in measured:
        if s['name'] != 'job':
            continue
        stages = {}
        for t in measured:
            if t['phase'] == 'job' and t['cycle'] == s['cycle']:
                stages.update(groups.get(t['group'], {}).get('stage_task_ms', {}))
        if stages:
            times = max(stages.values(), key=sum)
            skews.append(max(times) / max(stats.median(times), 1.0))
    by_name = defaultdict(list)
    for s in measured:
        by_name[s['name']].append(s)
    lay = bench.layer
    m = {f'fused.{k}_cpu_s': med(lay[f'fused.{k}_cpu_s'])
         for k in ('score', 'bucket', 'encode', 'assemble')}
    m.update({k: lay[k][0] for k in ('kernels.score_s_per_mpt', 'codecs.encode_s_per_mpt',
                                      'codecs.decode_s_per_mpt', 'codecs.ts_bytes_per_point',
                                      'codecs.value_bytes_per_point')})
    m.update({
        'spark.python_init_s': total['py_init_ms'] / 1e3 / cycles,
        'spark.python_total_s': total['py_total_ms'] / 1e3 / cycles,
        'spark.arrow_bytes_sent': total['arrow_sent'] / cycles,
        'spark.arrow_bytes_received': total['arrow_received'] / cycles,
        'spark.task_skew': med(skews),
        'spark.executor_run_s': total['run_ms'] / 1e3 / cycles,
        'spark.executor_cpu_s': total['cpu_ns'] / 1e9 / cycles,
        'spark.jobs': total['jobs'] / cycles,
        'spark.stages': total['stages'] / cycles,
        'spark.tasks': total['tasks'] / cycles,
        'spark.shuffle_bytes_written': total['shuffle_bytes'] / cycles,
        'spark.spill_bytes': total['spill_bytes'] / cycles,
        'spark.driver_build_s': med(lay['spark.driver_build_s']),
        'checkpoint.pending_buckets_s': med([s['dur'] for s in
                                             by_name['checkpoint.pending_buckets']]),
        'checkpoint.jobs_per_bucket': (job_jobs / cycles / bench.shape.buckets
                                       if bench.shape.tables else 0.0),
        'checkpoint.buckets_processed': mean(lay['checkpoint.buckets_processed']),
        'checkpoint.buckets_skipped': mean(lay['checkpoint.buckets_skipped']),
        'tables.append_s_p50': med([s['dur'] for s in by_name['tables.append']]),
        'tables.snapshots': mean(lay['tables.snapshots']),
        'tables.data_files': mean(lay['tables.data_files']),
        'tables.metadata_files': mean(lay['tables.metadata_files']),
        'tables.bytes_written_per_point': mean(lay['tables.bytes_written_per_point']),
        'tables.plan_files_s': med([s['dur'] for s in by_name['tables.plan_files']]),
        'tables.files_planned_per_read': mean([s['n_kept'] for s in
                                               by_name['tables.plan_files']]),
        'continuous.refresh_delta_rows': mean(lay['continuous.refresh_delta_rows']),
        'continuous.compact_s': med(lay['continuous.compact_s']),
        'continuous.read_realtime_s': med(lay['continuous.read_realtime_s']),
        'retention.filter_rows_in': mean(lay['retention.filter_rows_in']),
        'retention.filter_rows_out': mean(lay['retention.filter_rows_out']),
    })
    m.update({f'setup.{k}': v for k, v in bench.setup_parts.items()})
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, 'changepoynt_spark', '__init__.py')):
        print('perfbench: changepoynt_spark/ not found; run from the repository root',
              file=sys.stderr)
        return 2
    spec = load_spec(root)
    os.makedirs(OUT_DIR, exist_ok=True)
    work_dir = tempfile.mkdtemp(prefix=f'{args.workload}-', dir=OUT_DIR)
    try:
        return run(args, root, spec, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def run(args, root: str, spec: dict, work_dir: str) -> int:
    prepare_env(root, work_dir)
    import tracing
    import workloads
    from changepoynt_spark.session import get_spark
    if args.workload not in workloads.SHAPES:
        print(f'perfbench: unknown workload {args.workload!r}; '
              f'one of {sorted(workloads.SHAPES)}', file=sys.stderr)
        return 2
    traced = bool(args.trace)
    event_dir = os.path.join(work_dir, 'events') if traced else None
    if event_dir:
        os.makedirs(event_dir)
    cores = len(os.sched_getaffinity(0))
    run_id = f'{args.workload}-seed{args.seed}-trace{args.trace}'
    tracer = tracing.Tracer(run_id)
    bench, crash = None, None
    with tracing.RssSampler(os.getpid()) as rss:
        t0 = time.perf_counter()
        spark = get_spark(app_name='perfbench', master=f'local[{cores}]',
                          extra_conf=spark_conf(work_dir, event_dir))
        try:
            spark.sparkContext.setLogLevel('ERROR')
            session_s = time.perf_counter() - t0
            if traced:
                tracer.sc = spark.sparkContext
            bench = workloads.Bench(spark, args.workload, args.seed, tracer, work_dir, traced)
            bench.setup(session_s)
            bench.measure(args.seconds)
            if traced:
                bench.time_in_process()
        except Exception as exc:       # reported below as a failed run
            import traceback
            traceback.print_exc()
            crash = exc
        finally:
            stop_spark(spark)
    attempted = bench.attempted if bench else 1
    failed = (bench.failed if bench else 0) + (crash is not None)
    correct = failed == 0 and bench is not None and bench.cycles > 0
    metrics, record = {}, {'run_id': run_id, 'seconds': args.seconds,
                           'cycles': bench.cycles if bench else 0,
                           'attempted': attempted, 'failed': failed}
    if correct:
        e2e, tail = end_to_end(bench, rss.peak)
        record.update(end_to_end=e2e, read_tail=tail, setup=bench.setup_parts,
                      samples=bench.samples)
        names = spec['per_layer'] if traced else spec['end_to_end']
        if traced:
            groups = tracing.parse_event_log(event_dir)
            values = per_layer(bench, tracer.spans, groups)
            record.update(per_layer=values, spans=tracer.spans, event_log=groups)
            untraced = os.path.join(OUT_DIR, f'{args.workload}-seed{args.seed}-e2e.json')
            if os.path.exists(untraced):
                with open(untraced) as f:
                    base = json.load(f)['end_to_end']
                record['tracing_overhead'] = {k: e2e[k] / base[k] - 1 for k in base}
                print(f'perfbench: tracing overhead vs untraced run: '
                      f"{json.dumps(record['tracing_overhead'])}", file=sys.stderr)
        else:
            values = e2e
        metrics = {m['name']: {'value': values[m['name']], 'unit': m['unit']} for m in names}
    suffix = 'trace' if traced else 'e2e'
    with open(os.path.join(OUT_DIR, f'{args.workload}-seed{args.seed}-{suffix}.json'), 'w') as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({'correct': correct, 'attempted': attempted, 'failed': failed,
                      'metrics': metrics}))
    return 0 if correct else 1


if __name__ == '__main__':
    sys.exit(main())
