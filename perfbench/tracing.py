"""Spans, process-tree memory sampling and Spark event-log parsing.

Spans are recorded around calls into the library from the benchmark's own
files and kept in memory until the run ends.  With tracing on, every span
also names the Spark job group of the jobs it starts, so the event log can
be folded back onto spans.
"""
from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict

# SQL metric names of the MapInPandas node in the event log -> our field
PY_METRICS = {
    'time to start Python workers': 'py_init_ms',
    'time to initialize Python workers': 'py_init_ms',
    'time to run Python workers': 'py_total_ms',
    'data sent to Python workers': 'arrow_sent',
    'data returned from Python workers': 'arrow_received',
}


class Tracer:
    """Spans with name, start, end, parent and run id.  ``sc`` is set only
    in a traced run; then each span is also a Spark job group.  ``cycle`` is
    the measured cycle that top-level spans belong to (None: set-up)."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.cycle = None
        self.spans = []
        self._open = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        rec = {'id': next(self._ids), 'name': name,
               'parent': parent['id'] if parent else None,
               'phase': parent['phase'] if parent else name,
               'cycle': parent['cycle'] if parent else self.cycle,
               'run_id': self.run_id}
        rec['group'] = f"{self.run_id}/{rec['id']}/{name}"
        if self.sc is not None:
            self.sc.setJobGroup(rec['group'], name)
        self._open.append(rec)
        rec['start'] = time.perf_counter()
        try:
            yield rec
        finally:
            rec['end'] = time.perf_counter()
            rec['dur'] = rec['end'] - rec['start']
            self._open.pop()
            if self.sc is not None:
                if parent:
                    self.sc.setJobGroup(parent['group'], parent['name'])
                else:
                    self.sc.setLocalProperty('spark.jobGroup.id', None)
            self.spans.append(rec)

    def wrap(self, obj, attr: str, name: str, after=None) -> None:
        """Record a span around every call of ``obj.attr`` (an instance
        attribute shadowing the bound method, so the library's own
        ``self.attr(...)`` calls go through it)."""
        fn = getattr(obj, attr)

        def wrapped(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
            if after is not None:
                after(rec, out)
            return out
        setattr(obj, attr, wrapped)


def _image_rss(pid: int, page: int) -> tuple:
    """(executable, RSS bytes) of a process, the executable read first, so
    the RSS belongs to that image or a later one; (None, 0) once it exited."""
    try:
        exe = os.readlink(f'/proc/{pid}/exe')
        with open(f'/proc/{pid}/statm') as f:
            return exe, int(f.read().split()[1]) * page
    except OSError:
        return None, 0


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and its descendants.  Local mode starts no
    second JVM, so a child still running the JVM's executable is a spawn
    that has not exec'd yet (Hadoop's local file system runs ``chmod`` for
    every file it writes); it shares the JVM's pages and adds nothing."""
    children = defaultdict(list)
    for d in os.listdir('/proc'):
        if not d.isdigit():
            continue
        try:
            with open(f'/proc/{d}/stat') as f:
                ppid = int(f.read().rsplit(')', 1)[1].split()[1])
        except OSError:
            continue            # exited between listdir and open
        children[ppid].append(int(d))
    page = os.sysconf('SC_PAGE_SIZE')
    root_exe, total = _image_rss(root_pid, page)
    todo = [(root_pid, root_exe)]
    while todo:
        pid, exe = todo.pop()
        for child in children.get(pid, ()):
            child_exe, rss = _image_rss(child, page)
            if not (child_exe == exe and os.path.basename(exe or '') == 'java'):
                total += rss
            todo.append((child, child_exe))
    return total


class RssSampler:
    """Peak summed RSS of a process and all its descendants (driver, JVM,
    Python workers), sampled from /proc on one background thread."""

    def __init__(self, pid: int, interval: float = 0.25):
        self.pid = pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        self.peak = max(self.peak, _tree_rss_bytes(self.pid))

    def _run(self):
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


def parse_event_log(log_dir: str) -> dict:
    """Per job group: jobs, completed stages, task counts and times, shuffle,
    spill and the MapInPandas SQL metrics, from an uncompressed event log."""
    groups = defaultdict(lambda: defaultdict(float))
    stage_group, stage_tasks = {}, defaultdict(list)
    for path in glob.glob(os.path.join(log_dir, '*')):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev['Event']
                if kind == 'SparkListenerJobStart':
                    g = (ev.get('Properties') or {}).get('spark.jobGroup.id')
                    if g is None:
                        continue
                    groups[g]['jobs'] += 1
                    for sid in ev['Stage IDs']:
                        stage_group[sid] = g
                elif kind == 'SparkListenerStageCompleted':
                    g = stage_group.get(ev['Stage Info']['Stage ID'])
                    if g is not None:
                        groups[g]['stages'] += 1
                elif kind == 'SparkListenerTaskEnd':
                    sid = ev['Stage ID']
                    g = stage_group.get(sid)
                    if g is None or not ev.get('Task Metrics'):
                        continue
                    tm, acc = ev['Task Metrics'], groups[g]
                    acc['tasks'] += 1
                    acc['run_ms'] += tm['Executor Run Time']
                    acc['cpu_ns'] += tm['Executor CPU Time']
                    acc['shuffle_bytes'] += tm['Shuffle Write Metrics']['Shuffle Bytes Written']
                    acc['spill_bytes'] += tm['Memory Bytes Spilled'] + tm['Disk Bytes Spilled']
                    for a in ev['Task Info'].get('Accumulables', []):
                        field = PY_METRICS.get(a.get('Name'))
                        if field and a.get('Update') is not None:
                            acc[field] += float(a['Update'])
                    stage_tasks[(g, sid)].append(tm['Executor Run Time'])
    out = {g: dict(v) for g, v in groups.items()}
    for (g, sid), times in stage_tasks.items():
        out[g].setdefault('stage_task_ms', {})[str(sid)] = times
    return out
