"""Streaming change-point scoring as a custom stateful operator.

The reference documents buffered-replay streaming only as an OFFLINE pattern
(docs/guides/experimental-buffered-streaming.md: keep the last
total_region+1 samples, replay the batch transform, emit the score at
first_score_position with a fixed delay — exact for deterministic methods).
This module turns that pattern into a real Structured Streaming operator via
``applyInPandasWithState``: per-series state holds the rolling buffer, each
micro-batch appends in-order points and emits the newly determined scores.

Exactness: for deterministic methods ('naive updated', 'naive',
moving_window) the emitted scores are identical to the batch transform
(rtol 1e-10 asserted in tests, mirroring the reference's replay proof,
examples/buffered_streaming_comparison.py:62-75).  The reference's caveats
carry over: per-buffer min-max scaling drifts (use scale=False) and
randomized methods restart their RNG per buffer.

Out-of-order handling: rows are sorted by position inside each batch; a gap
in positions stalls the series until the missing points arrive (points
beyond the gap are buffered in state up to ``max_pending``).  If a gap
outlasts that budget, the operator advances past it: the missing span is
declared lost (counted in per-series state as ``n_dropped`` — never silent),
and scoring restarts at the earliest buffered point with a fresh buffer so
no score window ever spans missing data.  Dropping points instead (the
previous behavior) could discard the exact position the stream was stalled
on, wedging the series forever.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from changepoynt_spark.operators.scoring import build_algorithm

OUTPUT_SCHEMA = T.StructType([
    T.StructField('doc_id', T.StringType(), False),
    T.StructField('pos', T.LongType(), False),
    T.StructField('score', T.DoubleType(), False),
])

# state: contiguous buffer tail, next expected position, pending out-of-order,
# count of points dropped on pending-buffer overflow (observability: loss is
# recorded, never silent)
STATE_SCHEMA = T.StructType([
    T.StructField('buffer', T.ArrayType(T.DoubleType()), True),
    T.StructField('next_pos', T.LongType(), True),
    T.StructField('pending_pos', T.ArrayType(T.LongType()), True),
    T.StructField('pending_val', T.ArrayType(T.DoubleType()), True),
    T.StructField('n_dropped', T.LongType(), True),
])


def _buffer_geometry(probe):
    """(buffer_size, score_position) for the rolling-replay buffer.

    Subspace algorithms publish covered_regions/first_score_position; the
    MovingWindow baseline's score at position p depends exactly on values
    [p-w, p+w), so a (2w+1)-buffer scores its center."""
    if hasattr(probe, 'covered_regions'):
        total_region = probe.covered_regions()[0]
        return total_region + 1, probe.first_score_position
    from changepoynt_spark.kernels.baseline import MovingWindow
    if isinstance(probe, MovingWindow):
        w = probe.window_length
        return 2 * w + 1, w
    raise ValueError(f'streaming scoring unsupported for {type(probe).__name__}: '
                     'no replay-buffer geometry')


def _in_order(pdfs, next_pos: int, pending: dict, n_dropped: int,
              max_pending: int, consume, reset):
    """The in-order machinery of both scoring operators: feed the
    (pos, value) points of ``pdfs`` to ``consume(pos, value)`` in position
    order, exactly once each.  Late duplicates (pos < next_pos) are dropped;
    points beyond a gap park in ``pending`` (mutated in place) until the
    gap fills.  Returns the new ``(next_pos, n_dropped)``."""
    def drain():
        nonlocal next_pos
        while next_pos in pending:                    # the contiguous run
            consume(next_pos, pending.pop(next_pos))
            next_pos += 1

    for pdf in pdfs:
        pdf = pdf.sort_values('pos')
        for p, v in zip(pdf['pos'].astype('int64'), pdf['value'].astype('float64')):
            if p < next_pos:
                continue                              # late duplicate: drop
            pending[int(p)] = float(v)                # in-order or parked
            drain()
            if len(pending) > max_pending:
                # A REAL gap at next_pos (drain() just ran, so nothing
                # parked is contiguous) has outlasted the pending budget.
                # Dropping any parked point would wedge the series forever
                # (stream points are not resent), so instead ADVANCE PAST
                # THE GAP: declare [next_pos, min(pending)) lost, count the
                # loss, and ``reset()`` the scorer so it restarts at the
                # earliest parked point (a score window or posterior must
                # never span missing data).  Checking AFTER the drain means
                # an in-order point that merely unblocks a full pending
                # buffer never resets the scorer.
                lo = min(pending)
                n_dropped += lo - next_pos
                next_pos = lo
                reset()
                drain()
    return next_pos, n_dropped


def _make_stateful_fn(algorithm: str, params: dict, max_pending: int = 10_000):
    params = dict(params or {})
    probe = build_algorithm(algorithm, params)
    buffer_size, score_position = _buffer_geometry(probe)
    delay = buffer_size - 1 - score_position

    def fn(key, pdfs, state: GroupState):
        doc_id = key[0]
        if state.exists:
            buf, next_pos, pend_p, pend_v, n_dropped = state.get
            buf = list(buf)
            pending = dict(zip(pend_p, pend_v))
        else:
            buf, next_pos, pending, n_dropped = [], 0, {}, 0
        algo = build_algorithm(algorithm, params)
        out_pos, out_score = [], []

        def consume(pos, v):
            buf.append(v)
            if len(buf) > buffer_size:
                buf.pop(0)
            if len(buf) == buffer_size:
                score = algo.transform(np.asarray(buf, dtype=np.float64))
                out_pos.append(pos - delay)
                out_score.append(float(score[score_position]))

        next_pos, n_dropped = _in_order(pdfs, next_pos, pending, n_dropped,
                                        max_pending, consume, buf.clear)
        state.update((buf, next_pos, list(pending.keys()), list(pending.values()),
                      n_dropped))
        if out_pos:
            yield pd.DataFrame({'doc_id': doc_id, 'pos': out_pos, 'score': out_score})

    return fn


def streaming_scores(stream_df: DataFrame, algorithm: str = 'sst', params: dict = None,
                     max_pending: int = 10_000) -> DataFrame:
    """(doc_id, pos, value) point stream -> (doc_id, pos, score) stream.

    One emitted row per position once its score is determined (append
    semantics); state is one rolling buffer per series.
    """
    fn = _make_stateful_fn(algorithm, params, max_pending)
    return (stream_df.groupBy('doc_id')
            .applyInPandasWithState(fn, OUTPUT_SCHEMA, STATE_SCHEMA,
                                    outputMode='append',
                                    timeoutConf=GroupStateTimeout.NoTimeout))


# ---------------------------------------------------------------------------
# truly-online kernels (posterior state streams, no replay buffer)
# ---------------------------------------------------------------------------

# state: the kernel's online posterior (three float arrays + step counter)
# plus the same in-order machinery as the buffered path
ONLINE_STATE_SCHEMA = T.StructType([
    T.StructField('mean_params', T.ArrayType(T.DoubleType()), True),
    T.StructField('prec_params', T.ArrayType(T.DoubleType()), True),
    T.StructField('log_message', T.ArrayType(T.DoubleType()), True),
    T.StructField('t', T.LongType(), True),
    T.StructField('next_pos', T.LongType(), True),
    T.StructField('pending_pos', T.ArrayType(T.LongType()), True),
    T.StructField('pending_val', T.ArrayType(T.DoubleType()), True),
    T.StructField('n_dropped', T.LongType(), True),
])


def _make_online_fn(algorithm: str, params: dict, max_pending: int = 10_000,
                    max_run_length: int = None):
    params = dict(params or {})
    probe = build_algorithm(algorithm, params)
    if not hasattr(probe, 'stream_step'):
        raise ValueError(f'{algorithm} has no online (stream_step) form')

    def fn(key, pdfs, state: GroupState):
        doc_id = key[0]
        algo = build_algorithm(algorithm, params)
        if state.exists:
            mp, pp, lm, t, next_pos, pend_p, pend_v, n_dropped = state.get
            algo.stream_state(max_run_length)  # sets cap; state arrays below
            kstate = (np.asarray(mp), np.asarray(pp), np.asarray(lm), t)
            pending = dict(zip(pend_p, pend_v))
        else:
            kstate = algo.stream_state(max_run_length)
            next_pos, pending, n_dropped = 0, {}, 0
        out_pos, out_score = [], []

        def consume(pos, v):
            nonlocal kstate
            score, kstate = algo.stream_step(kstate, v)
            out_pos.append(pos)               # online: score determined NOW
            out_score.append(score)

        def reset():
            nonlocal kstate
            kstate = algo.stream_state(max_run_length)

        next_pos, n_dropped = _in_order(pdfs, next_pos, pending, n_dropped,
                                        max_pending, consume, reset)
        mp, pp, lm, t = kstate
        state.update((list(map(float, mp)), list(map(float, pp)),
                      list(map(float, lm)), int(t), next_pos,
                      list(pending.keys()), list(pending.values()), n_dropped))
        if out_pos:
            yield pd.DataFrame({'doc_id': doc_id, 'pos': out_pos, 'score': out_score})

    return fn


def streaming_online_scores(stream_df: DataFrame, algorithm: str = 'bocpd',
                            params: dict = None, max_pending: int = 10_000,
                            max_run_length: int = None) -> DataFrame:
    """(doc_id, pos, value) point stream -> (doc_id, pos, score) for kernels
    with a TRUE online recursion (BOCPD): the posterior state itself is the
    Spark state, every point's score is emitted the moment it is consumed,
    and emissions are BIT-IDENTICAL to the batch transform (no replay-buffer
    truncation — asserted in tests/test_scoring_stream.py).

    Exact state grows O(t) per series (the full run-length posterior);
    ``max_run_length`` caps it for unbounded streams — the score error is
    bounded by the truncated tail mass (1 - hazard)^cap."""
    fn = _make_online_fn(algorithm, params, max_pending, max_run_length)
    return (stream_df.groupBy('doc_id')
            .applyInPandasWithState(fn, OUTPUT_SCHEMA, ONLINE_STATE_SCHEMA,
                                    outputMode='append',
                                    timeoutConf=GroupStateTimeout.NoTimeout))
