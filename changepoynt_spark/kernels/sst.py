"""Singular Spectrum Transformation change-point scoring (numpy oracle).

Re-derives, from scratch and scipy/numba/fbpca-free, the semantics of the
reference SST (/root/reference/changepoynt/algorithms/sst.py:10-591), i.e. the
methods of Ide & Inoue 2005 (SDM) and Ide & Tsuda 2007 (IKA-SST, SDM) plus the
randomized-SVD variants of Halko et al. 2011 and the implicit FFT-Hankel
acceleration of Weber & Lenz (IEEE Access 2025).

The scoring loop, parameter defaults, RNG draw order (x0 seed -> per-step
sketch draws -> feedback noise) and the score write-back smear
``score[idx-off-ss//2 : idx-off+(ss+1)//2]`` follow the reference exactly so
that seeded runs are bit-reproducible (reference sst.py:244-289).

This module is pure numpy — it runs identically on the driver (as the golden
oracle) and inside Spark Arrow grouped-map UDFs (the engine execution path),
which is what makes Spark-vs-oracle bit-equality achievable.
"""
from __future__ import annotations

import math
from functools import partial
from typing import Callable

import numpy as np

from changepoynt_spark.kernels import linalg as lg
from changepoynt_spark.kernels import normalization
from changepoynt_spark.kernels.base import SingularSubspaceAlgorithm


class SST(SingularSubspaceAlgorithm):
    """SST with methods: ika, svd, rsvd, fbrsvd, naive, naive updated,
    weighted, symmetric (reference sst.py:56-199)."""

    def __init__(self, window_length: int, n_windows: int = None, lag: int = None, rank: int = 5,
                 scale: bool = True, method: str = 'ika', lanczos_rank: int = None,
                 random_rank: int = None, feedback_noise_level: float = 1e-3,
                 scoring_step: int = 1, use_fast_hankel: bool = False,
                 mitigate_offset: bool = False) -> None:
        self.window_length = window_length
        self.n_windows = n_windows
        self.lag = lag
        self.rank = rank
        self.scale = scale
        self.method = method
        self.lanczos_rank = lanczos_rank
        self.random_rank = random_rank
        self.noise = feedback_noise_level
        self.scoring_step = scoring_step
        self.use_fast_hankel = use_fast_hankel
        self.mitigate_offset = mitigate_offset

        # defaults — reference sst.py:127-139
        if self.n_windows is None:
            self.n_windows = self.window_length
        if self.lag is None:
            self.lag = max(self.n_windows // 3, 1)
        if self.lanczos_rank is None:
            # twice the rank, made even (Ide & Tsuda 2007 recommendation)
            self.lanczos_rank = self.rank * 2 - (self.rank & 1)
        if self.random_rank is None:
            self.random_rank = min(self.rank + 10, self.window_length, self.n_windows)

        self.methods = {
            'ika': partial(_implicit_krylov_approximation,
                           rank=self.rank, lanczos_rank=self.lanczos_rank),
            'svd': partial(_rayleigh_singular_value_decomposition, rank=self.rank),
            'rsvd': partial(_random_singular_value_decomposition,
                            rank=self.rank, randomized_rank=self.random_rank),
            'fbrsvd': partial(_facebook_random_singular_value_decomposition,
                              rank=self.rank, randomized_rank=self.random_rank),
            'naive': partial(_naive_singular_value_decomposition, rank=self.rank),
            'naive updated': partial(_naive_singular_value_decomposition_updated_score,
                                     rank=self.rank),
            'weighted': partial(_weighted_random_singular_value_decomposition,
                                rank=self.rank, randomized_rank=self.random_rank),
            'symmetric': partial(_symmetric_random_singular_value_decomposition,
                                 rank=self.rank, randomized_rank=self.random_rank),
        }
        if self.method not in self.methods:
            raise ValueError(f'Method {self.method} not defined. '
                             f'Possible methods: {list(self.methods.keys())}.')
        # fast Hankel legality — reference sst.py:178-196
        if use_fast_hankel and self.method not in ('rsvd', 'ika', 'weighted', 'symmetric'):
            raise ValueError(f'{self.method} method is not defined with use_fast_hankel=True')
        self.hankel_construction = {False: lg.compile_hankel, True: lg.FastHankel}
        if self.use_fast_hankel and self.mitigate_offset:
            raise ValueError(
                f'use_fast_hankel={self.use_fast_hankel} is not allowed when '
                f'mitigate_offset={self.mitigate_offset}. You can only use one or none of them.')

    def compute_offset(self) -> int:
        return self.n_windows // 2 + self.lag

    def _prepare(self, time_series: np.ndarray) -> np.ndarray:
        """Input checks and the [1, 2] min-max scaling (always a copy)."""
        assert time_series.ndim == 1, 'Time series needs to be an 1D array.'
        starting_point = self.covered_regions()[0]
        assert starting_point < time_series.shape[0], 'The time series is too short to score any points.'
        if self.scale:
            return normalization.min_max_scaling(time_series, min_val=1.0, max_val=2.0,
                                                 inplace=False)
        return time_series.copy()

    def transform_ika(self, series: list, seeds: list = None) -> list:
        """IKA scores of every series in ``series``, each bit-identical to
        ``np.random.seed(seeds[j])`` followed by its own ``transform`` (with
        ``seeds=None`` the series draw from the current stream in order).
        All power chains run in one lockstep (``_transform_ika``)."""
        assert self.method == 'ika' and not self.use_fast_hankel
        series = [self._prepare(ts) for ts in series]
        return _transform_ika(
            builders=[partial(_batched_hankels, ts, window_length=self.window_length,
                              n_windows=self.n_windows, mitigate_offset=self.mitigate_offset)
                      for ts in series],
            lengths=[ts.shape[0] for ts in series], seeds=seeds,
            start_idx=self.covered_regions()[0], offset=self.compute_offset(), lag=self.lag,
            scoring_step=self.scoring_step, rank=self.rank, lanczos_rank=self.lanczos_rank,
            row_dim=self.window_length)

    def transform(self, time_series: np.ndarray) -> np.ndarray:
        if self.method == 'ika' and not self.use_fast_hankel:
            # a batch of one: identical RNG stream and score semantics to
            # the per-step loop, with the step-batched heavy phases
            return self.transform_ika([time_series])[0]
        time_series = self._prepare(time_series)
        starting_point = self.covered_regions()[0]
        if self.method in ('naive', 'naive updated', 'weighted', 'symmetric', 'svd') \
                and not self.use_fast_hankel:
            # batched execution for the dense feedback-free methods (and the
            # hybrid 'svd', whose power method keeps the sequential chain)
            return _transform_dense_batched(
                time_series=time_series, start_idx=starting_point,
                offset=self.compute_offset(), window_length=self.window_length,
                n_windows=self.n_windows, lag=self.lag, scoring_step=self.scoring_step,
                method=self.method, rank=self.rank, randomized_rank=self.random_rank,
                mitigate_offset=self.mitigate_offset)
        if self.method == 'rsvd' and not self.use_fast_hankel:
            # batched execution: rsvd has no cross-step feedback (x0 is
            # unused), so after replaying the RNG stream in the loop's draw
            # order the whole computation vectorizes across steps
            return _transform_rsvd_batched(
                time_series=time_series, start_idx=starting_point,
                offset=self.compute_offset(), window_length=self.window_length,
                n_windows=self.n_windows, lag=self.lag, scoring_step=self.scoring_step,
                rank=self.rank, randomized_rank=self.random_rank,
                mitigate_offset=self.mitigate_offset)
        scoring_function = self.methods[self.method]
        hankel_function = self.hankel_construction[self.use_fast_hankel]
        return _transform(time_series=time_series, start_idx=starting_point,
                          offset=self.compute_offset(), window_length=self.window_length,
                          n_windows=self.n_windows, lag=self.lag, scoring_step=self.scoring_step,
                          scoring_function=scoring_function,
                          hankel_construction_function=hankel_function,
                          mitigate_offset=self.mitigate_offset)


def _transform(time_series: np.ndarray, start_idx: int, offset: int, window_length: int,
               n_windows: int, lag: int, scoring_step: int, scoring_function: Callable,
               hankel_construction_function: Callable, mitigate_offset: bool = False) -> np.ndarray:
    """Sliding paired-Hankel scoring loop (reference sst.py:244-289).

    NB: the feedback noise amplitude is the literal 1e-3 of the reference loop
    (its feedback_noise_level parameter is stored but unused there)."""
    x0 = np.random.rand(window_length)[:, None]
    x0 /= np.linalg.norm(x0)
    score = np.zeros_like(time_series)
    for idx in range(start_idx, time_series.shape[0], scoring_step):
        hankel_past = hankel_construction_function(time_series, idx - lag, window_length, n_windows)
        if mitigate_offset:
            hankel_past = hankel_past - hankel_past.mean(axis=0) + 1
        hankel_future = hankel_construction_function(time_series, idx, window_length, n_windows)
        if mitigate_offset:
            hankel_future = hankel_future - hankel_future.mean(axis=0) + 1
        score[idx - offset - scoring_step // 2:idx - offset + (scoring_step + 1) // 2], x1 = \
            scoring_function(hankel_past, hankel_future, x0)
        x0 = x1 + 1e-3 * np.random.rand(x0.shape[0])[:, None]
        x0 /= np.linalg.norm(x0)
    return score


def _batched_hankels(time_series: np.ndarray, ends: np.ndarray, window_length: int,
                     n_windows: int, mitigate_offset: bool) -> np.ndarray:
    """(B, w, n) stack of dense Hankels ending at each index in ``ends``.
    Built directly in row-major (w, n) layout: row i of H(e) is
    ts[start+i : start+i+n], so a single gather of length-n windows
    produces the batch without a transpose copy."""
    view = np.lib.stride_tricks.sliding_window_view(time_series, n_windows)
    starts = ends - window_length - n_windows + 1
    hb = view[starts[:, None] + np.arange(window_length)[None, :]]  # (B, w, n)
    if mitigate_offset:
        hb = hb - hb.mean(axis=1, keepdims=True) + 1
    return hb


def _contiguous(idx: np.ndarray):
    """A basic slice for an increasing run of consecutive indices (a view
    where fancy indexing would gather a copy), else ``idx`` itself."""
    if idx[-1] - idx[0] == idx.size - 1:
        return slice(int(idx[0]), int(idx[-1]) + 1)
    return idx


def _power_chain(grams: np.ndarray, idx, x0: np.ndarray, noise: np.ndarray,
                 out: np.ndarray) -> np.ndarray:
    """One series' power-method feedback chain (IKA and the 'svd' hybrid):
    step i runs 5 power iterations on ``grams[idx[i]]`` from the previous
    step's eigvec plus ``1e-3 * noise[i]`` and writes the dominant eigvec to
    ``out[i]``.  Returns the start vector of the step after the last.

    All ops are 1-D (dgemv + raw-ufunc reductions): bit-identical to the
    column-vector forms of the per-step loop (asserted in tests) at a
    fraction of the numpy dispatch overhead.  This chain is ~70-75% of a
    single series' IKA CPU (the headline kernel, window 30), which is why
    ``_transform_ika`` runs the chains of a batch in lockstep."""
    dot, sqrt = np.dot, math.sqrt
    for i, g in enumerate(idx):
        c2 = grams[g]
        x = x0
        for _ in range(5):
            x = dot(c2, x)
            x = x / np.abs(x).max()
        x = x / sqrt(dot(x, x))
        y = dot(c2, x)
        u = y / sqrt(dot(y, y))
        out[i] = u
        x0 = u + 1e-3 * noise[i]
        x0 = x0 / sqrt(dot(x0, x0))
    return x0


def _aligned_rows(m: int, rd: int) -> np.ndarray:
    """An (m, rd, 1) buffer whose rows start 16-byte aligned, as fresh 1-D
    arrays do: OpenBLAS's ddot and dgemv round differently on operands 8
    bytes off that alignment, so only then do stacked steps match 1-D ones."""
    return np.empty((m, rd + (rd & 1), 1))[:, :rd]


def _as_grams(flat: np.ndarray, rd: int) -> np.ndarray:
    """(..., rd, rd) view of grams stored one per padded row of ``flat``."""
    return flat[..., :rd * rd].reshape(flat.shape[:-1] + (rd, rd))


def _stacked_chain_step(c2: np.ndarray, x: np.ndarray, noise: np.ndarray, out: np.ndarray,
                        y: np.ndarray, a: np.ndarray) -> None:
    """One ``_power_chain`` step of m series at once.  ``c2`` is the (m, rd, rd)
    gram stack, ``x`` the (m, rd, 1) start vectors (overwritten with the next
    step's), ``out`` receives the (m, rd, 1) eigvecs, ``y`` and ``a`` are
    (m, rd, 1) scratch.  Bit-identical to m 1-D steps: the stacked matmul
    runs the same dgemv per series and the norms go through
    ``matmul(x^T, x)``, the same ddot (an einsum or sum norm reassociates
    and drifts in the last bits).  ``c2``, ``x`` and ``y`` must be
    16-byte aligned per series (``_aligned_rows``)."""
    matmul, divide, sqrt = np.matmul, np.divide, np.sqrt
    xt = x.transpose(0, 2, 1)
    for _ in range(5):
        matmul(c2, x, out=y)
        np.abs(y, out=a)
        divide(y, np.maximum.reduce(a, axis=1, keepdims=True), out=x)
    divide(x, sqrt(matmul(xt, x)), out=x)
    matmul(c2, x, out=y)
    divide(y, sqrt(matmul(y.transpose(0, 2, 1), y)), out=out)
    np.multiply(noise, 1e-3, out=x)
    np.add(out, x, out=x)
    divide(x, sqrt(matmul(xt, x)), out=x)


def _lanczos_scores(g_past: np.ndarray, eigvecs_future: np.ndarray, rank: int,
                    lanczos_rank: int) -> np.ndarray:
    """IKA scores of a batch of steps: Lanczos on the past grams seeded with
    the (unnormalized) future eigvecs, beta_0 = 1 — mirrors lg.lanczos
    exactly — then the top-rank tridiagonal eigvecs and the score
    1 - sum(eigvecs[0, :rank]^2).  Every row is computed independently, so
    its bits do not depend on the batch it sits in."""
    k = lanczos_rank
    b = eigvecs_future.shape[0]
    r = eigvecs_future
    q = np.zeros_like(r)
    alphas = np.zeros((b, k + 1))
    betas = np.ones((b, k + 1))
    for j in range(k):
        new_q = r / betas[:, j:j + 1]
        tmp = np.matmul(g_past, new_q[:, :, None])[:, :, 0]
        alphas[:, j + 1] = np.einsum('bi,bi->b', new_q, tmp)
        r = tmp - alphas[:, j + 1, None] * new_q - betas[:, j, None] * q
        betas[:, j + 1] = np.linalg.norm(r, axis=1)
        q = new_q

    tmat = np.zeros((b, k, k))
    idx = np.arange(k)
    tmat[:, idx, idx] = alphas[:, 1:]
    off = np.arange(k - 1)
    tmat[:, off, off + 1] = betas[:, 1:-1]
    tmat[:, off + 1, off] = betas[:, 1:-1]
    _, vecs = np.linalg.eigh(tmat)
    return 1.0 - np.sum(vecs[:, 0, -rank:] ** 2, axis=1)


def _transform_ika(builders: list, lengths: list, seeds, start_idx: int, offset: int,
                   lag: int, scoring_step: int, rank: int, lanczos_rank: int,
                   row_dim: int) -> list:
    """IKA-SST (Ide & Tsuda 2007) of a batch of series sharing parameters.

    Per step the same math as the per-step loop (gram -> 5-iter power method
    with the feedback chain -> Lanczos -> top-rank tridiagonal eigvecs ->
    score 1 - sum(eigvecs[0, :r]^2)), and per series the same RNG draws (x0
    seed, then one feedback-noise draw per step), after
    ``np.random.seed(seeds[j])`` when ``seeds`` is given.  Grams, Lanczos and
    the tridiagonal eigendecomposition are batched across steps.  The power
    chain is sequential only within a series, so the chains of all series
    advance in lockstep as stacked matmuls: one numpy dispatch per op per
    step for the whole batch instead of one per series.  Once a single
    series is left it runs the 1-D chain, which is faster for one series.

    ``builders[j](ends)`` returns series j's (B, row_dim, n) Hankel stack
    ending at ``ends``; ``lengths[j]`` is its length.  Returns the scores in
    input order.
    """
    rd = row_dim
    steps = [len(range(start_idx, t_len, scoring_step)) for t_len in lengths]
    x0s, noises = [], []
    for j, b in enumerate(steps):
        if seeds is not None:
            np.random.seed(seeds[j])
        x0 = np.random.rand(rd)  # a zero-step series keeps this lone draw
        x0s.append(x0 / math.sqrt(np.dot(x0, x0)))
        # the legacy RNG fills rand(b, rd) in exactly the order of b
        # successive rand(rd) calls, and nothing else draws between the
        # loop's steps — bit-identical stream
        noises.append(np.random.rand(b, rd))
    scores = [np.zeros(t_len) for t_len in lengths]

    # longest first: the series still running at any step are a prefix
    order = sorted((j for j in range(len(steps)) if steps[j]), key=lambda j: -steps[j])
    state = _aligned_rows(len(order), rd)
    for i, j in enumerate(order):
        state[i, :, 0] = x0s[j]
    s0 = 0  # steps done by every series still in ``order``
    while order:
        m = len(order)
        # chunk so the gram batches stay within ~3e6 doubles (~24 MB)
        chunk = min(max(16, int(3e6 / (rd * rd * m))), steps[order[0]] - s0)
        bs = [min(chunk, steps[j] - s0) for j in order]
        sub = start_idx + scoring_step * np.arange(s0, s0 + chunk)
        # each gram is computed ONCE for the union of past/future end
        # indices (when lag aligns with the step grid the two sets overlap
        # almost completely — ~2x less gram work).  The union is shared by
        # all series; one ending inside the chunk needs only its prefix up to
        # its last future end.
        union, inv = np.unique(np.concatenate([sub - lag, sub]), return_inverse=True)
        past, future = inv[:chunk], inv[chunk:]
        # each gram is padded to an even number of doubles, so every gram
        # starts 16-byte aligned wherever the chunking puts it and the
        # scores do not depend on the batch (see _aligned_rows)
        flat = np.empty((m, union.size, rd * rd + (rd & 1)))
        grams = _as_grams(flat, rd)
        for i, j in enumerate(order):
            p = future[bs[i] - 1] + 1
            h = builders[j](union[:p])
            np.matmul(h, h.transpose(0, 2, 1), out=grams[i, :p])
        del h

        eigvecs = np.empty((m, chunk, rd))
        t, active = 0, m
        if m > 1:
            noise = np.empty((m, chunk, rd))
            for i, j in enumerate(order):
                noise[i, :bs[i]] = noises[j][s0:s0 + bs[i]]
            y, a = _aligned_rows(m, rd), _aligned_rows(m, rd)
            while active > 1 and t < chunk:
                _stacked_chain_step(grams[:active, future[t]], state[:active],
                                    noise[:active, t, :, None], eigvecs[:active, t, :, None],
                                    y[:active], a[:active])
                t += 1
                while active > 1 and bs[active - 1] <= t:
                    active -= 1
        if t < chunk:  # only the longest series is left
            state[0, :, 0] = _power_chain(grams[0], future[t:], state[0, :, 0],
                                          noises[order[0]][s0 + t:s0 + chunk], eigvecs[0, t:])

        for i, j in enumerate(order):
            b = bs[i]
            step_scores = _lanczos_scores(_as_grams(flat[i, _contiguous(past[:b])], rd),
                                          eigvecs[i, :b], rank, lanczos_rank)
            score = scores[j]
            for e, v in zip(sub[:b], step_scores):
                score[e - offset - scoring_step // 2:e - offset + (scoring_step + 1) // 2] = v
        del flat, grams
        s0 += chunk
        order = [j for j in order if steps[j] > s0]
        state = state[:len(order)]
    return scores


def _transform_rsvd_batched(time_series: np.ndarray, start_idx: int, offset: int,
                            window_length: int, n_windows: int, lag: int, scoring_step: int,
                            rank: int, randomized_rank: int, mitigate_offset: bool,
                            hankel_builder=None, row_dim: int = None) -> np.ndarray:
    """rsvd-SST with all steps batched.

    Per-step math identical to _random_singular_value_decomposition (rank-1
    rSVD of the future Hankel, rank-r of the past, projection-distance
    score); the RNG stream is replayed first in the loop's exact order
    (x0 seed; per step: future sketch, past sketch, feedback noise), then
    the RNG-free numerics run as batched matmul/LU/QR/SVD.
    """
    w, n = window_length, n_windows
    rd = row_dim or w
    build = hankel_builder or (lambda ends_: _batched_hankels(
        time_series, ends_, w, n, mitigate_offset))
    p = randomized_rank - rank
    l_fut, l_past = 1 + p, rank + p
    assert 1.25 * l_fut < min(rd, n) and 1.25 * l_past < min(rd, n)
    t_len = time_series.shape[0]
    score = np.zeros(t_len)
    ends = np.arange(start_idx, t_len, scoring_step)
    np.random.rand(rd)  # x0 seed draw (kept for stream parity; rsvd ignores x0)
    if ends.size == 0:
        return score
    b = ends.size
    omegas_fut = np.empty((b, n, l_fut))
    omegas_past = np.empty((b, n, l_past))
    for i in range(b):
        omegas_fut[i] = np.random.uniform(low=-1, high=1, size=(n, l_fut))
        omegas_past[i] = np.random.uniform(low=-1, high=1, size=(n, l_past))
        np.random.rand(rd)  # feedback-noise draw of the loop path

    chunk = max(16, int(3e6 / (rd * rd)))
    scores = np.empty(b)
    for c0 in range(0, b, chunk):
        sl = slice(c0, min(b, c0 + chunk))
        h_fut = build(ends[sl])
        u_fut, _, _ = lg.batched_randomized_hankel_svd(h_fut, 1, omegas_fut[sl])
        del h_fut
        h_past = build(ends[sl] - lag)
        u_past, _, _ = lg.batched_randomized_hankel_svd(h_past, rank, omegas_past[sl])
        del h_past
        alpha = np.matmul(u_past.transpose(0, 2, 1), u_fut)  # (B, rank, 1)
        scores[sl] = 1.0 - np.sum(alpha[:, :, 0] ** 2, axis=1)
    for i, e in enumerate(ends):
        score[e - offset - scoring_step // 2:e - offset + (scoring_step + 1) // 2] = scores[i]
    return score


def _transform_dense_batched(time_series: np.ndarray, start_idx: int, offset: int,
                             window_length: int, n_windows: int, lag: int, scoring_step: int,
                             method: str, rank: int, randomized_rank: int,
                             mitigate_offset: bool, hankel_builder=None,
                             row_dim: int = None) -> np.ndarray:
    """Step-batched transforms for the dense methods without a numerical
    feedback dependency: 'naive', 'naive updated' (full batched SVDs),
    'weighted', 'symmetric' (batched randomized SVDs), and the hybrid 'svd'
    (batched past SVDs + the sequential power-method feedback chain).

    RNG stream parity with the per-step loop: x0 seed draw, then per step
    the method's sketch draws (weighted/symmetric) and one feedback-noise
    draw — replayed in order before the batched numerics.
    """
    w, n = window_length, n_windows
    rd = row_dim or w
    build = hankel_builder or (lambda ends_: _batched_hankels(
        time_series, ends_, w, n, mitigate_offset))
    t_len = time_series.shape[0]
    score = np.zeros(t_len)
    ends = np.arange(start_idx, t_len, scoring_step)
    x0 = np.random.rand(rd)
    x0 /= math.sqrt(np.dot(x0, x0))
    b = ends.size
    if b == 0:
        return score

    noise = None
    if method == 'svd':
        # pre-draw the in-loop feedback noise (same stream: rand(B, rd)
        # fills in the order of B successive rand(rd) calls)
        noise = np.random.rand(b, rd)
    omegas_fut = omegas_past = None
    if method in ('weighted', 'symmetric'):
        p = randomized_rank - rank
        l = rank + p
        assert 1.25 * l < min(rd, n)
        omegas_fut = np.empty((b, n, l))
        omegas_past = np.empty((b, n, l))
        for i in range(b):
            omegas_fut[i] = np.random.uniform(low=-1, high=1, size=(n, l))
            omegas_past[i] = np.random.uniform(low=-1, high=1, size=(n, l))
            np.random.rand(rd)
    elif method in ('naive', 'naive updated'):
        for _ in range(b):
            np.random.rand(rd)
    # 'svd': noise draws happen inside the sequential power loop below

    chunk = max(16, int(3e6 / (rd * rd)))
    scores = np.empty(b)
    for c0 in range(0, b, chunk):
        sl = slice(c0, min(b, c0 + chunk))
        h_fut = build(ends[sl])
        h_past = build(ends[sl] - lag)
        if method in ('naive', 'naive updated'):
            u_past = np.linalg.svd(h_past, full_matrices=False)[0][:, :, :rank]
            u_fut_full = np.linalg.svd(h_fut, full_matrices=False)[0]
            if method == 'naive':
                cross = np.matmul(u_past.transpose(0, 2, 1), u_fut_full[:, :, :rank])
                s = np.linalg.svd(cross, compute_uv=False)
                scores[sl] = 1.0 - s[:, 0]
            else:
                alpha = np.matmul(u_past.transpose(0, 2, 1), u_fut_full[:, :, :1])
                scores[sl] = 1.0 - np.sum(alpha[:, :, 0] ** 2, axis=1)
        elif method in ('weighted', 'symmetric'):
            u_fut, s_fut, _ = lg.batched_randomized_hankel_svd(h_fut, rank, omegas_fut[sl])
            u_past, _, _ = lg.batched_randomized_hankel_svd(h_past, rank, omegas_past[sl])
            if method == 'weighted':
                proj = np.matmul(u_past.transpose(0, 2, 1), u_fut)   # (B, r, r)
                inside = np.sum(proj ** 2, axis=1)                   # per future vec
                s2 = s_fut ** 2
                scores[sl] = np.sum((1.0 - inside) * s2, axis=1) / np.sum(s2, axis=1)
            else:
                fwd = 1.0 - np.sum(
                    np.matmul(u_past.transpose(0, 2, 1), u_fut[:, :, :1])[:, :, 0] ** 2, axis=1)
                bwd = 1.0 - np.sum(
                    np.matmul(u_fut.transpose(0, 2, 1), u_past[:, :, :1])[:, :, 0] ** 2, axis=1)
                scores[sl] = (fwd + bwd) / 2.0
        else:  # 'svd' hybrid — the IKA power chain, scored per step
            u_past = np.linalg.svd(h_past, full_matrices=False)[0][:, :, :rank]
            g_fut = np.matmul(h_fut, h_fut.transpose(0, 2, 1))
            bb = g_fut.shape[0]
            u_fut = np.empty((bb, rd))
            x0 = _power_chain(g_fut, range(bb), x0, noise[c0:c0 + bb], u_fut)
            for i in range(bb):
                # score expr stays in the original column-matmul form (its
                # (r, rd) @ (rd, 1) shapes are outside the verified
                # dgemv==dgemm bit-equality envelope)
                alpha = u_past[i].T @ u_fut[i][:, None]
                scores[sl][i] = (1.0 - alpha.T @ alpha).item()
        del h_fut, h_past
    for i, e in enumerate(ends):
        score[e - offset - scoring_step // 2:e - offset + (scoring_step + 1) // 2] = scores[i]
    return score


def _implicit_krylov_approximation(hankel_past, hankel_future, x0: np.ndarray,
                                   rank: int, lanczos_rank: int):
    """IKA-SST score (Ide & Tsuda 2007; reference sst.py:292-327): power
    method (5 iters) on C2 for the dominant future eigvec, Lanczos on C1
    seeded with it, score 1 - sum(eigvecs[0, :rank]^2)."""
    c_2 = lg.gram(hankel_future)
    _, eigvec_future = lg.power_method(c_2, x0, n_iterations=5)
    c_1 = lg.gram(hankel_past)
    alphas, betas = lg.lanczos(c_1, eigvec_future, lanczos_rank)
    _, eigvecs = lg.tridiagonal_eigenvalues(alphas, betas, rank)
    return 1 - (eigvecs[0, :] * eigvecs[0, :]).sum(), eigvec_future


def _rayleigh_singular_value_decomposition(hankel_past, hankel_future, x0: np.ndarray, rank: int):
    """2005-paper score with top-rank left singvecs of H1 (reference
    sst.py:330-358)."""
    _, singvecs_past = lg.rayleigh_ritz_singular_value_decomposition(hankel_past, rank)
    c_2 = lg.gram(hankel_future)
    _, eigvec_future = lg.power_method(c_2, x0, n_iterations=5)
    alpha = singvecs_past.T @ eigvec_future
    return 1 - alpha.T @ alpha, eigvec_future


def _facebook_random_singular_value_decomposition(hankel_past, hankel_future, x0: np.ndarray,
                                                  rank: int, randomized_rank: int):
    """fbpca-flavoured randomized variant (reference sst.py:361-400)."""
    c_2 = lg.gram(hankel_future)
    _, eigvec_future = lg.power_method(c_2, x0, n_iterations=5)
    _, singvecs_past = lg.facebook_randomized_svd(hankel_past, randomized_rank=randomized_rank)
    alpha = singvecs_past[:, :rank].T @ eigvec_future
    return 1 - alpha.T @ alpha, eigvec_future


def _random_singular_value_decomposition(hankel_past, hankel_future, x0: np.ndarray,
                                         rank: int, randomized_rank: int):
    """Randomized-SVD variant (reference sst.py:403-441): rank-1 rSVD of the
    future Hankel, rank-r rSVD of the past, projection-distance score."""
    eigvec_future, _, _ = lg.randomized_hankel_svd(hankel_future, 1,
                                                   oversampling_p=randomized_rank - rank)
    singvecs_past, _, _ = lg.randomized_hankel_svd(hankel_past, rank,
                                                   oversampling_p=randomized_rank - rank)
    alpha = singvecs_past[:, :rank].T @ eigvec_future
    return 1 - alpha.T @ alpha, eigvec_future


def _weighted_random_singular_value_decomposition(hankel_past, hankel_future, x0: np.ndarray,
                                                  rank: int, randomized_rank: int):
    """Eigenvalue-weighted multi-vector score (reference sst.py:444-495)."""
    singvec_future, singval_future, _ = lg.randomized_hankel_svd(
        hankel_future, rank, oversampling_p=randomized_rank - rank)
    singvecs_past, _, _ = lg.randomized_hankel_svd(
        hankel_past, rank, oversampling_p=randomized_rank - rank)
    proj = singvecs_past.T @ singvec_future
    inside = np.sum(proj ** 2, axis=0)
    s2 = singval_future ** 2
    score = np.sum((1.0 - inside) * s2) / np.sum(s2)
    return score, x0


def _symmetric_random_singular_value_decomposition(hankel_past, hankel_future, x0: np.ndarray,
                                                   rank: int, randomized_rank: int):
    """Mean of forward and backward projection-distance scores (reference
    sst.py:498-534)."""
    singvecs_future, _, _ = lg.randomized_hankel_svd(
        hankel_future, rank, oversampling_p=randomized_rank - rank)
    singvecs_past, _, _ = lg.randomized_hankel_svd(
        hankel_past, rank, oversampling_p=randomized_rank - rank)
    forward_score = 1 - np.sum(np.square(singvecs_past[:, :rank].T @ singvecs_future[:, 0]))
    backward_score = 1 - np.sum(np.square(singvecs_future[:, :rank].T @ singvecs_past[:, 0]))
    return (forward_score + backward_score) / 2, x0


def _naive_singular_value_decomposition(hankel_past: np.ndarray, hankel_future: np.ndarray,
                                        x0: np.ndarray, rank: int):
    """Fully deterministic full-SVD score 1 - s0(svd(U_p^T U_f)) — the primary
    golden anchor (reference sst.py:537-560)."""
    eigvec_past, _, _ = np.linalg.svd(hankel_past, full_matrices=False)
    eigvec_future, _, _ = np.linalg.svd(hankel_future, full_matrices=False)
    eigvec_past = eigvec_past[:, :rank]
    eigvec_future = eigvec_future[:, :rank]
    s = np.linalg.svd(np.dot(eigvec_past.T, eigvec_future), full_matrices=False, compute_uv=False)
    return 1 - s[0], x0


def _naive_singular_value_decomposition_updated_score(hankel_past: np.ndarray,
                                                      hankel_future: np.ndarray,
                                                      x0: np.ndarray, rank: int):
    """Full SVDs with the 2007-paper score 1 - ||U_p^T u_f||^2 — deterministic
    golden anchor #2; exact buffered-streaming replay holds for this method
    (reference sst.py:563-591, examples/buffered_streaming_comparison.py:62-75)."""
    eigvec_past, _, _ = np.linalg.svd(hankel_past, full_matrices=False)
    eigvec_future, _, _ = np.linalg.svd(hankel_future, full_matrices=False)
    eigvec_past = eigvec_past[:, :rank]
    eigvec_future = eigvec_future[:, :1]
    alpha = eigvec_past.T @ eigvec_future
    return 1 - alpha.T @ alpha, eigvec_future
