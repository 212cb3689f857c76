"""Multivariate SST over block Hankel matrices (numpy oracle).

Semantics of the reference MSST
(/root/reference/changepoynt/algorithms/msst.py:12-253): per-channel min-max
scaling to [1, 2], SST scorers (ika/rsvd/weighted/symmetric) applied to
block-Hankel trajectory matrices of shape (w*C, n); the inner transform
always uses the fast (implicit) block Hankel (reference msst.py:207-209
passes use_fast_hankel=True unconditionally); the feedback vector has length
window_length * C.
"""
from __future__ import annotations

from functools import partial
from typing import Callable

import numpy as np

from changepoynt_spark.kernels import normalization
from changepoynt_spark.kernels import sst as cpsst
from changepoynt_spark.kernels.base import SingularSubspaceAlgorithm
from changepoynt_spark.kernels.block import BlockFastHankel, batched_block_hankels


class MSST(SingularSubspaceAlgorithm):

    def __init__(self, window_length: int, n_windows: int = None, lag: int = None, rank: int = 5,
                 scale: bool = True, method: str = 'ika', lanczos_rank: int = None,
                 random_rank: int = None, feedback_noise_level: float = 1e-3,
                 scoring_step: int = 1, use_fast_hankel: bool = False) -> None:
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

        if self.n_windows is None:
            self.n_windows = self.window_length
        if self.lag is None:
            self.lag = max(self.n_windows // 3, 1)
        if self.lanczos_rank is None:
            self.lanczos_rank = self.rank * 2 - (self.rank & 1)
        if self.random_rank is None:
            self.random_rank = min(self.rank + 10, self.window_length, self.n_windows)

        self.methods = {
            'ika': partial(cpsst._implicit_krylov_approximation,
                           rank=self.rank, lanczos_rank=self.lanczos_rank),
            'rsvd': partial(cpsst._random_singular_value_decomposition,
                            rank=self.rank, randomized_rank=self.random_rank),
            'weighted': partial(cpsst._weighted_random_singular_value_decomposition,
                                rank=self.rank, randomized_rank=self.random_rank),
            'symmetric': partial(cpsst._symmetric_random_singular_value_decomposition,
                                 rank=self.rank, randomized_rank=self.random_rank),
        }
        if self.method not in self.methods:
            raise ValueError(f'Method {self.method} not defined. '
                             f'Possible methods: {list(self.methods.keys())}.')
        if use_fast_hankel and self.method not in ('rsvd', 'ika', 'weighted', 'symmetric'):
            raise ValueError(f'{self.method} method is not defined with use_fast_hankel=True')

    def compute_offset(self) -> int:
        return self.n_windows // 2 + self.lag

    def _prepare(self, time_series: np.ndarray) -> np.ndarray:
        """Input checks and the per-channel [1, 2] min-max scaling (a copy)."""
        assert time_series.ndim > 1, 'Time series needs to be an N-D array. Currently it is 1-D.'
        starting_point = self.covered_regions()[0]
        assert starting_point < time_series.shape[0], 'The time series is too short to score any points.'
        time_series = time_series.astype(np.float64, copy=True)
        if self.scale:
            for idx in range(time_series.shape[1]):
                time_series[:, idx] = normalization.min_max_scaling(time_series[:, idx], 1, 2,
                                                                    inplace=True)
        return time_series

    def transform_ika(self, series: list, seeds: list = None) -> list:
        """IKA scores of every series, as ``SST.transform_ika``: one lockstep
        power chain over the block-Hankel trajectories of all series with
        the same channel count (with ``seeds=None``, group by group)."""
        assert self.method == 'ika'
        series = [self._prepare(ts) for ts in series]
        scores = [None] * len(series)
        for channels in dict.fromkeys(ts.shape[1] for ts in series):
            group = [j for j, ts in enumerate(series) if ts.shape[1] == channels]
            group_scores = cpsst._transform_ika(
                builders=[partial(batched_block_hankels, series[j],
                                  window_size=self.window_length, rank=self.n_windows)
                          for j in group],
                lengths=[series[j].shape[0] for j in group],
                seeds=None if seeds is None else [seeds[j] for j in group],
                start_idx=self.covered_regions()[0], offset=self.compute_offset(),
                lag=self.lag, scoring_step=self.scoring_step, rank=self.rank,
                lanczos_rank=self.lanczos_rank, row_dim=self.window_length * channels)
            for j, score in zip(group, group_scores):
                scores[j] = score
        return scores

    def transform(self, time_series: np.ndarray) -> np.ndarray:
        # step-batched execution over dense block-Hankel stacks (the
        # reference always uses its implicit block form, msst.py:207-209;
        # dense-vs-implicit differ only in float rounding and the engine's
        # goldens are defined by this batched path)
        if self.method == 'ika':
            return self.transform_ika([time_series])[0]
        time_series = self._prepare(time_series)
        builder = partial(batched_block_hankels, time_series, window_size=self.window_length,
                          rank=self.n_windows)
        common = dict(time_series=time_series[:, 0], start_idx=self.covered_regions()[0],
                      offset=self.compute_offset(), window_length=self.window_length,
                      n_windows=self.n_windows, lag=self.lag, scoring_step=self.scoring_step,
                      mitigate_offset=False, hankel_builder=builder,
                      row_dim=self.window_length * time_series.shape[1])
        if self.method == 'rsvd':
            return cpsst._transform_rsvd_batched(rank=self.rank, randomized_rank=self.random_rank,
                                                 **common)
        return cpsst._transform_dense_batched(method=self.method, rank=self.rank,
                                              randomized_rank=self.random_rank, **common)


def _transform(time_series: np.ndarray, start_idx: int, offset: int, window_length: int,
               n_windows: int, lag: int, scoring_step: int,
               scoring_function: Callable) -> np.ndarray:
    x0 = np.random.rand(window_length * time_series.shape[1])[:, None]
    x0 /= np.linalg.norm(x0)
    score = np.zeros((time_series.shape[0],))
    for idx in range(start_idx, time_series.shape[0], scoring_step):
        hankel_past = BlockFastHankel(time_series, idx - lag, window_length, n_windows)
        hankel_future = BlockFastHankel(time_series, idx, window_length, n_windows)
        score[idx - offset - scoring_step // 2:idx - offset + (scoring_step + 1) // 2], x1 = \
            scoring_function(hankel_past, hankel_future, x0)
        x0 = x1 + 1e-3 * np.random.rand(x0.shape[0])[:, None]
        x0 /= np.linalg.norm(x0)
    return score
