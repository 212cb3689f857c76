"""Relative density-ratio change-point scoring: RuLSIF / uLSIF (numpy oracle).

Re-derives, scipy/numba-free, the semantics of the reference
(/root/reference/changepoynt/algorithms/rulsif.py:8-119,
/root/reference/changepoynt/algorithms/ulsif.py:6-54 and the estimator in
/root/reference/changepoynt/utils/densityratioestimation.py:87-523;
Liu et al., Neural Networks 43 (2013); Yamada et al., NIPS 2011):

- per step: a (w, 2n) trajectory matrix split into reference/test halves,
  normalized in place by the joint per-row std,
- Gaussian kernel model with <=100 random centers drawn from the reference
  half; sigma candidates via Jaakkola's median heuristic x {0.6..1.4},
  lambda candidates 10^{-3..1}; 5-fold CV; score = Pearson divergence,
- ``symmetric=True`` adds a reversed-signal pass, summed
  (reference rulsif.py:76-92); the reference's optional 2-process pool is
  dropped — Spark parallelizes across series instead,
- the sigma re-scaling trick K**(sigma_old^2/sigma_new^2) is kept verbatim
  (reference densityratioestimation.py:134-143).

Substitutions (documented tolerance deviations, our oracle defines goldens):
LAPACK ``sysv`` -> ``np.linalg.solve``; ``scipy.spatial.distance.pdist`` ->
numpy broadcast. RNG: exactly three global ``np.random.permutation`` draws
per scoring step (centers, ref-CV, test-CV), same order as the reference.
"""
from __future__ import annotations

import numpy as np

from changepoynt_spark.kernels import linalg as lg
from changepoynt_spark.kernels.base import Algorithm


# ---------------------------------------------------------------------------
# estimator numerics
# ---------------------------------------------------------------------------

def compute_distance(samples: np.ndarray, sample_means: np.ndarray) -> np.ndarray:
    """Squared-distance matrix between column-sample sets via the
    (a-b)^2 = a^2 - 2ab + b^2 expansion (reference dre.py:87-114)."""
    squared_samples = np.sum(samples ** 2, 0)
    squared_means = np.sum(sample_means ** 2, 0)
    return squared_means[None, :] + squared_samples[:, None] - 2 * samples.T @ sample_means


def compute_gaussian_kernel(samples: np.ndarray, sample_means: np.ndarray, sigma: float) -> np.ndarray:
    return np.exp(-compute_distance(samples, sample_means) / (2 * (sigma ** 2)))


def update_sigma_gaussian_kernel(old_kernel_values: np.ndarray, old_sigma: float, new_sigma: float):
    """exp(-d/(2 s_new^2)) = exp(-d/(2 s_old^2)) ** (s_old^2 / s_new^2)."""
    return old_kernel_values ** ((old_sigma ** 2) / (new_sigma ** 2))


def compute_h_hat_matrix(alpha, k_ref, k_test):
    n_ref = k_ref.shape[1]
    n_test = k_test.shape[1]
    return ((alpha / n_ref) * k_ref @ k_ref.T
            + ((1.0 - alpha) / n_test) * k_test @ k_test.T)


def compute_h_hat_vector(k_ref):
    return np.mean(k_ref, axis=1, keepdims=True)


def compute_theta_hat(h_hat_matrix, lambda_scaled_identity, h_hat_vector):
    """Solve (H + lambda I) theta = h.  The reference uses a de-checked LAPACK
    symmetric solver; np.linalg.solve (general LU) is exact to round-off."""
    return np.linalg.solve(h_hat_matrix + lambda_scaled_identity, h_hat_vector)


def g_of_x_theta(kernel_matrix_samples, theta_hat):
    return theta_hat.T @ kernel_matrix_samples


class DensityRatioEstimator:
    """alpha-relative Pearson-divergence estimator via least-squares density
    ratio fitting with k-fold CV over (sigma, lambda)
    (reference densityratioestimation.py:300-523)."""

    def __init__(self, alpha=0.1, kernel_number=100, cross_folds=5, sigma: float = None,
                 lambda_: float = None):
        self.alpha = alpha
        self.kernel_number = kernel_number
        self.cross_folds = cross_folds
        self.gaussian_centers = None
        self.sigma_width = sigma
        self.lambda_regularizer = lambda_
        self.cv = self.sigma_width is None or self.lambda_regularizer is None

    @staticmethod
    def compute_gaussian_width_candidates(reference_samples, test_samples):
        """Jaakkola's median heuristic over pairwise squared distances of the
        joint sample, scaled by {0.6, 0.8, 1.0, 1.2, 1.4} (reference
        dre.py:321-353).  pdist is replaced by a numpy upper-triangle
        broadcast — identical values."""
        samples = np.c_[reference_samples, test_samples].T  # rows = points
        sq = np.sum(samples ** 2, axis=1)
        dist = sq[:, None] + sq[None, :] - 2.0 * samples @ samples.T
        iu = np.triu_indices(samples.shape[0], 1)
        distances = dist[iu]
        median_distance = np.sqrt(0.5 * np.median(distances[distances > 0]))
        return median_distance * np.array([0.6, 0.8, 1, 1.2, 1.4])

    @staticmethod
    def generate_regularization_params():
        return 10.0 ** np.array([-3, -2, -1, 0, 1])

    def generate_gaussian_centers(self, reference_samples):
        numcols = reference_samples.shape[1]
        reference_sample_idxs = np.random.permutation(numcols)
        self.kernel_number = min(self.kernel_number, numcols)
        return reference_samples[:, reference_sample_idxs[0:self.kernel_number]]

    @staticmethod
    def cross_validate(reference_samples, test_samples, gaussian_centers, sigma_widths,
                       lambda_candidates, alpha, kernel_number, cross_folds=5):
        ref_cols = reference_samples.shape[1]
        test_cols = test_samples.shape[1]
        cross_validation_scores = np.zeros((sigma_widths.shape[0], lambda_candidates.shape[0]))

        reference_samples_cv_idxs = np.random.permutation(ref_cols)
        reference_samples_cv_split = (np.arange(start=0, stop=ref_cols, step=1) * cross_folds) // ref_cols
        test_samples_cv_idxs = np.random.permutation(test_cols)
        test_samples_cv_split = (np.arange(start=0, stop=test_cols, step=1) * cross_folds) // test_cols

        identity = np.eye(kernel_number)

        # sigma chain: the reference's power-update trick is SEQUENTIAL
        # (K_{i+1} = K_i ** (s_i^2/s_{i+1}^2)); keep that exact chain, but
        # STACK the five kernels so every (sigma, lambda) system per fold is
        # one batched solve + one batched gemm.  Tiny per-call Python
        # dispatch (10k solves + 32k np.mean per series) dominated the
        # profile; the math per slice is unchanged, so outputs are
        # bit-identical (frozen-golden-asserted).
        k_ref = compute_gaussian_kernel(reference_samples, gaussian_centers, sigma_widths[0]).T
        k_test = compute_gaussian_kernel(test_samples, gaussian_centers, sigma_widths[0]).T
        old_sigma = sigma_widths[0]
        k_refs, k_tests = [], []
        for sigma in sigma_widths:
            k_ref = update_sigma_gaussian_kernel(k_ref, old_sigma, sigma)
            k_test = update_sigma_gaussian_kernel(k_test, old_sigma, sigma)
            old_sigma = sigma
            k_refs.append(k_ref)
            k_tests.append(k_test)
        k_refs = np.stack(k_refs)      # (S, k, n_ref)
        k_tests = np.stack(k_tests)    # (S, k, n_test)
        n_sigma, n_lambda = len(sigma_widths), len(lambda_candidates)
        lam_eyes = identity[None, :, :] * lambda_candidates[:, None, None]

        for fold_idx in range(cross_folds):
            tr_r = reference_samples_cv_idxs[reference_samples_cv_split != fold_idx]
            tr_t = test_samples_cv_idxs[test_samples_cv_split != fold_idx]
            te_r = reference_samples_cv_idxs[reference_samples_cv_split == fold_idx]
            te_t = test_samples_cv_idxs[test_samples_cv_split == fold_idx]
            kr_tr, kt_tr = k_refs[:, :, tr_r], k_tests[:, :, tr_t]
            h_mats = ((alpha / kr_tr.shape[2])
                      * np.matmul(kr_tr, kr_tr.transpose(0, 2, 1))
                      + ((1.0 - alpha) / kt_tr.shape[2])
                      * np.matmul(kt_tr, kt_tr.transpose(0, 2, 1)))    # (S,k,k)
            h_vecs = np.mean(kr_tr, axis=2, keepdims=True)             # (S,k,1)
            ridges = (h_mats[:, None, :, :] + lam_eyes[None, :, :, :]) \
                .reshape(n_sigma * n_lambda, kernel_number, kernel_number)
            rhs = np.broadcast_to(h_vecs[:, None], (n_sigma, n_lambda,
                                                    kernel_number, 1)) \
                .reshape(n_sigma * n_lambda, kernel_number, 1)
            thetas = np.linalg.solve(ridges, rhs) \
                .reshape(n_sigma, n_lambda, kernel_number, 1)
            g_ref = np.matmul(thetas.transpose(0, 1, 3, 2),
                              k_refs[:, None, :, :][..., te_r])        # (S,L,1,mr)
            g_test = np.matmul(thetas.transpose(0, 1, 3, 2),
                               k_tests[:, None, :, :][..., te_t])      # (S,L,1,mt)
            cross_validation_scores += (
                (alpha / 2.0) * np.mean(g_ref ** 2, axis=(2, 3))
                + ((1 - alpha) / 2.0) * np.mean(g_test ** 2, axis=(2, 3))
                - np.mean(g_ref, axis=(2, 3)))
        return cross_validation_scores / cross_folds

    def compute_model_parameters(self, reference_samples, test_samples, gaussian_centers):
        sigma_widths = self.compute_gaussian_width_candidates(reference_samples, test_samples)
        lambda_candidates = self.generate_regularization_params()
        scores = self.cross_validate(reference_samples, test_samples, gaussian_centers,
                                     sigma_widths, lambda_candidates, self.alpha,
                                     self.kernel_number, self.cross_folds)
        sigma_idx, lambda_idx = np.unravel_index(scores.argmin(), scores.shape)
        return sigma_widths[sigma_idx], lambda_candidates[lambda_idx]

    def train(self, reference_samples, test_samples):
        self.gaussian_centers = self.generate_gaussian_centers(reference_samples)
        if self.cv:
            self.sigma_width, self.lambda_regularizer = self.compute_model_parameters(
                reference_samples, test_samples, self.gaussian_centers)

    def apply(self, reference_samples, test_samples):
        if self.gaussian_centers is None or self.kernel_number is None:
            raise Exception('Missing kernel basis function parameters')
        if self.sigma_width == 0.0 or self.lambda_regularizer == 0.0:
            raise Exception('Missing model selection parameters')
        k_ref = compute_gaussian_kernel(reference_samples, self.gaussian_centers, self.sigma_width).T
        k_test = compute_gaussian_kernel(test_samples, self.gaussian_centers, self.sigma_width).T
        h_matrix = compute_h_hat_matrix(self.alpha, k_ref, k_test)
        h_vector = compute_h_hat_vector(k_ref)
        theta_hat = compute_theta_hat(
            h_matrix, self.lambda_regularizer * np.eye(self.kernel_number), h_vector)
        r_alpha_xref = g_of_x_theta(k_ref, theta_hat)
        r_alpha_xtest = g_of_x_theta(k_test, theta_hat)
        pe_divergence = (np.mean(r_alpha_xref)
                         - (0.5 * (self.alpha * np.mean(r_alpha_xref ** 2)
                                   + (1.0 - self.alpha) * np.mean(r_alpha_xtest ** 2))) - 0.5)
        return pe_divergence

    def __call__(self, reference_samples: np.ndarray, test_samples: np.ndarray):
        # joint per-row std normalization, in place on the (per-step, freshly
        # built) trajectory slices — reference dre.py:510-517
        all_samples = np.c_[reference_samples, test_samples]
        std = np.std(all_samples, axis=1) + np.finfo(float).eps
        reference_samples /= std[:, None]
        test_samples /= std[:, None]
        self.train(reference_samples, test_samples)
        return self.apply(reference_samples, test_samples)


# ---------------------------------------------------------------------------
# scoring algorithms
# ---------------------------------------------------------------------------

class RuLSIF(Algorithm):
    """Relative density-ratio change score (reference rulsif.py:8-119)."""

    def __init__(self, window_length: int = 10, n_windows: int = 50, lag: int = None,
                 estimation_lag: int = None, scoring_step: int = 1, n_kernels: int = 100,
                 alpha: float = 0.01, symmetric: bool = True, parallel: bool = False) -> None:
        self.window_length = window_length
        self.n_windows = n_windows
        self.lag = lag
        self.estimation_lag = estimation_lag
        self.n_kernels = n_kernels
        self.alpha = alpha
        self.scoring_step = scoring_step
        self.symmetric = symmetric
        self.parallel = parallel  # kept for API parity; Spark parallelizes across series
        assert 0 <= self.alpha < 1, 'The alpha parameter should be in the interval [0,1).'
        assert self.estimation_lag is None or 1 <= self.estimation_lag, \
            'The estimation lag needs to be bigger than zero samples.'
        if not self.lag:
            self.lag = self.n_windows

    def transform(self, time_series: np.ndarray):
        assert time_series.ndim == 1, 'Time series needs to be an 1D array.'
        starting_point = self.window_length + self.n_windows + self.lag
        assert starting_point < time_series.shape[0], 'The time series is too short to score any points.'
        estimator = DensityRatioEstimator(self.alpha)
        time_series = time_series.copy()
        if self.symmetric:
            forward = _transform(time_series, starting_point, self.window_length, self.n_windows,
                                 self.lag, self.scoring_step, estimator, self.estimation_lag)
            backward = _transform(time_series[::-1], starting_point, self.window_length,
                                  self.n_windows, self.lag, self.scoring_step, estimator,
                                  self.estimation_lag)
            return forward + backward[::-1]
        return _transform(time_series, starting_point, self.window_length, self.n_windows,
                          self.lag, self.scoring_step, estimator, self.estimation_lag)


def _transform(time_series: np.ndarray, starting_point: int, window_length: int, n_windows: int,
               lag: int, scoring_step: int, estimator: DensityRatioEstimator,
               estimation_lag: int = None) -> np.ndarray:
    """Per-step density-ratio scoring.  ``estimation_lag`` (the reference
    stores this parameter but never reads it, rulsif.py:33,42) is implemented
    here: the (sigma, lambda) cross-validation — 125 linear solves per step —
    re-runs only every ``estimation_lag`` steps; in between, the cached model
    parameters are reused.  Skipped steps still consume cross_validate's two
    permutation draws (as dummies), so the global RNG stream stays aligned
    with the estimation_lag=None path: center draws are identical at every
    step, and scores at re-estimation steps bit-match the default path
    (asserted in tests).  None = re-estimate every step (reference behavior,
    golden path)."""
    score = np.zeros_like(time_series)
    offset = n_windows
    cv_orig = estimator.cv
    for i, idx in enumerate(range(starting_point, time_series.shape[0], scoring_step)):
        skip_cv = bool(estimation_lag) and (i % estimation_lag) != 0
        if estimation_lag:
            estimator.cv = False if skip_cv else cv_orig
        hankel_matrix = lg.compile_hankel(time_series, idx, window_length, 2 * n_windows)
        score[idx - offset - scoring_step // 2:idx - offset + (scoring_step + 1) // 2] = \
            estimator(hankel_matrix[:, :n_windows], hankel_matrix[:, n_windows:])
        if skip_cv:
            # cross_validate would have drawn ref-CV and test-CV permutations
            np.random.permutation(n_windows)
            np.random.permutation(n_windows)
    estimator.cv = cv_orig
    return score


class ULSIF(RuLSIF):
    """uLSIF = RuLSIF with alpha = 0 (reference ulsif.py:6-54)."""

    def __init__(self, window_length: int = 10, n_windows: int = 50, lag: int = None,
                 estimation_lag: int = None, scoring_step: int = 1, n_kernels: int = 100,
                 symmetric: bool = True, parallel: bool = False) -> None:
        super().__init__(window_length=window_length, n_windows=n_windows, lag=lag,
                         estimation_lag=estimation_lag, scoring_step=scoring_step,
                         n_kernels=n_kernels, alpha=0.0, symmetric=symmetric, parallel=parallel)


# ---------------------------------------------------------------------------
# KLIEP
# ---------------------------------------------------------------------------

_KLIEP_TINY = 1e-12


def _width_candidates_batched(refs: np.ndarray, tests: np.ndarray) -> np.ndarray:
    """Jaakkola median-heuristic sigma candidates for a BATCH of scoring
    steps — the (B, w, n) twin of
    :meth:`DensityRatioEstimator.compute_gaussian_width_candidates`, one
    vectorized pass instead of B tiny numpy calls.  Bit-identical per step:
    the same squared-distance expansion feeds the same median (non-positive
    distances are masked to nan; ``nanmedian`` computes the identical
    median of the identical surviving multiset), asserted in
    tests/test_kernels_misc.py."""
    samples = np.concatenate([refs, tests], axis=2).transpose(0, 2, 1)  # (B, 2n, w)
    sq = np.sum(samples ** 2, axis=2)                                   # (B, 2n)
    dist = sq[:, :, None] + sq[:, None, :] \
        - 2.0 * np.matmul(samples, samples.transpose(0, 2, 1))
    iu = np.triu_indices(samples.shape[1], 1)
    d = dist[:, iu[0], iu[1]]
    d = np.where(d > 0, d, np.nan)
    med = np.sqrt(0.5 * np.nanmedian(d, axis=1))
    return med[:, None] * np.array([0.6, 0.8, 1, 1.2, 1.4])[None, :]


def _kliep_fit_batch(a_stack: np.ndarray, b_stack: np.ndarray, counts: np.ndarray,
                     max_iter: int = 100, tol: float = 1e-6):
    """Feasibility-projected gradient ascent for a BATCH of independent KLIEP
    programs (Sugiyama et al., NIPS 2007 / AISM 60(4) 2008, Figure 1):

        maximize   mean_i log( A alpha )_i
        subject to alpha >= 0,  b^T alpha = 1

    with ``A[i, l] = K(x_test_i, c_l)`` and ``b[l] = mean_ref K(x_ref, c_l)``
    (the constraint makes w-hat average to 1 under the reference sample).

    ``a_stack`` is (B, n_max, k) with zero-padded rows, ``counts`` (B,) the
    real row count per problem, ``b_stack`` (B, k).  All B programs (the 25
    sigma x fold CV fits of one scoring step, or a single final fit) iterate
    in lock-step with per-slice monotone accept and per-slice convergence
    flags, so each slice follows exactly the trajectory it would follow
    alone — but the Python-loop overhead is paid once per batch instead of
    once per fit (the same step-batching idea as kernels/sst.py).  The
    objective is concave over a convex set, so the decreasing step-size
    schedule with monotone accept converges; everything is deterministic —
    the engine's goldens pin results bit-for-bit.

    Returns ``(alpha, score)``: (B, k) weights and (B,) mean log w-hat(test),
    the empirical KL(p_test || p_ref) estimate used as the change-point score
    (Kawahara & Sugiyama, SDM 2009).
    """
    n_batch, n_max, n_kernels = a_stack.shape
    mask = np.arange(n_max)[None, :] < counts[:, None]          # (B, n_max)

    def project(alpha, b_sub, bb_sub):
        dot = np.einsum('bk,bk->b', b_sub, alpha)
        alpha = alpha + b_sub * ((1.0 - dot) / bb_sub)[:, None]
        alpha = np.maximum(0.0, alpha)
        scale = np.einsum('bk,bk->b', b_sub, alpha)
        bad = scale <= _KLIEP_TINY  # degenerate kernel collapse: uniform restart
        if bad.any():
            alpha[bad] = 1.0
            scale = np.einsum('bk,bk->b', b_sub, alpha)
        return alpha / scale[:, None]

    def wmat(alpha, a_sub):
        return np.maximum(np.matmul(a_sub, alpha[:, :, None])[:, :, 0],
                          _KLIEP_TINY)

    b_dot_b = np.einsum('bk,bk->b', b_stack, b_stack)           # (B,)
    alpha = project(np.ones((n_batch, n_kernels)), b_stack, b_dot_b)
    w0 = wmat(alpha, a_stack)
    score = np.sum(np.log(w0) * mask, axis=1) / counts          # (B,)
    for eps in (1e1, 1e0, 1e-1, 1e-2, 1e-3):
        # ACTIVE-SET compaction: per-slice trajectories are independent and
        # the accept rule only ever advances slices that improved on the
        # previous iteration, so slices that stalled are sliced OUT of the
        # working arrays instead of being recomputed to be discarded —
        # bit-identical results (the same per-slice ops run on the same
        # values), but the dominant cost now tracks the shrinking live set
        # instead of the full batch x max_iter (measured ~420 live
        # iterations per call with most slices converged after a handful)
        idx = np.arange(n_batch)
        a_s, b_s, m_s, c_s, bb_s = a_stack, b_stack, mask, counts, b_dot_b
        al_s, sc_s, w_s = alpha, score, wmat(alpha, a_stack)
        for _ in range(max_iter):
            grad = np.matmul(a_s.transpose(0, 2, 1),
                             (m_s / w_s)[:, :, None])[:, :, 0] / c_s[:, None]
            candidate = project(al_s + eps * grad, b_s, bb_s)
            # one matmul serves BOTH the accept test and (for accepted
            # slices) the next iteration's w — the objective/w recompute
            # this replaces evaluated the identical product twice
            w_cand = wmat(candidate, a_s)
            new_score = np.sum(np.log(w_cand) * m_s, axis=1) / c_s
            improved = new_score > sc_s + tol
            if not improved.any():
                break
            upd = idx[improved]
            alpha[upd] = candidate[improved]
            score[upd] = new_score[improved]
            idx = upd
            a_s, b_s, m_s = a_s[improved], b_s[improved], m_s[improved]
            c_s, bb_s = c_s[improved], bb_s[improved]
            al_s, sc_s, w_s = (candidate[improved], new_score[improved],
                               w_cand[improved])
    return alpha, score


def _kliep_fit(a_matrix: np.ndarray, b_vector: np.ndarray,
               max_iter: int = 100, tol: float = 1e-6):
    """Single-program convenience wrapper over :func:`_kliep_fit_batch`
    (B = 1) — one code path for CV and final fits keeps goldens consistent."""
    alpha, score = _kliep_fit_batch(
        a_matrix[None, :, :], b_vector[None, :],
        np.array([a_matrix.shape[0]], dtype=np.float64), max_iter, tol)
    return alpha[0], float(score[0])


class KLIEPEstimator:
    """Per-step KL importance estimation (direct ratio w = p_test / p_ref).

    Listed as "Planned" in the reference with no implementation
    (/root/reference/README.md:172, docs/algorithms.md:16); this engine
    implements the published algorithm, reusing the reference-shaped CV
    machinery of :class:`DensityRatioEstimator`
    (/root/reference/changepoynt/utils/densityratioestimation.py:300-523):
    Gaussian centers drawn by one global ``np.random.permutation`` (from the
    TEST sample — KLIEP models the numerator), sigma chosen by k-fold
    likelihood cross-validation over the Jaakkola median-heuristic
    candidates, with the sequential sigma power-update kernel chain kept.

    RNG contract: exactly three global permutation draws per scoring step
    (centers, ref-CV, test-CV) — the same count and order as
    :class:`DensityRatioEstimator`, so the shared :func:`_transform`
    estimation-lag dummy draws stay aligned.
    """

    def __init__(self, kernel_number: int = 100, cross_folds: int = 5,
                 sigma: float = None):
        self.kernel_number = kernel_number
        self.cross_folds = cross_folds
        self.gaussian_centers = None
        self.sigma_width = sigma
        self.cv = self.sigma_width is None

    def generate_gaussian_centers(self, test_samples):
        numcols = test_samples.shape[1]
        test_sample_idxs = np.random.permutation(numcols)
        self.kernel_number = min(self.kernel_number, numcols)
        return test_samples[:, test_sample_idxs[0:self.kernel_number]]

    def cross_validate(self, reference_samples, test_samples, gaussian_centers,
                       sigma_widths):
        """Likelihood CV: per fold, fit on the train split (A from train-test
        columns, b from train-ref columns) and evaluate mean log w-hat on the
        held-out test columns; pick the sigma maximizing the mean held-out
        log-likelihood.  Splitting BOTH samples mirrors the reference's
        RuLSIF CV fold structure (and consumes the same two permutation
        draws)."""
        ref_cols = reference_samples.shape[1]
        test_cols = test_samples.shape[1]
        ref_cv_idxs = np.random.permutation(ref_cols)
        ref_cv_split = (np.arange(ref_cols) * self.cross_folds) // ref_cols
        test_cv_idxs = np.random.permutation(test_cols)
        test_cv_split = (np.arange(test_cols) * self.cross_folds) // test_cols

        # sequential sigma power-update chain (reference dre.py:134-143)
        k_ref = compute_gaussian_kernel(reference_samples, gaussian_centers,
                                        sigma_widths[0])  # (n_ref, k)
        k_test = compute_gaussian_kernel(test_samples, gaussian_centers,
                                         sigma_widths[0])  # (n_test, k)
        old_sigma = sigma_widths[0]
        k_refs, k_tests = [], []
        for sigma in sigma_widths:
            k_ref = update_sigma_gaussian_kernel(k_ref, old_sigma, sigma)
            k_test = update_sigma_gaussian_kernel(k_test, old_sigma, sigma)
            old_sigma = sigma
            k_refs.append(k_ref)
            k_tests.append(k_test)

        # stack every (sigma, fold) fit into ONE batched projected-gradient
        # run (Python loop overhead once per step, not 25x; per-slice math
        # unchanged — see _kliep_fit_batch)
        n_sigma = sigma_widths.shape[0]
        folds = [(ref_cv_idxs[ref_cv_split != f],
                  test_cv_idxs[test_cv_split != f],
                  test_cv_idxs[test_cv_split == f]) for f in range(self.cross_folds)]
        n_max = max(len(tr_t) for _, tr_t, _ in folds)
        n_batch = n_sigma * self.cross_folds
        a_stack = np.zeros((n_batch, n_max, self.kernel_number))
        b_stack = np.empty((n_batch, self.kernel_number))
        counts = np.empty(n_batch)
        for sigma_idx in range(n_sigma):
            for fold_idx, (tr_r, tr_t, _) in enumerate(folds):
                pos = sigma_idx * self.cross_folds + fold_idx
                a_stack[pos, :len(tr_t), :] = k_tests[sigma_idx][tr_t, :]
                b_stack[pos] = np.mean(k_refs[sigma_idx][tr_r, :], axis=0)
                counts[pos] = len(tr_t)
        alphas, _ = _kliep_fit_batch(a_stack, b_stack, counts)

        scores = np.zeros(n_sigma)
        for sigma_idx in range(n_sigma):
            for fold_idx, (_, _, te_t) in enumerate(folds):
                alpha = alphas[sigma_idx * self.cross_folds + fold_idx]
                held_out = np.maximum(k_tests[sigma_idx][te_t, :] @ alpha, _KLIEP_TINY)
                scores[sigma_idx] += float(np.mean(np.log(held_out)))
        return scores / self.cross_folds

    def train(self, reference_samples, test_samples):
        self.gaussian_centers = self.generate_gaussian_centers(test_samples)
        if self.cv:
            sigma_widths = DensityRatioEstimator.compute_gaussian_width_candidates(
                reference_samples, test_samples)
            cv_scores = self.cross_validate(reference_samples, test_samples,
                                            self.gaussian_centers, sigma_widths)
            self.sigma_width = sigma_widths[int(cv_scores.argmax())]

    def apply(self, reference_samples, test_samples):
        if self.gaussian_centers is None or self.kernel_number is None:
            raise Exception('Missing kernel basis function parameters')
        if not self.sigma_width:
            raise Exception('Missing model selection parameters')
        a_matrix = compute_gaussian_kernel(test_samples, self.gaussian_centers,
                                           self.sigma_width)
        b_vector = np.mean(compute_gaussian_kernel(reference_samples,
                                                   self.gaussian_centers,
                                                   self.sigma_width), axis=0)
        _, kl_score = _kliep_fit(a_matrix, b_vector)
        return kl_score

    def __call__(self, reference_samples: np.ndarray, test_samples: np.ndarray):
        # joint per-row std normalization, matching DensityRatioEstimator
        all_samples = np.c_[reference_samples, test_samples]
        std = np.std(all_samples, axis=1) + np.finfo(float).eps
        reference_samples /= std[:, None]
        test_samples /= std[:, None]
        self.train(reference_samples, test_samples)
        return self.apply(reference_samples, test_samples)


class KLIEP(Algorithm):
    """KLIEP change-point scoring: per step, the KL divergence estimate
    between the test and reference halves of the trajectory matrix
    (Kawahara & Sugiyama, SDM 2009).  Same window geometry, symmetric
    two-pass option, estimation-lag CV reuse, and RNG conventions as
    :class:`RuLSIF` — scores share the reference's region/offset contract.

    Unlike the Pearson-divergence scores, raw KL estimates can be negative
    (held-out ratio mass below 1); consumers thresholding at 0 should use
    ``symmetric=True`` (default), where spurious negatives cancel.
    """

    def __init__(self, window_length: int = 10, n_windows: int = 50, lag: int = None,
                 estimation_lag: int = None, scoring_step: int = 1,
                 n_kernels: int = 100, symmetric: bool = True,
                 parallel: bool = False) -> None:
        self.window_length = window_length
        self.n_windows = n_windows
        self.lag = lag
        self.estimation_lag = estimation_lag
        self.n_kernels = n_kernels
        self.scoring_step = scoring_step
        self.symmetric = symmetric
        self.parallel = parallel  # API parity; Spark parallelizes across series
        assert self.estimation_lag is None or 1 <= self.estimation_lag, \
            'The estimation lag needs to be bigger than zero samples.'
        if not self.lag:
            self.lag = self.n_windows

    #: steps per batched fit chunk — bounds the stacked CV kernel memory to
    #: ~(chunk * folds * n_sigma) slices of (n_windows, k) doubles (~50 MB at
    #: the n_windows=50 default) while amortizing the Python iteration loop
    #: over thousands of concurrent programs
    step_batch = 128

    def transform(self, time_series: np.ndarray):
        assert time_series.ndim == 1, 'Time series needs to be an 1D array.'
        starting_point = self.window_length + self.n_windows + self.lag
        assert starting_point < time_series.shape[0], 'The time series is too short to score any points.'
        time_series = time_series.copy()
        if self.symmetric:
            forward = self._transform_batched(time_series, starting_point)
            backward = self._transform_batched(time_series[::-1], starting_point)
            return forward + backward[::-1]
        return self._transform_batched(time_series, starting_point)

    def _transform_batched(self, time_series: np.ndarray, starting_point: int) -> np.ndarray:
        """Step-batched scoring pass: the same per-step math and global-RNG
        draw order as ``_transform(..., KLIEPEstimator(...))`` (equality is
        pytest-asserted), but all scoring steps of a chunk share ONE batched
        projected-gradient run for their CV fits and one for their final
        fits — the sst.py step-batching idea applied to an iterative convex
        solver.  Per-slice trajectories in :func:`_kliep_fit_batch` are
        independent, so results are bit-identical to the per-step path."""
        window_length, n_windows = self.window_length, self.n_windows
        scoring_step, folds = self.scoring_step, 5
        score = np.zeros_like(time_series)
        offset = n_windows
        n_kernels = min(self.n_kernels, n_windows)
        steps = list(range(starting_point, time_series.shape[0], scoring_step))
        cv_split = (np.arange(n_windows) * folds) // n_windows
        sigma_carry = None  # last CV-selected sigma (crosses chunk bounds)

        for chunk_lo in range(0, len(steps), self.step_batch):
            chunk = steps[chunk_lo:chunk_lo + self.step_batch]
            n_chunk = len(chunk)
            # ---- per-step prep (RNG draws in exact estimator order) -------
            refs = np.empty((n_chunk, window_length, n_windows))
            tests = np.empty((n_chunk, window_length, n_windows))
            centers = np.empty((n_chunk, window_length, n_kernels))
            reestimate = np.zeros(n_chunk, dtype=bool)
            fold_perms = []
            for i, idx in enumerate(chunk):
                hankel = lg.compile_hankel(time_series, idx, window_length, 2 * n_windows)
                ref, test = hankel[:, :n_windows], hankel[:, n_windows:]
                std = np.std(np.c_[ref, test], axis=1) + np.finfo(float).eps
                refs[i] = ref / std[:, None]
                tests[i] = test / std[:, None]
                center_idx = np.random.permutation(n_windows)[:n_kernels]
                centers[i] = tests[i][:, center_idx]
                step_no = chunk_lo + i
                reestimate[i] = (not self.estimation_lag
                                 or (step_no % self.estimation_lag) == 0)
                # ref-CV and test-CV permutations (dummies on skip steps,
                # keeping the stream aligned with estimation_lag=None)
                fold_perms.append((np.random.permutation(n_windows),
                                   np.random.permutation(n_windows)))
            # Jaakkola width candidates for the WHOLE chunk in one batched
            # pass (r9): no RNG involved, and per step the same pairwise
            # distances feed the same median (zero distances masked to nan,
            # nanmedian == median-of-filtered on the identical multiset) —
            # bit-identical to the per-step helper, pytest-asserted
            sigma_cands = _width_candidates_batched(refs, tests)

            # ---- phase 1: batched CV over (re-est step, sigma, fold) ------
            cv_steps = np.flatnonzero(reestimate)
            if cv_steps.size:
                n_tr_max = max(int(np.sum(cv_split != f)) for f in range(folds))
                n_te_max = max(int(np.sum(cv_split == f)) for f in range(folds))
                n_cv = cv_steps.size * 5 * folds
                a_stack = np.zeros((n_cv, n_tr_max, n_kernels))
                b_stack = np.empty((n_cv, n_kernels))
                counts = np.empty(n_cv)
                eval_stack = np.zeros((n_cv, n_te_max, n_kernels))
                eval_counts = np.empty(n_cv)
                pos = 0
                for i in cv_steps:
                    ref_perm, test_perm = fold_perms[i]
                    k_ref = compute_gaussian_kernel(refs[i], centers[i], sigma_cands[i][0])
                    k_test = compute_gaussian_kernel(tests[i], centers[i], sigma_cands[i][0])
                    old_sigma = sigma_cands[i][0]
                    for sigma in sigma_cands[i]:
                        k_ref = update_sigma_gaussian_kernel(k_ref, old_sigma, sigma)
                        k_test = update_sigma_gaussian_kernel(k_test, old_sigma, sigma)
                        old_sigma = sigma
                        for fold in range(folds):
                            tr_r = ref_perm[cv_split != fold]
                            tr_t = test_perm[cv_split != fold]
                            te_t = test_perm[cv_split == fold]
                            a_stack[pos, :len(tr_t), :] = k_test[tr_t, :]
                            b_stack[pos] = np.mean(k_ref[tr_r, :], axis=0)
                            counts[pos] = len(tr_t)
                            eval_stack[pos, :len(te_t), :] = k_test[te_t, :]
                            eval_counts[pos] = len(te_t)
                            pos += 1
                alphas, _ = _kliep_fit_batch(a_stack, b_stack, counts)
                held = np.maximum(np.matmul(eval_stack, alphas[:, :, None])[:, :, 0],
                                  _KLIEP_TINY)
                te_mask = np.arange(n_te_max)[None, :] < eval_counts[:, None]
                lcv = (np.sum(np.log(held) * te_mask, axis=1) / eval_counts) \
                    .reshape(cv_steps.size, 5, folds).mean(axis=2)
                best_sigma_idx = lcv.argmax(axis=1)

            # ---- sigma assignment (carry forward across skip steps) -------
            sigmas = np.empty(n_chunk)
            cv_pos = 0
            for i in range(n_chunk):
                if reestimate[i]:
                    sigma_carry = sigma_cands[i][best_sigma_idx[cv_pos]]
                    cv_pos += 1
                sigmas[i] = sigma_carry

            # ---- phase 2: batched final fits over every step --------------
            a_final = np.empty((n_chunk, n_windows, n_kernels))
            b_final = np.empty((n_chunk, n_kernels))
            for i in range(n_chunk):
                a_final[i] = compute_gaussian_kernel(tests[i], centers[i], sigmas[i])
                b_final[i] = np.mean(
                    compute_gaussian_kernel(refs[i], centers[i], sigmas[i]), axis=0)
            _, kl_scores = _kliep_fit_batch(
                a_final, b_final, np.full(n_chunk, float(n_windows)))

            for i, idx in enumerate(chunk):
                score[idx - offset - scoring_step // 2:
                      idx - offset + (scoring_step + 1) // 2] = kl_scores[i]
        return score
