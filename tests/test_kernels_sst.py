"""SST kernel behavioral tests — mirrors the reference tests/test_sst.py
(same fixtures, seeds and assertions: all-methods smoke, zero prefix before
first_score_position, change peak beats 97th percentile, translation
invariance with mitigate_offset, fast-Hankel correlation > 0.95)."""
import numpy as np
import pytest

from changepoynt_spark.kernels import sst as ssts
from tests.fixtures import frequency_change_signal, outside_region, step_signal


@pytest.fixture(scope='module')
def step():
    return step_signal(300)


def test_all_methods_smoke(step):
    sst = ssts.SST(30)
    for method in list(sst.methods.keys()):
        score = ssts.SST(50, rank=2, method=method).transform(step)
        assert score.shape == step.shape
        assert np.isfinite(score).all()


def test_all_methods_with_offset_mitigation(step):
    sst = ssts.SST(30)
    for method in list(sst.methods.keys()):
        ssts.SST(50, rank=2, method=method, mitigate_offset=True).transform(step)


def test_rectangle_matrix(step):
    ssts.SST(50, 20, method='ika').transform(step)


def test_unknown_method():
    with pytest.raises(ValueError):
        ssts.SST(10, method='asdafwegrhqh')


def test_svd_method_rejects_fast_hankel(step):
    ssts.SST(50, method='svd').transform(step)
    with pytest.raises(ValueError):
        ssts.SST(50, method='svd', use_fast_hankel=True)


def test_rejects_fast_hankel_with_offset_mitigation():
    with pytest.raises(ValueError):
        ssts.SST(window_length=40, method='rsvd', use_fast_hankel=True, mitigate_offset=True)


def test_rejects_non_1d_input():
    signal, _ = frequency_change_signal()
    detector = ssts.SST(window_length=40, method='rsvd')
    with pytest.raises(AssertionError):
        detector.transform(np.vstack([signal, signal]))


def test_rejects_too_short_signal():
    detector = ssts.SST(window_length=40, n_windows=40, lag=10, method='rsvd')
    with pytest.raises(AssertionError):
        detector.transform(np.linspace(0.0, 1.0, 80))


def test_score_is_zero_before_first_possible_output():
    signal, _ = frequency_change_signal()
    detector = ssts.SST(window_length=40, n_windows=40, lag=10, rank=2, method='rsvd')
    np.random.seed(7)
    score = detector.transform(signal)
    np.testing.assert_allclose(score[:detector.first_score_position], 0.0)


@pytest.mark.parametrize('method', ['rsvd', 'ika', 'weighted'])
def test_detects_frequency_change_near_boundary(method):
    signal, change_idx = frequency_change_signal()
    detector = ssts.SST(window_length=48, n_windows=48, lag=16, rank=2, method=method)
    np.random.seed(11)
    score = detector.transform(signal)
    neighborhood = score[change_idx - 70: change_idx + 70]
    outside = outside_region(score, center=change_idx, half_width=140,
                             valid_start=detector.first_score_position)
    assert np.isfinite(score).all()
    assert neighborhood.max() > np.percentile(outside, 97)


def test_offset_mitigation_translation_invariance():
    signal, _ = frequency_change_signal(noise=0.01)
    shifted_signal = signal + 250.0
    detector = ssts.SST(window_length=40, n_windows=40, lag=10, rank=2, method='rsvd',
                        scale=False, mitigate_offset=True)
    np.random.seed(21)
    reference = detector.transform(signal)
    np.random.seed(21)
    shifted = detector.transform(shifted_signal)
    np.testing.assert_allclose(reference, shifted, rtol=1e-6, atol=1e-7)


@pytest.mark.parametrize('method', ['rsvd', 'ika'])
def test_fast_hankel_tracks_dense(method):
    signal, _ = frequency_change_signal()
    slow = ssts.SST(window_length=40, n_windows=40, lag=10, rank=2, method=method,
                    use_fast_hankel=False)
    fast = ssts.SST(window_length=40, n_windows=40, lag=10, rank=2, method=method,
                    use_fast_hankel=True)
    np.random.seed(31)
    slow_score = slow.transform(signal)
    np.random.seed(31)
    fast_score = fast.transform(signal)
    valid_start = slow.window_length + slow.n_windows // 2
    corr = np.corrcoef(slow_score[valid_start:], fast_score[valid_start:])[0, 1]
    assert np.isfinite(corr)
    assert corr > 0.95


def test_deterministic_methods_are_seed_independent(step):
    """naive / naive-updated use no randomness after scaling; two runs agree
    bit-for-bit regardless of seed (golden-anchor property)."""
    for method in ('naive', 'naive updated'):
        np.random.seed(1)
        a = ssts.SST(50, rank=2, method=method).transform(step)
        np.random.seed(999)
        b = ssts.SST(50, rank=2, method=method).transform(step)
        assert np.array_equal(a, b)


def test_seeded_stochastic_methods_are_reproducible(step):
    for method in ('ika', 'rsvd', 'weighted', 'symmetric', 'svd', 'fbrsvd'):
        np.random.seed(7)
        a = ssts.SST(50, rank=2, method=method).transform(step)
        np.random.seed(7)
        b = ssts.SST(50, rank=2, method=method).transform(step)
        assert np.array_equal(a, b), method


def test_batched_paths_bitmatch_the_sequential_loop(step):
    """The step-batched transforms run the same RNG stream as the per-step
    reference loop.  The dense methods and the svd hybrid are BIT-equal to
    the loop (this is the guard for the round-5 1-D power-loop rewrite);
    ika/rsvd batch their gram/sketch products in a different association
    order (gram-union / batched hankel svd), so they agree to float noise
    (<=1e-9 observed) — their exact bits are pinned by the frozen goldens
    instead."""
    from changepoynt_spark.kernels import linalg as lg
    from changepoynt_spark.kernels import normalization

    for method in ('naive', 'naive updated', 'weighted', 'symmetric',
                   'svd', 'ika', 'rsvd'):
        algo = ssts.SST(50, rank=2, method=method)
        np.random.seed(11)
        batched = algo.transform(step)

        scaled = normalization.min_max_scaling(step, min_val=1.0, max_val=2.0,
                                               inplace=False)
        np.random.seed(11)
        loop = ssts._transform(
            time_series=scaled, start_idx=algo.covered_regions()[0],
            offset=algo.compute_offset(), window_length=algo.window_length,
            n_windows=algo.n_windows, lag=algo.lag,
            scoring_step=algo.scoring_step,
            scoring_function=algo.methods[method],
            hankel_construction_function=lg.compile_hankel,
            mitigate_offset=algo.mitigate_offset)
        if method in ('ika', 'rsvd'):
            np.testing.assert_allclose(batched, loop, atol=1e-8, err_msg=method)
        else:
            assert np.array_equal(batched, loop), method


def _ragged_series(n: int, seed: int) -> list:
    rng = np.random.default_rng(seed)
    lengths = rng.integers(80, 1400, n)
    out = []
    for length in lengths:
        x = np.cumsum(rng.standard_normal(length) * 0.1)
        x[length // 2:] += rng.standard_normal() * 3.0
        out.append(x)
    return out


@pytest.mark.parametrize('params', [
    dict(window_length=30, n_windows=30, lag=10, rank=2, scoring_step=2),
    # step 1, odd row dim (8-byte-offset operands if not padded)
    dict(window_length=25, n_windows=25, lag=5, rank=2, scoring_step=1),
    # lag off the step grid: past grams are gathered, not sliced
    dict(window_length=20, n_windows=15, lag=7, rank=3, scoring_step=3),
    dict(window_length=21, n_windows=21, lag=6, rank=2, scoring_step=3,
         mitigate_offset=True),
])
def test_score_batch_bitmatches_per_series_transform(params, monkeypatch):
    """score_batch runs the IKA chains of a batch in lockstep; every series'
    scores must equal its own seed + fresh instance + transform bit for bit.
    The 12-series batches run several gram chunks with series ending inside
    them, so the stacked steps, the drop to the 1-D chain and the chunk
    boundaries are all crossed; a small group budget splits the batch into
    several lockstep groups."""
    from changepoynt_spark.operators import scoring

    params = dict(params, method='ika')
    series = _ragged_series(12, seed=params['window_length'])
    seeds = [1000 + 17 * j for j in range(12)]
    expect = []
    for ts, seed in zip(series, seeds):
        np.random.seed(seed)
        expect.append(ssts.SST(**params).transform(ts))
    for size in (1, 2, 3, 12):
        got = list(scoring.score_batch('sst', params, iter(series[:size]), seeds[:size]))
        assert len(got) == size
        for j in range(size):
            assert np.array_equal(got[j], expect[j]), (size, j)
    monkeypatch.setattr(scoring, 'BATCH_POINTS', 2000)
    got = list(scoring.score_batch('sst', params, series, seeds))
    assert all(np.array_equal(g, e) for g, e in zip(got, expect))


def test_lockstep_zero_step_series_keeps_its_lone_draw():
    """A series too short for any step draws only its x0 (``rand(rd)``),
    like the per-step loop, and scores all zeros; the others in the batch
    are unaffected."""
    from functools import partial
    algo = ssts.SST(20, n_windows=20, lag=6, rank=2, scoring_step=2, method='ika')
    long_a, long_b = _ragged_series(2, seed=3)
    short = long_a[:algo.covered_regions()[0]]     # zero steps

    def run(batch):
        return ssts._transform_ika(
            builders=[partial(ssts._batched_hankels, ts, window_length=20, n_windows=20,
                              mitigate_offset=False) for ts in batch],
            lengths=[ts.shape[0] for ts in batch], seeds=None,
            start_idx=algo.covered_regions()[0], offset=algo.compute_offset(),
            lag=algo.lag, scoring_step=algo.scoring_step, rank=algo.rank,
            lanczos_rank=algo.lanczos_rank, row_dim=20)

    np.random.seed(5)
    got = run([long_a, short, long_b])
    state_batch = np.random.get_state()[1].copy()
    np.random.seed(5)
    a = run([long_a])[0]
    np.random.rand(20)
    b = run([long_b])[0]
    assert np.array_equal(np.random.get_state()[1], state_batch)
    assert np.array_equal(got[0], a) and np.array_equal(got[2], b)
    assert not got[1].any() and got[1].shape == short.shape


@pytest.mark.parametrize('rd', [30, 25])
@pytest.mark.parametrize('m', [2, 4, 12])
def test_stacked_chain_step_bitmatches_1d_chain(m, rd):
    """One stacked power-chain step over m series equals m 1-D steps bit for
    bit, for several consecutive steps.  This pins the norm form: matmul(x^T,
    x) is the 1-D ddot, an einsum or sum norm is not."""
    rng = np.random.default_rng(m * rd)
    flat = np.empty((m, 4, rd * rd + (rd & 1)))
    grams = ssts._as_grams(flat, rd)
    h = rng.random((m, 4, rd, rd + 7))
    np.matmul(h, h.transpose(0, 1, 3, 2), out=grams)   # SPD stacks
    noise = rng.random((m, 4, rd))
    x0 = rng.random((m, rd))
    x0 /= np.sqrt(np.sum(x0 * x0, axis=1))[:, None]
    state = ssts._aligned_rows(m, rd)
    state[:, :, 0] = x0
    y, a = ssts._aligned_rows(m, rd), ssts._aligned_rows(m, rd)
    stacked = np.empty((m, 4, rd))
    for t in range(4):
        ssts._stacked_chain_step(grams[:, t], state, noise[:, t, :, None],
                                 stacked[:, t, :, None], y, a)
    for j in range(m):
        single = np.empty((4, rd))
        x_next = ssts._power_chain(grams[j], range(4), x0[j].copy(), noise[j], single)
        assert np.array_equal(single, stacked[j]), j
        assert np.array_equal(x_next, state[j, :, 0]), j


def test_scoring_step_smear():
    """scoring_step > 1 writes the same value into the smear slice
    [idx-off-ss//2, idx-off+(ss+1)//2) — reference sst.py:282-283."""
    signal, _ = frequency_change_signal()
    det = ssts.SST(window_length=40, n_windows=40, lag=10, rank=2, method='naive',
                   scoring_step=3)
    score = det.transform(signal)
    start = det.first_score_position
    assert score[:start].sum() == 0.0
    nonzero = np.flatnonzero(score)
    assert nonzero.size > 0
    assert nonzero[0] == start


def test_runtime_estimation():
    signal, _ = frequency_change_signal()
    det = ssts.SST(window_length=40, n_windows=40, lag=10, rank=2, method='rsvd')
    import time
    np.random.seed(31)
    estimate, _ = det.estimate_runtime(signal, steps=20)
    start = time.perf_counter()
    det.transform(signal)
    duration = time.perf_counter() - start
    assert estimate * 0.01 < duration < estimate * 10
