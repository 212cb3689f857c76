"""MSST / MESST kernel tests — mirror the reference tests/test_msst.py and
tests/test_messt.py (zero prefix, peak > 98th percentile, fast==dense block
products, cross-algorithm correlation with SST/ESST on 1 channel)."""
import numpy as np
import pytest

from changepoynt_spark.kernels import sst as cpsst
from changepoynt_spark.kernels.block import BlockFastHankel, compile_block_hankel
from changepoynt_spark.kernels.esst import ESST
from changepoynt_spark.kernels.messt import MESST
from changepoynt_spark.kernels.msst import MSST
from tests.fixtures import mean_shift_signal, outside_region


def _signal():
    return mean_shift_signal(seed=1234)


# -- block hankel primitives --------------------------------------------------

def test_block_hankel_dense_layout():
    ts = np.arange(40, dtype=np.float64).reshape(20, 2)  # ts[k] = [2k, 2k+1]
    h = compile_block_hankel(ts, end_index=15, window_size=4, rank=3)
    assert h.shape == (8, 3)
    # column j stacks samples start+j .. start+j+w-1 channel-major per sample
    start = 15 - 4 - 3 + 1
    for j in range(3):
        for i in range(4):
            for c in range(2):
                assert h[i * 2 + c, j] == ts[start + j + i, c]


def test_block_fast_hankel_matches_dense():
    rng = np.random.default_rng(3)
    ts = rng.standard_normal((200, 3))
    dense = compile_block_hankel(ts, 150, 30, 25)
    fast = BlockFastHankel(ts, 150, 30, 25)
    assert fast.shape == dense.shape
    np.testing.assert_allclose(fast.dense(), dense, atol=1e-9)
    x = rng.standard_normal((25, 4))
    np.testing.assert_allclose(fast.matmat(x), dense @ x, atol=1e-9)
    y = rng.standard_normal((90, 2))
    np.testing.assert_allclose(fast.t_matmat(y), dense.T @ y, atol=1e-9)


# -- MSST ---------------------------------------------------------------------

def test_msst_rejects_1d():
    signal, _ = _signal()
    with pytest.raises(AssertionError):
        MSST(window_length=40, n_windows=20, lag=20, method='rsvd').transform(signal)


def test_msst_unknown_method():
    with pytest.raises(ValueError):
        MSST(10, method='nope')


def test_msst_zero_prefix():
    signal, _ = _signal()
    det = MSST(window_length=40, n_windows=20, lag=20, method='rsvd')
    np.random.seed(7)
    score = det.transform(signal[..., None])
    np.testing.assert_allclose(score[:det.window_length], 0.0)


def test_msst_detects_mean_shift():
    signal, change_idx = _signal()
    det = MSST(window_length=48, n_windows=24, lag=24, rank=2, method='rsvd')
    np.random.seed(11)
    score = det.transform(signal[..., None])
    neighborhood = score[change_idx - 60: change_idx + 60]
    outside = outside_region(score, center=change_idx, half_width=120,
                             valid_start=det.window_length)
    assert np.isfinite(score).all()
    assert neighborhood.max() > np.percentile(outside, 98)


def test_msst_two_channel():
    signal, change_idx = _signal()
    two = np.stack([signal, signal[::-1]], axis=1)
    det = MSST(window_length=40, n_windows=20, lag=20, rank=2, method='rsvd')
    np.random.seed(31)
    score = det.transform(two)
    assert np.isfinite(score).all()
    assert score.shape == (signal.shape[0],)


def test_msst_single_channel_tracks_sst():
    signal, _ = _signal()
    msst = MSST(window_length=40, n_windows=20, lag=20, rank=2, method='rsvd')
    sst = cpsst.SST(window_length=40, n_windows=20, lag=20, rank=2, method='rsvd')
    np.random.seed(31)
    m_score = msst.transform(signal[..., None])
    np.random.seed(31)
    s_score = sst.transform(signal)
    valid = msst.window_length
    corr = np.corrcoef(m_score[valid:], s_score[valid:])[0, 1]
    assert corr > 0.95


@pytest.mark.parametrize('method', ['ika', 'weighted', 'symmetric'])
def test_msst_other_methods_smoke(method):
    signal, _ = _signal()
    det = MSST(window_length=30, n_windows=20, lag=10, rank=2, method=method, scoring_step=2)
    np.random.seed(7)
    score = det.transform(signal[..., None])
    assert np.isfinite(score).all()


def test_msst_score_batch_bitmatches_per_series_transform():
    """The block-Hankel form through score_batch: series with 1, 2 and 3
    channels in one batch (one lockstep chain per channel count) equal their
    own seed + transform bit for bit."""
    from changepoynt_spark.operators.scoring import score_batch
    rng = np.random.default_rng(8)
    params = dict(window_length=12, n_windows=12, lag=4, rank=2, method='ika',
                  scoring_step=2)
    series = [np.cumsum(rng.standard_normal((n, c)), axis=0)
              for n, c in zip(rng.integers(60, 900, 7), (3, 3, 2, 3, 1, 2, 3))]
    seeds = list(range(40, 47))
    got = list(score_batch('msst', params, series, seeds))
    for ts, seed, score in zip(series, seeds, got):
        np.random.seed(seed)
        assert np.array_equal(score, MSST(**params).transform(ts))


# -- MESST --------------------------------------------------------------------

def test_messt_zero_prefix():
    signal, _ = _signal()
    det = MESST(window_length=40, n_windows=20, lag=20, rank=2, method='rsvd')
    np.random.seed(7)
    score = det.transform(signal[..., None])
    np.testing.assert_allclose(score[:det.first_score_position], 0.0)


def test_messt_detects_mean_shift():
    signal, change_idx = _signal()
    det = MESST(window_length=40, n_windows=20, lag=20, rank=2, method='rsvd')
    np.random.seed(11)
    score = det.transform(signal[..., None])
    neighborhood = score[change_idx - 60: change_idx + 60]
    outside = outside_region(score, center=change_idx, half_width=120,
                             valid_start=det.window_length)
    assert np.isfinite(score).all()
    assert neighborhood.max() > np.percentile(outside, 97)


def test_messt_fast_tracks_dense():
    signal, _ = _signal()
    slow = MESST(window_length=40, n_windows=20, lag=20, rank=2, method='rsvd',
                 use_fast_hankel=False)
    fast = MESST(window_length=40, n_windows=20, lag=20, rank=2, method='rsvd',
                 use_fast_hankel=True)
    np.random.seed(31)
    slow_score = slow.transform(signal[..., None])
    np.random.seed(31)
    fast_score = fast.transform(signal[..., None])
    valid = slow.window_length
    corr = np.corrcoef(slow_score[valid:], fast_score[valid:])[0, 1]
    assert corr > 0.95


def test_messt_single_channel_tracks_esst():
    signal, _ = _signal()
    messt = MESST(window_length=40, n_windows=20, lag=20, rank=2, method='rsvd',
                  use_fast_hankel=False)
    esst = ESST(window_length=40, n_windows=20, lag=20, rank=2, method='rsvd')
    np.random.seed(31)
    m_score = messt.transform(signal[..., None])
    np.random.seed(31)
    e_score = esst.transform(signal)
    valid = messt.window_length
    corr = np.corrcoef(m_score[valid:], e_score[valid:])[0, 1]
    assert corr > 0.95
