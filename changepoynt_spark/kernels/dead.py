"""API-parity stubs for the reference's dead/unfinished algorithms.

The reference ships these classes with constructors that raise
NotImplementedError and tests asserting the raise:

- FLOSS  (/root/reference/changepoynt/algorithms/floss.py:29,
          tests/test_floss.py:26-28) — streaming arc curve; true streaming in
          this engine lives in changepoynt_spark.streaming instead,
- CLASP  (/root/reference/changepoynt/algorithms/clasp.py:30,
          tests/test_clasp.py:26-28),
- SubspaceIdentification (/root/reference/changepoynt/algorithms/si.py:61,
          tests/test_si.py:26-28),
- KLIEP is listed as "Planned" in the reference (README.md:172) with no
  implementation — this engine goes further and IMPLEMENTS it for real
  (kernels/density_ratio.py KLIEP, Sugiyama 2008), so no stub lives here,
- TESST (/root/reference/changepoynt/algorithms/torch_esst.py:12-152) hard-
  requires a CUDA torch install (torch_esst.py:43 asserts
  torch.cuda.is_available()), so on any CUDA-less host — including this
  one — the reference class is unconstructible; behavioral parity here is
  the same constructor-time failure.  Its actual contribution (batching
  the per-step Hankel/SVD work) IS implemented, CPU-side, in
  kernels/sst.py (_transform_ika, which also runs the power chains of a
  batch of series in lockstep, and the batched rsvd/dense paths) and
  kernels/block.py.
"""
from __future__ import annotations

from changepoynt_spark.kernels.base import Algorithm

_MSG = ('This algorithm is not implemented in the reference (constructor '
        'raises); kept for API parity.')


class FLOSS(Algorithm):
    def __init__(self, *args, **kwargs):
        raise NotImplementedError(_MSG)

    def transform(self, time_series):
        raise NotImplementedError(_MSG)


class CLASP(Algorithm):
    def __init__(self, *args, **kwargs):
        raise NotImplementedError(_MSG)

    def transform(self, time_series):
        raise NotImplementedError(_MSG)


class SubspaceIdentification(Algorithm):
    def __init__(self, *args, **kwargs):
        raise NotImplementedError(_MSG)

    def transform(self, time_series):
        raise NotImplementedError(_MSG)


class TESST(Algorithm):
    """Reference API parity: the reference's TESST asserts
    torch.cuda.is_available() in __init__ (torch_esst.py:43), so without a
    CUDA torch build — as here — construction fails identically.  The
    step-batching idea it exists for runs CPU-side in this engine
    (kernels/sst.py:182)."""

    def __init__(self, window_length: int = None, n_windows: int = None,
                 lag: int = None, rank: int = 5, scoring_step: int = 1,
                 scale: bool = True):
        try:
            import torch  # noqa: F401
        except ImportError:
            raise ImportError(
                'A torch installation with cuda is necessary for this. '
                '(reference parity: torch_esst.py:43; use SST/ESST — their '
                'CPU step-batched kernels implement the same idea)')
        assert torch.cuda.is_available(), \
            'A torch installation with cuda is necessary for this.'
        raise NotImplementedError('CUDA TESST is out of scope for this engine')

    def transform(self, time_series):
        raise NotImplementedError
