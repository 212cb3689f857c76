"""Summary statistics the benchmark reports (stdlib only, no Spark)."""
from __future__ import annotations

import math
import statistics


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError('median of no samples')
    return float(statistics.median(values))


def tail(values, min_beyond: int = 10) -> dict:
    """The highest nearest-rank percentile with at least ``min_beyond``
    samples strictly above its rank, never below the median.

    With ``2 * min_beyond`` samples or fewer the sample supports no tail
    and the median rank is reported.  Returns ``{'value', 'percentile',
    'n'}`` so the percentile and sample count travel with the value.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError('tail of no samples')
    rank = max(n - min_beyond, math.ceil(n / 2))    # 1-based nearest rank
    return {'value': float(xs[rank - 1]),
            'percentile': round(100.0 * rank / n, 1), 'n': n}


def failure_ratio(failed: int, attempted: int) -> float:
    """Failed or mismatching operations over attempted operations."""
    if attempted < 1:
        raise ValueError('no operations attempted')
    if not 0 <= failed <= attempted:
        raise ValueError(f'failed={failed} outside [0, attempted={attempted}]')
    return failed / attempted
