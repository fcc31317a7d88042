"""Order statistics for the benchmark's metrics."""
import math
import statistics

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def percentile(samples, q, min_beyond=MIN_BEYOND):
    """The q-th quantile (0 < q < 1) by linear interpolation between the
    closest ranks. Refuses unless at least ``min_beyond`` samples lie
    beyond it, so a p90 needs 100 samples and a p50 needs 20."""
    xs = sorted(samples)
    beyond = math.floor(len(xs) * (1 - q) + 1e-9)
    if beyond < min_beyond:
        raise TooFewSamples(
            f"p{q * 100:g} of {len(xs)} samples has {beyond} beyond it; "
            f"needs {min_beyond}")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(samples):
    return statistics.median(samples)


def quartile_spread(values):
    """Distance between the first and third quartile as a share of the
    median, as the benchmark's acceptance check computes it."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
