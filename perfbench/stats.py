"""Statistics the benchmark reports: medians, the supported tail
percentile and failure fractions."""
import statistics


def median(xs):
    """Median of a non-empty sequence of numbers."""
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def tail(xs, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    above it, as (percentile, value, sample count); None when the sample
    has too few values to support any such percentile."""
    n = len(xs)
    k = n - beyond - 1  # 0-based rank of the value
    if k < 0:
        return None
    return (100.0 * (k + 1) / n, float(sorted(xs)[k]), n)


def failed_frac(failed, attempted):
    """Failed operations over attempted operations."""
    if attempted <= 0:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted
