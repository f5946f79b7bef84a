"""Statistics shared by the benchmark runner and the compare tool.

Pure functions over lists of numbers; tested in tests/test_stats.py.
"""
import statistics

# A tail percentile needs at least this many samples above it.
TAIL_ABOVE = 10
# A claimed gain must win at least this share of the run pairs.
MIN_PAIR_WINS = 0.9


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def quartiles(xs):
    """First and third quartile, as statistics.quantiles(xs, n=4) gives them."""
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (None, None)
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def spread(xs):
    """Distance between the quartiles as a share of the median."""
    q1, q3 = quartiles(xs)
    m = median(xs)
    return (q3 - q1) / abs(m) if m else float("inf")


def tail(xs):
    """The highest order statistic that leaves at least TAIL_ABOVE samples
    above it. Returns (value, percentile, n), or None when n <= TAIL_ABOVE."""
    n = len(xs)
    if n <= TAIL_ABOVE:
        return None
    k = n - TAIL_ABOVE  # 1-based rank of the reported sample
    return sorted(xs)[k - 1], 100.0 * k / n, n


def worse_by(parent_median, change_median, better):
    """How much worse the change is, as a share of the parent's median
    (negative when it is better)."""
    if parent_median == 0:
        return 0.0 if change_median == parent_median else float("inf")
    d = (change_median - parent_median) / abs(parent_median)
    return d if better == "lower" else -d


def beats(a, b, better):
    return a < b if better == "lower" else a > b


def verdict(parent, change, bound, better):
    """Regression verdict for one (metric, workload) pair.

    "regressed"  the change's median is worse than the parent's by more
                 than `bound`;
    "unresolved" either side's spread exceeds `bound`, unless every change
                 run beats every parent run;
    "ok"         otherwise.
    """
    if all(beats(c, p, better) for c in change for p in parent):
        return "ok"
    if spread(parent) > bound or spread(change) > bound:
        return "unresolved"
    if worse_by(median(parent), median(change), better) > bound:
        return "regressed"
    return "ok"


def pair_wins(parent, change, better):
    """Share of (parent, change) pairs, in run order, that the change wins.
    Ties count for neither side."""
    pairs = list(zip(parent, change))
    if not pairs:
        return 0.0
    return sum(1 for p, c in pairs if beats(c, p, better)) / len(pairs)


def gain_claimed(parent, change, better):
    """A gain holds when the change wins at least MIN_PAIR_WINS of the pairs
    and the medians differ by more than the parent's quartile distance."""
    if len(parent) < 2:
        return False
    q1, q3 = quartiles(parent)
    diff = median(parent) - median(change)
    if better == "higher":
        diff = -diff
    return pair_wins(parent, change, better) >= MIN_PAIR_WINS and diff > (q3 - q1)
