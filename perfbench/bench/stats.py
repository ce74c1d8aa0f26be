"""Order statistics the benchmark reports."""
import math
import random
import statistics


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tail_percentile(n, min_beyond=10):
    """The highest whole percentile p with at least `min_beyond` of `n`
    samples above its rank (nearest-rank definition), or None if even the
    median has fewer beyond it."""
    best = None
    for p in range(50, 100):
        rank = math.ceil(p / 100 * n)
        if n - rank >= min_beyond:
            best = p
    return best


def percentile(xs, p):
    """Nearest-rank percentile of `xs`."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def pass_orders(seed, n_queries, n_passes):
    """Per-pass query orders, shuffled from the seed: the same seed gives
    the same orders on every run and every machine."""
    rng = random.Random(seed)
    orders = []
    for _ in range(n_passes):
        order = list(range(n_queries))
        rng.shuffle(order)
        orders.append(order)
    return orders


def halves_agree(series, bound):
    """Steady-state guard: the medians of the first and second half of a
    per-pass series agree within `bound` (a share of the first half's)."""
    if len(series) < 2:
        return True
    h = len(series) // 2
    a, b = median(series[:h]), median(series[-h:])
    return abs(b - a) <= bound * a
