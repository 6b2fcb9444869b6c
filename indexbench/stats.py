"""Summary statistics of the benchmark: quantiles and the tail rule."""
import math

# Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
# A percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10


def quantile(xs, q):
    """Linear-interpolated quantile of `xs` at `q` in [0, 1]."""
    s = sorted(xs)
    if not s:
        return math.nan
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs):
    return quantile(xs, 0.5)


def mix_weighted_latency(samples, mix):
    """Latency of one call of the nominal mix from (type, latency)
    samples: each type's median at its share of the mix. It does not
    depend on how many of each type a short window happened to complete,
    and a stray slow call moves only its type's median. NaN when a type
    of the mix has no sample."""
    by_type = {}
    for t, v in samples:
        by_type.setdefault(t, []).append(v)
    total = float(sum(mix.values()))
    if total <= 0 or any(t not in by_type for t in mix):
        return math.nan
    return sum(w / total * median(by_type[t]) for t, w in mix.items())


def tail_percentile(n):
    """Highest candidate percentile with at least MIN_BEYOND of `n`
    samples above it, or None when no candidate qualifies."""
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:
            return p
    return None


def tail(xs):
    """(percentile, value) of the highest supported tail, or None."""
    p = tail_percentile(len(xs))
    return None if p is None else (p, quantile(xs, p / 100.0))
