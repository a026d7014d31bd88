"""Statistics and seeded generators shared by the benchmark's workloads.

Everything here is pure Python so the self-tests (`test_perfbench.py`)
run without building the engine.
"""
import bisect
import math
import random

# Percentiles a tail may be reported at, lowest first.
PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def highest_percentile(n, min_beyond=MIN_BEYOND):
    """The highest of PERCENTILES that leaves at least `min_beyond` of n
    samples beyond it; None when even the median does not."""
    best = None
    for p in PERCENTILES:
        if math.floor(n * (100.0 - p) / 100.0 + 1e-9) >= min_beyond:
            best = p
    return best


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail(values):
    """(percentile, value) at the highest supported percentile; falls
    back to the maximum, reported as percentile 100, when there are too
    few samples for the rule."""
    p = highest_percentile(len(values))
    if p is None:
        return 100.0, max(values)
    return p, percentile(values, p)


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def geomean(values):
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def latency_ms(op):
    """An operation's latency, counted from when it was due: an open-loop
    request that waited for a free sender, or behind a stalled server,
    carries that wait. For closed-loop operations due == start."""
    return op["end"] - op["due"]


def late_ms(op):
    """How late the generator handed an operation to a sender (a check on
    the generator itself; waiting for a free sender is not counted)."""
    return max(0.0, op["dispatched"] - op["due"])


def repeat_share(sends, ttl_ms=5000.0):
    """Share of (time, key) sends whose key was already sent within the
    previous `ttl_ms` (what a request cache with that TTL could serve)."""
    last = {}
    hits = 0
    for t, key in sorted(sends):
        if key in last and t - last[key] <= ttl_ms:
            hits += 1
        last[key] = t
    return hits / len(sends) if sends else 0.0


class Zipf:
    """Ranks 0..n-1 drawn with P(k) proportional to 1/(k+1)^s."""

    def __init__(self, n, s, rng):
        self.rng = rng
        weights = [1.0 / (k + 1) ** s for k in range(n)]
        total = sum(weights)
        acc = 0.0
        self.cdf = []
        for w in weights:
            acc += w / total
            self.cdf.append(acc)

    def block(self, n):
        """n ranks whose mix follows the distribution as closely as n
        draws can: one draw from each of n equal slices of probability,
        in shuffled order (i.i.d. draws would move the hot ranks' share of
        a short run by a quarter either way)."""
        last = len(self.cdf) - 1
        ranks = [min(bisect.bisect_left(self.cdf, (k + self.rng.random()) / n), last)
                 for k in range(n)]
        self.rng.shuffle(ranks)
        return ranks


def poisson_arrivals(rate, n, rng):
    """Offsets in ms of the first n arrivals of a Poisson process at `rate`
    per second (a fixed count, so every run has the same sample size)."""
    out = []
    t = 0.0
    for _ in range(n):
        t += rng.expovariate(rate)
        out.append(t * 1000.0)
    return out


def seeded(seed, stream):
    """An independent random stream per (seed, purpose)."""
    return random.Random(f"{seed}:{stream}")
