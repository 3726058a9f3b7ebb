"""Summary statistics of the benchmark: percentiles under the ten-beyond rule,
failure accounting and the removal of hypervisor steal from walls."""

import math


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs, p):
    """The p-quantile, lowered to the highest rank that still has at least ten
    samples above it, and never below the median. Returns (value, q, n): the
    value, the quantile actually used and the sample count."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("percentile of no samples")
    k = min(math.ceil(p * n) - 1, n - 11)
    if k <= (n - 1) // 2:
        return median(s), 0.5, n
    return s[k], (k + 1) / n, n


def unstolen(ms, steal):
    """A wall without the CPU time the hypervisor stole meanwhile: `steal` is
    the share of the machine's CPU time stolen during that wall."""
    return ms * (1 - steal)


def latencies(ops):
    """The (unstolen) walls of the operations that succeeded: a failed
    operation never contributes a time."""
    return [unstolen(o["ms"], o.get("steal", 0.0)) for o in ops if o.get("ok")]


def failed(ops):
    """Failed operations, counted against the attempted ones."""
    return sum(1 for o in ops if not o.get("ok"))
