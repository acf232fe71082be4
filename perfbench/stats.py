"""Order statistics for the benchmark report."""
import math
from typing import NamedTuple


def median(xs):
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of no samples")
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


class Tail(NamedTuple):
    value: float
    pct: int
    n: int
    beyond: int

    def describe(self):
        return f"p{self.pct} of {self.n} samples, {self.beyond} beyond it"


def tail(xs, beyond=10):
    """The highest whole percentile that has at least `beyond` samples above
    it, by nearest rank: p = floor(100 (n - beyond) / n), value = the
    ceil(p n / 100)-th smallest sample."""
    xs = sorted(xs)
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"{n} samples: a tail needs more than {beyond}")
    pct = 100 * (n - beyond) // n
    k = max(1, math.ceil(pct * n / 100))
    return Tail(xs[k - 1], pct, n, n - k)
