"""Summary statistics and outcome counting for one benchmark run."""

from __future__ import annotations

import math
import statistics
import time
from collections import defaultdict

import numpy as np

# A tail percentile is reported only with at least this many samples
# beyond it (choosing-metrics guide, section 1).
TAIL_BEYOND = 10


def tail(samples: list[float], beyond: int = TAIL_BEYOND):
    """The highest percentile that has at least ``beyond`` samples above
    it, as ``(percentile, value, beyond)``; None when there are too few
    samples (fewer than ``beyond + 1``).

    The value is the Harrell-Davis estimate of that percentile. In a mix
    of queries of different sizes the single order statistic at that rank
    jumps between the latency levels of neighbouring queries from run to
    run; the estimate weighs the order statistics around the rank instead.
    """
    n = len(samples)
    if n <= beyond:
        return None
    q = (n - beyond) / n
    return 100.0 * q, harrell_davis(samples, q), beyond


def harrell_davis(samples: list[float], q: float) -> float:
    """Harrell-Davis estimate of quantile ``q`` (0 < q < 1): the mean of
    the order statistics weighted by a Beta(q(n+1), (1-q)(n+1)) density
    (Harrell & Davis, Biometrika 1982)."""
    xs = np.sort(np.asarray(samples, dtype=float))
    n = len(xs)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    m = 100_000  # integration cells over [0, 1]
    mid = (np.arange(m) + 0.5) / m
    logpdf = (a - 1) * np.log(mid) + (b - 1) * np.log1p(-mid)
    cdf = np.concatenate(([0.0], np.cumsum(np.exp(logpdf - logpdf.max()))))
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, np.linspace(0.0, 1.0, m + 1), cdf)
    return float(np.diff(edges) @ xs)


def geomean_of_medians(by_query: dict[str, list[float]]) -> float:
    """Geometric mean of each query's median latency: every query weighs
    the same, whatever its size."""
    meds = [statistics.median(v) for v in by_query.values() if v]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


class Outcomes:
    """Operations attempted and failed in one run. An operation fails when
    it raises, times out, or its output does not match the oracle; each
    failure counts exactly once."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed: list[tuple[str, str]] = []
        self.latency: dict[str, list[float]] = defaultdict(list)

    def ok(self, name: str, seconds: float | None = None) -> None:
        self.attempted += 1
        if seconds is not None:
            self.latency[name].append(seconds)

    def fail(self, name: str, reason: str) -> None:
        self.attempted += 1
        self.failed.append((name, reason))

    def attempt(self, name: str, fn) -> None:
        """Run one timed operation; an exception fails it."""
        t0 = time.perf_counter()
        try:
            fn()
        except Exception as e:  # counted, and the run goes on
            self.fail(name, f"{type(e).__name__}: {e}"[:300])
        else:
            self.ok(name, time.perf_counter() - t0)

    def gate(self, name: str, check) -> None:
        """Record one oracle check; ``check()`` returns ``(ok, detail)``.
        A check that raises fails like a mismatch."""
        try:
            ok, detail = check()
        except Exception as e:
            ok, detail = False, f"{type(e).__name__}: {e}"
        if ok:
            self.ok(f"gate:{name}")
        else:
            self.fail(f"gate:{name}", detail[:300])

    @property
    def failed_share(self) -> float:
        return len(self.failed) / self.attempted if self.attempted else 0.0

    def samples(self) -> list[float]:
        return [x for v in self.latency.values() for x in v]
