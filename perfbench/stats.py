"""Summary statistics and the metric-name rule, kept free of Spark so the
unit tests can run them alone."""

from __future__ import annotations

import math
import re
import statistics

# A percentile is reported only when at least this many samples lie beyond it.
MIN_BEYOND = 10

_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` sorted samples lie above the ``q``-th percentile's
    rank (nearest-rank definition)."""
    return n - math.ceil(n * q / 100.0)


def min_samples(q: float) -> int:
    """Smallest sample count whose ``q``-th percentile has ``MIN_BEYOND``
    samples beyond it: 100 for p90, 200 for p95."""
    n = MIN_BEYOND
    while samples_beyond(n, q) < MIN_BEYOND:
        n += 1
    return n


def percentile(values, q: float) -> float:
    """Nearest-rank ``q``-th percentile. Raises ValueError when fewer than
    ``MIN_BEYOND`` samples lie beyond it, because such a tail rests on a
    handful of samples and wanders from run to run."""
    xs = sorted(values)
    if samples_beyond(len(xs), q) < MIN_BEYOND:
        raise ValueError(
            f"p{q:g} of {len(xs)} samples has fewer than {MIN_BEYOND} beyond it"
        )
    return xs[max(0, math.ceil(len(xs) * q / 100.0) - 1)]


def median(values) -> float:
    return float(statistics.median(values))


def quantile(values, q: float) -> float:
    """Nearest-rank quantile with no sample-count rule, for information-only
    figures such as the q-error tail."""
    xs = sorted(values)
    return xs[max(0, math.ceil(len(xs) * q / 100.0) - 1)]


def check_name(name: str) -> str:
    """Return ``name`` if it is a valid metric name (``[A-Za-z0-9_.-]``, at
    most 64 characters, starting with a letter or digit); raise otherwise."""
    if not _NAME.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name
