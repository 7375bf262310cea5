"""Statistics helpers for the benchmark's metrics.

A percentile is reported only when at least MIN_BEYOND samples lie
beyond it, so a tail figure never rests on a handful of points; a
timing is reported as its median plus the highest such percentile,
with the sample count.
"""
import math

MIN_BEYOND = 10
TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0)


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def beyond(n, p):
    """Samples strictly above the p-th percentile's rank in n samples."""
    return n - math.ceil(n * p / 100.0)


def supported(n, p):
    return beyond(n, p) >= MIN_BEYOND


def percentile(xs, p):
    """Nearest-rank p-th percentile, or None when fewer than MIN_BEYOND
    samples lie beyond it."""
    if not xs or not supported(len(xs), p):
        return None
    s = sorted(xs)
    return s[max(0, math.ceil(len(s) * p / 100.0) - 1)]


def tail(xs, candidates=TAIL_CANDIDATES):
    """(p, value) of the highest candidate percentile the sample
    supports, or None."""
    for p in candidates:
        v = percentile(xs, p)
        if v is not None:
            return p, v
    return None


def summary(xs):
    """Median, supported tail and sample count of a timing."""
    t = tail(xs)
    return {"n": len(xs), "p50": median(xs) if xs else None,
            "tail_p": t[0] if t else None, "tail": t[1] if t else None}


def failed_frac(attempted, failed):
    """Failed or wrong-answer ops over ops attempted."""
    if attempted < 1:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def ratio_of_sums(pairs):
    """sum(numerators) / sum(denominators): files or bytes read over the
    size of the tables the reads touched, summed over ops, so a large
    table is not outweighed by many small ones."""
    num = sum(a for a, _ in pairs)
    den = sum(b for _, b in pairs)
    if den <= 0:
        raise ValueError("empty denominator")
    return num / den

