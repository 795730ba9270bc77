"""Summary statistics and failure accounting for the benchmark.

Kept free of I/O so perfbench/tests/test_stats.py can pin them down."""
import math
import statistics


def median(values):
    """Median of a non-empty sequence."""
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail(values, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    above it, as (percentile, value, n); None when there are too few
    samples for any percentile to have that many beyond it.

    With n samples sorted ascending, the value at 1-based rank r has
    n - r samples above it, so the highest usable rank is n - beyond and
    its percentile is 100 * r / n (floored to a whole percent)."""
    n = len(values)
    r = n - beyond
    if r < 1:
        return None
    xs = sorted(values)
    return (math.floor(100 * r / n), xs[r - 1], n)


def geomean(values):
    """Geometric mean of positive values."""
    if not values or any(v <= 0 for v in values):
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def timing(values):
    """Median plus the tail percentile, with n, of one timing."""
    t = tail(values)
    return {"median": median(values), "n": len(values),
            "tail_pct": t[0] if t else None, "tail": t[1] if t else None}


def failures(attempts, mismatched=()):
    """Count failed attempts. An attempt fails when it threw (`error`),
    returned a value other than its closed-form expectation (`wrong`), or
    is the checked attempt (the one that dumped its result) of an op the
    oracle rejected (`mismatched` names those ops). Returns (attempted,
    failed, per-op failure reasons)."""
    mismatched = set(mismatched)
    failed, why = 0, {}
    for a in attempts:
        reason = None
        if a.get("error"):
            reason = a["error"]
        elif a.get("wrong"):
            reason = "wrong result %s" % (a.get("got"),)
        elif a.get("checked") and a["op"] in mismatched:
            reason = "result differs from the DuckDB oracle"
        if reason:
            failed += 1
            why.setdefault(a["op"], []).append("%s pass %d: %s" % (a["kind"], a["pass"], reason))
    return len(attempts), failed, why
