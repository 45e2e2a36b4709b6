"""Summary statistics the benchmark reports (pure functions, unit-tested)."""
import math

# candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def rank(n: int, pct: float) -> int:
    """1-based nearest rank of percentile `pct` among `n` sorted samples."""
    return max(1, math.ceil(pct / 100.0 * n))


def percentile(values, pct: float) -> float:
    xs = sorted(values)
    return xs[rank(len(xs), pct) - 1]


def tail(values):
    """The highest ladder percentile with at least MIN_BEYOND samples beyond
    it, as (value, percentile, samples beyond). With fewer than
    2 * MIN_BEYOND samples no percentile qualifies; the median is returned
    and the short count says so."""
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    for pct in TAIL_LADDER:
        beyond = n - rank(n, pct)
        if beyond >= MIN_BEYOND:
            return percentile(values, pct), pct, beyond
    return percentile(values, 50.0), 50.0, n - rank(n, 50.0)


def geomean(values) -> float:
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def failure_counts(ops, oracle_failed=()):
    """(attempted, failed, failed_frac) over operation records. An operation
    fails when it threw or its output check failed (`ok` false), or when it
    ran a sweep key whose verified output the oracle rejected."""
    bad_keys = set(oracle_failed)
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in bad_keys)
    return attempted, failed, (failed / attempted if attempted else 1.0)
