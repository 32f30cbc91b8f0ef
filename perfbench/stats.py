"""Statistics of the graft benchmark. The JVM harness records raw samples;
every summary the benchmark reports is computed here."""
import math


def median(values):
    """Median; an even count averages the middle two."""
    s = sorted(values)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def rank(n, q):
    """1-based nearest rank of quantile q among n samples."""
    return max(1, math.ceil(q * n))


def beyond(n, q):
    """Samples strictly above the nearest-rank q quantile."""
    return n - rank(n, q)


def percentile(values, q, min_beyond=10):
    """Nearest-rank q quantile. Refuses when fewer than `min_beyond`
    samples lie beyond it: such a percentile would rest on a handful of
    observations."""
    s = sorted(values)
    if beyond(len(s), q) < min_beyond:
        raise ValueError(f"p{q * 100:g} of {len(s)} samples has "
                         f"{beyond(len(s), q)} beyond it, needs {min_beyond}")
    return s[rank(len(s), q) - 1]


def tally(ops):
    """(attempted, failed) over operation kinds {kind: [attempted, failed]}.
    A refused operation is recorded as attempted and failed, never dropped."""
    attempted = sum(a for a, _ in ops.values())
    failed = sum(f for _, f in ops.values())
    return attempted, failed


def ok_ratio(attempted, failed):
    """Share of attempted operations that succeeded (1 - failed ratio)."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    return 1.0 - failed / attempted


def freshness(files):
    """Seconds from each file's *due* time to the commit that made it
    visible. Timing from the due time, not the landing time, charges a
    stalled lander's delay to the files behind it (open-loop discipline).
    `files` holds (due, landed, committed) triples in seconds."""
    return [commit - due for due, _landed, commit in files]


def lateness_ms(files):
    """Milliseconds each file landed after it was due."""
    return [(landed - due) * 1e3 for due, landed, _commit in files]


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, _, q3 = quantiles(values)
    return (q3 - q1) / median(values)


def quantiles(values):
    """Quartiles as Python's statistics.quantiles(values, n=4) gives them."""
    import statistics
    return statistics.quantiles(values, n=4)
