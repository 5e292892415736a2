"""Statistics the benchmark reports.

- Medians are taken per operation kind only: kinds whose costs differ by
  10x would put a mixed median between two modes, where it moves with
  the mix instead of with the code.
- A percentile is reported only when at least ten samples lie beyond
  it; otherwise it is one or two outliers, not a tail.
- Throughput is work over the whole timed window, not a sum of
  per-operation times, so gaps between operations count too. The
  operation still running when the window closes counts by the share of
  it that fell inside, so a long operation that starts just before the
  end does not change the figure by a whole operation.
"""

import math
import statistics

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def median(values):
    if not values:
        raise TooFewSamples("median of no samples")
    return statistics.median(values)


def percentile(values, q):
    """The q-th percentile (0 < q < 100), nearest rank. Refuses unless at
    least MIN_BEYOND samples lie above the cut."""
    n = len(values)
    rank = math.ceil(q / 100.0 * n)
    if n - rank < MIN_BEYOND:
        raise TooFewSamples(
            f"p{q} of {n} samples leaves {n - rank} beyond it; need {MIN_BEYOND}")
    return sorted(values)[rank - 1]


def medians_by_kind(samples):
    """{kind: median ms} over (kind, ms) pairs."""
    by = {}
    for kind, ms in samples:
        by.setdefault(kind, []).append(ms)
    return {k: median(v) for k, v in sorted(by.items())}


def window_ops(ops, window_s):
    """Operations done within the first window_s seconds of a phase, from
    (start_s, duration_s) pairs: an operation that ends inside counts 1,
    the one running at the window's end counts the share inside it."""
    if window_s <= 0:
        raise ValueError("the window must be positive")
    done = 0.0
    for start, dur in ops:
        if start >= window_s:
            continue
        end = start + dur
        done += 1.0 if end <= window_s else (window_s - start) / dur
    return done


def spread(values):
    """(median, q1, q3, (q3 - q1) / median), quartiles as
    statistics.quantiles(values, n=4) gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")
