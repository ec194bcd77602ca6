"""The benchmark's own statistics: the seeded schedule, the percentile rule,
the geomean of pair ratios, span self time and the steadiness spread.
Pure functions, tested by tests/test_stats.py."""
import math
import random
import statistics


def schedule(queries, seed, passes):
    """`passes` passes over `queries`, each in its own seeded order.

    Each pass is a list of [query, "on"|"off"] items: every query runs as
    an interleaved (off, on) pair whose first side is drawn from the seed."""
    rng = random.Random(seed)
    out = []
    for _ in range(passes):
        order = list(queries)
        rng.shuffle(order)
        items = []
        for q in order:
            first = rng.choice(("off", "on"))
            items += [[q, first], [q, "on" if first == "off" else "off"]]
        out.append(items)
    return out


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it (a value that was measured, never an
    interpolation)."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def geomean(values):
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def pair_speedup_geomean(pairs):
    """Geomean over queries of the median off / on ratio of the query's
    interleaved pairs.

    `pairs` maps a query to its timed (off_ms, on_ms) pairs. The two sides
    of a pair run back to back, so a change of the host's speed between
    pairs cancels inside each ratio."""
    if not pairs or not all(pairs.values()):
        raise ValueError("every query needs at least one pair")
    return geomean([statistics.median(off / on for off, on in pairs[q]) for q in sorted(pairs)])


def self_time(span, children):
    """A span's duration minus the part of it that its children cover
    (overlapping children are counted once). Spans are (start, end)."""
    start, end = span
    covered, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def spread(values):
    """(q1, median, q3, (q3 - q1) / median), the quartiles as
    `statistics.quantiles(values, n=4)` gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return q1, med, q3, (q3 - q1) / med
