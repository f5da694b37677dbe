"""Summary arithmetic for the benchmark: percentiles, quartile spread,
interval unions and span self time. Pure functions, unit-tested in
test_bench.py."""

import math
import statistics


def median(values):
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    ordered = sorted(values)
    return ordered[max(1, math.ceil(p / 100 * len(ordered))) - 1]


def beyond(values, p):
    """How many samples lie strictly above the p-th percentile."""
    cut = percentile(values, p)
    return sum(1 for v in values if v > cut)


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the first and third quartile, as a share of the
    median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else math.inf


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def span_self_times(spans):
    """Self time of each span: its duration minus the part of its
    interval that its child spans cover.

    spans: iterable of (id, parent_id, op, name, start, end); parent_id
    is -1 at the top. Returns {id: self_time}."""
    children = {}
    for sid, parent, _op, _name, start, end in spans:
        children.setdefault(parent, []).append((start, end))
    out = {}
    for sid, _parent, _op, _name, start, end in spans:
        inside = [(max(s, start), min(e, end)) for s, e in children.get(sid, [])]
        inside = [(s, e) for s, e in inside if e > s]
        out[sid] = (end - start) - union_length(inside)
    return out


def layer_of(name):
    return name.split(".", 1)[0]


def layer_self_times(spans, keep=lambda span: True):
    """Sum of span self times per layer (the name before the first dot),
    over the spans `keep` accepts."""
    spans = list(spans)
    own = span_self_times(spans)
    totals = {}
    for span in spans:
        if keep(span):
            layer = layer_of(span[3])
            totals[layer] = totals.get(layer, 0) + own[span[0]]
    return totals


def driver_only(wall, job_spans):
    """Wall time of an operation that no Spark job covered."""
    return wall - union_length([(max(0, s), min(wall, e)) for s, e in job_spans if e > s])
