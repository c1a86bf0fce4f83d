"""Arithmetic of the benchmark: percentiles, interval unions, span self
time, and attribution of listener spans to operations. Pure
functions over plain lists and dicts, so the tests can pin them."""
import statistics


def percentile(values, q):
    """The q-th quantile (0..1) by linear interpolation between closest
    ranks; None for no samples."""
    xs = sorted(values)
    if not xs:
        return None
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latency_summary(values):
    """Median and p90 with the sample count behind them."""
    return {"p50": percentile(values, 0.5), "p90": percentile(values, 0.9),
            "samples": len(values)}


def median(values):
    return statistics.median(values) if values else None


def union_length(intervals):
    """Total length covered by (start, end) intervals that may overlap."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, window):
    s, e = max(interval[0], window[0]), min(interval[1], window[1])
    return (s, e) if e > s else None


def self_times(spans):
    """Self time per span id: its duration minus the part of its
    interval that its children cover. Spans are dicts with id, parent,
    start and end."""
    children = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        window = (s["start"], s["end"])
        covered = [c for c in (clip(i, window) for i in children.get(s["id"], [])) if c]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(covered)
    return out


def self_time_by_layer(spans):
    by_id = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + by_id[s["id"]]
    return out


def innermost(t, candidates):
    """Id of the shortest candidate span whose interval holds time t."""
    best = None
    for c in candidates:
        if c["start"] <= t <= c["end"]:
            if best is None or c["end"] - c["start"] < best["end"] - best["start"]:
                best = c
    return best["id"] if best else None


def quartile_spread(values):
    """(Q3 - Q1) / median, quartiles as statistics.quantiles(n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
