"""Statistics of the benchmark: latency percentiles and span self times."""
import math
import statistics

# A percentile estimate is trusted when at least this many samples lie
# beyond it.
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least q of the
    samples at or below it."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank q-percentile of n samples."""
    return n - max(1, math.ceil(q * n))


def supports(n: int, q: float) -> bool:
    return beyond(n, q) >= MIN_BEYOND


def geomean_of_medians(by_op: dict) -> float:
    """Geometric mean over operations of each operation's median latency,
    so that short operations weigh as much as long ones."""
    meds = [statistics.median(v) for v in by_op.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans) -> dict:
    """Self time of every span: its duration minus the part of it that its
    child spans cover. `spans` are dicts with id, parent, start and end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        kids = clip(children.get(s["id"], []), s["start"], s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids)
    return out
