"""Statistics and span arithmetic for the benchmark report."""
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_name(name: str) -> bool:
    """Metric and workload names: a letter or digit, then at most 63 of
    letters, digits, `_`, `.` and `-`."""
    return NAME_RE.fullmatch(name) is not None


def median_n(values):
    """(median, sample count); the median of nothing is None."""
    vals = list(values)
    return (statistics.median(vals) if vals else None), len(vals)


def spread(values):
    """Interquartile distance as a share of the median: the steadiness
    test each end-to-end metric's bound is checked against."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def union_length(intervals):
    """Total length covered by (start, end) intervals, overlaps counted once."""
    total, cur_s, cur_e = 0, None, None
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


def clip(intervals, start, end):
    """Intervals cut to [start, end]; the ones outside are dropped."""
    return [(max(s, start), min(e, end)) for s, e in intervals
            if min(e, end) > max(s, start)]


def self_times(spans):
    """{span id: duration minus the union of its children's intervals}.

    `spans` are dicts with `id`, `parent`, `start` and `end`; children
    that overlap each other are counted once, and the parts of a child
    outside its parent do not count against the parent."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - union_length(
        clip(kids.get(s["id"], []), s["start"], s["end"])) for s in spans}
