"""Pure metric arithmetic for the pipeline benchmark: order statistics,
span self time, per dataset-date step intervals, and job attribution."""
import math


def median(xs):
    """Median of a non-empty sequence."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs, q):
    """Nearest-rank percentile (q in 0..100): the smallest sample with at
    least q% of the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q / 100 * len(s)))
    return s[rank - 1]


def summary(xs):
    """Median, p90 and the sample count they rest on."""
    return {"n": len(xs), "p50": median(xs), "p90": percentile(xs, 90)}


def union_length(intervals):
    """Total length covered by possibly overlapping (start, end) pairs."""
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


def self_time(span, children):
    """A span's duration minus the part of it its children cover. Child
    spans may overlap each other (concurrent action chains); the union is
    subtracted once."""
    s0, e0 = span
    clipped = [(max(s, s0), min(e, e0)) for s, e in children]
    return (e0 - s0) - union_length([(s, e) for s, e in clipped if e > s])


class Spans:
    """Spans as written by the harness: [id, name, parent, trace, tag,
    start_ms, end_ms]."""

    def __init__(self, rows):
        self.rows = [dict(zip(("id", "name", "parent", "trace", "tag",
                               "start", "end"), r)) for r in rows]
        self.kids = {}
        for r in self.rows:
            self.kids.setdefault(r["parent"], []).append(r)

    def of(self, trace, names=None):
        return [r for r in self.rows if r["trace"] == trace
                and (names is None or r["name"] in names)]

    def self_s(self, r):
        return self_time((r["start"], r["end"]),
                         [(k["start"], k["end"])
                          for k in self.kids.get(r["id"], [])]) / 1e3

    def dataset_dates(self, trace, schedule_names):
        """Per dataset-date landing latency inside each schedule call: a
        dataset-date starts at its first fetch and ends where the next
        one starts, the last one where the schedule call returns."""
        out = []
        for sch in self.of(trace, schedule_names):
            fetches = sorted(self.kids.get(sch["id"], []),
                             key=lambda r: r["start"])
            starts = []
            for f in fetches:
                if f["name"] == "sources.fetch" and (
                        not starts or starts[-1][0] != f["tag"]):
                    starts.append((f["tag"], f["start"]))
            for j, (tag, t) in enumerate(starts):
                end = starts[j + 1][1] if j + 1 < len(starts) else sch["end"]
                out.append((tag, (end - t) / 1e3))
        return out


def attribute_jobs(jobs, spans):
    """Map each job (start_ms) to the innermost span open at its start:
    the latest-starting span whose window contains it. Returns a list of
    span ids (None when no span was open)."""
    ordered = sorted(spans, key=lambda r: r["start"])
    out = []
    for start in jobs:
        best = None
        for r in ordered:
            if r["start"] > start:
                break
            if r["end"] >= start:
                best = r["id"]
        out.append(best)
    return out


def bytes_per_user_byte(disk_bytes, user_bytes):
    if user_bytes <= 0:
        raise ValueError("no user bytes")
    return disk_bytes / user_bytes
