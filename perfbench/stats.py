"""Statistics and trace arithmetic of the benchmark (no I/O, unit-tested).

Spans are dicts with `id`, `parent`, `kind`, `name`, `start_ms`, `end_ms`
and `attrs`, as `Harness.scala` writes them to `spans.jsonl`.
"""
import math


def percentile(values, q):
    """The q-th percentile (0..100) of `values` with linear interpolation
    between closest ranks, and the sample count it rests on.

    Returns {"value": float, "n": int, "beyond": int}; `beyond` is the number
    of samples strictly above the percentile, so a reader can tell a p95
    backed by ten tail samples from one backed by a single sample.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("percentile of no samples")
    if not 0 <= q <= 100:
        raise ValueError("percentile outside 0..100")
    pos = (n - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    value = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    return {"value": value, "n": n, "beyond": sum(1 for x in xs if x > value)}


def union_ms(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def children(spans):
    """Map span id -> list of its child spans."""
    out = {}
    for s in spans:
        out.setdefault(s["parent"], []).append(s)
    return out


def descendants(span_id, kids, kind=None):
    """All spans below `span_id`, optionally only those of one kind."""
    out, stack = [], list(kids.get(span_id, []))
    while stack:
        s = stack.pop()
        if kind is None or s["kind"] == kind:
            out.append(s)
        stack.extend(kids.get(s["id"], []))
    return out


def duration(s):
    return s["end_ms"] - s["start_ms"]


def self_ms(span, kids):
    """A span's self time: its duration minus the part of its interval that
    its direct children cover."""
    return duration(span) - union_ms(
        [(c["start_ms"], c["end_ms"]) for c in kids.get(span["id"], [])],
        span["start_ms"], span["end_ms"])


def query_breakdown(query, kids):
    """Split one query span into the time Spark jobs were running and the
    driver's own time.

    `job_ms` is the union of the query's job spans clipped to the query;
    `self_ms` is the driver time of its phases: the sum of their self times
    (a phase's children are its jobs). `cover` = (job_ms + self_ms) /
    duration is 1 when the phases tile the query and every job sits inside
    its phase; `outside_ms` is job time that fell outside the query span.
    """
    jobs = descendants(query["id"], kids, "job")
    iv = [(j["start_ms"], j["end_ms"]) for j in jobs]
    job_ms = union_ms(iv, query["start_ms"], query["end_ms"])
    phases = [s for s in kids.get(query["id"], []) if s["kind"] == "phase"]
    driver = sum(self_ms(p, kids) for p in phases)
    dur = duration(query)
    return {
        "duration_ms": dur,
        "job_ms": job_ms,
        "self_ms": driver,
        "cover": (job_ms + driver) / dur if dur > 0 else 1.0,
        "outside_ms": union_ms(iv) - job_ms,
        "phases": {p["name"]: duration(p) for p in phases},
    }
