"""Pure arithmetic of the benchmark: percentiles, span self time, and the
mapping of fed stream chunks onto the micro-batches that consumed them.
Kept free of I/O so `test_perfbench.py` can pin it."""
import math
import statistics

TAIL_CANDIDATES = (99.9, 99, 95, 90, 75, 50)


def rank(n, p):
    """1-based nearest rank of the p-th percentile among n samples (the
    epsilon keeps p * n / 100 from rounding up past an exact integer)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no samples")
    return v[rank(len(v), p) - 1]


def beyond(n, p):
    """How many of n samples lie strictly above the nearest-rank p-th."""
    return n - rank(n, p) if n else 0


def tail_percentile(n, at_least=10):
    """The highest percentile with `at_least` samples beyond it, or None
    when even the median has fewer."""
    return next((p for p in TAIL_CANDIDATES if beyond(n, p) >= at_least),
                None)


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by `intervals` [(start, end)], clipped to
    [lo, hi]; overlaps count once."""
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


def attach(spans, jobs, next_id):
    """Spark jobs as child spans of the innermost span whose interval holds
    the job's start (the benchmark runs one operation at a time per thread;
    a job outside every span stays a root of its own)."""
    out = list(spans)
    for j in jobs:
        holders = [s for s in spans if s["start"] <= j["start"] < s["end"]]
        inner = min(holders, key=lambda s: s["end"] - s["start"], default=None)
        out.append({"id": next_id, "name": "job", "start": j["start"],
                    "end": j["end"],
                    "parent": inner["id"] if inner else 0,
                    "op": inner["op"] if inner else next_id})
        next_id += 1
    return out


def self_times(spans):
    """Each span's duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def self_time_by_name(spans):
    own = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
    return out


def chunk_commits(chunks, batches):
    """For each fed chunk (its `idx` is the MemoryStream offset its
    `addData` call produced), the end time of the micro-batch whose
    (start_offset, end_offset] range holds it; None if none did."""
    out = {}
    for b in batches:
        for k in range(b["start_offset"] + 1, b["end_offset"] + 1):
            out[k] = b["end"]
    return [out.get(c["idx"]) for c in chunks]


def row_latencies(chunks, batches, stamp):
    """Per-row latency: from the chunk's `stamp` time ("due" or "created")
    to the commit of the micro-batch that consumed it. Rows of a chunk no
    micro-batch committed are missing (None)."""
    out = []
    for c, end in zip(chunks, chunk_commits(chunks, batches)):
        out.extend([None if end is None else end - c[stamp]] * c["rows"])
    return out


def backlog_max(chunks, batches):
    """Largest number of fed rows not yet committed, seen at any chunk's
    feed time."""
    commits = chunk_commits(chunks, batches)
    return max((sum(d["rows"] for d, e in zip(chunks, commits)
                    if d["created"] <= c["created"] and
                    (e is None or e > c["created"]))
                for c in chunks), default=0)


def median(values):
    return statistics.median(values) if values else 0.0


def mean(values):
    return sum(values) / len(values) if values else 0.0
