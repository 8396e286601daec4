"""The benchmark's arithmetic: medians, job-interval unions, span
attribution, self time and child-span cover. Pure functions, covered
by tests/."""


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of nothing")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count
    once and open or inverted intervals are ignored."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals
                       if s is not None and e is not None and e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if e is not None and s is not None and min(e, hi) > max(s, lo)]


def driver_gap(span_t0, span_t1, job_intervals):
    """Span wall time not covered by any of its jobs' intervals."""
    return (span_t1 - span_t0) - union_length(
        clip(job_intervals, span_t0, span_t1))


def self_times(spans):
    """{span id: own wall time} — each span's wall minus the walls of
    its direct children. `spans` are dicts with id, parent, t0, t1."""
    own = {s["id"]: s["t1"] - s["t0"] for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= s["t1"] - s["t0"]
    return own


def child_cover(spans):
    """{top-level span id: share of its wall time its child spans
    cover}, i.e. 1 - self time / wall time. Time a unit spends outside
    every span it wraps lowers it."""
    own = self_times(spans)
    return {s["id"]: 1 - own[s["id"]] / (s["t1"] - s["t0"])
            if s["t1"] > s["t0"] else 1.0
            for s in spans if s["parent"] == 0}


def attribute(jobs, spans):
    """{job id: span id}. A job belongs to the span named by its job
    group when it started inside that span; otherwise (jobs submitted
    from pooled threads carry no group or a stale one) to the innermost
    span open when it started. Jobs outside every span are left out."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for j in jobs:
        g = by_id.get(int(j["group"])) if str(j["group"]).isdigit() else None
        if g is not None and g["t0"] <= j["t0"] <= g["t1"]:
            out[j["id"]] = g["id"]
            continue
        open_ = [s for s in spans if s["t0"] <= j["t0"] <= s["t1"]]
        if open_:
            out[j["id"]] = max(open_, key=lambda s: s["t0"])["id"]
    return out


def descendants(spans):
    """{span id: set of itself and every span nested under it}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out = {}

    def walk(i):
        if i not in out:
            acc = {i}
            for k in kids.get(i, []):
                acc |= walk(k)
            out[i] = acc
        return out[i]

    for s in spans:
        walk(s["id"])
    return out

