"""Statistics of the benchmark: tail percentiles, span self time and
driver gaps, and the per-layer figures of a traced run.

Spans, jobs and plans carry epoch-millisecond times (see Trace.scala).
One client thread drives a workload, so spans nest strictly; a job or a
plan belongs to the innermost span open when it started.
"""
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    above it: the (beyond+1)-th largest sample. Returns (value,
    percentile, samples). With `beyond` samples or fewer no percentile
    qualifies and the maximum is returned with percentile 100."""
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    s = sorted(xs)
    if n <= beyond:
        return s[-1], 100.0, n
    i = n - 1 - beyond
    return s[i], 100.0 * i / (n - 1), n


def children(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def self_times(spans):
    """Span id -> its duration minus the durations of its children."""
    kids = children(spans)
    return {s["id"]: (s["end"] - s["start"]) -
            sum(c["end"] - c["start"] for c in kids.get(s["id"], []))
            for s in spans}


def merge(intervals):
    """Union of (start, end) intervals, sorted and non-overlapping."""
    out = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def driver_gap_ms(jobs):
    """Sum of the gaps between consecutive jobs. Overlapping jobs merge
    first, so time when any job runs is never counted as a gap."""
    m = merge([(j["start"], j["end"]) for j in jobs])
    return sum(b[0] - a[1] for a, b in zip(m, m[1:]))


def innermost(spans, t):
    """The innermost span open at time t, or None."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def root_of(span, by_id):
    while span["parent"] >= 0:
        span = by_id[span["parent"]]
    return span


def coverage(spans, window):
    """Share of the timed window covered by its top-level spans."""
    lo, hi = window
    top = [s for s in spans if s["parent"] < 0 and s["start"] >= lo and s["end"] <= hi]
    return sum(s["end"] - s["start"] for s in top) / (hi - lo) if hi > lo else 0.0


def engine(trace, window):
    """Listener counts over the top-level spans of the timed window:
    per top-level span, its jobs, stages and plans."""
    lo, hi = window
    spans = [s for s in trace["spans"] if s["start"] >= lo and s["end"] <= hi]
    by_id = {s["id"]: s for s in spans}
    tops = {s["id"]: dict(jobs=[], plans=[]) for s in spans if s["parent"] < 0}
    for kind, key in (("jobs", "start"), ("plans", "at")):
        for e in trace[kind]:
            s = innermost(spans, e[key])
            if s is not None:
                top = root_of(s, by_id)
                if top["id"] in tops:
                    tops[top["id"]][kind].append(e)
    stages = {st["id"]: st for st in trace["stages"]}
    out = dict(jobs=0, driver_gap_ms=0.0, planning_ms=0.0, task_ms=0.0,
               executor_cpu_ms=0.0, shuffle_read_bytes=0, shuffle_write_bytes=0,
               spill_bytes=0, gc_ms=0.0, failed_tasks=0)
    skews = []
    for t in tops.values():
        out["jobs"] += len(t["jobs"])
        out["driver_gap_ms"] += driver_gap_ms(t["jobs"])
        out["planning_ms"] += sum(p["planning_ms"] for p in t["plans"])
        for j in t["jobs"]:
            out["failed_tasks"] += int(j["failed"])
            for sid in j["stages"]:
                st = stages.get(sid)
                if st is None or st["job"] != j["id"] or not st["tasks"]:
                    continue
                out["task_ms"] += sum(st["task_ms"])
                out["executor_cpu_ms"] += st["cpu_ns"] / 1e6
                out["shuffle_read_bytes"] += st["shuffle_read"]
                out["shuffle_write_bytes"] += st["shuffle_write"]
                out["spill_bytes"] += st["spill"]
                out["gc_ms"] += st["gc_ms"]
                out["failed_tasks"] += st["failed_tasks"]
                med = median(st["task_ms"])
                if len(st["task_ms"]) > 1 and med > 0:
                    skews.append(max(st["task_ms"]) / med)
    out["task_skew"] = median(skews) if skews else 1.0
    return out


def span_table(trace, window):
    """Per span name in the window: count, total and self time, and the
    jobs that started while it was the innermost open span."""
    lo, hi = window
    spans = [s for s in trace["spans"] if s["start"] >= lo and s["end"] <= hi]
    own = self_times(spans)
    jobs = {}
    for j in trace["jobs"]:
        s = innermost(spans, j["start"])
        if s is not None:
            jobs[s["id"]] = jobs.get(s["id"], 0) + 1
    out = {}
    for s in spans:
        row = out.setdefault(s["name"], dict(n=0, total_ms=0.0, self_ms=0.0, jobs=0))
        row["n"] += 1
        row["total_ms"] += s["end"] - s["start"]
        row["self_ms"] += own[s["id"]]
        row["jobs"] += jobs.get(s["id"], 0)
    return out


def span_ms(trace, window, name, per=None):
    """Durations of the spans called `name` in the window; with `per`,
    summed per enclosing span of that name."""
    lo, hi = window
    spans = [s for s in trace["spans"] if s["start"] >= lo and s["end"] <= hi]
    hits = [s for s in spans if s["name"] == name]
    if per is None:
        return [s["end"] - s["start"] for s in hits]
    by_id = {s["id"]: s for s in spans}
    sums = {}
    for s in hits:
        p = by_id.get(s["parent"])
        while p is not None and p["name"] != per:
            p = by_id.get(p["parent"])
        if p is not None:
            sums[p["id"]] = sums.get(p["id"], 0.0) + s["end"] - s["start"]
    return list(sums.values())
