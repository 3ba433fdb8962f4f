"""Arithmetic of the benchmark's metrics: percentiles, failure ratio and
span self time. Pure functions, covered by test_perfbench.py."""
import math
import statistics


def median(xs):
    return statistics.median(xs)


def percentile(xs, p):
    """Linear-interpolated p-th percentile (0..100) of xs (numpy's default
    method): rank p/100 * (n-1) between the sorted neighbours."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    r = p / 100.0 * (len(s) - 1)
    lo = math.floor(r)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def failed_ratio(failed, attempted):
    if attempted <= 0:
        raise ValueError("no executions attempted")
    return failed / attempted


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
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


def clipped(intervals, start, end):
    """Intervals cut to [start, end]; empty ones dropped."""
    return [(max(s, start), min(e, end)) for s, e in intervals if min(e, end) > max(s, start)]


def attach(spans):
    """Gives every span without a parent (listener events) the innermost
    span with a parent or a query id that contains its start, and that
    span's query id. A span is a dict with id, parent, qid, name, start,
    end. Returns the spans that found a home; the rest fell outside every
    query (set-up work, for instance) and are dropped."""
    owned = [s for s in spans if s["qid"] >= 0]
    out = list(owned)
    for s in spans:
        if s["qid"] >= 0:
            continue
        home = [o for o in owned if o["start"] <= s["start"] <= o["end"]]
        if not home:
            continue
        best = min(home, key=lambda o: o["end"] - o["start"])
        out.append(dict(s, parent=best["id"], qid=best["qid"]))
    # listener spans nest too: a stage inside a job, a job inside catalyst
    # time is not (catalyst phases end before their jobs start)
    jobs = [s for s in out if s["name"] == "scheduler.job"]
    for s in out:
        if s["name"] == "executor.stage":
            home = [j for j in jobs if j["qid"] == s["qid"] and j["start"] <= s["start"] <= j["end"]]
            if home:
                s["parent"] = min(home, key=lambda j: j["end"] - j["start"])["id"]
    return out


def self_times(spans):
    """Per layer (the span name up to its first '.', or the whole name),
    the sum over its spans of duration minus the part of the span that
    its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = union_length(clipped(children.get(s["id"], []), s["start"], s["end"]))
        layer = s["name"].split(".")[0]
        out[layer] = out.get(layer, 0) + (s["end"] - s["start"]) - covered
    return out
