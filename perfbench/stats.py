"""Arithmetic of the benchmark: the median, job-timeline measures and span
self time. Pure functions of plain numbers, covered by test_stats.py."""


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no values")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of (start, end) intervals."""
    parts = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in parts:
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


def driver_gap(start, end, jobs):
    """Time in [start, end] during which no job was running."""
    return (end - start) - covered(jobs, start, end)


def occupancy(task_time, wall, slots):
    """Share of the slots' time spent running tasks."""
    return task_time / (wall * slots) if wall > 0 else 0.0


def self_times(spans):
    """Span id -> its duration minus the part of it its children cover.
    `spans` are dicts with id, parent, start and end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def descendants(spans, root):
    """Ids of `root` and every span below it."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), [root]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(kids.get(i, []))
    return out


def children_tile(spans, parent, tol):
    """True when the children of `parent` lie inside it without overlapping
    (to `tol`), so that children plus gaps account for its whole wall."""
    p = next(s for s in spans if s["id"] == parent)
    kids = sorted((s["start"], s["end"]) for s in spans if s["parent"] == parent)
    prev = p["start"]
    for s, e in kids:
        if s < prev - tol or e > p["end"] + tol or e < s:
            return False
        prev = e
    return True
