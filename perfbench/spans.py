"""Span arithmetic for the traced run.

A span is a dict with ``id``, ``parent`` (-1 for a root), ``op``,
``name``, ``start_ms`` and ``end_ms``. Listener events carry their own
``start_ms``/``end_ms``; ``attach`` gives each event the innermost span
whose interval holds the event's start (or its end, for point events).
A span's self time is its duration minus the part of it that its child
spans and timed child events cover.
"""

# event kinds that are intervals of driver or job time; the rest
# (tasks, scan metrics, actions) are counters on the span they fall in
INTERVAL_EVENTS = ("job", "phase", "stream")


def union_ms(intervals, lo, hi):
    """Length of the union of [s, e) intervals clipped to [lo, hi)."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals
                     if min(e, hi) > max(s, lo))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def depth(spans_by_id, span):
    d = 0
    while span["parent"] >= 0:
        span = spans_by_id[span["parent"]]
        d += 1
    return d


def attach(spans, events):
    """Map span id -> list of events that fall inside it (innermost)."""
    by_id = {s["id"]: s for s in spans}
    depths = {s["id"]: depth(by_id, s) for s in spans}
    out = {s["id"]: [] for s in spans}
    for e in events:
        t = e["start_ms"] if e["kind"] in INTERVAL_EVENTS else e["end_ms"]
        inside = [s for s in spans if s["start_ms"] <= t <= s["end_ms"]]
        if inside:
            best = max(inside, key=lambda s: (depths[s["id"]], s["start_ms"]))
            out[best["id"]].append(e)
    return out


def self_times(spans, attached=None):
    """Map span id -> self time in ms."""
    attached = attached or {}
    kids = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] >= 0:
            kids[s["parent"]].append((s["start_ms"], s["end_ms"]))
    for sid, evs in attached.items():
        kids[sid] += [(e["start_ms"], e["end_ms"]) for e in evs
                      if e["kind"] in INTERVAL_EVENTS]
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - union_ms(kids[s["id"]], s["start_ms"], s["end_ms"])
            for s in spans}


def self_by_name(spans, attached=None):
    """Total self time in seconds per span name."""
    st = self_times(spans, attached)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]] / 1000.0
    return out
