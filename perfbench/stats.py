"""The benchmark's own arithmetic: percentiles, span self times, open-loop
latency attribution, backlog drain and backlog growth. Pure functions over the raw
result a run writes; tests/test_stats.py covers each."""
import bisect
import math


def percentile(values, q):
    """Linear-interpolated q-th percentile (0-100) and the sample count it
    rests on. An empty sample gives (nan, 0)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return math.nan, 0
    pos = (n - 1) * q / 100.0
    lo = int(math.floor(pos))
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def median(values):
    return percentile(values, 50)[0]


def layer_of(name):
    return name.split(":", 1)[0]


# Spans the harness measures from Spark's own events: they never contain
# other spans, and get their parent by time containment.
LEAF_LAYERS = ("catalyst", "exec")


def _covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0, lo
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def assign_parents(spans):
    """spans: [id, name, start, end, parent, op]. Spans without a parent
    (parent -1) that came from Spark's listeners get the shortest
    non-leaf span that contains them. Returns {id: parent id or -1}."""
    containers = sorted((s for s in spans if layer_of(s[1]) not in LEAF_LAYERS),
                        key=lambda s: s[3] - s[2])
    parents = {}
    for s in spans:
        pid = s[4]
        if pid == -1 and layer_of(s[1]) in LEAF_LAYERS + ("streaming.ConsumerPipeline",):
            for c in containers:
                if c[0] != s[0] and c[2] <= s[2] and s[3] <= c[3] \
                        and layer_of(c[1]) != layer_of(s[1]):
                    pid = c[0]
                    break
        parents[s[0]] = pid
    return parents


def self_times_ms(spans):
    """Per-layer self time: each span's duration minus the part of it its
    children cover, summed by layer (the name before ':')."""
    parents = assign_parents(spans)
    children = {}
    for s in spans:
        children.setdefault(parents[s[0]], []).append((s[2], s[3]))
    out = {}
    for s in spans:
        own = (s[3] - s[2]) - _covered(children.get(s[0], []), s[2], s[3])
        out[layer_of(s[1])] = out.get(layer_of(s[1]), 0.0) + own / 1e6
    return out


def attribute_latency(events, batches):
    """Open-loop latency per event: from its scheduled append time to the
    end of the first micro-batch whose end offset in the event's partition
    reaches the event's end byte.

    events: [(scheduled_ms, partition, end_offset)]
    batches: [{"end_ms": t, "end_offsets": {"<p>": offset}}] in batch order
    Returns a list parallel to `events`; None where no batch covered it."""
    per_part = {}
    for b in batches:
        for p, off in b["end_offsets"].items():
            offs, ends = per_part.setdefault(int(p), ([], []))
            # end offsets never go back; keep the running max so bisect holds
            offs.append(max(off, offs[-1]) if offs else off)
            ends.append(b["end_ms"])
    out = []
    for sched, p, end in events:
        offs, ends = per_part.get(int(p), ([], []))
        i = bisect.bisect_left(offs, end)
        out.append(ends[i] - sched if i < len(offs) else None)
    return out


def pending_bytes(batch):
    """Bytes available but not yet taken when the batch was planned."""
    latest, end = batch.get("latest_offsets", {}), batch["end_offsets"]
    return sum(max(0, latest[p] - end.get(p, 0)) for p in latest)


def backlog_grew(batches, live_start_ms, live_end_ms, floor_bytes):
    """Whether the consumer fell behind during the live phase: the median
    pending backlog of the second half of the phase is more than twice that
    of the first half and above `floor_bytes` (noise of a steady state)."""
    mid = (live_start_ms + live_end_ms) / 2.0
    first = [pending_bytes(b) for b in batches if live_start_ms <= b["start_ms"] < mid]
    second = [pending_bytes(b) for b in batches if mid <= b["start_ms"] <= live_end_ms]
    if not first or not second:
        return False
    late = median(second)
    return late > floor_bytes and late > 2 * median(first)


def topic_summary(t):
    """Drain and latency figures of a topic_consume result (its "topic"
    part). The drain runs from the start of the first micro-batch, so query
    start-up is left out, to the end of the first batch whose end offsets
    cover the whole backlog. If no batch covers it, "drained" is False and
    the drain figures are 0."""
    batches = sorted(t["batches"], key=lambda b: b["batch_id"])
    ends = {str(p): o for p, o in t["backlog_ends"].items() if o > 0}
    done = next((b for b in batches
                 if all(b["end_offsets"].get(p, 0) >= o for p, o in ends.items())), None)
    drain_s = (done["end_ms"] - batches[0]["start_ms"]) / 1000.0 if done else 0.0
    events = t["events"]
    lat = attribute_latency(events, batches)
    live_end = events[-1][0] if events else t["live_start_ms"]
    bytes_per_event = t["backlog_bytes"] / max(1, t["backlog_events"])
    grew = backlog_grew(batches, t["live_start_ms"], live_end,
                        floor_bytes=bytes_per_event * t["rate_eps"] * 0.5)
    return {"drained": done is not None, "drain_s": drain_s,
            "drain_eps": t["backlog_events"] / drain_s if drain_s > 0 else 0.0,
            "latencies": lat, "uncovered": sum(1 for x in lat if x is None),
            "grew": grew, "batches": batches}
