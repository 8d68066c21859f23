"""Arithmetic behind the benchmark's metrics, free of I/O so it can be tested.

Span and job records come from the JVM side (`src/perfbench/Tracer.scala`):
spans are dicts with `name`, `parent`, `start_ms`, `end_ms`, `counters`; jobs
are dicts with `start_ms`, `end_ms`, `tasks`, `input_bytes`, `shuffle_bytes`,
`spill_bytes`. Times are epoch milliseconds.
"""
import math

MB = 1024 * 1024

# Stage spans, in Pipeline.run's order, then the serving spans.
STAGES = ["streaming.drain", "ingest.load", "quality.dq", "models.define",
          "quality.tests"]
SERVE = ["serve.publish", "serve.refresh"]
VIEWS = ["carrier_performance", "active_shipments", "weight_distribution",
         "events_by_status", "headline_kpis", "ingestion_trend", "dq_issues",
         "recent_raw"]
QUERIES = ["serve.query." + v for v in VIEWS]

SPAN_COUNTERS = [("wall_s", "s", "lower"), ("self_s", "s", "lower"),
                 ("jobs", "count", "lower"), ("tasks", "count", "lower"),
                 ("input_mb", "MB", "lower"), ("shuffle_mb", "MB", "lower"),
                 ("spill_mb", "MB", "lower"), ("driver_s", "s", "lower")]
# A query span has no children, so its self time is its wall time; nor does
# any of the eight views spill at these sizes. Both are left out to stay
# within the per-layer metric budget.
QUERY_COUNTERS = [c for c in SPAN_COUNTERS if c[0] not in ("self_s", "spill_mb")]
EXTRA_COUNTERS = [
    ("streaming.drain.batches", "count", "lower"),
    ("streaming.drain.rows", "count", "higher"),
    ("ingest.load.rows_read", "count", "lower"),
    ("ingest.load.rows_loaded", "count", "higher"),
    ("ingest.load.yield", "ratio", "higher"),
    ("quality.tests.count", "count", "higher"),
    ("quality.tests.failed", "count", "lower"),
] + [(q + ".wire_ms", "ms", "lower") for q in QUERIES] + [
    ("pipeline.uncovered_s", "s", "lower"),
    ("pipeline.trace_overhead_s", "s", "lower"),
]


def layer_catalogue():
    """Every per-layer metric as (name, unit, better), in report order."""
    out = []
    for s in STAGES + SERVE:
        out += [(f"{s}.{c}", u, b) for c, u, b in SPAN_COUNTERS]
    for q in QUERIES:
        out += [(f"{q}.{c}", u, b) for c, u, b in QUERY_COUNTERS]
    return out + EXTRA_COUNTERS


def tail_percentile(n, beyond=10):
    """The highest percentile that has at least `beyond` of `n` samples above
    it, or None when no percentile has. Under the nearest-rank rule the p-th
    percentile is sample ceil(p/100 * n) of the sorted n, which leaves
    n - ceil(p/100 * n) samples beyond it."""
    if n <= beyond:
        return None
    return 100.0 * (n - beyond) / n


def percentile(values, p):
    """Nearest-rank percentile, p in (0, 100]."""
    s = sorted(values)
    return s[max(1, math.ceil(p / 100.0 * len(s))) - 1]


def tail(values, beyond=10):
    """(percentile, value) at the highest percentile the sample supports."""
    p = tail_percentile(len(values), beyond)
    return None if p is None else (p, percentile(values, p))


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _clipped(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals]


def self_ms(span, children):
    """A span's duration minus the part of it its child spans cover."""
    lo, hi = span["start_ms"], span["end_ms"]
    kids = [(c["start_ms"], c["end_ms"]) for c in children]
    return (hi - lo) - union_length(_clipped(kids, lo, hi))


def driver_ms(span, jobs):
    """Span time during which no Spark job was running: planning, scheduling
    and any other driver-side work."""
    lo, hi = span["start_ms"], span["end_ms"]
    ivs = [(j["start_ms"], j["end_ms"]) for j in jobs]
    return (hi - lo) - union_length(_clipped(ivs, lo, hi))


def jobs_started_in(span, jobs):
    """Jobs whose start falls inside the span. Job times are whole epoch
    milliseconds, so the span's start is floored to match."""
    lo, hi = math.floor(span["start_ms"]), span["end_ms"]
    return [j for j in jobs if lo <= j["start_ms"] < hi]


def span_counters(spans, jobs):
    """Per span name: wall, self and driver time plus the work of the jobs it
    started (children's jobs included), merged with the span's own counters."""
    out = {}
    for s in spans:
        children = [c for c in spans if c["parent"] == s["name"]]
        mine = jobs_started_in(s, jobs)
        row = {
            "wall_s": (s["end_ms"] - s["start_ms"]) / 1e3,
            "self_s": self_ms(s, children) / 1e3,
            "jobs": len(mine),
            "tasks": sum(j["tasks"] for j in mine),
            "input_mb": sum(j["input_bytes"] for j in mine) / MB,
            "shuffle_mb": sum(j["shuffle_bytes"] for j in mine) / MB,
            "spill_mb": sum(j["spill_bytes"] for j in mine) / MB,
            "driver_s": driver_ms(s, jobs) / 1e3,
        }
        row.update(s.get("counters") or {})
        out[s["name"]] = row
    return out
