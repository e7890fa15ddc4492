"""Metric arithmetic for the benchmark: percentiles, interval unions and
the per-layer attribution of a traced run's spans, jobs and plannings.

Times are milliseconds on one clock (the JVM's epoch clock)."""
import statistics

LAYERS = ["datagen", "sources", "pipelines", "validate",
          "queries", "operators", "stores"]
LAYER_FIELDS = [("calls", "count"), ("wall_ms", "ms"), ("jobs", "count"),
                ("plan_ms", "ms"), ("exec_ms", "ms"), ("gap_ms", "ms"),
                ("core_util", "ratio"), ("gc_ms", "ms"), ("in_mb", "MB"),
                ("shuffle_mb", "MB"), ("out_mb", "MB"), ("spill_mb", "MB")]
MB = 1048576.0


def tail_percentile(values):
    """The highest percentile that still has at least ten samples above
    it, as (percentile, value); None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    ordered = sorted(values)
    return 100.0 * (n - 10) / n, ordered[n - 11]


def union_ms(intervals, lo, hi):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
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


def gap_ms(start, end, job_intervals):
    """Time in [start, end] during which no job was running."""
    return (end - start) - union_ms(job_intervals, start, end)


def self_ms(span, children):
    """A span's duration minus the part its child spans cover."""
    return (span["end"] - span["start"]) - union_ms(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def core_util(exec_ms, wall_ms, cores):
    """Executor time as a share of the cores' capacity over the wall."""
    return exec_ms / (wall_ms * cores) if wall_ms > 0 else 0.0


def quartile_spread(values):
    """Distance between the first and third quartile over the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def innermost(spans, t):
    """The id of the shortest span that contains time t, or None."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (
                best is None or s["end"] - s["start"] <
                best["end"] - best["start"]):
            best = s
    return best["id"] if best else None


def layer_metrics(spans, jobs, plans, cores, rounds):
    """Per-layer totals per traced round. Each job belongs to the span that
    launched it (or, lacking that tag, the innermost span open when it
    started) and counts toward that span's layer ancestor; a query's
    planning time and parquet scan bytes count toward the innermost span
    open when its planning began. Input is task-read bytes plus those
    parquet scan bytes."""
    by_id = {s["id"]: s for s in spans}

    def layer_of(span_id):
        while span_id is not None and span_id >= 0:
            s = by_id[span_id]
            if s["name"] in LAYERS:
                return s["name"]
            span_id = s["parent"]
        return None

    acc = {l: {f: 0.0 for f, _ in LAYER_FIELDS} for l in LAYERS}
    intervals = {}
    for j in jobs:
        sid = j["span"] if j["span"] >= 0 else innermost(spans, j["start"])
        layer = layer_of(sid)
        if layer is None:
            continue
        a = acc[layer]
        a["jobs"] += 1
        a["exec_ms"] += j["exec_ms"]
        a["in_mb"] += j["in_bytes"] / MB
        a["shuffle_mb"] += j["shuffle_bytes"] / MB
        a["out_mb"] += j["out_bytes"] / MB
        a["spill_mb"] += j["spill_bytes"] / MB
        end = j["end"] if j["end"] is not None else j["start"]
        intervals.setdefault(layer, []).append((j["start"], end))
    for p in plans:
        layer = layer_of(innermost(spans, p["start"]))
        if layer is not None:
            acc[layer]["plan_ms"] += p["plan_ms"]
            acc[layer]["in_mb"] += p["parquet_bytes"] / MB
    for s in spans:
        if s["name"] in LAYERS:
            a = acc[s["name"]]
            a["calls"] += 1
            a["wall_ms"] += s["end"] - s["start"]
            a["gc_ms"] += s["gc_ms"]
            a["gap_ms"] += gap_ms(s["start"], s["end"],
                                  intervals.get(s["name"], []))
    for a in acc.values():
        a["core_util"] = core_util(a["exec_ms"], a["wall_ms"], cores)
        for f, _ in LAYER_FIELDS:
            if f != "core_util":
                a[f] /= max(rounds, 1)
    return acc


def span_coverage(spans):
    """The lowest share, over op spans, of the op's wall covered by its
    layer spans."""
    ops = [s for s in spans if s["parent"] < 0]
    shares = []
    for op in ops:
        kids = [s for s in spans if s["parent"] == op["id"]]
        wall = op["end"] - op["start"]
        shares.append(1.0 - self_ms(op, kids) / wall if wall > 0 else 1.0)
    return min(shares) if shares else 0.0
