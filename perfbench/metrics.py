"""Pure summary arithmetic for the benchmark: percentiles, interval
unions, span self time, job attribution and the per-layer roll-ups.

Times are nanoseconds unless a name ends in `_s`."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, pct=90, beyond=10):
    """The `pct`-th percentile (nearest rank) if at least `beyond`
    samples lie above it, else the highest rank that leaves `beyond`
    above. Returns (value, percentile actually used, samples beyond, n).
    With `beyond` or fewer samples there is no such rank: the maximum is
    returned with 0 beyond."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return (s[-1] if s else 0.0), 100.0, 0, n
    idx = min(max(math.ceil(pct / 100 * n) - 1, 0), n - 1 - beyond)
    return s[idx], 100.0 * (idx + 1) / n, n - 1 - idx, n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by [start, end) intervals, clipped to [lo, hi]."""
    segs = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            segs.append((a, b))
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted(segs):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    return {s["id"]: (s["end_ns"] - s["start_ns"]) -
            union_length(kids.get(s["id"], []), s["start_ns"], s["end_ns"])
            for s in spans}


def self_time_by_name(spans):
    """Span name -> summed self time in seconds."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]] / 1e9
    return out


def attribute(jobs, spans):
    """Job id -> span id. A job carries the span that was open on the
    thread that submitted it; a job without one belongs to the innermost
    span whose interval contains its start (or to none: -1)."""
    ids = {s["id"] for s in spans}
    out = {}
    for j in jobs:
        if j["span"] in ids:
            out[j["job"]] = j["span"]
            continue
        inner = [s for s in spans if s["start_ns"] <= j["start_ns"] <= s["end_ns"]]
        out[j["job"]] = (min(inner, key=lambda s: s["end_ns"] - s["start_ns"])["id"]
                         if inner else -1)
    return out


def core_idle_frac(run_s, wall_s, cores):
    """1 - busy core time / available core time over `wall_s`."""
    return 1.0 - run_s / (wall_s * cores) if wall_s > 0 and cores > 0 else 0.0


def driver_gap_ns(span, jobs):
    """Time inside `span` during which none of `jobs` was running."""
    return (span["end_ns"] - span["start_ns"]) - union_length(
        [(j["start_ns"], j["end_ns"]) for j in jobs], span["start_ns"], span["end_ns"])


MEMO_GROUPS = ["dedup", "similarity", "text"]

# Which end-to-end metric each layer's numbers should move, and where.
LAYER_MOVES = {
    "operators": "query_s.p50, session_s on corpus_sf01; small on rel_x10",
    "plans": "query_s.p50 on corpus_sf01; the census moves session_s on rel_x10",
    "exec": "cpu_s and shuffle: session_s, query_s.tail on rel_x10; "
            "core_idle_frac, driver_gap_s: query_s.p50 on corpus_sf01",
    "sources": "session_s on rel_x10",
    "functions": "memo_build_s, setup_s, memo_storage_mb on corpus_sf01; zero elsewhere",
    "pipeline": "records_per_s on dataflow; zero elsewhere",
    "spans": "self time per span: where session_s and setup_s go",
    "trace": "traced minus untraced time of the same invocations, in one JVM",
}
SPAN_NAMES = ["setup", "warmup", "settle", "invocation", "construct", "action", "count"]
CENSUS = ["exchanges", "scans", "bhj", "smj", "windows", "inmem_scans", "codegen_fallbacks"]


def trace_overhead(invocations):
    """Tracing overhead in seconds: each traced invocation (its count()
    excluded) minus the same invocation run untraced next to it in the
    same JVM, summed over the invocations where both succeeded."""
    return sum(i["invocation_s"] - i.get("count_s", 0.0) - i["untraced_s"]
               for i in invocations if i["ok"] and i.get("untraced_s", -1.0) >= 0)


def per_layer(invocations, run, spans, jobs):
    """Per-layer metrics of one traced run (see BENCHMARK.json)."""
    by_id = {s["id"]: s for s in spans}
    owner = attribute(jobs, spans)
    in_span = {}
    for j in jobs:
        in_span.setdefault(owner[j["job"]], []).append(j)

    def named(name):
        return [s for s in spans if s["name"] == name]

    def jobs_of(ss):
        return [j for s in ss for j in in_span.get(s["id"], [])]

    def total(js, key):
        return sum(j[key] for j in js)

    construct, action, count = named("construct"), named("action"), named("count")
    memo = [s for s in spans if s["name"].startswith("memo.")]
    eager, act = jobs_of(construct), jobs_of(action)
    inv_jobs = eager + act
    cores = run["cores"]
    action_s = sum(s["end_ns"] - s["start_ns"] for s in action) / 1e9
    run_s = total(act, "run_ms") / 1e3
    rows_out = sum(i.get("rows", 0) for i in invocations if i["ok"])
    m = {
        "operators.construct_s": sum(s["end_ns"] - s["start_ns"] for s in construct) / 1e9,
        "operators.eager_jobs": len(eager),
        "operators.eager_job_s": sum(union_length([(j["start_ns"], j["end_ns"]) for j in
                                                    in_span.get(s["id"], [])])
                                     for s in construct) / 1e9,
        "plans.optimize_s": sum(i.get("optimize_s", 0.0) for i in invocations),
        "plans.planning_s": sum(i.get("planning_s", 0.0) for i in invocations),
        "exec.jobs": len(act),
        "exec.stages": total(act, "stages"),
        "exec.tasks": total(act, "tasks"),
        "exec.run_s": run_s,
        "exec.cpu_s": total(act, "cpu_ns") / 1e9,
        "exec.gc_s": total(act, "gc_ms") / 1e3,
        "exec.core_idle_frac": core_idle_frac(run_s, action_s, cores),
        "exec.driver_gap_s": sum(driver_gap_ns(s, in_span.get(s["id"], [])) for s in action) / 1e9,
        "exec.shuffle_read_bytes": total(act, "shuffle_read_bytes"),
        "exec.shuffle_write_bytes": total(act, "shuffle_write_bytes"),
        "exec.spill_bytes": total(act, "spill_bytes"),
        "exec.failed_tasks": total(act, "failed_tasks"),
        "exec.count_s": sum(s["end_ns"] - s["start_ns"] for s in count) / 1e9,
        "sources.input_bytes": total(inv_jobs, "input_bytes"),
        "sources.input_records": total(inv_jobs, "input_records"),
        "sources.rows_per_output_row": (total(inv_jobs, "input_records") / rows_out
                                        if rows_out else 0.0),
        "functions.memo_jobs": len(jobs_of(memo)),
        "functions.memo_storage_bytes": run["memo_storage_bytes"],
    }
    for c in CENSUS:
        m[f"plans.{c}"] = sum(i.get("census", {}).get(c, 0) for i in invocations)
    for g in MEMO_GROUPS:
        m[f"functions.memo_build_s.{g}"] = run["memo_build_s"].get(g, 0.0)
    # Layer A: records through the pipeline and lane balance of the routed shape
    flow = [i for i in invocations if "records_in" in i and i["ok"]]
    skews = []
    for s in action:
        inv = by_id[s["parent"]]["inv"] if s["parent"] in by_id else -1
        if any(i["inv"] == inv and "routed" in i["cell"] for i in flow):
            for j in in_span.get(s["id"], []):
                for lanes, total_rec, mx in j["lanes"]:
                    if lanes > 1 and total_rec:
                        skews.append(mx / (total_rec / lanes))
    m["pipeline.records_in"] = sum(i.get("records_in", 0) for i in flow)
    m["pipeline.records_out"] = sum(i.get("rows", 0) for i in flow)
    m["pipeline.lane_skew"] = median(skews)
    m["pipeline.shuffle_bytes"] = total(act, "shuffle_write_bytes") if flow else 0
    return m
