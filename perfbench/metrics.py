"""Metric math over the raw samples and spans the harness writes.

Every time is in seconds unless the name says otherwise. Per-layer totals
are per traced pass (the mean over the traced passes of one run), so the
layer self times of a pass add up to about its `wall_s`. Every ratio is
returned with its numerator and base (see `Ratio`).
"""
import math
import statistics
from bisect import bisect_right
from collections import defaultdict, namedtuple

# -- percentiles --------------------------------------------------------------

MIN_BEYOND = 10


def percentile(values, q):
    """q-quantile by linear interpolation between closest ranks (the
    'inclusive' rule of statistics.quantiles and numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n, q):
    """How many of n samples lie strictly above the q-quantile's rank."""
    return n - 1 - math.floor(q * (n - 1))


def supported(n, q):
    """A percentile is stated as measured only when at least MIN_BEYOND
    samples lie beyond it; otherwise it rests on a handful of samples."""
    return beyond(n, q) >= MIN_BEYOND


# -- ratios -------------------------------------------------------------------

Ratio = namedtuple("Ratio", "value num base")


def ratio(num, base):
    """num / base, 0 when nothing was attempted (base 0)."""
    return Ratio(num / base if base else 0.0, num, base)


# -- spans --------------------------------------------------------------------

RANK = {"query": 0, "driver": 1, "batch": 2, "streaming": 3, "catalyst": 3,
        "job": 4, "stage": 5}


def rank(span):
    if span["layer"] == "exec":
        return RANK["job"] if span["name"].startswith("job") else RANK["stage"]
    if span["layer"] == "streaming" and span["name"] == "batch":
        return RANK["batch"]
    return RANK[span["layer"]]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
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


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span["start_ms"], span["end_ms"]
    clipped = [(max(s, c["start_ms"]), min(e, c["end_ms"])) for c in children]
    return (e - s) - union_length(clipped)


def layer_self_times(spans):
    """Seconds of self time per layer over one query's spans.

    Each instant goes to the innermost span open at that instant: highest
    rank, then shortest. For properly nested spans that is exactly each
    span's `self_time`; where children overlap each other or stick out of
    their parent (listener spans, batch phases laid out from durations) it
    still splits the query's wall time once, never counting an instant
    twice."""
    cuts = sorted({t for sp in spans for t in (sp["start_ms"], sp["end_ms"])})
    out = defaultdict(float)
    for lo, hi in zip(cuts, cuts[1:]):
        open_ = [sp for sp in spans if sp["start_ms"] <= lo and hi <= sp["end_ms"]]
        if not open_:
            continue
        inner = max(open_, key=lambda sp: (rank(sp), sp["start_ms"] - sp["end_ms"]))
        layer = "bench" if inner["layer"] == "query" else inner["layer"]
        out[layer] += (hi - lo) / 1e3
    return dict(out)


STREAM_PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning",
                 "addBatch", "commitOffsets"]


def batch_spans(batch):
    """A micro-batch span plus its `durationMs` phases, laid out one after
    another from the trigger start in MicroBatchExecution's order (progress
    reports durations only)."""
    d = batch["duration_ms"]
    start = batch["start_ms"]
    out = [{"layer": "streaming", "name": "batch", "start_ms": start,
            "end_ms": start + d.get("triggerExecution", 0.0)}]
    t = start
    for ph in STREAM_PHASES:
        if d.get(ph):
            out.append({"layer": "streaming", "name": ph, "start_ms": t,
                        "end_ms": t + d[ph]})
            t += d[ph]
    return out


def assign(queries, items, key="start_ms"):
    """Group items by the query span that holds their start time."""
    starts = [q["start_ms"] for q in queries]
    out = defaultdict(list)
    for it in items:
        i = bisect_right(starts, it[key]) - 1
        if i >= 0 and it[key] <= queries[i]["end_ms"]:
            out[i].append(it)
    return out


# -- end-to-end ---------------------------------------------------------------

def samples(passes):
    return [s for p in passes for s in p["samples"]]


def end_to_end(res):
    """The tracing-off metrics of one run. query_p90_s and the retained heap
    are kept in the run record only: a run has too few samples for a p90
    (see `supported`), and the heap depends on what the program's
    process-wide memos keep."""
    ok = [s["s"] for s in samples(res["passes"]) if s["ok"]]
    return {
        "setup_s": statistics.median(res["setup_rounds_s"]),
        "wall_s": statistics.median(p["wall_s"] for p in res["passes"]),
        "query_p50_s": percentile(ok, 0.5),
        "query_p90_s": percentile(ok, 0.9),
        "retained_heap_mib": res["retained_heap_mib"],
    }


def sample_stats(res):
    ok = [s["s"] for s in samples(res["passes"]) if s["ok"]]
    return {"samples": len(ok), "passes": len(res["passes"]),
            "p50_supported": supported(len(ok), 0.5),
            "p90_supported": supported(len(ok), 0.9)}


# -- per layer ----------------------------------------------------------------

def per_layer(res):
    """Per-layer metrics and the per-query layer split of a traced run."""
    tr = res["trace"]
    passes = res["traced_passes"]
    n_pass = len(passes)
    n_query = sum(len(p["samples"]) for p in passes)
    spans = tr["spans"]
    queries = sorted((s for s in spans if s["layer"] == "query"),
                     key=lambda s: s["start_ms"])
    jobs = [s for s in spans if s["layer"] == "exec" and s["name"].startswith("job")]
    batches = tr["batches"]
    bspans = [s for b in batches for s in batch_spans(b)]
    harness = defaultdict(list)
    for s in spans:
        if s["layer"] in ("driver", "catalyst") and s.get("query_id") is not None:
            harness[s["query_id"]].append(s)
    # catalyst phases recorded from listener trackers carry no query id
    loose = assign(queries, [s for s in spans if s["layer"] == "catalyst"
                             and s.get("query_id") is None])
    listener = assign(queries, [s for s in spans if s["layer"] == "exec"] + bspans)

    split, driver_self = [], 0.0
    for i, q in enumerate(queries):
        own = [dict(s, start_ms=max(s["start_ms"], q["start_ms"]),
                    end_ms=min(s["end_ms"], q["end_ms"]))
               for s in [q] + harness.get(q["query_id"], []) + loose[i] + listener[i]]
        split.append({"query": q["name"], "wall_s": (q["end_ms"] - q["start_ms"]) / 1e3,
                      "self_s": layer_self_times(own)})
        busy = [(max(q["start_ms"], s["start_ms"]), min(q["end_ms"], s["end_ms"]))
                for s in listener[i] if s["name"].startswith("job") or s["name"] == "batch"]
        driver_self += (q["end_ms"] - q["start_ms"] - union_length(busy)) / 1e3

    def per_pass(x):
        return x / n_pass if n_pass else 0.0

    def layer_total(layer):
        return per_pass(sum(q["self_s"].get(layer, 0.0) for q in split))

    entry = [s for s in spans if s["layer"] == "driver" and s["name"] == "entry"]
    phases = defaultdict(float)
    for s in spans:
        if s["layer"] == "catalyst":
            phases[s["name"]] += (s["end_ms"] - s["start_ms"]) / 1e3
    rules = tr["rules"]
    st = tr["stages"]
    skews = [max(s["task_ms"]) / statistics.median(s["task_ms"])
             for s in st if len(s["task_ms"]) >= 2 and statistics.median(s["task_ms"]) > 0]
    trig = [b["duration_ms"].get("triggerExecution", 0.0) for b in batches]
    dsum = defaultdict(float)
    for b in batches:
        for k, v in b["duration_ms"].items():
            dsum[k] += v / 1e3
    # state size: per (stream run, operator) its peak over batches, summed
    peak, state_sum = defaultdict(lambda: defaultdict(float)), defaultdict(float)
    for b in batches:
        for k, op in enumerate(b["state"]):
            for f in ("rows_total", "memory_bytes"):
                peak[(b["run_id"], k)][f] = max(peak[(b["run_id"], k)][f], op[f])
            for f in ("rows_updated", "rows_removed", "update_ms", "commit_ms",
                      "cache_hits", "cache_misses"):
                state_sum[f] += op[f]
    stream_wall = 0.0
    starts = {s["run_id"]: s["start_ms"] for s in tr["stream_starts"]}
    ends = defaultdict(float)
    for b in batches:
        ends[b["run_id"]] = max(ends[b["run_id"]],
                                b["start_ms"] + b["duration_ms"].get("triggerExecution", 0.0))
    first = {}
    for b in batches:
        first[b["run_id"]] = min(first.get(b["run_id"], math.inf), b["start_ms"])
    for run, end in ends.items():
        stream_wall += (end - starts.get(run, first[run])) / 1e3
    stream_start = sum((first[r] - starts[r]) / 1e3 for r in first if r in starts)
    input_rows = sum(b["input_rows"] for b in batches)

    par = statistics.median(p["wall_s"] for p in res["passes"])
    serial = statistics.median(p["wall_s"] for p in res["serial_passes"])
    ratios = {
        "driver.jobs_per_query": ratio(len(jobs), n_query),
        "catalyst.rule_effective_ratio": ratio(sum(r["effective"] for r in rules),
                                               sum(r["invocations"] for r in rules)),
        "exec.parallel_speedup": ratio(serial, par),
        "streaming.data_batch_ratio": ratio(sum(1 for b in batches if b["input_rows"] > 0),
                                            len(batches)),
        "state.cache_hit_ratio": ratio(state_sum["cache_hits"],
                                       state_sum["cache_hits"] + state_sum["cache_misses"]),
        "streaming.events_per_s": ratio(input_rows, stream_wall),
    }
    m = {
        "driver.build_s": per_pass(sum(s["end_ms"] - s["start_ms"] for s in entry) / 1e3),
        "driver.self_s": per_pass(driver_self),
        "driver.retained_heap_mib": res["retained_heap_mib"],
        "fixtures.ensure_s": statistics.median(res["ensure_rounds_s"]),
        "catalyst.analysis_s": per_pass(phases["analysis"]),
        "catalyst.optimization_s": per_pass(phases["optimization"]),
        "catalyst.planning_s": per_pass(phases["planning"]),
        "catalyst.self_s": layer_total("catalyst"),
        "exec.self_s": layer_total("exec"),
        "streaming.self_s": layer_total("streaming"),
        "exec.jobs": per_pass(len(jobs)),
        "exec.stages": per_pass(len(st)),
        "exec.tasks": per_pass(sum(s["tasks"] for s in st)),
        "exec.task_s": per_pass(sum(sum(s["task_ms"]) for s in st) / 1e3),
        "exec.cpu_s": per_pass(sum(s["cpu_ns"] for s in st) / 1e9),
        "exec.gc_s": per_pass(sum(s["gc_ms"] for s in st) / 1e3),
        "exec.sched_delay_s": per_pass(sum(s["sched_delay_ms"] for s in st) / 1e3),
        "exec.skew": statistics.median(skews) if skews else 1.0,
        "exec.input_rows": per_pass(sum(s["input_rows"] for s in st)),
        "exec.spill_bytes": per_pass(sum(s["spill_bytes"] for s in st)),
        "exec.peak_mem_bytes": max((s["peak_mem_bytes"] for s in st), default=0.0),
        "exec.task_failures": per_pass(sum(s["task_failures"] for s in st)),
        "shuffle.write_bytes": per_pass(sum(s["shuffle_write_bytes"] for s in st)),
        "shuffle.read_bytes": per_pass(sum(s["shuffle_read_bytes"] for s in st)),
        "shuffle.write_s": per_pass(sum(s["shuffle_write_ns"] for s in st) / 1e9),
        "shuffle.fetch_wait_s": per_pass(sum(s["fetch_wait_ms"] for s in st) / 1e3),
        "streaming.batches": per_pass(len(batches)),
        "streaming.batch_p50_ms": percentile(trig, 0.5) if trig else 0.0,
        "streaming.batch_p90_ms": percentile(trig, 0.9) if trig else 0.0,
        "streaming.start_s": per_pass(stream_start),
        "streaming.latest_offset_s": per_pass(dsum["latestOffset"]),
        "streaming.query_planning_s": per_pass(dsum["queryPlanning"]),
        "streaming.add_batch_s": per_pass(dsum["addBatch"]),
        "streaming.wal_commit_s": per_pass(dsum["walCommit"]),
        "streaming.commit_offsets_s": per_pass(dsum["commitOffsets"]),
        "state.rows_total": per_pass(sum(op["rows_total"] for op in peak.values())),
        "state.memory_bytes": per_pass(sum(op["memory_bytes"] for op in peak.values())),
        "state.rows_updated": per_pass(state_sum["rows_updated"]),
        "state.rows_removed": per_pass(state_sum["rows_removed"]),
        "state.update_s": per_pass(state_sum["update_ms"] / 1e3),
        "state.commit_s": per_pass(state_sum["commit_ms"] / 1e3),
        "trace.overhead_s": statistics.median(p["wall_s"] for p in passes) - par,
    }
    m.update({k: r.value for k, r in ratios.items()})
    bases = {k: {"num": r.num, "base": r.base} for k, r in ratios.items()}
    bases["exec.skew"] = {"stages_with_2plus_tasks": len(skews)}
    return m, bases, split
