"""Derived numbers of the benchmark: percentiles, interval unions, the span
tree with self times, and the metric sets printed by run.py. Pure functions
of the harness's raw record, so they are unit-tested on their own
(tests/test_stats.py)."""
import bisect
import math
import statistics

# Percentiles the tail metric may report, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(n):
    """The highest percentile of the ladder that leaves at least ten of `n`
    samples strictly beyond its rank; None when even the median does not."""
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= 10:
            return p
    return None


def tail(values):
    """(percentile, value) by the rule above. When that is the median, or
    the sample is too small for any percentile, the value is the median as
    `median` computes it, so the tail never reads below the p50 metric."""
    p = tail_percentile(len(values))
    if p is None or p == 50.0:
        return 50.0, median(values)
    return p, percentile(values, p)


def median(values):
    return statistics.median(values) if values else 0.0


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover (overlapping children counted once).
    `spans` is a list of dicts with id, parent, start, end."""
    children = {}
    for s in spans:
        children.setdefault(s.get("parent"), []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids)
    return out


def label_jobs(jobs, plans):
    """Give each job of a micro-batch the layer that started it. A streaming
    job's call site is the query's start, so the action comes from the
    plan listener: the plan whose planning began last before the job did
    (a micro-batch runs its actions one after another). In the sink's batch
    skeleton (SinkBatch.run) `isEmpty` runs the source and the finality
    fold, the first `collect` decides which tables the batch routes to, and
    the inserts and the cursor write follow."""
    starts = sorted((p["start"], p["func"]) for p in plans)
    seen_collect = set()
    for j in sorted(jobs, key=lambda j: j["start"]):
        i = bisect.bisect_right(starts, (j["start"], "\uffff")) - 1
        j["func"] = starts[i][1] if i >= 0 else ""
        if j.get("lane"):
            j["layer"] = "queries"
        elif j["func"] == "isEmpty":
            j["layer"] = "state"
        elif j["func"] == "collect" and j["batch"] not in seen_collect:
            seen_collect.add(j["batch"])
            j["layer"] = "pipeline"
        elif j["func"] in ("collect", "foreachPartition"):
            j["layer"] = "sink"
        else:
            j["layer"] = "streaming"
    return jobs


LAYER_OF_SPAN = {
    "chain.batch": "streaming",
    "streaming.latest_offset": "streaming", "streaming.wal_commit": "streaming",
    "streaming.planning": "streaming", "streaming.commit_offsets": "streaming",
    "sources.fetch": "sources", "sink.write_batch": "sink",
    "queries.lane": "queries",
}

# durationMs phases drawn as child spans of a batch: (phase, span, at end?)
DERIVED_PHASES = (("latestOffset", "streaming.latest_offset", False),
                  ("walCommit", "streaming.wal_commit", False),
                  ("queryPlanning", "streaming.planning", False),
                  ("commitOffsets", "streaming.commit_offsets", True))


def build_tree(traced):
    """The span tree of a traced run, as a flat list of
    {id, parent, name, layer, group, start, end}. Batches come from the
    progress events; write-batch spans from the foreachBatch wrapper;
    fetch spans from the fetcher wrapper; job spans from the scheduler
    listener; lane spans from the lane runner."""
    spans = []

    def add(name, start, end, group, parent=None, layer=None, **attrs):
        s = dict(id=len(spans), parent=parent, name=name, group=str(group),
                 start=float(start), end=float(end),
                 layer=layer or LAYER_OF_SPAN.get(name, "streaming"), **attrs)
        spans.append(s)
        return s

    trace = traced.get("trace", {})
    jobs = sorted(label_jobs(trace.get("jobs", []), trace.get("plans", [])),
                  key=lambda j: j["start"])
    batches = {}
    for p in traced.get("progress", []):
        d = p["duration_ms"]
        if p["rows"] <= 0 or "triggerExecution" not in d:
            continue
        b = add("chain.batch", p["start"], p["start"] + d["triggerExecution"], p["batch"])
        batches[p["batch"]] = b
        t = p["start"]
        for phase, name, at_end in DERIVED_PHASES:
            ms = d.get(phase, 0)
            if at_end:
                add(name, b["end"] - ms, b["end"], p["batch"], b["id"], derived=True)
            else:
                add(name, t, t + ms, p["batch"], b["id"], derived=True)
                t += ms
    writes = {}
    for w in traced.get("write_batches", []):
        parent = batches.get(w["batch"])
        writes[w["batch"]] = add("sink.write_batch", w["start"], w["end"], w["batch"],
                                 parent["id"] if parent else None)
    lanes = {}
    for s in trace.get("spans", []):
        if s["name"] == "queries.lane":
            lanes[s["group"]] = add("queries.lane", s["start"], s["end"], s["group"])
    job_spans = []
    for j in jobs:
        if j.get("lane"):
            parent = lanes.get(j["lane"])
            group = j["lane"]
        else:
            if j.get("batch", "") == "":
                continue
            b = int(j["batch"])
            w, bs = writes.get(b), batches.get(b)
            parent = w if w and w["start"] <= j["start"] <= w["end"] else bs
            group = b
        if parent is None:
            continue
        job_spans.append(add("spark.job", j["start"], j["end"], group, parent["id"],
                             j["layer"], call_site=j["call_site"], action=j["func"]))
    # fetches: inside the batch whose offset range holds their seq, under
    # the job running when they started
    ranges = [(int(p["start_offset"]), int(p["end_offset"]), p["batch"])
              for p in traced.get("progress", [])
              if p["rows"] > 0 and p.get("start_offset") is not None]
    for f in traced.get("fetches", []):
        seq, start, end = int(f[0]), f[2], f[3]
        b = next((bid for lo, hi, bid in ranges if lo <= seq < hi), None)
        if b is None or b not in batches:
            continue
        owner = next((j for j in job_spans if j["group"] == str(b)
                      and j["start"] <= start <= j["end"]), batches[b])
        add("sources.fetch", start, end, b, owner["id"])
    return spans


def layer_self_seconds(spans):
    """Sum of span self times per layer, in seconds."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]] / 1000.0
    return out


def batch_coverage(spans):
    """Per batch: the share of its trigger wall that its direct children
    (the write-batch span and the engine phases) account for."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    out = []
    for s in spans:
        if s["name"] == "chain.batch" and s["end"] > s["start"]:
            kids = [(c["start"], c["end"]) for c in by_parent.get(s["id"], [])]
            out.append(union_length(kids) / (s["end"] - s["start"]))
    return out
