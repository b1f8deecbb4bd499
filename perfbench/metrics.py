"""Reduce one run record (written by graft.perfbench.Main) to metrics.

Pure arithmetic, no I/O: run.py feeds it the parsed record and prints what
comes back. The rules it implements are the benchmark's definitions:

* a timing is reported as its median and its tail, the highest percentile
  that still has at least ten samples beyond it, with the sample count;
* a call's in-job time is the union of its jobs' run intervals inside the
  call, and its driver time is the rest of its wall (analysis, planning,
  commit);
* a call leaks when more persisted RDDs are live after it than before.
"""

import statistics

# Calls in one cycle of each workload's schedule, by kind, and the kind
# whose latency users wait on. A vector_store cycle is one pass: two batch
# commits, each followed by three searches, then a compaction.
CYCLES = {
    "ap_n200_dense": {"solve": 1},
    "vector_store": {"batch": 2, "search": 6, "compact": 1},
}
OP_KIND = {"ap_n200_dense": "solve", "vector_store": "search"}

TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else None


def tail(values):
    """(value, percentile, n) for the highest percentile that has at least
    TAIL_BEYOND samples beyond it, or None when there are too few samples.

    Sorted samples x[0..n-1]: x[k] has n-1-k samples beyond it, so the
    tail is x[n-1-TAIL_BEYOND], the (k+1)/n quantile."""
    xs = sorted(values)
    n = len(xs)
    k = n - 1 - TAIL_BEYOND
    if k < 0:
        return None
    return xs[k], 100.0 * (k + 1) / n, n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, each clipped to
    [lo, hi] when given; overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def leak_delta(calls):
    """(net persisted-RDD growth over the calls, id of the call that grew
    it most or None)."""
    deltas = [(c["rdds_after"] - c["rdds_before"], c["id"]) for c in calls]
    total = sum(d for d, _ in deltas)
    worst = max(deltas, default=(0, None))
    return total, (worst[1] if worst[0] > 0 else None)


def spark_layer(record):
    """Per traced call id: jobs, stages, tasks, shuffle/output bytes,
    in-job and driver seconds."""
    out = {}
    for c in record["calls"]:
        if not c["traced"]:
            continue
        jobs = [j for j in record["jobs"] if j["group"] == c["id"]]
        stages = [s for s in record["stages"] if s["group"] == c["id"]]
        in_job = union_length([(j["start_ms"], j["end_ms"]) for j in jobs],
                              c["start_ms"], c["end_ms"]) / 1000.0
        out[c["id"]] = {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["tasks"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
            "output_bytes": sum(s["output_bytes"] for s in stages),
            "in_job_s": in_job,
            "driver_s": max(0.0, c["wall_s"] - in_job),
        }
    return out


def _by_kind(calls, kind):
    return [c for c in calls if c["kind"] == kind]


def _med(calls, f):
    vals = [f(c) for c in calls]
    return median(vals) if vals else 0.0


def end_to_end(record):
    """The result line's end-to-end metrics: set-up, one schedule cycle
    (sum over its calls of each kind's median wall) and the median of the
    latency-critical call. Raises ValueError when a kind has no sample."""
    w = record["workload"]
    calls = record["calls"]
    cycle = 0.0
    for kind, n in CYCLES[w].items():
        walls = [c["wall_s"] for c in _by_kind(calls, kind)]
        if not walls:
            raise ValueError(f"no timed {kind} call within the run")
        cycle += n * median(walls)
    return {
        "setup_s": (median(record["setup_s"]), "s"),
        "cycle_s": (cycle, "s"),
        "op_s.p50": (median([c["wall_s"] for c in _by_kind(calls, OP_KIND[w])]), "s"),
    }


def detail(record):
    """Every end-to-end figure of the workload, by name: (value, unit,
    sample count). Tails without enough samples have value None."""
    w = record["workload"]
    calls = record["calls"]
    out = {"setup_s": (median(record["setup_s"]), "s", len(record["setup_s"]))}

    def timing(name, kind):
        walls = [c["wall_s"] for c in _by_kind(calls, kind)]
        out[f"{name}.p50"] = (median(walls), "s", len(walls))
        t = tail(walls)
        out[f"{name}.tail"] = ((t[0], "s", len(walls), t[1]) if t
                               else (None, "s", len(walls)))

    if w == "ap_n200_dense":
        solves = _by_kind(calls, "solve")
        timing("solve_s", "solve")
        out["iterations"] = (median([c["attrs"]["iterations"] for c in solves if c["ok"]]),
                             "count", len(solves))
    else:
        batches = _by_kind(calls, "batch")
        timing("batch_s", "batch")
        offered = sum(c["attrs"].get("offered", 0) for c in batches)
        wall = sum(c["wall_s"] for c in batches)
        out["docs_per_s"] = (offered / wall if wall else None, "docs/s", len(batches))
        timing("compact_s", "compact")
        facts = record["facts"]
        out["store_bytes_per_doc"] = (facts["store_bytes"] / facts["store_docs_offered"],
                                      "B/doc", 1)
        searches = _by_kind(calls, "search")
        timing("search_s", "search")
        queries = sum(c["attrs"].get("queries", 0) for c in searches)
        wall = sum(c["wall_s"] for c in searches)
        out["queries_per_s"] = (queries / wall if wall else None, "q/s", len(searches))
        recalls = [c["attrs"]["recall_at_5"] for c in searches if "recall_at_5" in c["attrs"]]
        out["recall_at_5"] = (statistics.fmean(recalls) if recalls else None, "ratio",
                              len(recalls))
    failed = sum(1 for c in calls if not c["ok"])
    out["fail_frac"] = (failed / len(calls) if calls else None, "ratio", len(calls))
    return out


# The per-layer metrics of the traced run's result line, the same names for
# every workload: times every workload has, and counts that read 0 where
# the workload does not exercise the layer. Per-layer times that only one
# workload has are printed by `layers` alone.
PER_LAYER = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.shuffle_write_bytes", "B"), ("spark.in_job_s", "s"), ("spark.driver_s", "s"),
    ("jvm.cpu_s", "s"), ("op.jobs", "count"), ("op.in_job_s", "s"), ("op.driver_s", "s"),
    ("ap.iterations", "count"), ("ap.jobs_per_iter", "count"),
    ("ap.shuffle_bytes_per_iter", "B"),
    ("ingest.jobs_per_batch", "count"), ("ingest.shuffle_bytes_per_batch", "B"),
    ("ingest.kept_frac", "ratio"), ("compact.jobs", "count"), ("compact.bytes_rewritten", "B"),
    ("index.live_increments", "count"),
    ("checkpoints.leaked_rdds", "count"), ("store.files", "count"),
    ("trace.overhead_s", "s"),
]


def layers(record):
    """Per-layer metrics of a traced run that apply to its workload, by
    name: (value, unit). Medians over the traced calls of a kind; `spark.*`
    and `jvm.*` are per schedule cycle, `op.*` per latency-critical call."""
    w = record["workload"]
    calls = record["calls"]
    sl = spark_layer(record)
    traced = {k: [c for c in _by_kind(calls, k) if c["traced"]] for k in CYCLES[w]}

    def lay(kind, key):
        return _med(traced.get(kind, []), lambda c: sl[c["id"]][key])

    m = {}
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("shuffle_write_bytes", "B"), ("in_job_s", "s"), ("driver_s", "s")):
        m[f"spark.{key}"] = (sum(n * lay(k, key) for k, n in CYCLES[w].items()), unit)
    m["jvm.cpu_s"] = (sum(n * _med(traced.get(k, []), lambda c: c["cpu_s"])
                          for k, n in CYCLES[w].items()), "s")
    op = OP_KIND[w]
    m["op.jobs"] = (lay(op, "jobs"), "count")
    m["op.in_job_s"] = (lay(op, "in_job_s"), "s")
    m["op.driver_s"] = (lay(op, "driver_s"), "s")

    solves = traced.get("solve", [])
    if solves:
        def per_iter(f):
            return _med(solves, lambda c: f(c) / c["attrs"]["iterations"])
        m["ap.iterations"] = (_med(solves, lambda c: c["attrs"]["iterations"]), "count")
        m["ap.s_per_iter"] = (per_iter(lambda c: c["wall_s"]), "s")
        m["ap.driver_s_per_iter"] = (per_iter(lambda c: sl[c["id"]]["driver_s"]), "s")
        m["ap.jobs_per_iter"] = (per_iter(lambda c: sl[c["id"]]["jobs"]), "count")
        m["ap.shuffle_bytes_per_iter"] = (
            per_iter(lambda c: sl[c["id"]]["shuffle_write_bytes"]), "B")

    if traced.get("batch"):
        batches = _by_kind(calls, "batch")
        offered = sum(c["attrs"].get("offered", 0) for c in batches)
        kept = sum(c["attrs"].get("kept", 0) for c in batches)
        m["ingest.jobs_per_batch"] = (lay("batch", "jobs"), "count")
        m["ingest.driver_s_per_batch"] = (lay("batch", "driver_s"), "s")
        m["ingest.in_job_s_per_batch"] = (lay("batch", "in_job_s"), "s")
        m["ingest.shuffle_bytes_per_batch"] = (lay("batch", "shuffle_write_bytes"), "B")
        m["ingest.kept_frac"] = (kept / offered if offered else 0.0, "ratio")
        m["compact.jobs"] = (lay("compact", "jobs"), "count")
        m["compact.driver_s"] = (lay("compact", "driver_s"), "s")
        m["compact.bytes_rewritten"] = (lay("compact", "output_bytes"), "B")
        m["store.files"] = (float(record["facts"]["store_files"]), "count")

    if traced.get("search"):
        searches = _by_kind(calls, "search")
        reads = [s["end_ms"] - s["start_ms"] for s in record["spans"] if s["name"] == "read_index"]
        m["index.read_s"] = (median(reads) / 1000.0, "s")
        m["index.live_increments"] = (
            _med(searches, lambda c: c["attrs"]["live_increments"]), "count")
        m["search.jobs_per_call"] = (lay("search", "jobs"), "count")
        m["search.driver_s_per_call"] = (lay("search", "driver_s"), "s")

    m["checkpoints.leaked_rdds"] = (float(leak_delta(calls)[0]), "count")
    walls = _by_kind(calls, op)
    on = [c["wall_s"] for c in walls if c["traced"]]
    off = [c["wall_s"] for c in walls if not c["traced"]]
    m["trace.overhead_s"] = (median(on) - median(off) if on and off else 0.0, "s")
    return {k: (float(v), u) for k, (v, u) in m.items()}


def per_layer(record):
    """The traced run's result metrics: every name in PER_LAYER, 0 for a
    count of a layer the workload does not exercise."""
    applied = layers(record)
    return {name: (applied.get(name, (0.0, unit))[0], unit) for name, unit in PER_LAYER}
