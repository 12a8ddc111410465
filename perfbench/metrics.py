"""Statistics and span arithmetic for the benchmark.

Pure functions over the harness's raw records (``samples.json`` and
``trace.json``), so every rule that turns samples into a metric is
tested in ``test_bench.py`` without a JVM.

Times in spans are epoch microseconds; Spark's listener events carry
epoch milliseconds and are converted on read.
"""
import random
import statistics

MB = 1048576.0


def pass_order(names, seed, i):
    """Query order of pass ``i`` under workload seed ``seed``."""
    order = list(names)
    random.Random(f"{seed}/{i}").shuffle(order)
    return order


def tail(values):
    """The highest percentile with at least ten samples beyond it.

    Returns ``(value, percentile, n)``, or None when fewer than 20
    samples leave no percentile above the median with ten beyond it.
    """
    n = len(values)
    if n < 20:
        return None
    v = sorted(values)
    return v[n - 11], int(100 * (n - 10) // n), n


def union_length(intervals, lo=None, hi=None):
    """Length covered by the union of ``(start, end)`` intervals,
    clipped to ``[lo, hi]`` when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
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


def self_time(start, end, children):
    """A span's duration minus the part its children cover."""
    return (end - start) - union_length(children, start, end)


def median(values):
    return statistics.median(values) if values else 0.0


# --------------------------------------------------------------------------
# End-to-end metrics (untraced run)

# In the result line. query_s_tail, heap_live_peak_mb and failed_frac
# are printed above it only (README.md says why).
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("query_s_p50", "s"), ("cpu_s", "s")]


def executions(samples):
    """Every timed execution, setup passes excluded."""
    return [q for p in samples["passes"] for q in p["queries"]]


def end_to_end(samples):
    """End-to-end metrics of one run, from its untraced passes, and the
    tail ``(value, percentile, n)`` or None."""
    passes = [p for p in samples["passes"] if not p["traced"]]
    ok = [q["body_s"] + q["sink_s"] for p in passes for q in p["queries"] if q["ok"]]
    m = {
        "setup_s": samples["setup"]["total_s"],
        "pass_s": median([p["pass_s"] for p in passes]),
        "query_s_p50": median(ok),
        "cpu_s": samples["cpu_s"] / len(samples["passes"]),
    }
    return m, tail(ok)


# --------------------------------------------------------------------------
# Per-layer metrics (traced run)

# name -> (unit, how a pass aggregates its queries' records; None for
# metrics computed per pass or per run instead)
PER_LAYER = {
    "sessions.build_s": ("s", None), "tables.warm_s": ("s", None),
    "tables.scan_mb": ("MB", None),
    "plans.executions": ("count", sum), "plans.analysis_ms": ("ms", sum),
    "plans.optimization_ms": ("ms", sum), "plans.planning_ms": ("ms", sum),
    "plans.nodes": ("count", sum),
    "queries.body_s": ("s", sum), "queries.sink_s": ("s", sum),
    "queries.driver_gap_ms": ("ms", sum),
    "operators.jobs": ("count", sum), "operators.stages": ("count", sum),
    "operators.tasks": ("count", sum), "operators.job_ms": ("ms", sum),
    "operators.task_run_ms": ("ms", sum), "operators.task_cpu_ms": ("ms", sum),
    "operators.shuffle_write_mb": ("MB", sum),
    "operators.shuffle_read_mb": ("MB", sum), "operators.spill_mb": ("MB", sum),
    "operators.task_skew": ("ratio", max), "operators.output_mb": ("MB", sum),
    "operators.scratch_files": ("count", max),
    "operators.scratch_mb": ("MB", max),
    "operators.block_peak_mb": ("MB", max),
    "operators.block_left_mb": ("MB", max),
    "streaming.lifecycles": ("count", sum), "streaming.batches": ("count", sum),
    "streaming.empty_batches": ("count", sum),
    "streaming.latest_offset_ms": ("ms", sum),
    "streaming.query_planning_ms": ("ms", sum),
    "streaming.add_batch_ms": ("ms", sum),
    "streaming.wal_commit_ms": ("ms", sum),
    "streaming.commit_offsets_ms": ("ms", sum),
    "streaming.trigger_ms": ("ms", sum), "streaming.state_mb": ("MB", max),
    "jvm.gc_ms": ("ms", None),
    "spans.run_self_s": ("s", None), "spans.pass_self_ms": ("ms", None),
    "spans.query_self_ms": ("ms", sum), "spans.body_self_ms": ("ms", sum),
    "spans.sink_self_ms": ("ms", sum), "spans.batch_self_ms": ("ms", sum),
    "trace.overhead_ratio": ("ratio", None),
}

PROGRESS_PHASES = {
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.add_batch_ms": "addBatch",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.trigger_ms": "triggerExecution",
}

# Listener times have millisecond resolution: a job may start up to 1 ms
# before the span that issued it, by the span clock.
SLACK_US = 1000


class Attribution:
    """Assigns listener records to the harness spans that caused them."""

    def __init__(self, trace):
        self.spans = {s["id"]: s for s in trace["spans"]}
        self.leaves = sorted((s for s in trace["spans"]
                              if s["kind"] in ("body", "sink", "warm")),
                             key=lambda s: s["start_us"])
        self.jobs = self._jobs(trace["jobs"])

    def _jobs(self, events):
        start, end = {}, {}
        for e in events:
            if e["ev"] == "start":
                start[e["job"]] = (e["t_ms"] * 1000, e["span"])
            else:
                end[e["job"]] = e["t_ms"] * 1000
        return {j: {"id": j, "start_us": s, "end_us": end[j], "span": self.owner(s, span)}
                for j, (s, span) in start.items() if j in end}

    def leaf_at(self, t_us):
        for s in self.leaves:
            if s["start_us"] - SLACK_US <= t_us <= s["end_us"] + SLACK_US:
                return s["id"]
        return None

    def owner(self, t_us, hint):
        """The span named by the job's inherited property when the job
        started inside it; otherwise (a pool thread carrying a stale
        property, or none) the leaf span open at the job's start."""
        s = self.spans.get(hint)
        if s is not None and s["start_us"] - SLACK_US <= t_us <= s["end_us"] + SLACK_US:
            return hint
        return self.leaf_at(t_us)


def _children(spans, parent, kinds):
    return [s for s in spans.values() if s["parent"] == parent and s["kind"] in kinds]


def per_query(trace, at=None):
    """Per-layer record of every traced query execution, keyed by the
    query span id."""
    at = at or Attribution(trace)
    spans = at.spans
    jobs_by_leaf = {}
    for j in at.jobs.values():
        jobs_by_leaf.setdefault(j["span"], []).append(j)
    stages_by_job = {}
    for st in trace["stages"]:
        stages_by_job.setdefault(st["job"], []).append(st)
    execs_by_leaf = {}
    for e in trace["execs"]:
        if e["phases"]:
            t = min(p[0] for p in e["phases"].values()) * 1000
            execs_by_leaf.setdefault(at.leaf_at(t), []).append(e)
    batches_by_leaf = {}
    for p in trace["progress"]:
        t = p["t_ms"] * 1000
        batches_by_leaf.setdefault(at.leaf_at(t), []).append(p)
    starts_by_leaf = {}
    for s in trace["streams"]:
        starts_by_leaf.setdefault(at.leaf_at(s["t_ms"] * 1000), []).append(s)
    after = {a["span"]: a for a in trace["after_query"]}
    blocks = sorted((b["t_us"], b["bytes"]) for b in trace["blocks"])

    out = {}
    for q in spans.values():
        if q["kind"] != "query" or q["id"] not in after:
            continue
        lo, hi = q["start_us"], q["end_us"]
        legs = {s["kind"]: s for s in _children(spans, q["id"], ("body", "sink"))}
        body, sink = legs.get("body"), legs.get("sink")
        leaf_ids = [s["id"] for s in legs.values()]
        jobs = [j for i in leaf_ids for j in jobs_by_leaf.get(i, [])]
        stages = [st for j in jobs for st in stages_by_job.get(j["id"], [])]
        execs = [e for i in leaf_ids for e in execs_by_leaf.get(i, [])]
        batches = [b for i in leaf_ids for b in batches_by_leaf.get(i, [])]
        job_iv = [(j["start_us"], j["end_us"]) for j in jobs]
        batch_iv = [(b["t_ms"] * 1000,
                     b["t_ms"] * 1000 + b["dur"].get("triggerExecution", 0) * 1000)
                    for b in batches]

        def phase_ms(name):
            return sum(e["phases"][name][1] - e["phases"][name][0]
                       for e in execs if name in e["phases"])

        def leg_self(leg):
            if leg is None:
                return 0.0
            iv = [(j["start_us"], j["end_us"]) for j in jobs_by_leaf.get(leg["id"], [])]
            if leg["kind"] == "body":
                iv += batch_iv
            return self_time(leg["start_us"], leg["end_us"], iv) / 1000

        level0 = 0
        for t, b in blocks:
            if t > lo:
                break
            level0 = b
        peak = max([level0] + [b for t, b in blocks if lo <= t <= hi])
        skews = [st["task_max_ms"] / st["task_med_ms"]
                 for st in stages if st["tasks"] > 1 and st["task_med_ms"] > 0]
        a = after[q["id"]]
        rec = {
            "plans.executions": len(execs),
            "plans.analysis_ms": phase_ms("analysis"),
            "plans.optimization_ms": phase_ms("optimization"),
            "plans.planning_ms": phase_ms("planning"),
            "plans.nodes": max([e["nodes"] for i in ([sink["id"]] if sink else [])
                                for e in execs_by_leaf.get(i, [])] or [0]),
            "queries.body_s": (body["end_us"] - body["start_us"]) / 1e6 if body else 0.0,
            "queries.sink_s": (sink["end_us"] - sink["start_us"]) / 1e6 if sink else 0.0,
            "queries.driver_gap_ms": self_time(lo, hi, job_iv) / 1000,
            "operators.jobs": len(jobs),
            "operators.stages": len(stages),
            "operators.tasks": sum(st["tasks"] for st in stages),
            "operators.job_ms": sum(j["end_us"] - j["start_us"] for j in jobs) / 1000,
            "operators.task_run_ms": sum(st["run_ms"] for st in stages),
            "operators.task_cpu_ms": sum(st["cpu_ms"] for st in stages),
            "operators.shuffle_write_mb": sum(st["shuffle_write"] for st in stages) / MB,
            "operators.shuffle_read_mb": sum(st["shuffle_read"] for st in stages) / MB,
            "operators.spill_mb": sum(st["spill"] for st in stages) / MB,
            "operators.task_skew": max(skews or [1.0]),
            "operators.output_mb": sum(st["output"] for st in stages) / MB,
            "operators.scratch_files": a["scratch_files"],
            "operators.scratch_mb": a["scratch_bytes"] / MB,
            "operators.block_peak_mb": peak / MB,
            "operators.block_left_mb": a["block_left"] / MB,
            "streaming.lifecycles": sum(len(starts_by_leaf.get(i, [])) for i in leaf_ids),
            "streaming.batches": len(batches),
            "streaming.empty_batches": sum(1 for b in batches if b["rows"] == 0),
            "streaming.state_mb": max([b["state_bytes"] for b in batches] or [0]) / MB,
            "spans.query_self_ms": self_time(
                lo, hi, [(s["start_us"], s["end_us"]) for s in legs.values()]) / 1000,
            "spans.body_self_ms": leg_self(body),
            "spans.sink_self_ms": leg_self(sink),
            "spans.batch_self_ms": sum(
                self_time(s, e, job_iv) for s, e in batch_iv) / 1000,
        }
        for name, key in PROGRESS_PHASES.items():
            rec[name] = sum(b["dur"].get(key, 0) for b in batches)
        out[q["id"]] = (q["name"], rec)
    return out


def per_layer(samples, trace):
    """Per-layer metrics of a traced run: each pass sums (or, for peaks,
    maxes) its queries' records; the metric is the median over traced
    passes. Also returns the per-query records."""
    at = Attribution(trace)
    recs = per_query(trace, at)
    spans = at.spans
    traced = [p for p in samples["passes"] if p["traced"]]
    untraced = [p for p in samples["passes"] if not p["traced"]]
    by_pass = []
    for p in traced:
        qrecs = [recs[q["span"]][1] for q in p["queries"] if q["span"] in recs]
        agg = {}
        for name, (_, how) in PER_LAYER.items():
            if how is not None:
                agg[name] = how([r[name] for r in qrecs]) if qrecs else 0
        ps = spans[p["span"]]
        agg["spans.pass_self_ms"] = self_time(
            ps["start_us"], ps["end_us"],
            [(spans[q["span"]]["start_us"], spans[q["span"]]["end_us"])
             for q in p["queries"]]) / 1000
        by_pass.append(agg)
    m = {name: median([a[name] for a in by_pass]) for name in by_pass[0]} if by_pass else {}

    warm = [s["id"] for s in trace["spans"] if s["kind"] == "warm"][-1:]
    warm_jobs = {j["id"] for j in at.jobs.values() if j["span"] in warm}
    m["sessions.build_s"] = samples["setup"]["build_s"]
    m["tables.warm_s"] = samples["setup"]["warm_s"]
    m["tables.scan_mb"] = sum(st["input"] for st in trace["stages"]
                              if st["job"] in warm_jobs) / MB
    m["jvm.gc_ms"] = samples["gc_ms"] / len(samples["passes"])
    run = [s for s in trace["spans"] if s["kind"] == "run"][0]
    m["spans.run_self_s"] = self_time(
        run["start_us"], run["end_us"],
        [(s["start_us"], s["end_us"]) for s in trace["spans"]
         if s["parent"] == run["id"]]) / 1e6
    t_on = median([p["pass_s"] for p in traced])
    t_off = median([p["pass_s"] for p in untraced])
    m["trace.overhead_ratio"] = t_on / t_off if t_off else 0.0
    return m, recs
