"""Metric arithmetic for the benchmark: percentiles, interval unions and
the per-op / per-layer aggregation of what the runner wrote out.

Stdlib only, so `python3 -m unittest discover perfbench` runs anywhere.
"""
import statistics

MB = 1024 * 1024


def tail(values, beyond=10):
    """The highest percentile that has at least `beyond` samples above it.

    Returns (value, percentile, n), or None when there are too few
    samples for any percentile at or above the median to qualify.
    """
    n = len(values)
    if n < 2 * beyond:
        return None
    xs = sorted(values)
    k = n - beyond - 1          # xs[k] has exactly `beyond` samples after it
    return xs[k], 100.0 * (k + 1) / n, n


def hd_median(values):
    """Harrell-Davis estimate of the median: a mean of all the order
    statistics weighted by the Beta((n+1)/2, (n+1)/2) mass of their
    n-quantile bins. The sample median of a mix of op kinds jumps
    between kinds when the middle of the sample falls in a gap between
    them (ten runs of driver_mix gave sample medians of either about
    1.1 s or about 1.3 s, nothing between); this estimate moves smoothly
    instead."""
    xs = sorted(values)
    n = len(xs)
    a = (n + 1) / 2.0

    def mass(lo, hi, steps=64):     # Simpson's rule on the Beta density
        h = (hi - lo) / steps
        f = lambda t: (t * (1.0 - t)) ** (a - 1.0)
        return h / 3.0 * sum((1 if k in (0, steps) else 4 if k % 2 else 2) * f(lo + k * h)
                             for k in range(steps + 1))

    w = [mass(i / n, (i + 1) / n) for i in range(n)]
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of (start, end) intervals,
    optionally clipped to [lo, hi]. Overlaps count once, so concurrent
    jobs never add up to more than the wall time they span."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
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


def latency_s(op):
    return (op["end"] - op["start"]) / 1000.0


def end_to_end(run, ops):
    """The user-visible metrics of the measured window."""
    timed = [o for o in ops if o["phase"] == "timed"]
    lat = [latency_s(o) for o in timed]
    w = next(w for w in run["windows"] if w["phase"] == "timed")
    minutes = (w["end"] - w["start"]) / 60000.0
    return {
        "setup_s": run["setup_s"],
        "op_p50_s": hd_median(lat),
        "ops_per_min": len(timed) / minutes,
        "heap_live_mb": run["heap_live_mb"],
    }, lat


def failures(ops, failed_names):
    """Ops that threw, plus every op of a query whose output the oracle
    rejected."""
    return [o for o in ops if o["phase"] != "warm"
            and (o["error"] is not None or o["name"] in failed_names)]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(run, ops, jobs, stages, batches, prev_counts):
    """Per-layer metrics of the traced window, per op unless named a
    ratio or a median. Returns (metrics, counts, inexact) where counts
    maps each query to its exact per-op counts and inexact names every
    query whose counts differed between executions."""
    traced = [o for o in ops if o["phase"] == "traced"]
    untraced = [o for o in ops if o["phase"] == "timed"]
    n = len(traced)
    idx = {o["idx"]: o for o in traced}
    w = next(w for w in run["windows"] if w["phase"] == "traced")
    wall_s = (w["end"] - w["start"]) / 1000.0

    op_jobs = {i: [] for i in idx}
    for j in jobs:
        if j["op"] in idx and j["end"] >= 0:
            op_jobs[j["op"]].append((j["start"], j["end"]))
    op_stages = {i: [] for i in idx}
    for s in stages:
        if s["op"] in idx:
            op_stages[s["op"]].append(s)
    op_batches = {i: [] for i in idx}
    for b in batches:
        if b["op"] in idx:
            op_batches[b["op"]].append(b["durations"])

    busy = {i: union_length(op_jobs[i], o["start"], o["end"]) / 1000.0
            for i, o in idx.items()}
    tot = lambda f: sum(f(s) for i in idx for s in op_stages[i])
    cpu_s = tot(lambda s: s["cpu_ns"]) / 1e9
    n_stages = sum(len(v) for v in op_stages.values())
    n_tasks = tot(lambda s: s["tasks"])
    query_ops = [o for o in traced if not o["etl"]]
    etl_ops = [o for o in traced if o["etl"]]

    def etl_stage(name):
        return _median([s["seconds"] for o in etl_ops for s in o["etl"]
                        if s["stage"] == name])

    all_batches = [d for i in idx for d in op_batches[i]]
    bsum = lambda *keys: sum(d.get(k, 0) for d in all_batches for k in keys)

    # tracing overhead: traced vs untraced median latency, matched per query
    ratios = []
    for name in sorted({o["name"] for o in traced}):
        a = [latency_s(o) for o in untraced if o["name"] == name]
        b = [latency_s(o) for o in traced if o["name"] == name]
        if a and b:
            ratios.append(statistics.median(b) / statistics.median(a))

    counts, inexact = {}, {}
    for o in traced:
        c = {"jobs": len(op_jobs[o["idx"]]), "stages": len(op_stages[o["idx"]]),
             "tasks": sum(s["tasks"] for s in op_stages[o["idx"]]),
             "shuffle_bytes": sum(s["shuffle_write"] for s in op_stages[o["idx"]])}
        for ref in (counts.get(o["name"]), prev_counts.get(o["name"])):
            if ref is not None:
                diff = [k for k in c if ref.get(k) != c[k]]
                if diff:
                    inexact.setdefault(o["name"], set()).update(diff)
        counts.setdefault(o["name"], c)

    per_op = lambda x: x / n if n else 0.0
    m = {
        "query.build_s": _mean([(o["built"] - o["start"]) / 1000.0 for o in query_ops]),
        "query.exec_s": _mean([(o["end"] - o["built"]) / 1000.0 for o in query_ops]),
        "spark.jobs": per_op(sum(len(v) for v in op_jobs.values())),
        "spark.stages": per_op(n_stages),
        "spark.tasks": per_op(n_tasks),
        "spark.tasks_per_stage": n_tasks / n_stages if n_stages else 0.0,
        "spark.job_busy_s": per_op(sum(busy.values())),
        "spark.driver_gap_s": per_op(sum(latency_s(o) - busy[i] for i, o in idx.items())),
        "spark.executor_cpu_s": per_op(cpu_s),
        "spark.cpu_util": cpu_s / (wall_s * run["cores"]) if wall_s else 0.0,
        "spark.shuffle_write_mb": per_op(tot(lambda s: s["shuffle_write"]) / MB),
        "spark.spill_mb": per_op(tot(lambda s: s["spill"]) / MB),
        "spark.scan_input_mb": per_op(tot(lambda s: s["input"]) / MB),
        "spark.gc_s": per_op(w["gc_ms"] / 1000.0),
        "etl.dim_user_s": etl_stage("dim_user"),
        "etl.dim_product_s": etl_stage("dim_product"),
        "etl.dim_location_s": etl_stage("dim_location"),
        "etl.dim_date_s": etl_stage("dim_date"),
        "etl.fact_sales_s": etl_stage("fact_sales"),
        "etl.fact_rows": _median([s["rows"] for o in etl_ops for s in o["etl"]
                                  if s["stage"] == "fact_sales"]),
        "etl.files_written": _median([o["files"] for o in etl_ops]),
        "etl.bytes_written_mb": _median([o["bytes"] / MB for o in etl_ops]),
        "stream.batches": per_op(len(all_batches)),
        "stream.batch_p50_ms": _median([d.get("triggerExecution", 0) for d in all_batches]),
        "stream.planning_ms": per_op(bsum("queryPlanning")),
        "stream.commit_ms": per_op(bsum("walCommit", "commitOffsets")),
        "stream.add_batch_ms": per_op(bsum("addBatch")),
        "staging.leaked_rdds": per_op(sum(o["leaked_rdds"] for o in traced)),
        "staging.leaked_mb": per_op(sum(o["leaked_bytes"] for o in traced) / MB),
        "scratch_left_mb": run["scratch_left_bytes"] / MB,
        "counts.inexact_queries": len(inexact),
        "trace.overhead_pct": 100.0 * (_median(ratios) - 1.0) if ratios else 0.0,
    }
    return m, counts, inexact


def spans(run, ops, jobs, stages):
    """Spans run → op → build/exec or ETL stage → job → stage, each with
    name, start and end (epoch ms) and the id of the span that caused it.
    ETL stage spans are laid end to end before the op's end, from the
    durations `buildWarehouse` reports."""
    out = []

    def add(name, start, end, parent, **attrs):
        out.append(dict(id=len(out), parent=parent, name=name,
                        start=start, end=end, **attrs))
        return len(out) - 1

    w = next(w for w in run["windows"] if w["phase"] == "traced")
    root = add("run", w["start"], w["end"], None)
    jobs_by_op, stages_by_job = {}, {}
    for j in jobs:
        jobs_by_op.setdefault(j["op"], []).append(j)
    for s in stages:
        stages_by_job.setdefault(s["job"], []).append(s)
    for o in ops:
        if o["phase"] != "traced":
            continue
        op = add("op", o["start"], o["end"], root, query=o["name"], error=o["error"])
        if o["etl"]:
            t, parts = o["end"] - 1000.0 * sum(s["seconds"] for s in o["etl"]), []
            for s in o["etl"]:
                parts.append((s["stage"], t, t + 1000.0 * s["seconds"]))
                t = parts[-1][2]
        else:
            parts = [("build", o["start"], o["built"]), ("exec", o["built"], o["end"])]
        kids = [(add(name, s, e, op), s, e) for name, s, e in parts]
        for j in jobs_by_op.get(o["idx"], []):
            parent = next((k for k, s, e in kids if s <= j["start"] <= e), op)
            jid = add("job", j["start"], j["end"], parent, job=j["job"])
            for s in stages_by_job.get(j["job"], []):
                add("stage", s["submit"], s["complete"], jid, stage=s["stage"],
                    tasks=s["tasks"])
    return out
