"""Metric definitions: pure functions over the runner's raw JSON record.

Every number the benchmark prints is derived here, so the self-tests in
test_perfbench.py can check the definitions without a JVM.
"""
import math
import re
import statistics

# A job launched by the `spark.read.parquet` call inside `Tables.load` is
# the parquet schema-inference job; its call site names the loader file.
TABLES_SITE = re.compile(r"\bat Tables\.scala:\d+")

MB = 1024.0 * 1024.0


def tail_percentile(n, beyond=10):
    """Highest integer percentile that leaves at least `beyond` of `n`
    samples above its nearest-rank value (see `percentile`)."""
    if n <= beyond:
        raise ValueError("%d samples leave no percentile with %d beyond"
                         % (n, beyond))
    return (100 * (n - beyond)) // n


def percentile(samples, p):
    """Nearest-rank percentile: the value at rank ceil(p * n / 100).
    Returns {"p", "value", "n", "beyond", "beyond_mean"}, `beyond` being
    the samples ranked above it and `beyond_mean` their mean (the value
    itself when there are none)."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p * n / 100))
    above = xs[rank:] or [xs[rank - 1]]
    return {"p": p, "value": xs[rank - 1], "n": n, "beyond": n - rank,
            "beyond_mean": sum(above) / len(above)}


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals, with
    overlaps counted once."""
    total, cur_s, cur_e = 0.0, None, None
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


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """A span's duration minus the union of its children's intervals
    (clipped to the span), so overlapping children count once."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def per_sweep(values_by_query, names):
    """Median of each query's values, summed over the workload's query
    list: one number per pass over the workload, however many times the
    closed loop happened to run each query."""
    return sum(statistics.median(values_by_query[n]) for n in names
               if values_by_query.get(n))


def whole_passes(execs, n_queries):
    """The runs of the whole passes in the window: the first k passes of
    the dispatch order, k = runs started // queries per pass. The cut
    pass at the deadline is left out, so every query weighs the same in
    the statistics whatever the seed put in that pass."""
    k = len(execs) // n_queries
    return [e for e in execs if e["index"] < k * n_queries]


def end_to_end(raw, names, tail_p):
    """End-to-end metrics of one run.

    - setup_s: JVM start to the first timed query (session creation and
      the warmup passes, which absorb learn-once artifact builds); the
      environment probes are left out.
    - sweep_s: wall time of one pass over the workload: from the
      window's start to the start of the pass after the whole passes
      (the end of their last run when no such pass began), divided by
      their number. A closed loop starts the next pass as soon as a
      client is free, so the clients still finishing the last whole
      pass are not counted as idle time.
    - query_p50_s: median latency over the runs of the whole passes.
    - query_tail_s: over the same runs, the mean latency of those
      beyond the workload's fixed percentile `tail_p` (at least 10 at
      the workload's usual sample count).
    - throughput_qpm: runs that ended without error inside the window,
      per minute of the window.
    - peak_live_mb: the largest heap left occupied after a collection
      in the window, plus the non-heap memory in use at its end; closer
      to what the program holds than the resident set, though it still
      counts old-generation garbage G1 has not yet reclaimed.
    - peak_rss_mb: the JVM's peak resident set (`VmHWM`), which follows
      the collector's heap sizing; reported, not bounded.
    """
    whole = whole_passes(raw["execs"], len(names))
    passes = len(whole) // len(names)
    if not whole:
        raise ValueError("window too short for one whole pass")
    ok = [e for e in whole if e["error"] is None]
    if not ok:
        raise ValueError("every query in the window failed")
    every = [e["end"] - e["start"] for e in ok]
    w = raw["window"]
    after = [e["start"] for e in raw["execs"]
             if e["index"] == passes * len(names)]
    done = after[0] if after else max(e["end"] for e in whole)
    in_window = [e for e in raw["execs"]
                 if e["error"] is None and e["end"] <= w["start"] + w["seconds"]]
    s = raw["setup"]
    tail = percentile(every, tail_p)
    return {
        "setup_s": s["jvm_to_main_s"] + s["session_s"] + s["warmup_s"],
        "sweep_s": (done - w["start"]) / passes,
        "query_p50_s": statistics.median(every),
        "query_tail_s": tail["beyond_mean"],
        "throughput_qpm": 60.0 * len(in_window) / w["seconds"],
        "peak_live_mb": max(raw["window_heap_after_gc_mb"] or [0.0])
        + raw["window_non_heap_mb"],
        "peak_rss_mb": raw["peak_rss_mb"],
    }, tail


def layers(raw, names, cores):
    """Per-layer metrics of a traced run, each per pass over the
    workload (see `per_sweep`) unless its unit says otherwise."""
    execs = [e for e in whole_passes(raw["execs"], len(names))
             if e["error"] is None]
    groups = {e["group"] for e in raw["execs"]}
    window_jobs = [j for j in raw["jobs"] if j["group"] in groups]
    jobs_by_group = {}
    for j in window_jobs:
        jobs_by_group.setdefault(j["group"], []).append(j)

    per = {}

    def add(key, name, v):
        per.setdefault(key, {}).setdefault(name, []).append(v)

    for e in execs:
        n, g = e["name"], e["group"]
        span = {s["name"]: (s["start"], s["end"]) for s in e["spans"]}
        mine = jobs_by_group.get(g, [])
        build = [j for j in mine if j["phase"] == "build"]
        execj = [j for j in mine if j["phase"] == "exec"]
        tables = [j for j in mine if TABLES_SITE.search(j["site"])]
        add("Tables.load_s", n, sum(j["end"] - j["start"] for j in tables))
        add("Tables.schema_jobs", n, len(tables))
        add("queries.build_s", n, span["build"][1] - span["build"][0])
        add("queries.build_jobs", n, len(build))
        for k in ("analyze", "optimize", "physical"):
            s0, s1 = span["planner." + k]
            add("planner.%s_s" % k, n, s1 - s0)
        for key, field, scale in (
                ("exec.task_cpu_s", "cpu_s", 1),
                ("exec.task_run_s", "run_s", 1), ("exec.gc_s", "gc_s", 1),
                ("exec.fetch_wait_s", "fetch_wait_s", 1),
                ("exec.task_queue_s", "queue_s", 1),
                ("exec.shuffle_read_mb", "shuffle_read_b", 1 / MB),
                ("exec.shuffle_write_mb", "shuffle_write_b", 1 / MB),
                ("exec.spill_mb", "spill_b", 1 / MB),
                ("exec.stages", "stages", 1), ("exec.tasks", "tasks", 1)):
            add(key, n, scale * sum(j[field] for j in execj))
        add("exec.jobs", n, len(execj))
        ex0, ex1 = span["exec"]
        add("_exec_core_s", n, (ex1 - ex0) * cores)
        foreign = [(j["start"], j["end"]) for j in window_jobs
                   if j["group"] != g]
        add("exec.foreign_overlap_s", n,
            union_length(clip(foreign, e["start"], e["end"])))
        children = [span[k] for k in ("build", "planner", "exec")]
        add("trace.span_gap_s", n, self_time((e["start"], e["end"]), children))

    out = {k: per_sweep(v, names) for k, v in per.items()
           if not k.startswith("_")}
    core_s = per_sweep(per["_exec_core_s"], names)
    out["exec.core_busy_ratio"] = out["exec.task_run_s"] / core_s
    w = raw["window"]
    passes = len(raw["execs"]) / len(names)
    out["Metrics.aqe_skew_splits"] = w["aqe_skew_splits"] / passes
    out["sources.artifact_builds"] = w["artifact_builds"]
    return out


def trace_spans(raw):
    """The span tree of every timed query: the query span, its build,
    planner and exec children (planner with its three phases), and one
    job span per job of the query's job group, under the phase span
    that launched it. Self times count overlapping children once."""
    jobs = {}
    for j in raw["jobs"]:
        jobs.setdefault(j["group"], []).append(j)
    out = []
    for e in raw["execs"]:
        spans = [{"name": "query", "parent": None, "start": e["start"],
                  "end": e["end"]}]
        spans += [dict(s) for s in e["spans"]]
        for j in jobs.get(e["group"], []):
            spans.append({"name": "job %d" % j["id"],
                          "parent": j["phase"] or "query",
                          "start": j["start"], "end": j["end"],
                          "site": j["site"]})
        for s in spans:
            kids = [(c["start"], c["end"]) for c in spans
                    if c["parent"] == s["name"]]
            s["self_s"] = self_time((s["start"], s["end"]), kids)
        out.append({"query": e["name"], "group": e["group"],
                    "client": e["client"], "spans": spans})
    return out
