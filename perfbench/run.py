#!/usr/bin/env python3
"""Benchmark of the graft Spark engine (pythonql's FLWOR surface and the
LLM-data-pipeline operators) at sf0.1.

    python3 perfbench/run.py --workload flwor --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

Run from the root of a checkout. The first run compiles `src/main/scala`
and `perfbench/scala` with the Scala compiler shipped in the Spark jars
(into `$CARGO_TARGET_DIR`, default `.bench_build`); later runs reuse the
classes while the sources are unchanged.

One run is one JVM: session set-up and untimed warmup passes, then a
closed-loop timed window in which each client takes the next query in
the seeded pass order. Outputs of the first warmup pass are
compared with each query's DuckDB oracle after the JVM exits. The last
stdout line is the result JSON; with --trace 0 it carries the
end-to-end metrics, with --trace 1 the per-layer metrics. Everything a
run leaves (raw record, span trace, environment, result) is under
`perfbench/.work/<workload>-s<seed>-t<trace>/`. METRICS.md defines
every metric and the predictions that link them.
"""
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.1")
# SHA-256 of each file of the sf0.1 test data the copy in DATA was made
# from; a run refuses a copy that differs.
DATA_SUMS = os.path.join(HERE, "data", "sf0.1.sha256")
WORK = os.path.join(HERE, ".work")

# pythonql's own surface: the queries of the FLWOR modules (Relational,
# WindowQueries, PathQueries, NestedQueries, MatchQueries,
# TemporalQueries, JdbcQueries, EventsQueries) whose build and planner
# spans took the largest share of their wall time in a traced run of all
# 45 of them (at least 0.44 each; METRICS.md has the table). Only
# Relational, JdbcQueries and NestedQueries have such queries: the
# window, path, match, temporal and events queries spend 60-95% of
# their time in exec.
FLWOR = [
    "q15_set_ops", "q58_jdbc_agg_pushdown", "q04_cust_by_region",
    "q39_nested_json", "q06_semi_join", "q07_anti_join", "q10_cross_for",
    "q37_jdbc_source", "q09_distinct_set",
]
# Shuffle-, checkpoint- and iteration-heavy operator queries: BM25
# retrieval, GraphRank PageRank, winnowing spans, and BPE encoding,
# which learns its merge table (a learn-once artifact) in the warmup.
LLM = [
    "q119_bm25_topk", "q126_pagerank", "q86_bpe_encode", "q104_winnowing",
]
# Warmup runs each list in this order, slowest cold first; the seed
# orders the timed passes. `samples` is the latency sample count of a
# 25 s run on 4 cores, taken low (flwor: 6 whole passes of 9, where most
# runs hold 7; mixed: 4 of 13). The tail percentile is the highest that
# leaves 10 of those beyond it (p81 and p80), fixed so that every run
# reports the same statistic; query_tail_s is the mean of the samples
# beyond it.
WORKLOADS = {
    "flwor": {"clients": 1, "queries": FLWOR, "samples": 54},
    "mixed_concurrent": {"clients": 3, "queries": LLM + FLWOR, "samples": 52},
}
MAX_PASSES = 64
JVM_TIMEOUT_S = 150

END_TO_END_UNITS = {
    "setup_s": "s", "sweep_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "throughput_qpm": "1/min", "peak_live_mb": "MB",
}
LAYER_UNITS = {
    "Tables.load_s": "s", "Tables.schema_jobs": "count",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "planner.analyze_s": "s", "planner.optimize_s": "s",
    "planner.physical_s": "s",
    "exec.task_cpu_s": "s", "exec.task_run_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_queue_s": "s", "exec.core_busy_ratio": "ratio",
    "Metrics.aqe_skew_splits": "count", "sources.artifact_builds": "count",
    "trace.sweep_s": "s", "trace.span_gap_s": "s",
}
# Printed and kept in result.json, but not in the result line, which
# carries one metric set for every workload and must not hold a time
# that reads the same on every run. On `flwor` both read 0 on every run:
# in local mode every shuffle fetch is local, and with one client no
# other query's jobs exist. The foreign overlap is the contention
# measure of `mixed_concurrent` (12-14 s per pass there).
REPORT_ONLY_UNITS = {"exec.fetch_wait_s": "s", "exec.foreign_overlap_s": "s"}

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    `unmanagedBase` the repo's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = None
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise BenchError("no Spark jars: set SPARK_HOME")
    return m.group(1)


def check_layout():
    for rel in ("src/main/scala", "tools/check.py", "build.sbt",
                "perfbench/data"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            raise BenchError("not a checkout of the repo: %s is missing" % rel)
    bad = [f for f, h in data_sums().items()
           if not os.path.exists(os.path.join(DATA, f))
           or sha256_file(os.path.join(DATA, f)) != h]
    if bad or sorted(os.listdir(DATA)) != sorted(data_sums()):
        raise BenchError("benchmark data differs from %s: %s"
                         % (DATA_SUMS, ", ".join(bad) or "file list"))


def data_sums():
    """{file name: SHA-256} of the test data, from DATA_SUMS."""
    with open(DATA_SUMS) as f:
        return {name: h for h, name in (l.split() for l in f if l.strip())}


def sha256_file(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def scala_sources(rel):
    out = []
    for d, _, fs in os.walk(os.path.join(ROOT, rel)):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_scala(files, classes, classpath, key, tmp):
    stamp = os.path.join(classes, ".stamp")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == key:
                return False
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-Djava.io.tmpdir=" + tmp,
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BenchError("scalac failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(key)
    return True


def build():
    """Compiles the program and the benchmark's JVM side when their
    sources changed; returns the runtime classpath."""
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR")
                       or ".bench_build", "perfbench")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    main_src = scala_sources("src/main/scala")
    bench_src = scala_sources("perfbench/scala")
    main_key = digest(main_src)
    main_cls = os.path.join(out, "main")
    bench_cls = os.path.join(out, "bench")
    if compile_scala(main_src, main_cls, jars, main_key, tmp):
        log("compiled %d program sources" % len(main_src))
    if compile_scala(bench_src, bench_cls, os.pathsep.join([main_cls, jars]),
                     digest(bench_src, main_key), tmp):
        log("compiled %d benchmark sources" % len(bench_src))
    return os.pathsep.join([bench_cls, main_cls, jars])


def run_jvm(classpath, main, args, cwd, extra_env=None):
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, **(extra_env or {}))
    cmd = [java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    # no -Xms: the heap grows with the program's demand instead of
    # being committed whole from the start
    cmd += ["-Xmx3g", "-Djava.io.tmpdir=" + tmp,
            "-cp", classpath, main] + args
    with open(os.path.join(cwd, "jvm.log"), "w") as logf:
        try:
            r = subprocess.run(cmd, cwd=cwd, env=env, stdout=logf,
                               stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError("%s exceeded %d s" % (main, JVM_TIMEOUT_S))
    if r.returncode != 0:
        with open(os.path.join(cwd, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise BenchError("%s exited %d:\n%s" % (main, r.returncode, tail))


def steal_seconds():
    """CPU time the hypervisor took from this machine since boot (the
    `steal` column of /proc/stat), or 0 where there is none."""
    try:
        with open("/proc/stat") as f:
            cols = f.readline().split()
        return int(cols[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def schedule(workload, seed):
    """The seed fixes the query order of every timed pass; free clients
    take the next query in that order. The heavy (LLM) queries keep
    the same evenly spaced places, in the same order, in every pass,
    and the seed orders the flwor queries around them, so that every
    seed runs about the same mix at each moment and the figures measure
    the program rather than how a seed happened to bunch the heavy
    queries."""
    rng = random.Random("%s/%d" % (workload, seed))
    qs = WORKLOADS[workload]["queries"]
    heavy = [q for q in qs if q in LLM]
    slots = {round(i * len(qs) / len(heavy)) for i in range(len(heavy))}
    passes = []
    for _ in range(MAX_PASSES):
        h = heavy[::-1]
        light = rng.sample([q for q in qs if q not in LLM], len(qs) - len(h))
        passes.append([(h if i in slots else light).pop() for i in range(len(qs))])
    return passes


def oracle_check(raw, out_dir, run_dir):
    """Compares each warmup output with its DuckDB oracle through the
    rendered-value gate of tools/check.py, with its 1-ulp DOUBLE
    tolerance (the documented setting for sf0.1). Oracle results are
    cached in a DuckDB file keyed by the oracle SQL and the data files;
    oracles that replay this run's learn-once artifacts name the run
    directory and always run afresh. Returns the names that mismatched."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check
    con = check.connect(DATA)
    con.execute("ATTACH '%s' AS oracle_cache"
                % os.path.join(WORK, "oracle_cache.duckdb"))
    data_key = ";".join("%s:%d" % (f, os.path.getsize(os.path.join(DATA, f)))
                        for f in sorted(os.listdir(DATA)))
    oracle = {}
    for name, sql in raw["oracle_sql"].items():
        if run_dir in sql:
            oracle[name] = sql
            continue
        table = "oracle_cache.o_" + hashlib.sha256(
            (data_key + "\n" + sql).encode()).hexdigest()[:24]
        con.execute("CREATE TABLE IF NOT EXISTS %s AS %s" % (table, sql))
        oracle[name] = "SELECT * FROM " + table
    bad = []
    for w in raw["warmup"]:
        if w["error"] is not None or w["group"] != "warmup-" + w["name"]:
            continue
        with contextlib.redirect_stdout(sys.stderr):
            status, _ = check.gate(con, out_dir, oracle, w["name"], True)
        if status != "OK":
            bad.append(w["name"])
    con.close()
    return bad


def run_one(workload, seed, seconds, trace, classpath):
    wl = WORKLOADS[workload]
    names = wl["queries"]
    run_dir = os.path.join(WORK, "%s-s%d-t%d" % (workload, seed, trace))
    shutil.rmtree(run_dir, ignore_errors=True)
    out_dir = os.path.join(run_dir, "out")
    os.makedirs(out_dir)
    passes = schedule(workload, seed)
    cores = len(os.sched_getaffinity(0))
    plan = ["data=" + DATA, "out=" + out_dir, "seconds=%d" % seconds,
            "trace=%d" % trace, "cores=%d" % cores,
            "clients=%d" % wl["clients"], "warmup=" + ",".join(names)]
    plan += ["pass=" + ",".join(p) for p in passes]
    plan_file = os.path.join(run_dir, "plan.txt")
    with open(plan_file, "w") as f:
        f.write("\n".join(plan) + "\n")
    raw_file = os.path.join(run_dir, "raw.json")
    try:
        steal0 = steal_seconds()
        t0 = time.time()
        run_jvm(classpath, "perfbench.Runner", [plan_file, raw_file], run_dir,
                {"GRAFT_ARTIFACT_ROOT": os.path.join(run_dir, "artifacts")})
        with open(raw_file) as f:
            raw = json.load(f)
        raw["env"]["steal_s"] = steal_seconds() - steal0
        t1 = time.time()
        mismatched = oracle_check(raw, out_dir, run_dir)
        log("jvm %.1f s, oracle check %.1f s" % (t1 - t0, time.time() - t1))
    finally:
        for d in ("out", "artifacts", "tmp", "target"):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    warm_err = {w["group"]: w["error"] for w in raw["warmup"] if w["error"]}
    timed_err = [(e["name"], e["error"]) for e in raw["execs"] if e["error"]]
    attempted = len(raw["warmup"]) + len(raw["execs"])
    failed = len(warm_err) + len(mismatched) + len(timed_err)
    try:
        e2e, tail = metrics.end_to_end(
            raw, names, metrics.tail_percentile(wl["samples"]))
    except ValueError as e:
        raise BenchError(str(e))
    result = {
        "workload": workload, "seed": seed, "trace": trace,
        "clients": wl["clients"], "queries": names,
        "env": raw["env"], "setup": raw["setup"], "window": raw["window"],
        "query_tail": tail,
        "error_rate": failed / attempted, "attempted": attempted,
        "failed": failed, "warmup_errors": warm_err,
        "oracle_mismatches": mismatched, "timed_errors": timed_err,
        "end_to_end": e2e,
        "artifact_builds_in_window": raw["window"]["artifact_builds"],
    }
    if trace:
        result["layers"] = dict(metrics.layers(raw, names, cores),
                                **{"trace.sweep_s": e2e["sweep_s"]})
        with open(os.path.join(run_dir, "trace.json"), "w") as f:
            json.dump(metrics.trace_spans(raw), f)
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(result, f, indent=1)
    if tail["beyond"] < 10:
        log("FLAG: only %d of %d latency samples lie beyond the p%d tail"
            % (tail["beyond"], tail["n"], tail["p"]))
    if raw["window"]["artifact_builds"] > 0:
        log("FLAG: %d learn-once artifact builds inside the timed window"
            % raw["window"]["artifact_builds"])
    for n, err in list(warm_err.items()) + timed_err:
        log("query failed: %s: %s" % (n, err))
    for n in mismatched:
        log("oracle mismatch: %s" % n)
    return result


def report(result):
    wl, e2e = result["workload"], result["end_to_end"]
    env = result["env"]
    print("%s seed=%d trace=%d clients=%d nproc=%d load_avg=%s spin_sec=%s "
          "steal_s=%.2f jdk=%s spark=%s"
          % (wl, result["seed"], result["trace"], result["clients"],
             env["nproc"], env["load_avg"], env["spin_sec"], env["steal_s"],
             env["jdk"], env["spark"]))
    for k, u in END_TO_END_UNITS.items():
        print("  %-24s %12.4f %s" % (k, e2e[k], u))
    print("  %-24s %12.4f MB  (VmHWM; reported, not bounded)"
          % ("peak_rss_mb", e2e["peak_rss_mb"]))
    print("  %-24s %12.4f ratio  (%d failed of %d attempted)"
          % ("error_rate", result["error_rate"], result["failed"],
             result["attempted"]))
    t = result["query_tail"]
    print("  query_tail_s is the mean of the %d of %d samples beyond p%d "
          "(%.4f s)" % (t["beyond"], t["n"], t["p"], t["value"]))
    units = dict(LAYER_UNITS, **REPORT_ONLY_UNITS)
    for k, v in sorted(result.get("layers", {}).items()):
        print("  %-24s %12.4f %s" % (k, v, units[k]))


def result_line(result, trace):
    if trace:
        ms = {k: {"value": result["layers"][k], "unit": u}
              for k, u in LAYER_UNITS.items()}
    else:
        ms = {k: {"value": result["end_to_end"][k], "unit": u}
              for k, u in END_TO_END_UNITS.items()}
    correct = result["failed"] == 0
    return {"correct": correct, "attempted": result["attempted"],
            "failed": result["failed"], "metrics": ms}


def main(argv):
    # a terminated run still stops its JVM: SystemExit makes
    # subprocess.run kill and reap the child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        check_layout()
        classpath = build()
        if a.workload != "all":
            r = run_one(a.workload, a.seed, a.seconds, a.trace, classpath)
            report(r)
            line = result_line(r, a.trace)
        else:
            # every workload untraced, then traced; the tracing overhead
            # is the traced sweep_s minus the untraced one
            line = {}
            for wl in sorted(WORKLOADS):
                plain = run_one(wl, a.seed, a.seconds, 0, classpath)
                traced = run_one(wl, a.seed, a.seconds, 1, classpath)
                report(plain)
                report(traced)
                over = (traced["layers"]["trace.sweep_s"]
                        - plain["end_to_end"]["sweep_s"])
                print("  %-24s %12.4f s" % ("tracing_overhead_s", over))
                line[wl] = {"untraced": result_line(plain, 0),
                            "traced": result_line(traced, 1),
                            "error_rate": plain["error_rate"],
                            "tracing_overhead_s": over}
    except BenchError as e:
        log(str(e))
        return 2
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
