#!/usr/bin/env python3
"""Benchmark of the user-behaviour engine, run from the root of a checkout.

    python3 perfbench/run.py --workload batch --seed 1 \
        --seconds 15 --trace 0

It compiles `src/main/scala` and the benchmark's own JVM side
(`perfbench/jvm`) with the Scala compiler that ships in Spark's jars,
writes its input tables from a fixed seed, runs one workload in a fresh
JVM at local[nproc], checks every output and prints one JSON object as
the last line of stdout. Everything it writes goes under `.bench_build/`.

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json.
With `--trace 1` the run is traced, and it reports the per-layer metrics
plus the tracing overhead: its `steady_s` minus the median `steady_s` of
the untraced runs of the same sources kept under `.bench_build/results/`
(0 when there is none yet; the stamp then has a null baseline).
Spans go to `.bench_build/results/<workload>-s<seed>-trace.json`.

Workloads, and why each was chosen, are in WORKLOADS below; the map from
each per-layer metric to the end-to-end metric it should move is in
`perfbench/README.md`.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import datagen  # noqa: E402
import evaluate as ev  # noqa: E402

BUILD = ".bench_build"
JVM_HEAP = "4g"
RUN_LIMIT_S = 170

WORKLOADS = {
    # Batch reports: the paper's session statistics (q03) and area top-3
    # (q08), where planning, scheduling and other driver-side layers
    # carry the time, and one of the slowest queries (q201), which
    # spends it building the covis_pairs memo artifact and in the jobs
    # its build runs. All three run once, cold; the warm passes re-run
    # q03 and q201 only, to keep a run short.
    "batch": {"queries": ["q03", "q08", "q201"], "warm": ["q03", "q201"],
              "warmup_passes": 3, "min_passes": 5},
    # Open loop at a fixed rate into the three ad-click queries on the
    # library's default 5 s trigger: per-batch costs dominate (state
    # commit, planning, the offset log, store scans over the whole
    # history). The queries first drain a queued backlog, which is the
    # cold start and gives the store its history before the window.
    "ad-stream": {"rate": 1000, "history": 120000, "backlog": 60000, "warmup": 15,
                  "trigger_ms": 5000, "chunk_ms": 40},
}

JAVA_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


class SetupError(Exception):
    pass


def spark_jars():
    """Classpath entry for the jars of the Spark install at SPARK_HOME."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SetupError(f"no Spark jars with a Scala compiler under {jars}")
    return os.path.join(jars, "*")


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "jvm", "*.scala")))
    if not main or not own or not os.path.exists("tools/check.py"):
        raise SetupError("run from the root of a checkout of the engine: "
                         "src/main/scala, tools/check.py and perfbench/jvm are needed")
    return main + own


def tree_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(jars):
    """Compile the engine and the harness once per source tree."""
    files = sources()
    digest = tree_hash(files)
    out = os.path.join(BUILD, f"classes-{digest}")
    if not os.path.exists(os.path.join(out, ".complete")):
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            shutil.rmtree(old)
        os.makedirs(out)
        os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
        log = os.path.join(BUILD, "compile.log")
        with open(log, "w") as fh:
            rc = subprocess.call(
                ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData",
                 f"-Djava.io.tmpdir={BUILD}/tmp", "-cp", jars,
                 "scala.tools.nsc.Main",
                 "-usejavacp", "-nowarn", "-d", out] + files,
                stdout=fh, stderr=subprocess.STDOUT)
        if rc != 0:
            raise SetupError(f"compile failed, see {log}")
        open(os.path.join(out, ".complete"), "w").close()
    return out, digest


def java_cmd(classes, jars, work, args):
    return (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"] + JAVA_OPENS +
            ["-cp", f"{os.path.abspath(classes)}:{jars}", "perfbench.Main"] +
            [f"{k}={v}" for k, v in args.items()])


def check_module():
    spec = importlib.util.spec_from_file_location("check", "tools/check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# --------------------------------------------------------------- oracles

def oracle_key(sql):
    return hashlib.sha256(f"{datagen.VERSION}\n{sql}".encode()).hexdigest()[:24]


def oracle_digests(sqls, data, norm):
    """DuckDB result digest per query, cached by SQL text and data
    version under .bench_build/oracle, so only a checkout's first run
    pays for the DuckDB side."""
    import duckdb
    cache = os.path.join(BUILD, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = None
    out = {}
    for name, sql in sqls.items():
        path = os.path.join(cache, oracle_key(sql) + ".json")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                con.execute(f"SET temp_directory = '{BUILD}/duckdb-tmp'")
                for t in datagen.TABLES:
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
            with open(path + ".tmp", "w") as fh:
                json.dump(ev.table_digest(con.sql(sql).arrow(), norm), fh)
            os.replace(path + ".tmp", path)
        with open(path) as fh:
            out[name] = json.load(fh)
    return out


# ------------------------------------------------------------------- run

def run_jvm(classes, jars, data, workload, seed, seconds, trace, deadline):
    work = os.path.abspath(os.path.join(BUILD, "work", f"{workload}-s{seed}-t{trace}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw_path = os.path.join(work, "raw.json")
    args = {"workload": workload, "seed": seed, "seconds": seconds,
            "trace": trace, "data": os.path.abspath(data), "work": work,
            "out": raw_path, "cpus": nproc()}
    for k, v in WORKLOADS[workload].items():
        args[k] = ",".join(v) if isinstance(v, list) else v
    args["t0"] = int(time.time() * 1000)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        proc = subprocess.Popen(java_cmd(classes, jars, work, args), cwd=work, env=env,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SetupError(f"{workload} run timed out, see {work}/jvm.log")
    if rc != 0 or not os.path.exists(raw_path):
        raise SetupError(f"{workload} JVM exited with {rc}, see {work}/jvm.log")
    with open(raw_path) as fh:
        return json.load(fh), work


def nproc():
    return len(os.sched_getaffinity(0))


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs so far."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def batch_metrics(raw, data, norm):
    b = raw["batch"]
    qs = b["queries"]
    sqls = {n: q["oracle_sql"] for n, q in qs.items()}
    want = oracle_digests(sqls, data, norm)
    import pyarrow as pa
    import pyarrow.parquet as pq
    attempted = failed = 0
    mismatched = []
    for name, q in qs.items():
        att, fail = ev.batch_counts(q)
        attempted += att
        failed += fail
        if q["cold"] is None:
            continue
        files = sorted(glob.glob(os.path.join(b["out_dir"], name, "*.parquet")))
        got = pa.concat_tables([pq.read_table(f) for f in files]) if files else None
        if got is None or ev.table_digest(got, norm) != want[name]:
            failed += 1
            mismatched.append(name)
    # a query that failed its first or every warm run leaves the sums
    # below; `failed` already marks the run incorrect
    cold = [q["cold"] for q in qs.values() if q["cold"] is not None]
    medians = [statistics.median(q["warm"]) for q in qs.values() if q["warm"]]
    if not cold or not medians:
        raise SetupError("no batch query completed")
    return {
        "cold_s": sum(cold),
        "steady_s": sum(medians),
        "latency_p50_s": statistics.median(medians),
    }, attempted, failed, {"mismatched": mismatched, "passes": len(b["passes"]),
                           "warm_s": {n: q["warm"] for n, q in qs.items() if q["warm"]}}


def stream_metrics(raw):
    s = raw["stream"]
    queries = ("stats", "adstat", "trend")
    compared, bad = ev.compare_store(ev.recount(s["lines"], s["history"]), s["store"])
    chunks = [c for c in s["chunks"] if c["measured"]]
    lats, missing = ev.chunk_latencies(chunks, s["batches"], queries)
    medians = ev.window_medians(s["batches"], queries, s["window_s"])
    # a query fails if it terminated or committed nothing in the window
    stalled = set(s["terminated"]) | (set(queries) - set(medians))
    attempted = compared + len(queries) + len(chunks)
    failed = bad + len(stalled) + missing
    # the backlog is offset 0 of every source, queued when the queries started
    cold, _ = ev.chunk_latencies([{"offset": 0, "due_s": s["cold_start_s"]}],
                                 s["batches"], queries)
    if not medians or not lats or not cold:
        raise SetupError("the queries did not commit the backlog and the measured chunks")
    lat = ev.latency_summary(lats)
    start, end = s["window_s"]
    window = [b for b in s["batches"] if start <= b["done_s"] < end and b["rows"] > 0]
    extra = {"store_cells": compared, "store_mismatches": bad, "stalled_queries": sorted(stalled),
             "latency": lat, "batches_in_window": len(window), "backlog": s["backlog"],
             "store_keys_at_start": s["store_keys_at_start"],
             "store_keys_at_end": sum(len(rows) for rows in s["store"].values()),
             "generator_lag_s": ev.generator_lag(chunks)}
    return {"cold_s": cold[0], "steady_s": sum(medians.values()),
            "latency_p50_s": lat["p50"]}, attempted, failed, extra


def end_to_end(raw, data, norm):
    if "batch" in raw:
        m, att, fail, extra = batch_metrics(raw, data, norm)
    else:
        m, att, fail, extra = stream_metrics(raw)
    m["setup_s"] = raw["setup_s"]
    m["retained_heap_mb"] = min(raw["retained_heap_mb"])
    extra["peak_rss_mb"] = raw["peak_rss_kb"] / 1024.0
    return m, att, fail, extra


# ------------------------------------------------------------- per layer

STORE_OPS = ("increment", "get", "put", "insert_key", "scan", "scan_prefix",
             "replace_group")


def sched_layers(trace, divisor):
    """Scheduler, executor and scan metrics from the traced run's task
    sums, divided by `divisor` (the number of batch passes)."""
    sums = {}
    for p in trace["phases"]:
        for k, v in p["sums"].items():
            sums[k] = sums.get(k, 0) + v
    g = lambda k: sums.get(k, 0) / divisor  # noqa: E731
    m = {"sched.jobs": g("jobs"), "sched.stages": g("stages"), "sched.tasks": g("tasks"),
         "sched.tasks_per_stage": sums.get("tasks", 0) / max(1, sums.get("stages", 0)),
         "ops.run_s": g("run_ms") / 1e3, "ops.cpu_s": g("cpu_ns") / 1e9,
         "ops.gc_s": g("gc_ms") / 1e3, "ops.spill_bytes": g("spill_bytes"),
         "ops.peak_mem_bytes": max((p["peak_mem_bytes"] for p in trace["phases"]), default=0),
         "ops.shuffle_read_bytes": g("shuffle_read_bytes"),
         "ops.shuffle_write_bytes": g("shuffle_write_bytes"),
         "ops.fetch_wait_s": g("fetch_wait_ms") / 1e3,
         "tables.rows_read": g("rows_read")}
    pm = trace["plans_ms"]
    m.update({"plans.analysis_s": pm.get("analysis", 0) / 1e3 / divisor,
              "plans.optimization_s": pm.get("optimization", 0) / 1e3 / divisor,
              "plans.planning_s": pm.get("planning", 0) / 1e3 / divisor,
              "plans.aqe_updates": trace["aqe_updates"] / divisor})
    return m, sums


def batch_layers(raw, cpus):
    b, t = raw["batch"], raw["trace"]
    passes = len(b["passes"])
    m, sums = sched_layers(t, passes)
    qs = b["queries"].values()
    m["SparkEntry.build_s"] = sum((q["cold_build"] or 0) + sum(q["warmup_build"])
                                  + sum(q["warm_build"]) for q in qs) / passes
    m["ops.Shared.artifact_s"] = sum(b["artifacts"].values())
    m["ops.Shared.artifacts"] = len(b["artifacts"])
    spans = {s["id"]: s for s in t["spans"]}
    tasks_of = {}
    for p in t["phases"]:
        sp = spans.get(p["span"])
        if sp is not None and sp["kind"] in ("build", "execute"):
            tasks_of.setdefault(sp["parent"], []).extend(p["intervals"])
    queries = [s for s in t["spans"] if s["kind"] == "query"]
    wall = sum(s["end_ms"] - s["start_ms"] for s in queries) / 1e3
    m["sched.driver_s"] = sum(ev.driver_time(s["start_ms"], s["end_ms"],
                                             tasks_of.get(s["id"], []))
                              for s in queries) / 1e3 / passes
    m["ops.busy_ratio"] = sums.get("run_ms", 0) / 1e3 / (wall * cpus) if wall else 0.0
    return m


def stream_layers(raw):
    s, t = raw["stream"], raw["trace"]
    m, _ = sched_layers(t, 1)
    start, end = s["window_s"]
    live = [x for x in s["batches"] if x["rows"] > 0 and start <= x["done_s"] < end]
    n = len(live)
    if not n:
        raise SetupError("the traced stream committed no batch in the window")
    dur = lambda *ks: sum(sum(x["durations_ms"].get(k, 0) for k in ks)  # noqa: E731
                          for x in live) / 1e3 / n
    stateful = [x for x in live if x["query"] != "stats"]
    m.update({
        "streaming.batches": n,
        "streaming.rows_per_batch": sum(x["rows"] for x in live) / n,
        "streaming.trigger_s": dur("triggerExecution"),
        "streaming.plan_s": dur("queryPlanning"),
        "streaming.offsets_s": dur("latestOffset", "getBatch"),
        "streaming.wal_s": dur("walCommit", "commitOffsets"),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.state_commit_s": sum(x["state_commit_ms"] for x in stateful)
        / 1e3 / max(1, len(stateful)),
    })
    for key in ("state_rows", "state_bytes"):
        final = {x["query"]: x[key] for x in sorted(live, key=lambda x: x["batch"])}
        m[f"streaming.{key}"] = sum(final.values())
    ops = s["store_ops"]
    for op in STORE_OPS:
        m[f"sink.{op}_calls"] = ops["calls"][op]
        m[f"sink.{op}_s"] = ops["nanos"][op] / 1e9
    m["sink.tx_wait_s"] = ops["nanos"]["tx_wait"] / 1e9
    m["sink.rows_per_scan_prefix"] = ops["prefix_rows"] / max(1, ops["calls"]["scan_prefix"])
    m["sink.store_keys"] = sum(len(rows) for rows in s["store"].values())
    m["generator.lag_s"] = ev.generator_lag([c for c in s["chunks"] if c["measured"]])
    return m


def per_layer(raw, cpus, names):
    m = dict.fromkeys(names, 0.0)
    m.update(batch_layers(raw, cpus) if "batch" in raw else stream_layers(raw))
    return m


def write_trace(raw, workload, seed, path):
    """Spans of the traced run: workload -> query -> build/execute ->
    job -> stage from the JVM, plus one span per micro-batch, ending at
    its commit, with its duration phases."""
    spans = list(raw["trace"]["spans"])
    for b in raw.get("stream", {}).get("batches", []):
        spans.append({"kind": "batch", "name": f"{b['query']}#{b['batch']}",
                      "end_s": b["done_s"], "attrs": {
                          "rows": b["rows"], "durations_ms": b["durations_ms"],
                          "state_commit_ms": b["state_commit_ms"]}})
    with open(path, "w") as fh:
        json.dump({"workload": workload, "seed": seed, "spans": spans,
                   "task_sums": {p["span"]: p["sums"] for p in raw["trace"]["phases"]}}, fh)


# ------------------------------------------------------------------ main

def metric_specs():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def stamp(seed, digest, versions, load_start, ticks_start):
    commit = None
    if os.path.isdir(".git"):
        try:
            commit = subprocess.check_output(["git", "rev-parse", "HEAD"],
                                             stderr=subprocess.DEVNULL).decode().strip()
        except (OSError, subprocess.CalledProcessError):
            pass
    steal, total = (b - a for a, b in zip(ticks_start, cpu_ticks()))
    return {"seed": seed, "nproc": nproc(), "load_start": load_start,
            "load_end": loadavg(), "cpu_steal_share": steal / max(1, total),
            "git_commit": commit, "source_sha": digest,
            "spark": versions["spark"], "java": versions["java"]}


def result_path(workload, seed, trace):
    return os.path.join(BUILD, "results", f"{workload}-s{seed}-t{trace}.json")


def save(path, payload):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1)


def untraced_steady(workload, digest):
    """Median `steady_s` of the correct untraced runs of these sources."""
    vals = []
    for f in glob.glob(result_path(workload, "*", 0)):
        with open(f) as fh:
            r = json.load(fh)
        if r["stamp"]["source_sha"] == digest and r["result"]["correct"]:
            vals.append(r["result"]["metrics"]["steady_s"]["value"])
    return statistics.median(vals) if vals else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    try:
        e2e_spec, layer_spec = metric_specs()
        jars = spark_jars()
        classes, digest = build(jars)
        data = datagen.ensure(os.path.join(BUILD, "data"))
        norm = check_module().norm_arrow
        deadline = max(started + RUN_LIMIT_S, time.time() + 150)

        def measure(trace):
            load_start, ticks_start = loadavg(), cpu_ticks()
            raw, work = run_jvm(classes, jars, data, a.workload, a.seed, a.seconds,
                                trace, deadline)
            e2e, attempted, failed, extra = end_to_end(raw, data, norm)
            shutil.rmtree(work, ignore_errors=True)
            info = stamp(a.seed, digest, raw["versions"], load_start, ticks_start)
            info.update({"workload": a.workload, "trace": trace,
                         "error_ratio": failed / attempted,
                         "elapsed_s": time.time() - started}, **extra)
            result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {m["name"]: {"value": float(e2e[m["name"]]),
                                              "unit": m["unit"]} for m in e2e_spec}}
            save(result_path(a.workload, a.seed, trace), {"stamp": info, "result": result})
            return raw, e2e, info, result

        if a.trace:
            baseline = untraced_steady(a.workload, digest)
            raw, e2e, info, result = measure(1)
            values = per_layer(raw, nproc(), [m["name"] for m in layer_spec])
            # with no untraced run to compare with, no overhead is claimed
            info["trace_baseline_steady_s"] = baseline
            over = 0.0 if baseline is None else e2e["steady_s"] - baseline
            values["trace.overhead_s"] = over
            values["trace.overhead_share"] = 0.0 if baseline is None else over / baseline
            write_trace(raw, a.workload, a.seed, os.path.join(
                BUILD, "results", f"{a.workload}-s{a.seed}-trace.json"))
            result["metrics"] = {m["name"]: {"value": float(values[m["name"]]),
                                             "unit": m["unit"]} for m in layer_spec}
            save(result_path(a.workload, a.seed, 1), {"stamp": info, "result": result})
        else:
            _, _, info, result = measure(0)
    except SetupError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(json.dumps({"stamp": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
