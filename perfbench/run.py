#!/usr/bin/env python3
"""graft's benchmark: one workload at one seed, end to end.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload daily_etl --seed 42 --seconds 20 --trace 0

Steps:
 1. builds graft and the benchmark harness with sbt (perfbench/build.sbt)
    unless the build is current;
 2. generates the seeded input (perfbench/gen.py);
 3. runs the harness (graftbench.Main) in one JVM: set-ups, a cold pass,
    warm passes for --seconds, and an untimed pass that writes every
    output;
 4. recomputes each query's SparkEntry.oracleSql with DuckDB on the same
    files and compares it with graft's output;
 5. writes the artifact (every pass time, set-ups, host noise, output
    row counts, oracle results and, with --trace 1, spans) under
    .bench_out/ and prints one JSON line as the last line of stdout.

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The workloads and what each metric means are in perfbench/workloads.json.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "graftbench.stamp")
OUT = os.path.join(ROOT, ".bench_out")
WORK = os.path.join(ROOT, ".bench_work")
RUN_LIMIT_S = 160          # the harness JVM, so a run ends within 180 s of its build
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def source_digest():
    files = sorted(glob.glob(os.path.join(GRAFT_SRC, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles graft and the harness unless the stamp matches the sources."""
    if not os.path.isfile(os.path.join(GRAFT_SRC, "graft", "SparkEntry.scala")):
        fail(f"graft's sources are missing under {os.path.relpath(GRAFT_SRC, ROOT)}")
    digest = source_digest()
    if os.path.isfile(STAMP) and open(STAMP).read() == digest:
        return
    log("building graft and the benchmark harness (sbt compile)")
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt is not on PATH")
    r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def seeded_input(seed, keep=16):
    """The generated input for `seed`, made once and kept for later runs.

    The same seed gives identical files, so a kept directory is reused;
    only the `keep` most recently used seeds are kept."""
    root = os.path.join(WORK, "data")
    path = os.path.join(root, f"seed-{seed}")
    if not os.path.isdir(path):
        sys.path.insert(0, HERE)
        import gen
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write(seed, tmp)
        os.replace(tmp, path)
    os.utime(path)
    kept = sorted(glob.glob(os.path.join(root, "seed-*")), key=os.path.getmtime, reverse=True)
    for old in kept[keep:]:
        shutil.rmtree(old, ignore_errors=True)
    return path


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def loadavg():
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:
        return -1.0


def cpu_ticks():
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return f[7] if len(f) > 7 else 0, sum(f)
    except OSError:
        return 0, 0


def pct(values, q):
    """The q-th percentile (0-100) with linear interpolation."""
    s = sorted(values)
    if not s:
        return 0.0
    k = (len(s) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def run_harness(args, workload, data, work, result_path, spans_path, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*")
    opens = [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, "-Xms4g", "-Xmx4g", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", *opens, "-cp", cp, "graftbench.Main",
           "--data", data, "--queries", ",".join(workload["queries"]),
           "--seconds", str(args.seconds), "--warm", str(workload["warm_passes"]),
           "--trace", str(args.trace), "--cores", str(cores()),
           "--work", work, "--out", result_path, "--spans", spans_path]
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as logf:
        launch_ms = time.time() * 1000.0
        p = subprocess.Popen(cmd + ["--launch-ms", repr(launch_ms)], stdout=logf, stderr=logf,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            tail(log_path)
            fail("harness ran past the time limit and was stopped")
    if rc != 0 or not os.path.isfile(result_path):
        tail(log_path)
        fail(f"harness failed (exit {rc})")
    with open(result_path) as fh:
        return json.load(fh)


def tail(path, n=30):
    try:
        for line in open(path, errors="replace").read().splitlines()[-n:]:
            print(line, file=sys.stderr)
    except OSError:
        pass


# ---------------------------------------------------------------- oracle

def normalize(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def mismatch(spark_df, oracle_df):
    """The first hard difference between the two results, or None.

    Same rules as tools/check.py: names, row count, exact values for
    non-floats, a 1e-9 relative tolerance for floats, and an int-vs-float
    column counts as a difference."""
    import numpy as np
    if list(spark_df.columns) != list(oracle_df.columns):
        return f"columns: graft={list(spark_df.columns)} oracle={list(oracle_df.columns)}"
    if len(spark_df) != len(oracle_df):
        return f"row count: graft={len(spark_df)} oracle={len(oracle_df)}"
    for c in spark_df.columns:
        a, b = spark_df[c], oracle_df[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            if a.dtype.kind != b.dtype.kind:
                return f"col {c}: dtype graft={a.dtype} oracle={b.dtype}"
            x, y = a.to_numpy(dtype=float), b.to_numpy(dtype=float)
            tol = 1e-9 * np.maximum(1.0, np.maximum(np.abs(x), np.abs(y)))
            with np.errstate(invalid="ignore"):
                bad = ~((np.isnan(x) & np.isnan(y)) | (np.abs(x - y) <= tol))
        elif a.dtype.kind == b.dtype.kind and a.dtype.kind in "iubO":
            # same kind: ints compare as numbers, strings are already str
            bad = a.to_numpy() != b.to_numpy()
        else:
            bad = (a.astype(str) != b.astype(str)).to_numpy()
        if bad.any():
            i = int(np.argmax(bad))
            return f"col {c}: {int(bad.sum())} values differ, e.g. graft={a[i]!r} oracle={b[i]!r}"
    return None


def oracle_check(data, outputs, queries):
    """{query: {"rows": n, "error": str|None}} for every query."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute(f"SET threads TO {cores()}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t)}.parquet'")
    with open(os.path.join(outputs, "oracle_sql.json")) as fh:
        sql = json.load(fh)
    res = {}
    for q in queries:
        try:
            got = normalize(pd.read_parquet(os.path.join(outputs, f"{q}.parquet")))
        except Exception as e:  # a missing output is the harness's failure
            res[q] = {"rows": None, "error": f"no output: {e}"}
            continue
        if q not in sql:
            res[q] = {"rows": len(got), "error": "no oracle SQL"}
            continue
        try:
            want = normalize(con.execute(sql[q]).df())
        except Exception as e:
            res[q] = {"rows": len(got), "error": f"oracle SQL failed: {e}"}
            continue
        res[q] = {"rows": len(got), "error": mismatch(got, want)}
    con.close()
    return res


# ---------------------------------------------------------------- traces

def resolve(spans):
    """Sets each span's parent (by id, property or time) and trace_id."""
    by_id = {s["id"]: s for s in spans}
    harness = sorted((s for s in spans if s["layer"] in ("bench", "queries", "sinks")),
                     key=lambda s: s["start"])
    sql_by_exec = {s["attrs"]["sql_execution_id"]: s for s in spans if s["name"].startswith("sql ")}

    def innermost(t):
        best = None
        for h in harness:
            if h["start"] > t:
                break
            if h["end"] >= t and (best is None or h["start"] >= best["start"]):
                best = h
        return best["id"] if best else 0

    # a SQL execution belongs to the harness span its jobs were started
    # under (work can outlive the call that started it); else by time
    exec_span = {}
    for s in spans:
        prop = s["attrs"].get("harness_span", "") if s["layer"] == "scheduler" else ""
        if prop and int(prop) in by_id:
            exec_span.setdefault(s["attrs"].get("sql_execution_id", ""), int(prop))
    for s in spans:
        if s["parent"] or s["name"] == "pass":
            continue
        if s["layer"] == "scheduler":
            sql = sql_by_exec.get(s["attrs"].get("sql_execution_id", ""))
            prop = s["attrs"].get("harness_span", "")
            s["parent"] = sql["id"] if sql else int(prop) if prop else innermost(s["start"])
        elif s["name"].startswith("sql "):
            s["parent"] = exec_span.get(s["attrs"]["sql_execution_id"]) or innermost(s["start"])
        else:
            s["parent"] = innermost(s["start"])
    for s in spans:
        if s["parent"] == s["id"]:
            s["parent"] = 0

    def root_query(s, depth=0):
        while s is not None and depth < 64:
            if s["name"] == "query":
                return s["id"]
            s = by_id.get(s["parent"])
            depth += 1
        return 0

    for s in spans:
        s["trace_id"] = root_query(s)
    return by_id


def self_times(spans, by_id):
    """Per span: duration minus the union of its children's intervals."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                    for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
    return out


LAYERS = ["bench", "queries", "sinks", "plans", "scheduler", "executors", "streaming"]


def layer_metrics(spans, by_id, selfs, window, wall_s, ncores, concurrency):
    """Per-layer sums for one traced pass [start, end]."""
    lo, hi = window
    inside = [s for s in spans if lo <= s["start"] <= hi]

    def attr_sum(layer, prefix, key):
        return sum(s["attrs"].get(key, 0) or 0 for s in inside
                   if s["layer"] == layer and s["name"].startswith(prefix))

    def under_build(s):
        p = by_id.get(s["parent"])
        while p is not None:
            if p["name"] == "queries.build":
                return True
            p = by_id.get(p["parent"])
        return False

    jobs = [s for s in inside if s["layer"] == "scheduler"]
    stages = [s for s in inside if s["layer"] == "executors"]
    batches = [s for s in inside if s["layer"] == "streaming" and s["name"].startswith("batch ")]
    task_s = attr_sum("executors", "stage", "task_ms") / 1000.0
    cpu_s = attr_sum("executors", "stage", "cpu_ns") / 1e9
    skews = [st["attrs"]["task_ms_max"] / max(1, st["attrs"]["task_ms_median"])
             for st in stages if st["attrs"]["tasks"] >= 2]
    last_state = {}
    for b in sorted(batches, key=lambda b: b["start"]):
        last_state[b["attrs"]["run_id"]] = b["attrs"]
    m = {
        "queries.build_ms": sum(s["end"] - s["start"] for s in inside if s["name"] == "queries.build"),
        "queries.build_jobs": sum(1 for j in jobs if under_build(j)),
        "plans.analysis_ms": attr_sum("plans", "catalyst", "analysis_ms"),
        "plans.optimize_ms": attr_sum("plans", "catalyst", "optimization_ms"),
        "plans.physical_ms": attr_sum("plans", "catalyst", "planning_ms"),
        "plans.executions": sum(1 for s in inside if s["name"].startswith("sql ")),
        "plans.plan_bytes": attr_sum("plans", "sql", "plan_bytes"),
        "sched.jobs": len(jobs),
        "sched.stages": len(stages),
        "sched.tasks": attr_sum("executors", "stage", "tasks"),
        "sched.jobs_concurrent_max": int(max([n for t, n in concurrency if lo <= t <= hi],
                                             default=0)),
        "exec.task_s": task_s,
        "exec.cpu_s": cpu_s,
        "exec.wait_s": task_s - cpu_s,
        "exec.gc_s": attr_sum("executors", "stage", "gc_ms") / 1000.0,
        "exec.efficiency": task_s / (wall_s * ncores),
        "exec.core_idle_s": wall_s * ncores - task_s,
        "exec.skew": max(skews, default=1.0),
        "exec.tasks_failed": attr_sum("executors", "stage", "tasks_failed"),
        "sources.input_bytes": attr_sum("executors", "stage", "input_bytes"),
        "sources.scan_tasks": attr_sum("executors", "stage", "scan_tasks"),
        "shuffle.write_bytes": attr_sum("executors", "stage", "shuffle_write_bytes"),
        "shuffle.read_bytes": attr_sum("executors", "stage", "shuffle_read_bytes"),
        "shuffle.fetch_wait_ms": attr_sum("executors", "stage", "fetch_wait_ms"),
        "spill.bytes": attr_sum("executors", "stage", "spill_bytes"),
        "sink.output_bytes": attr_sum("executors", "stage", "output_bytes"),
        "sink.output_records": attr_sum("executors", "stage", "output_records"),
        "streaming.batches": len(batches),
        "streaming.add_batch_ms": sum(b["attrs"].get("addBatch_ms", 0) for b in batches),
        "streaming.planning_ms": sum(b["attrs"].get("queryPlanning_ms", 0) for b in batches),
        "streaming.wal_commit_ms": sum(b["attrs"].get("walCommit_ms", 0) for b in batches),
        "streaming.commit_offsets_ms": sum(b["attrs"].get("commitOffsets_ms", 0) for b in batches),
        "streaming.state_rows": sum(a["state_rows"] for a in last_state.values()),
        "streaming.state_bytes": sum(a["state_bytes"] for a in last_state.values()),
        "streaming.state_commit_ms": sum(b["attrs"]["state_commit_ms"] for b in batches),
    }
    for layer in LAYERS:
        m[f"self.{layer}_s"] = sum(selfs[s["id"]] for s in inside if s["layer"] == layer) / 1000.0
    return m


# The metrics the last stdout line carries: END_TO_END with --trace 0,
# PER_LAYER with --trace 1 (the same lists as BENCHMARK.json).
END_TO_END = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s", "rss_peak_mb": "MB"}
PER_LAYER = {
    "queries.build_ms": "ms", "queries.build_jobs": "count",
    "plans.analysis_ms": "ms", "plans.optimize_ms": "ms", "plans.physical_ms": "ms",
    "plans.executions": "count", "plans.plan_bytes": "bytes",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.jobs_concurrent_max": "count",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.wait_s": "s", "exec.gc_s": "s",
    "exec.efficiency": "ratio", "exec.core_idle_s": "s", "exec.skew": "ratio",
    "exec.tasks_failed": "count",
    "sources.input_bytes": "bytes", "sources.scan_tasks": "count",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms", "spill.bytes": "bytes",
    "sink.output_bytes": "bytes", "sink.output_records": "count",
    "streaming.batches": "count", "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes", "streaming.state_commit_ms": "ms",
    "batch_s.p50": "s", "batch_s.p90": "s",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "trace.overhead": "ratio",
}


def traced_layers(spans, passes, res):
    """Per-layer metrics (median over traced warm passes) and the cold pass's."""
    by_id = resolve(spans)
    selfs = self_times(spans, by_id)

    def of(p):
        return layer_metrics(spans, by_id, selfs, (p["start"], p["end"]), p["wall_s"],
                             res["cores"], res["job_concurrency"])

    warm = passes[1:]
    traced = [p for p in warm if p["traced"]]
    per_pass = [of(p) for p in traced]
    layer = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    layer["trace.overhead"] = (statistics.median(p["wall_s"] for p in traced) /
                               statistics.median(p["wall_s"] for p in warm if not p["traced"]))
    return layer, of(passes[0])


def main():
    ap = argparse.ArgumentParser(description="graft's benchmark: one workload at one seed")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    with open(os.path.join(HERE, "workloads.json")) as fh:
        cfg = json.load(fh)
    if args.workload not in cfg["workloads"]:
        fail(f"unknown workload {args.workload}; known: {', '.join(cfg['workloads'])}")
    workload = cfg["workloads"][args.workload]
    queries = workload["queries"]

    build()
    deadline = time.time() + RUN_LIMIT_S
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(WORK, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    try:
        t0 = time.time()
        data = seeded_input(args.seed)
        gen_s = time.time() - t0

        load0, (steal0, total0) = loadavg(), cpu_ticks()
        result_path = os.path.join(work, "result.json")
        spans_path = os.path.join(work, "spans.jsonl")
        res = run_harness(args, workload, data, work, result_path, spans_path, deadline)
        load1, (steal1, total1) = loadavg(), cpu_ticks()
        t0 = time.time()
        oracle = oracle_check(data, os.path.join(work, "outputs"), queries)
        compare_s = time.time() - t0

        passes = res["passes"]
        # end-to-end numbers come from the untraced warm passes only
        plain = [p for p in passes[1:] if not p["traced"]]
        lat = [q["build_s"] + q["exec_s"] for p in plain for q in p["queries"]]
        btimes = [b["trigger_ms"] / 1000.0 for b in res["batches"]
                  if any(p["start"] <= b["end"] <= p["end"] for p in plain)]
        errors = [[p["index"], q["name"], q["error"]] for p in passes for q in p["queries"]
                  if q["error"]]
        errors += [["oracle", q, e] for q, e in res["oracle_errors"].items()]
        mismatches = {q: r["error"] for q, r in oracle.items() if r["error"]}
        # every timed execution plus the oracle pass's, each query once
        attempted = sum(len(p["queries"]) for p in passes) + len(queries)
        failed = len(errors) + len(mismatches)

        e2e = {
            "setup_s": statistics.median(res["setup_s"]),
            "first_pass_s": passes[0]["wall_s"],
            "pass_s": statistics.median(p["wall_s"] for p in plain),
            "rss_peak_mb": res["rss_peak_mb"],
        }
        # reported in the artifact and the summary line; too few samples
        # per run (or none, without micro-batches) to gate on
        extra = {
            "query_s.p50": (pct(lat, 50), "s", len(lat)),
            "query_s.p75": (pct(lat, 75), "s", len(lat)),
            "batch_s.p50": (pct(btimes, 50), "s", len(btimes)),
            "batch_s.p90": (pct(btimes, 90), "s", len(btimes)),
            "failed_ratio": (failed / attempted, "ratio", attempted),
        }
        layer, cold = {}, None
        if args.trace:
            with open(spans_path) as fh:
                spans = [json.loads(line) for line in fh if line.strip()]
            layer, cold = traced_layers(spans, passes, res)
            layer["batch_s.p50"], layer["batch_s.p90"] = extra["batch_s.p50"][0], extra["batch_s.p90"][0]
            with open(os.path.join(OUT, f"{tag}.spans.jsonl"), "w") as fh:
                for s in spans:
                    fh.write(json.dumps(s) + "\n")
            metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}

        artifact = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": res["cores"], "queries": queries,
            "end_to_end": e2e,
            "samples": {k: n for k, (_, _, n) in extra.items()},
            **{k: v for k, (v, _, _) in extra.items()},
            "passes": [{"index": p["index"], "cold": p["index"] == 0, "traced": p["traced"],
                        "wall_s": p["wall_s"],
                        "query_s": {q["name"]: q["build_s"] + q["exec_s"] for q in p["queries"]},
                        "build_s": {q["name"]: q["build_s"] for q in p["queries"]}}
                       for p in passes],
            "setup_s": res["setup_s"],
            "jvm_start_s": res["jvm_start_s"],
            "first_session_s": res["first_session_s"],
            "oracle_pass_s": res["oracle_pass_s"],
            "generate_s": gen_s,
            "compare_s": compare_s,
            "errors": errors,
            "output_rows": {q: r["rows"] for q, r in oracle.items()},
            "oracle_mismatches": mismatches,
            "host": {"loadavg_1m_start": load0, "loadavg_1m_end": load1,
                     "steal_share": (steal1 - steal0) / max(1, total1 - total0)},
            "per_layer": layer,
            "per_layer_cold_pass": cold,
            "wall_s": time.time() - t_start,
        }
        with open(os.path.join(OUT, f"{tag}.json"), "w") as fh:
            json.dump(artifact, fh, indent=1)
        for q, e in mismatches.items():
            log(f"oracle mismatch {q}: {e}")
        for e in errors:
            log(f"error {e}")
        log("  ".join([f"{k}={v:.4g} {END_TO_END[k]}" for k, v in e2e.items()] +
                      [f"{k}={v:.4g} {u} (n={n})" for k, (v, u, n) in extra.items()]))
        print(json.dumps({"correct": not mismatches and not errors, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
