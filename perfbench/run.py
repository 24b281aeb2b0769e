#!/usr/bin/env python3
"""Benchmark of the graft engine: the `migrate`, `serve` and `analytics`
workloads (see README.md in this directory).

Run from the root of a checkout:

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

The first run builds the engine (the repository's own sbt build) and
this benchmark (its own sbt build in this directory) into the build
directory, `$CARGO_TARGET_DIR` or `.bench_build`; later runs reuse the
build while the sources are unchanged. Each run launches one JVM for the
workload, checks its outputs and prints, as its last line, one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`.

`--corrupt 1` corrupts the workload's output before the check, to show
that the check catches it: the run prints `"correct": false` and exits 0
only if the corruption was caught.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("migrate", "serve", "analytics")
CORES = 4
# Fits a 15 GiB box with room for the OS and the sbt build. The initial
# heap equals the maximum, and the young generation has a fixed size, so
# that the peak RSS follows the memory the program keeps, not the
# collector's heap-sizing decisions, which differ from run to run.
HEAP = "4g"
YOUNG = "1g"
DEADLINE_S = 170      # a run must end within 180 s
BUILD_DEADLINE_S = 840  # the first run in a checkout may take 900 s

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "side_op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "rss_peak_mb": "MB",
}

SPARK_LAYER = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_cpu_s",
    "spark.task_run_s", "spark.gc_s", "spark.shuffle_write_mb",
    "spark.spill_mb", "spark.input_mb", "spark.output_mb",
    "spark.idle_core_share", "trace.overhead_s",
]
MIGRATE_LAYER = [
    "pipeline.stage_s", "pipeline.load_s", "sink.append_s",
    "sink.append_calls", "sink.files", "pipeline.checkpoint_s",
    "ktable.compact_s", "ktable.compacted", "ws.bytes_raw",
    "ws.bytes_transformed", "ws.bytes_target", "ws.write_amp",
    "pipeline.rows_transformed", "rerun.probe_s",
]
SERVE_LAYER = [
    "ktable.lookup_build_ms", "ktable.lookup_plan_ms", "ktable.lookup_exec_ms",
    "ktable.decoded_rows_per_lookup", "ktable.block_pruned_rows_per_lookup",
    "ktable.lookup_useful_ratio", "ktable.jobs_per_lookup",
    "ktable.tasks_per_lookup", "ktable.upsert_append_ms",
    "ktable.live_manifests_end",
]
HEADLINE = [
    "q1_agg_pricing", "q_ann_brute_topk", "q_asof_join",
    "q_dedup_minhash_lsh", "q_dedup_ngram_jaccard", "q_flagship_star",
    "q_range_join_bucketed", "q_stream_window_batch", "q_window_running",
]
ANALYTICS_LAYER = [f"{q}.{m}" for q in HEADLINE for m in (
    "construct_s", "plan_s", "exec_s", "construct_jobs", "exec_jobs",
    "task_cpu_s", "shuffle_mb", "gc_s")]
OWN_LAYER = {"migrate": MIGRATE_LAYER, "serve": SERVE_LAYER,
             "analytics": ANALYTICS_LAYER}
LAYER_UNITS = [("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_share", "ratio"),
               ("_ratio", "ratio"), ("write_amp", "ratio")]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def layer_unit(name):
    if name.startswith("ws.bytes_"):
        return "B"
    for suffix, unit in LAYER_UNITS:
        if name.endswith(suffix):
            return unit
    return "count"


def fixture_dirs(root):
    """(benchmark fixture, oracle fixture): the sf 0.1 and sf 0.01 rows of
    the repository's TESTDATA.md; SPARK_GRAFT_SF_DIR (the engine's own
    variable) overrides the first."""
    rows = {}
    try:
        with open(os.path.join(root, "TESTDATA.md")) as f:
            for line in f:
                m = re.match(r"\|\s*([0-9.]+)\s*\|\s*`([^`]+)`", line)
                if m:
                    rows[m.group(1)] = m.group(2).rstrip("/")
    except OSError:
        pass
    return os.environ.get("SPARK_GRAFT_SF_DIR", rows.get("0.1")), rows.get("0.01")


def box_stamp():
    def meminfo_kb():
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    return {"nproc": os.cpu_count(), "mem_total_mb": meminfo_kb() / 1024,
            "local_threads": CORES, "heap": HEAP, "young": YOUNG}


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def run_killable(cmd, cwd, timeout, log_path, env=None):
    """Runs cmd in its own process group; on timeout the whole group is
    killed and waited for. Returns (returncode, stdout text)."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=log, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            return None, ""
    return p.returncode, out


def source_stamp(root):
    h = hashlib.sha256()
    tops = [os.path.join(root, "build.sbt"), os.path.join(root, "project"),
            os.path.join(root, "src", "main"), BENCH_DIR]
    for top in tops:
        for dirpath, dirnames, files in os.walk(top):
            dirnames[:] = sorted(
                d for d in dirnames if d != "target" and not d.startswith(".")
                and not (d == "project" and os.path.basename(dirpath) == "project"))
            for fn in sorted(files):
                if fn.endswith((".scala", ".sbt", ".properties", ".java")):
                    p = os.path.join(dirpath, fn)
                    h.update(p.encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def sbt_classpath(cwd, build_dir, name, deadline, env=None):
    code, out = run_killable(
        ["sbt", "-batch", "-J-XX:-UsePerfData", "compile",
         "export Runtime/fullClasspath"], cwd,
        deadline - time.time(), os.path.join(build_dir, f"sbt-{name}.log"), env)
    lines = [l for l in out.splitlines() if l and not l.startswith("[")]
    if code != 0 or not lines:
        fail(f"sbt build of {name} failed (see {build_dir}/sbt-{name}.log)")
    return lines[-1].strip()


def build(root, build_dir):
    """Builds the engine and the benchmark once per source state; returns
    the runtime classpath."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "classpath.stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    deadline = time.time() + BUILD_DEADLINE_S
    engine_cp = sbt_classpath(root, build_dir, "engine", deadline)
    env = dict(os.environ, GRAFT_CLASSPATH=engine_cp)
    cp = sbt_classpath(BENCH_DIR, build_dir, "perfbench", deadline, env)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple("NaN" if isinstance(r[i], float) and math.isnan(r[i])
                         else r[i] for i in order))
    return sorted(out, key=repr), [cols[i] for i in order]


def oracle_check(fixture, out_dir):
    """Each exported headline result against its DuckDB oracle: equal
    column names, pandas dtypes and sorted rows."""
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = os.path.join(fixture, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = []
    for name, sql in sorted(oracles.items()):
        try:
            o = con.execute(sql).df()
            s = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
            if {c: str(t) for c, t in o.dtypes.items()} != {c: str(t) for c, t in s.dtypes.items()}:
                bad.append(f"{name}: column types differ")
            elif canon(list(o.itertuples(index=False)), list(o.columns)) != \
                    canon(list(s.itertuples(index=False)), list(s.columns)):
                bad.append(f"{name}: rows differ ({len(s)} vs {len(o)} expected)")
        except Exception as e:  # a query that cannot be compared fails the check
            bad.append(f"{name}: {str(e)[:200]}")
    return not bad, f"{len(oracles) - len(bad)}/{len(oracles)} match their oracle; " + "; ".join(bad)


def steal_share(before):
    """Share of CPU time the hypervisor gave to other guests since `before`:
    the run's contention from outside the box."""
    steal, total = cpu_ticks()
    return (steal - before[0]) / max(total - before[1], 1)


def finite(x):
    return isinstance(x, (int, float)) and math.isfinite(x)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """The p95 if at least 10 samples lie beyond it, else the highest
    percentile with 10 beyond it; below 11 samples, the maximum."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan"), float("nan")
    if n < 11:
        return s[-1], 100.0
    i = min(math.ceil(0.95 * n) - 1, n - 11)
    return s[i], 100.0 * (i + 1) / n


def named_metrics(workload, res):
    """The numbers under their workload-specific names."""
    u = res["untraced"]
    main, side = u["main_s"], u["side_s"]
    m = {"setup_s": (res["setup_s"], "s"),
         "failed_ratio": (u["failed"] / max(u["attempted"], 1), "ratio"),
         "rss_peak_mb": (res["rss_peak_mb"], "MB")}
    if workload == "migrate":
        rows = res["extra"].get("live_rows", 0)
        m["migrate_job_s"] = (median(main), "s")
        m["migrate_rows_per_s"] = (rows * len(main) / sum(main) if main else float("nan"), "rows/s")
        m["migrate_rerun_s"] = (median(side), "s")
    elif workload == "serve":
        t, pct = tail(main)
        m["lookup_p50_ms"] = (median(main) * 1e3, "ms")
        m["lookup_p95_ms"] = (t * 1e3, f"ms (p{pct:.1f} of {len(main)})")
        m["upsert_p50_ms"] = (median(side) * 1e3, "ms")
        m["serve_ops_per_s"] = (u["loop_completed"] / u["wall_s"], "1/s")
    else:
        per = res["extra"].get("per_query_median_s", {})
        m["analytics_total_s"] = (sum(per.values()) if per else float("nan"), "s")
    return m


def end_to_end(res):
    u = res["untraced"]
    t, _ = tail(u["main_s"])
    vals = {
        "setup_s": res["setup_s"],
        "op_p50_ms": median(u["main_s"]) * 1e3,
        "op_tail_ms": t * 1e3,
        "side_op_p50_ms": median(u["side_s"]) * 1e3,
        "ops_per_s": u["loop_completed"] / u["wall_s"],
        "rss_peak_mb": res["rss_peak_mb"],
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in vals.items()}


def per_layer(workload, res):
    layer = res.get("layer") or {}
    missing = [k for k in SPARK_LAYER + OWN_LAYER[workload] if not finite(layer.get(k))]
    if missing:
        fail(f"traced run lacks per-layer metrics {missing}")
    names = SPARK_LAYER + MIGRATE_LAYER + SERVE_LAYER + ANALYTICS_LAYER
    # layers this workload does not reach did no work: reported as 0
    return {k: {"value": layer.get(k, 0.0), "unit": layer_unit(k)} for k in names}


def run_workload(args, build_dir, cp, fixtures, started):
    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    load_before, ticks_before = loadavg(), cpu_ticks()
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
            "-XX:ReservedCodeCacheSize=512m"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}",
              "-cp", cp, "perfbench.BenchMain",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--fixture", fixtures[0], "--oracle-fixture", fixtures[1],
              "--work", run_dir, "--bench-dir", BENCH_DIR,
              "--out", out, "--corrupt", str(args.corrupt)])
    log = os.path.join(run_dir, "jvm.log")
    code, _ = run_killable(cmd, run_dir, started + DEADLINE_S - time.time(), log)
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{args.workload} JVM " + ("timed out" if code is None else f"exited {code}"))
    with open(out) as f:
        res = json.load(f)
    correct, detail = res["check"]["ok"], res["check"]["detail"]
    if args.workload == "analytics" and correct:
        correct, detail = oracle_check(fixtures[1], res["extra"]["oracle_dir"])
    runs = [res["untraced"]] + ([res["traced"]] if res.get("traced") else [])
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    metrics = per_layer(args.workload, res) if args.trace else end_to_end(res)
    bad = [k for k, v in metrics.items() if not finite(v["value"])]
    if bad:
        fail(f"{args.workload}: no measurement for {bad}; failures: "
             f"{[f for r in runs for f in r['failures']][:5]}")
    kept = os.path.join(build_dir, "results")
    os.makedirs(kept, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if res.get("trace_file"):
        shutil.copy(res["trace_file"], os.path.join(kept, f"{tag}.spans.json"))
    detail_line = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "check": detail,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in named_metrics(args.workload, res).items()},
        "samples": {"main": len(res["untraced"]["main_s"]),
                    "side": len(res["untraced"]["side_s"])},
        "failures": [f for r in runs for f in r["failures"]],
        "box": dict(box_stamp(), loadavg_before=load_before, loadavg_after=loadavg(),
                    steal_share=steal_share(ticks_before),
                    heap_used_mb=res["heap_used_mb"], heap_max_mb=res["heap_max_mb"]),
    }
    with open(os.path.join(kept, f"{tag}.json"), "w") as f:
        json.dump(dict(detail_line, result=res), f, indent=1)
    if correct or args.corrupt:
        shutil.rmtree(run_dir, ignore_errors=True)
    else:
        print(f"perfbench: check failed; outputs kept in {run_dir}", file=sys.stderr)
    return detail_line, {"correct": bool(correct), "attempted": attempted,
                         "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.exists(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (no build.sbt / engine sources here)")
    fixtures = fixture_dirs(root)
    for d in fixtures:
        if not d or not os.path.exists(os.path.join(d, "lineitem.parquet")):
            fail(f"fixture not found ({d}); see TESTDATA.md")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp = build(root, build_dir)

    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = []
    for w in names:
        a = argparse.Namespace(**dict(vars(args), workload=w))
        detail, final = run_workload(a, build_dir, cp, fixtures, time.time())
        print(json.dumps(detail))
        results.append(final)
    ok = all(r["correct"] for r in results)
    print(json.dumps(results[-1]))
    if args.corrupt:
        sys.exit(1 if ok else 0)


if __name__ == "__main__":
    main()
