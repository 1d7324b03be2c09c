#!/usr/bin/env python3
"""The repo benchmark: one command per (workload, seed) run.

Usage (from the repository root):
  python3 perfbench/run.py --workload {publish,daily,registry} --seed N \\
      --seconds S --trace {0,1}

Builds the engine and the benchmark's JVM side (perfbench/build.py), makes
the seeded inputs, runs the workload in one JVM on local[4] with one
closed-loop client thread for S seconds, checks every output, and prints
as its last line one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end set; with
--trace 1 they are the per-layer set from a run whose passes alternate
between tracing on and off. Lines before the last one name the
workload's own metrics, diagnostics and any failure with its cause.

Workloads:
  publish   full rebuild: stdout tree -> BenchIngest.ingest ->
            series JSON per test + catalog (BenchSinks)
  daily     one day lands at a time: StreamPipelines.alertingStream
            catch-up, then seeded dashboard reads through Tables.table
  registry  SparkEntry.queries entries over seeded star-schema tables,
            warm; every result checked against its DuckDB oracle with
            tools/compare.py
"""
import argparse
import contextlib
import importlib.util
import io
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402
import gen_tables  # noqa: E402

WORKLOADS = ("publish", "daily", "registry")
# (name, unit): identical for every workload; see README.md here.
END_TO_END = [("pass_s", "s"), ("request_p50_ms", "ms"), ("request_p75_ms", "ms"),
              ("cached_mb", "MB"), ("setup_s", "s")]
# Per-layer metrics of a traced run.
LAYERS = ("sources", "operators", "streaming", "llm")
PER_LAYER = (
    [f"{l}.{m}" for l in LAYERS for m in (
        "calls", "busy_s", "self_s", "jobs", "stages", "tasks", "task_cpu_s",
        "idle_frac", "gc_s", "shuffle_mb", "spill_mb", "failed_tasks")] +
    ["sources." + m for m in ("list_s", "files_listed", "lines_scanned", "lines_kept_frac",
                              "dedup_kept_frac", "artifact_builds", "artifact_build_s")] +
    ["operators." + m for m in ("sink_write_s", "sink_files_written", "sink_mb_written",
                                "rows_scanned_per_row_returned")] +
    ["streaming." + m for m in ("batches", "batch_s", "get_batch_s", "add_batch_s",
                                "query_start_s", "sink_files", "rows_rewritten_per_new_row")] +
    [f"llm.{f}_s" for f in ("dedup", "similarity", "text", "graph", "models", "sampling",
                            "pipeline", "multimodal")] +
    [f"operators.{f}_s" for f in ("relational", "functions", "bench")] +
    ["streaming.windows_s", "host.calib_s", "host.calib_end_s", "jvm.gc_s",
     "jvm.code_cache_mb", "trace.passes", "trace.overhead_frac"])
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def layer_unit(name):
    """Unit of a per-layer metric, from its name."""
    leaf = name.split(".", 1)[1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb") or "_mb_" in leaf:
        return "MB"
    if leaf.endswith("_frac"):
        return "fraction"
    if leaf.startswith("rows_"):
        return "ratio"
    return "count"


def oracle_check(root, tables, work, runs):
    """Compare each query's first timed result with its DuckDB oracle via
    tools/compare.py. Returns {query: cause} for every mismatch."""
    spec = importlib.util.spec_from_file_location("compare", os.path.join(root, "tools", "compare.py"))
    compare = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(compare)
    results = os.path.join(work, "results")
    shutil.copy(os.path.join(work, "oracle.json"), os.path.join(results, "oracle_sql.json"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        compare.main(tables, results)
    verdict = {}
    for line in buf.getvalue().splitlines():
        tag, _, rest = line.partition(" ")
        name, _, cause = rest.strip().partition(":")
        if tag in ("OK", "WARN", "FAIL", "skip"):
            verdict[name] = (tag, cause.strip())
    bad = {}
    for q in runs:
        tag, cause = verdict.get(q, ("FAIL", "no result to compare"))
        if tag != "OK":
            bad[q] = f"{tag}: {cause}"[:200]
    return bad


def run(args, root):
    classes = build.ensure(root)
    work = os.path.join(root, ".bench_build", "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        tables = os.path.join(work, "tables")
        if args.workload == "registry":
            gen_tables.write(tables, args.seed)
        result = os.path.join(work, "result.json")
        jars = os.path.join(build.SPARK_JARS, "*")
        cmd = (["java", "-XX:-UsePerfData"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
               ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Main",
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--work", work, "--tables", tables, "--out", result])
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as lf:
            try:
                rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                    timeout=JVM_TIMEOUT_S, cwd=work).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(result):
            with open(log) as lf:
                sys.stderr.write(lf.read()[-6000:])
            raise SystemExit(f"perfbench: the {args.workload} run failed ({rc})")
        with open(result) as f:
            res = json.load(f)
        if args.workload == "registry":
            runs = dict(kv.split("=") for kv in res["extra"]["runs"].split(",") if kv)
            for q, cause in oracle_check(root, tables, work, runs).items():
                res["failed"] += int(runs[q])
                res["failures"].append([q, cause])
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    # SIGTERM unwinds like an exception: subprocess.run kills and reaps the
    # JVM, and the run directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    root = os.getcwd()
    res = run(args, root)

    for k, v in res["detail"].items():
        print(f"detail {k} = {v['value']:.6g} {v['unit']}")
    for k, v in res["extra"].items():
        print(f"extra {k} = {v}")
    for k in ("host.calib_s", "host.calib_end_s", "jvm.gc_s", "jvm.code_cache_mb"):
        print(f"diag {k} = {res['layers'][k]:.6g}")
    if args.trace:
        lay = res["layers"]
        for l in LAYERS:
            print(f"layer {l:9s} " + " ".join(
                f"{m}={lay[f'{l}.{m}']:.4g}" for m in
                ("calls", "busy_s", "self_s", "idle_frac", "jobs", "stages", "tasks", "task_cpu_s")))
        print(f"tracing overhead = {lay['trace.overhead_frac']:+.3f} of an untraced pass")
    for q, cause in res["failures"]:
        print(f"FAILED {q}: {cause}")
    attempted, failed = res["attempted"], res["failed"]
    print(f"error_rate = {failed / max(attempted, 1):.6g} ({failed} of {attempted})")

    if args.trace:
        # a layer the workload does not reach reports 0
        got = {k: 0.0 for k in PER_LAYER} | res["layers"]
        spec = [(k, layer_unit(k)) for k in PER_LAYER]
    else:
        got = {k: v["value"] for k, v in res["end_to_end"].items()}
        spec = END_TO_END
    metrics = {k: {"value": got.get(k), "unit": u} for k, u in spec}
    bad = [k for k, m in metrics.items()
           if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"])
           or (not args.trace and m["value"] <= 0)]
    extra = sorted(set(got) - set(metrics))
    if bad or (args.trace and extra):
        raise SystemExit(f"perfbench: unusable metrics: {bad} unexpected: {extra}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
