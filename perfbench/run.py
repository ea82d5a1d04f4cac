#!/usr/bin/env python3
"""End-to-end benchmark of the graft ingestion engine.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (perfbench/build.py), runs
one workload in a fresh JVM at local[nproc], checks every output, and
prints a report followed, as the last line, by one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end-to-end metrics; with --trace 1 the timed region
runs twice after set-up, traced and then untraced, and the metrics are the
per-layer ones, including the tracing overhead (traced minus untraced for
each end-to-end metric). See perfbench/README.md.

Every file a run writes stays inside the checkout: scratch goes to
.bench_work/ (removed when the run ends), results, spans and the JVM log
to .bench_out/.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["profile_ingest", "lake_stream", "curation_batch"]
# Per-layer metric prefixes each workload puts on its path. A per-layer
# metric outside them reads 0: that layer does no work in the workload.
ON_PATH = {
    "profile_ingest": ("stream.", "sources.", "ingest.", "spark.", "trace_overhead."),
    "lake_stream": ("stream.", "stateful.", "lake.", "gen.", "spark.", "trace_overhead."),
    "curation_batch": ("operators.", "spark.", "trace_overhead."),
}
RUN_LIMIT_S = 175
XMX = "2g"
# Spark 4 on JDK 17 outside spark-submit (JavaModuleOptions.defaultModuleOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def nproc():
    return len(os.sched_getaffinity(0))


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_jvm(classes, workload, seed, seconds, trace, deadline):
    tag = f"{workload}-s{seed}-t{trace}"
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out", tag)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(out_dir, "result.json")
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    env.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir and leave the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{XMX}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + ADD_OPENS +
           ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"), "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--work", work, "--out", result_file])
    log_path = os.path.join(out_dir, "jvm.log")
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work, env=env)
            try:
                proc.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                return None, f"{workload}: JVM killed after the {RUN_LIMIT_S}s run limit", log_path
        if proc.returncode != 0 or not os.path.exists(result_file):
            return None, f"{workload}: JVM exited with {proc.returncode}", log_path
        with open(result_file) as fh:
            res = json.load(fh)
        res["host"]["caller_spark_local_dirs"] = os.environ.get("SPARK_LOCAL_DIRS", "(unset)")
        oracle_check(res)
        return res, None, log_path
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def oracle_check(res):
    """Compares each curation output with its SparkEntry.oracleSql run in DuckDB."""
    if not res["oracle"]:
        return
    import duckdb

    def norm(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else repr(v)

    def rows(con, sql):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return [cols[i] for i in order], sorted(tuple(norm(r[i]) for i in order) for r in cur.fetchall())

    for o in res["oracle"]:
        name = o["name"]
        try:
            con = duckdb.connect()
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{o['corpus']}/{t}.parquet/*.parquet')")
            gcols, got = rows(con, f"SELECT * FROM read_parquet('{o['out']}/*.parquet')")
            wcols, want = rows(con, o["sql"])
            con.close()
            if gcols != wcols:
                why = f"columns {gcols} != oracle {wcols}"
            elif len(got) != len(want):
                why = f"{len(got)} rows != oracle {len(want)}"
            elif got != want:
                i = next(i for i, (g, w) in enumerate(zip(got, want)) if g != w)
                why = f"row {i}: {got[i]} != oracle {want[i]}"
            else:
                why = None
        except Exception as e:  # an oracle that cannot run is a failed check, not a skipped one
            why = f"{type(e).__name__}: {e}"
        res["attempted"] += 1
        if why:
            res["correct"] = False
            res["failures"].append(f"check.oracle.{name}: {why}")


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def print_metrics(title, ms, width):
    print(title)
    for k, m in ms.items():
        n = f"  (n={m['samples']})" if "samples" in m else ""
        print(f"  {k:<{width}} {fmt(m['value']):>12} {m['unit']}{n}")


def measure(classes, workload, seed, seconds, trace, deadline):
    """One workload run in one JVM; raises RuntimeError when it did not finish."""
    res, err, log = run_jvm(classes, workload, seed, seconds, trace, deadline)
    if res is None:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise RuntimeError(f"{err}; JVM log: {os.path.relpath(log, ROOT)}")
    for layer, st in res["self_time"].items():
        res["per_layer"][f"{layer}.self_ms"] = {"value": st["self_ms"], "unit": "ms", "samples": st["spans"]}
    return res


def report(res, trace):
    print(f"== {res['workload']}  seed={res['seed']}  seconds={res['seconds']}")
    print("host: " + ", ".join(f"{k}={v}" for k, v in res["host"].items()))
    print_metrics("end-to-end (untraced):", res["report"], 36)
    if trace:
        print_metrics("per-layer (traced):", res["per_layer"], 52)
        print("self time by layer (traced; span time minus the time its child spans cover):")
        for k, m in res["self_time"].items():
            print(f"  {k:<12} {fmt(m['self_ms']):>12} ms  over {m['spans']} spans")
        if res.get("spans"):
            print(f"spans: {os.path.relpath(res['spans'], ROOT)}")
    print(f"operations: {res['attempted']} attempted, {len(res['failures'])} failed")
    for f in res["failures"]:
        print(f"  FAILED {f}")


def selected(res, names, trace):
    """The BENCHMARK.json metrics of this run; a metric not measured is a failure."""
    section = res["per_layer"] if trace else res["end_to_end"]
    metrics = {}
    for n in names:
        m = section.get(n)
        if m is None and trace and not n.startswith(ON_PATH[res["workload"]]):
            m = {"value": 0, "unit": next(x["unit"] for x in spec()["per_layer"] if x["name"] == n)}
        if m is None or m["value"] is None:
            res["correct"] = False
            res["failures"].append(f"metric.{n}: not measured")
        else:
            metrics[n] = {"value": m["value"], "unit": m["unit"]}
    return metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    start = time.time()
    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")
    b = spec()
    names = [m["name"] for m in (b["per_layer"] if a.trace else b["end_to_end"])]
    todo = WORKLOADS if a.workload == "all" else [a.workload]
    correct, attempted, failed, metrics = True, 0, 0, {}
    for w in todo:
        budget = RUN_LIMIT_S if a.workload == "all" else RUN_LIMIT_S - (time.time() - start)
        try:
            res = measure(classes, w, a.seed, a.seconds, a.trace, time.time() + budget)
        except RuntimeError as e:
            print(f"perfbench: {e}", file=sys.stderr)
            correct, attempted, failed = False, attempted + 1, failed + 1
            continue
        m = selected(res, names, a.trace)
        report(res, a.trace)
        correct = correct and res["correct"]
        attempted += res["attempted"]
        failed += len(res["failures"])
        metrics.update({(f"{w}.{k}" if a.workload == "all" else k): v for k, v in m.items()})
    print(json.dumps({"correct": correct, "attempted": max(1, attempted), "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
