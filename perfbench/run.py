#!/usr/bin/env python3
"""Benchmark of the engine: one command per workload run.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Run it from the repository root; the workloads are `dashboard` and
`corpus_cold`. The first run builds the program from `src/main/scala`
together with the harness in `perfbench/src` (sbt); later runs reuse the
build while the sources are unchanged.

Every run generates its inputs (`gen.py`), starts one Spark session on
`local[N]` with N = nproc, warms up, then times one client in a closed loop
for one pass per nominal 10 s of `--seconds` (at least two). The last stdout
line is one JSON object: `correct`, `attempted`, `failed` and `metrics` —
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. The line before it is the full report (all samples reduced,
load average and nproc at start and end, tracing overhead on traced runs).
Traced runs also write their spans to `perfbench/traces/`. See
`perfbench/README.md`.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import gen  # the script's directory is first on sys.path

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("dashboard", "corpus_cold")
# A run must end within 180 s; `--record` takes minutes.
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

LAYER_PHASES = ("build_s", "plan_s", "exec_s")
LAYER_ENGINE = (
    "scan.bytes_read", "scan.records_read", "exchange.shuffle_write_bytes",
    "exchange.shuffle_read_bytes", "exchange.fetch_wait_s",
    "operators.spill_bytes", "engine.executor_run_s", "engine.gc_s",
    "engine.jobs", "engine.tasks")
LAYER_STORE = ("store.bytes_written", "store.files_written")
# Units of the metrics the result line carries. The per-layer ones are those
# that move on at least one workload (`store.*` reads 0 on `dashboard`, which
# never writes a store); the report line has all the others too.
END_TO_END = {"setup_s": "s", "suite_s": "s", "query_p50_s": "s",
              "query_tail_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {"build_s": "s", "plan_s": "s", "exec_s": "s", "driver_s": "s",
             "scan.bytes_read": "bytes", "scan.records_read": "count",
             "exchange.shuffle_write_bytes": "bytes",
             "exchange.shuffle_read_bytes": "bytes",
             "engine.executor_run_s": "s", "engine.gc_s": "s",
             "engine.jobs": "count",
             "engine.tasks": "count", "store.bytes_written": "bytes",
             "store.files_written": "count"}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, to decide whether to rebuild."""
    h = hashlib.sha256()
    tops = [PROGRAM_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def jvm_command(classpath, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # no hsperfdata file in /tmp: the run writes only inside the checkout
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "graft.perfbench.Main"]


def run_jvm(cmd, work, timeout):
    """Runs the benchmark process in `work`; exits on failure."""
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        try:
            # Spark's temporary files stay in `work` (spark.local.dir)
            env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
            r = subprocess.run(cmd, cwd=work, env=env, stdout=log, stderr=log,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"benchmark process exceeded {timeout} s", 1)
    if r.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"benchmark process exited with {r.returncode}", 1)


def build():
    """sbt build of program + harness; returns the runtime classpath."""
    if not os.path.isdir(PROGRAM_SRC) or not os.listdir(PROGRAM_SRC):
        fail(f"program sources not found at {os.path.relpath(PROGRAM_SRC)}; "
             "run from a full checkout")
    target = os.path.join(HERE, "target")
    cp_file, stamp_file = (os.path.join(target, n)
                           for n in ("classpath.txt", "bench.stamp"))
    stamp = source_stamp()
    fresh = (os.path.exists(cp_file) and os.path.exists(stamp_file)
             and open(stamp_file).read() == stamp)
    if not fresh:
        env = dict(os.environ, COURSIER_MODE="offline")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
        if "-Dsbt.offline=true" not in env["SBT_OPTS"]:
            env["SBT_OPTS"] += " -Dsbt.offline=true"
        print("perfbench: building (sbt writeClasspath)", file=sys.stderr)
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0 or not os.path.exists(cp_file):
            fail("build failed", 1)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    with open(cp_file) as fh:
        return fh.read().strip()


def load_and_nproc():
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {"load_avg_1m": load1, "nproc": len(os.sched_getaffinity(0))}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(per_pass):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, samples), from each pass's operation latencies.
    Below a hundred samples that percentile would fall under p90 and no
    longer be a tail (at twenty-two, a run's count on `dashboard`, it is
    p54), so the slowest operation of a pass, median over the passes,
    stands in for it."""
    xs = sorted(x for lat in per_pass for x in lat)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 100:
        return median([max(lat) for lat in per_pass if lat]), 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def reduce(raw, trace):
    """Turn the JVM's raw samples into the report and the metric values."""
    ops, passes = raw["ops"], raw["passes"]
    report = {"workload": raw["workload"], "seed": raw["seed"],
              "cores": raw["cores"], "notes": raw["notes"]}

    def e2e(traced):
        ps = [p for p in passes if p["traced"] == traced]
        pass_ids = {p["pass"] for p in ps}
        by_pass = [[o["s"] for o in ops if o["pass"] == p["pass"] and o["ok"]]
                    for p in ps]
        lat = [x for xs in by_pass for x in xs]
        t, pct, n = tail(by_pass)
        m = {"suite_s": median([p["wall_s"] for p in ps]),
             "query_p50_s": median(lat), "query_tail_s": t,
             "cpu_s": median([p["counters"]["engine.cpu_s"] for p in ps])}
        info = {"pass_wall_s": [p["wall_s"] for p in ps],
                "tail_percentile": pct, "samples": n}
        return m, info

    untraced, info = e2e(False)
    metrics = {"setup_s": raw["first_op_ns"] / 1e9, **untraced,
               "peak_rss_mb": raw["peak_rss_mb"]}
    report["end_to_end"] = {**metrics, **info}
    report["query_median_s"] = {
        n: median([o["s"] for o in ops if o["name"] == n and o["ok"] and not o["phases"]])
        for n in sorted({o["name"] for o in ops})}
    failed_ops = [o for o in ops if not o["ok"]]
    report["error_rate"] = len(failed_ops) / max(1, len(ops))
    report["failures"] = sorted({f"{o['name']}: {o['error']}" for o in failed_ops})
    notes = raw["notes"]
    if notes.get("input_bytes"):
        report["store_bytes_per_input_byte"] = notes["store_bytes"] / notes["input_bytes"]
    result = metrics
    if trace:
        traced_m, traced_info = e2e(True)
        report["tracing_overhead"] = {k: traced_m[k] - untraced[k] for k in traced_m}
        report["traced"] = traced_info
        ps = [p for p in passes if p["traced"]]
        ids = {p["pass"] for p in ps}
        tops = [o for o in ops if o["pass"] in ids]
        per_pass = lambda xs: sum(xs) / len(ps)
        layers = {ph: per_pass([o["phases"].get(ph, 0.0) for o in tops])
                  for ph in LAYER_PHASES}
        layers["driver_s"] = per_pass(
            [p["wall_s"] - p["counters"]["engine.job_busy_s"] for p in ps])
        for k in LAYER_ENGINE:
            layers[k] = per_pass([p["counters"][k] for p in ps])
        for k in LAYER_STORE:
            layers[k] = per_pass([p[k] for p in ps])
        modules = {}
        for o in tops:
            for ph in LAYER_PHASES:
                key = f"{o['module']}.{ph}"
                modules[key] = modules.get(key, 0.0) + o["phases"].get(ph, 0.0) / len(ps)
        report["layers"] = layers
        report["modules"] = modules
        report["modules_vs_wall"] = {
            "sum_s": sum(modules.values()),
            "wall_s": per_pass([p["wall_s"] for p in ps])}
        result = layers
    return report, result, len(ops), len(failed_ops)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="FILE",
                    help="record expected results of every query of a suite")
    args = ap.parse_args()

    classpath = build()
    start_ns = time.time_ns()
    at_start = load_and_nproc()
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data = os.path.join(work, "data")
        os.makedirs(data)
        gen.generate(data)
        out = os.path.join(work, "out.json")
        cmd = jvm_command(classpath, work) + [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--out", out, "--start-ns", str(start_ns),
            "--expected", os.path.join(HERE, "expected", f"{args.workload}.json")]
        if args.trace:
            os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
            cmd += ["--spans", os.path.join(
                HERE, "traces", f"{args.workload}-seed{args.seed}.jsonl")]
        if args.record:
            cmd += ["--record", os.path.abspath(args.record)]
        run_jvm(cmd, work, None if args.record else JVM_TIMEOUT_S)
        if args.record:
            return
        with open(out) as fh:
            raw = json.load(fh)
        report, values, attempted, failed = reduce(raw, args.trace)
        units = PER_LAYER if args.trace else END_TO_END
        report["host"] = {"start": at_start, "end": load_and_nproc()}
        warm_failed = raw["notes"].get("warmup_failed") or []
        print(json.dumps(report, sort_keys=True))
        print(json.dumps({
            "correct": failed == 0 and not warm_failed and attempted > 0,
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": unit} for k, unit in units.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
