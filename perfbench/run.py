#!/usr/bin/env python3
"""Benchmark of the graft engine, run from the root of a source checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see NOTES.md for why each was chosen):
  ref_queries    closed loop, one client: every sixth `ref_*` registered
                 query at sf0.1, every result materialized in full.
  report_stream  clicks through MemoryStream -> Behavior.fanoutMessages ->
                 ReportSink.writer: an open loop at a fixed offered rate for
                 the latency, then a closed loop of fixed batches for the
                 throughput.

The script builds the engine and the harness from source (sbt, offline) the
first time, generates the seeded inputs, runs the JVM harness
(`perfbench.Main`), checks every output, and prints one JSON line last:
with --trace 0 the end-to-end metrics, with --trace 1 the per-layer metrics
of a traced run. Build output, inputs and run artifacts go to
`.bench_build/` under the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("ref_queries", "report_stream")
JVM_TIMEOUT_S = 160
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt once per source state and returns
    the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("no engine sources next to perfbench/ (run from the root of a checkout)")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                           text=True, timeout=840)
        log.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        die(f"build failed (see {os.path.join(BUILD, 'build.log')})")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath


def run_jvm(classpath, args, run_dir):
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/tmp",
              "-cp", classpath, "perfbench.Main"] + args)
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    with open(f"{run_dir}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"harness exceeded {JVM_TIMEOUT_S} s (see {run_dir}/jvm.log)")
    if rc != 0:
        die(f"harness exited with {rc} (see {run_dir}/jvm.log)")
    with open(f"{run_dir}/result.json") as fh:
        return json.load(fh)


def pct(values, q):
    """Nearest-rank percentile, q in (0, 100]."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))]


def metric(v, unit):
    return {"value": v, "unit": unit}


def score(res, data_dir, trace):
    """Counts failures (a batch result that differs from its DuckDB oracle
    is one) and picks the metrics to print."""
    failed = res["failed"]
    if "oracle_sql" in res:
        mism = oracle.compare(data_dir, res["check_dir"], res["oracle_sql"], res["errors"])
        failed += len(mism)
        for name, why in sorted(mism.items()):
            print(f"check FAIL {name}: {why}", file=sys.stderr)
    for name, why in sorted(res["errors"].items()):
        print(f"error {name}: {why}", file=sys.stderr)
    print(res["notes"], file=sys.stderr)
    if trace:
        return failed, layer_metrics(dict(res["layers"], **{"jvm.old_gen_peak_mb": res["mem_peak_mb"]}))
    if "query_latencies" in res:
        p50, p90, tput = query_latency(res["query_latencies"])
    else:
        lat = res["latencies"]
        print(f"{len(lat)} click latency samples", file=sys.stderr)
        p50, p90, tput = statistics.median(lat), pct(lat, 90), res["throughput_per_s"]
    return failed, {
        "setup_s": metric(res["setup_s"], "s"),
        "latency_p50_s": metric(p50, "s"),
        "latency_p90_s": metric(p90, "s"),
        "throughput_per_s": metric(tput, "1/s"),
    }


def query_latency(samples):
    """Reduces each query's timed runs to their median, so a slow pass
    (JIT, a host hiccup) does not decide the figure. Returns the geometric
    mean of the medians (the typical query), the 90th percentile of the
    medians (the slow query) and the queries per second of a pass at the
    median latencies."""
    med = [statistics.median(v) for v in samples.values()]
    print(f"{len(med)} queries, {min(map(len, samples.values()))}+ timed runs each",
          file=sys.stderr)
    return statistics.geometric_mean(med), pct(med, 90), len(med) / sum(med)


def layer_metrics(layers):
    """Every per-layer metric of BENCHMARK.json; one a workload does not
    exercise (the stream layer of a batch workload) reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        per_layer = json.load(fh)["per_layer"]
    return {m["name"]: metric(layers.get(m["name"], 0.0), m["unit"]) for m in per_layer}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("bridge",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    classpath = build()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    subprocess.run(["rm", "-rf", run_dir], check=True)
    data_dir = os.path.join(run_dir, "data")
    datagen.generate(data_dir, a.seed)
    res = run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace),
                              "--data", data_dir, "--out", run_dir], run_dir)
    if a.workload == "bridge":
        for q, old, new in res["pairs"]:
            print(f"{q}\t{old:.3f}\t{new:.3f}")
        return
    failed, metrics = score(res, data_dir, a.trace)
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
