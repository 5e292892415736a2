#!/usr/bin/env python3
"""Benchmark entry point.

    python3 etlbench/run.py --workload {ingest,dedup,serve} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt into .bench_build/ (later runs reuse the
build while the sources are unchanged). Each run generates its inputs
from the seed into a fresh directory under .bench_build/runs/, runs one
JVM at local[nproc], checks the outputs, deletes the run directory (a traced
run first saves its spans and per-layer counts to .bench_build/traces/),
and prints one JSON object as the last line of stdout: the end-to-end
metrics of BENCHMARK.json with --trace 0, the per-layer metrics with
--trace 1. The line before it carries the per-kind details.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850
HEAP = "4g"

# the operation kind whose median is op_p50_ms, per workload
HEAD_KIND = {"ingest": "batch", "dedup": "pass", "serve": "dense"}
READ_KINDS = ("dense", "sparse", "hybrid", "lookup", "lookup_sql")

# Spark on JDK 17 outside spark-submit (as the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print("etlbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def spark_jars():
    """The Spark installation's jar directory: $SPARK_HOME/jars, else the
    one beside spark-submit on PATH."""
    homes = []
    if os.environ.get("SPARK_HOME"):
        homes.append(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    die("no Spark installation found (set SPARK_HOME)")


def build():
    """Compile engine + harness with sbt; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    # everything the build needs is in the local caches; never go online
    env = dict(os.environ, BENCH_SPARK_JARS=spark_jars(), COURSIER_MODE="offline")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_LIMIT_S)
    sys.stderr.write(p.stdout)
    if p.returncode != 0:
        die(f"build failed (sbt exit {p.returncode})")
    lines = [l.strip() for l in p.stdout.splitlines()
             if l.strip() and not l.startswith("[") and ".jar" in l]
    if not lines:
        die("build printed no classpath")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, run_dir, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "result.json")
    # the engine's build.sbt GC settings and a fixed heap size. The young
    # generation is fixed at its maximum, so the resident set does not
    # follow the collector's adaptive sizing, and metaspace starts large
    # enough that loading classes never forces a full collection.
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:MaxNewSize=2g",
           "-XX:NewSize=2g", "-XX:MetaspaceSize=512m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "etlbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--input", os.path.join(run_dir, "input"),
            "--work", os.path.join(run_dir, "work"), "--out", out]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "work", "spark-local"))
    p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die("run exceeded its time limit", 1)
    if code != 0 or not os.path.exists(out):
        die(f"harness exited with {code}", 1)
    with open(out) as f:
        return json.load(f)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def ok_ops_per_s(res, phase):
    """Successful operations per second of the phase's window."""
    window = res["phase_window_s"][phase]
    ops = [(s["at"], s["ms"] / 1e3) for s in res["samples"] if s["phase"] == phase and s["ok"]]
    return stats.window_ops(ops, window) / window


def end_to_end(workload, res):
    """The end-to-end metrics, from the untraced timed phase."""
    timed = [s for s in res["samples"] if s["phase"] == "timed"]
    head = [s["ms"] for s in timed if s["kind"] == HEAD_KIND[workload] and s["ok"]]
    return {
        "setup_s": stats.median(res["setup_s"]),
        "peak_rss_mb": res["peak_rss_mb"],
        "ops_per_s": ok_ops_per_s(res, "timed"),
        "op_p50_ms": stats.median(head),
    }


def details(workload, res, gen_s):
    """Per-kind medians and the workload-specific figures, for reading
    alongside the metrics."""
    timed = [s for s in res["samples"] if s["phase"] == "timed"]
    d = {"samples": len(timed),
         "p50_ms_by_kind": stats.medians_by_kind([(s["kind"], s["ms"]) for s in timed]),
         "ms": [[s["kind"], round(s["ms"], 1)] for s in timed],
         "warmup_ms": [[s["kind"], round(s["ms"], 1)] for s in res["samples"]
                       if s["phase"] == "warmup"]}
    reads = [s["ms"] for s in timed if s["kind"] in READ_KINDS]
    if reads:
        try:
            d["read_p90_ms"] = stats.percentile(reads, 90)
        except stats.TooFewSamples as e:
            d["read_p90_ms"] = str(e)
    info = res["info"]
    if workload == "ingest":
        d["ingest_docs_per_s"] = ok_ops_per_s(res, "timed") * info["docs_per_batch"]
    if workload == "dedup":
        d["dedup_docs_per_s"] = ok_ops_per_s(res, "timed") * info["corpus_docs"]
        d["dedup_recall"] = info["dedup_recall"]
    d.update(info)
    d.update({"gen_s": gen_s, "timeline_s": res["timeline_s"],
              "setup_samples_s": res["setup_s"],
              "cpu_s": res["cpu_s"],
              "cpu_util": res["cpu_s"] / (sum(res["phase_wall_s"].values()) * res["cores"]),
              "problems": res["problems"][:5]})
    return d


def per_layer(res, gen_s):
    m = dict(res["layers"])
    by = {}
    for s in res["samples"]:
        by.setdefault((s["phase"], s["kind"]), []).append(s["ms"])
    num = den = 0.0
    for (phase, kind), v in by.items():
        if phase == "traced" and ("timed", kind) in by:
            num += len(v) * stats.median(v)
            den += len(v) * stats.median(by[("timed", kind)])
    m["harness.gen_s"] = gen_s
    m["harness.cpu_util"] = res["cpu_s"] / (sum(res["phase_wall_s"].values()) * res["cores"])
    m["harness.trace_overhead_pct"] = 100.0 * (num / den - 1.0) if den else 0.0
    m["harness.frames_drained"] = res["frames_drained"]
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(HEAD_KIND))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    start = time.time()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("run from the root of a checkout: no engine sources under src/main/scala")
    if not os.path.exists(spec_path):
        die("no BENCHMARK.json in the working directory")
    with open(spec_path) as f:
        spec = json.load(f)

    cp = build()
    built = time.time()
    # a run that had to build gets its full run time after the build
    deadline = (start if built - start < 30 else built) + RUN_LIMIT_S
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    load0 = loadavg()
    try:
        t0 = time.time()
        gen.generate(args.workload, os.path.join(run_dir, "input"), args.seed, args.seconds)
        gen_s = time.time() - t0
        res = run_jvm(cp, args, run_dir, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        # the traced run's spans and per-layer counts outlive the run dir
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"spans": res["spans"], "layers": per_layer(res, gen_s)}, f)

    d = details(args.workload, res, gen_s)
    d["loadavg"] = [load0, loadavg()]
    d["run_wall_s"] = time.time() - start
    print(json.dumps({"workload": args.workload, "seed": args.seed, "details": d}))

    if args.trace:
        values, wanted = per_layer(res, gen_s), spec["per_layer"]
    else:
        values, wanted = end_to_end(args.workload, res), spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": res["failed"] == 0 and not res["problems"],
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
