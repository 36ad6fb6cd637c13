#!/usr/bin/env python3
"""Benchmark entry point: build, generate inputs, run one workload, print metrics.

Run from the repository root:

    python3 perfbench/run.py --workload store_query --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace both

The first call compiles the engine and the harness with the Scala compiler
among the Spark jars that the engine's build.sbt names, into
.bench_build/perfbench/classes; later calls recompile only when a source
changed. Building and running write only under .bench_build/.
Each run generates its inputs from --seed (perfbench/gen.py), starts one JVM
for the workload, and removes its inputs and work files when it ends. A
traced run also writes every span and job to
.bench_build/perfbench/traces/<workload>-<seed>.json, which is kept. The
last stdout line is the result JSON; with --workload all it maps each
workload to its result.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import gen  # noqa: E402

WORKLOADS = ["store_query", "ingest", "curation"]
BUILD_DIR = os.path.join(".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# A fixed heap and the serial collector make peak RSS repeat from run to run:
# G1 sizes the heap by pause times, and its peak RSS spread 38% over five
# ingest seeds. The young generation (a third of the heap) is a constant
# floor under peak_rss_mb; retained and off-heap memory show above it.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseSerialGC", "-XX:-UsePerfData"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars(root):
    """The Spark jars directory the engine's build.sbt names as its unmanagedBase.

    Those jars are the engine's whole compile classpath, and they include the
    Scala compiler of the same version, so the benchmark compiles with them
    alone and writes nothing outside .bench_build/ (sbt would also write
    target/ directories and lock files under the user's home)."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        fail("the engine's build.sbt names no Spark jars directory (unmanagedBase) that exists")
    jars = sorted(glob.glob(os.path.join(m.group(1), "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
        fail(f"no scala-compiler jar in {m.group(1)}")
    return jars


def sources(root):
    """Every Scala source of the engine and the harness, and the engine's resources dir."""
    files = []
    for top in ["src/main/scala", "perfbench/src/main/scala"]:
        for d, _, names in os.walk(os.path.join(root, top)):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files), os.path.join(root, "src", "main", "resources")


def source_stamp(root, files, resources, jars):
    """Hash of every file the build reads and of the jar list."""
    h = hashlib.sha256("\n".join(jars).encode())
    for d, _, names in os.walk(resources):
        files = files + [os.path.join(d, n) for n in names]
    for p in sorted(files):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(root):
    """Runtime classpath of the compiled engine and harness, compiling first if sources changed."""
    jars = spark_jars(root)
    files, resources = sources(root)
    build = os.path.join(root, BUILD_DIR)
    stamp_file, classes = os.path.join(build, "stamp"), os.path.join(build, "classes")
    cp = os.pathsep.join([classes, resources] + jars)
    stamp = source_stamp(root, files, resources, jars)
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return cp
    print("[perfbench] compiling engine and harness (scalac)", file=sys.stderr, flush=True)
    t0 = time.time()
    shutil.rmtree(classes, ignore_errors=True)
    tmp = os.path.join(build, "tmp")
    os.makedirs(classes)
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(build, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-classpath", os.pathsep.join(jars), "-d", classes] + files) + "\n")
    proc = subprocess.run(
        ["java", "-Xss4m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
         "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main", "@" + argfile],
        cwd=build, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write("\n".join(proc.stdout.splitlines()[-40:]) + "\n")
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[perfbench] compiled {len(files)} files in {time.time() - t0:.1f} s", file=sys.stderr, flush=True)
    return cp


def run_one(root, cp, workload, seed, seconds, trace):
    """Runs one workload in a fresh JVM; returns (report lines, result dict)."""
    run_dir = os.path.join(root, BUILD_DIR, "runs", f"{workload}-{seed}-{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, work = os.path.join(run_dir, "input"), os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = []
    if trace:
        trace_dir = os.path.join(root, BUILD_DIR, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_out = ["--trace-out", os.path.join(trace_dir, f"{workload}-{seed}.json")]
    try:
        gen.generate(workload, seed, inp)
        cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", str(trace), "--input", inp, "--work", work,
                  "--launch-epoch-ns", str(time.time_ns())] + trace_out)
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                                text=True, start_new_session=True)
        try:
            out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            fail(f"{workload}: run exceeded {RUN_TIMEOUT_S} s", 3)
        sys.stderr.writelines(l + "\n" for l in err.splitlines() if l.startswith("[perfbench]"))
        lines = out.splitlines()
        try:
            result = json.loads(lines[-1])
        except (IndexError, ValueError):
            sys.stderr.write(err[-4000:])
            fail(f"{workload}: the JVM exited with code {proc.returncode} and no result", 4)
        return lines[:-1], result
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1", "both"], default="0")
    a = ap.parse_args()
    root = os.getcwd()
    for need in ["build.sbt", "src/main/scala/graft", "perfbench/src/main/scala/perfbench"]:
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the repository root: {need} not found")
    if a.trace == "both" and a.workload != "all":
        fail("--trace both needs --workload all")
    cp = classpath(root)
    if a.workload != "all":
        report, result = run_one(root, cp, a.workload, a.seed, a.seconds, int(a.trace))
        print("\n".join(report))
        print(json.dumps(result))
        return
    traces = [0, 1] if a.trace == "both" else [int(a.trace)]
    results = {}
    for w in WORKLOADS:
        for t in traces:
            report, results[f"{w}/trace{t}"] = run_one(root, cp, w, a.seed, a.seconds, t)
            print("\n".join(report), flush=True)
        if len(traces) == 2:
            # tracing overhead: traced op latency against the untraced run
            untraced = results[f"{w}/trace0"]["metrics"]["op_p50_ms"]["value"]
            traced = results[f"{w}/trace1"]["metrics"]["trace.op_p50_ms"]["value"]
            print(f"  tracing overhead on {w}: op_p50_ms {untraced:.2f} -> {traced:.2f} "
                  f"({(traced / untraced - 1) * 100:+.1f}%)")
    print(json.dumps(results))


if __name__ == "__main__":
    main()
