#!/usr/bin/env python3
"""Build the program and the benchmark harness from source, then run one workload.

    python3 perfbench/run.py --workload rec_workload --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

The program (src/main/scala) and the harness (perfbench/src) are compiled
together with the Scala compiler that ships in Spark's jars directory, into
.bench_build/ at the repository root; the build is reused while no source
changes. The harness prints its report and, as the last line, one JSON
object with the run's result. Exit code 0 only when a result was printed.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["rec_workload", "view_topk", "regression_mix", "ingest_serve", "pipeline_hybrid"]
# A workload gated in BENCHMARK.json must finish a run within 180 s; the
# others (three set-ups of five recommenders, say) may take longer.
GATED_TIMEOUT_S = 170
RUN_TIMEOUT_S = 900
BUILD_TIMEOUT_S = 700
HEAP = "3g"

# Spark 4 on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found (set JAVA_HOME or put java on PATH)")
    return exe


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        fail("Spark jars not found (set SPARK_HOME)")
    return jars


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    harness = sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    if not program:
        fail("program sources (src/main/scala) not found")
    if not harness:
        fail("harness sources (perfbench/src) not found")
    return program + harness


def build(jars):
    """Compile program + harness into .bench_build/classes unless up to date."""
    srcs = sources()
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for jar in jars:
        h.update(os.path.basename(jar).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", tmp, "-classpath", os.pathsep.join(jars)] + srcs))
    t0 = time.time()
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    proc = subprocess.run(
        [java(), "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
         "scala.tools.nsc.Main", "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def cpu_times():
    """Per-state CPU jiffies from /proc/stat (None where it is absent)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor took from this host between two
    cpu_times() readings; a high share explains a slow run."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else None


def jvm(classes, jars, main, args, tmpdir, timeout):
    """Run a harness main class; returns (exit code, stdout lines)."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    log = os.path.join(BENCH, "log4j2.properties")
    cmd = [java(), f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmpdir}",
           f"-Dlog4j2.configurationFile={log}", *opens,
           "-cp", os.pathsep.join([classes] + jars), main, *args]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{main} did not finish within {timeout} s")
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the harness's own tests instead of a workload")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    os.makedirs(BUILD, exist_ok=True)
    jars = spark_jars()
    classes = build(jars)
    name = "selftest" if a.self_test else a.workload
    work = os.path.join(BUILD, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir)
    try:
        if a.self_test:
            code, lines = jvm(classes, jars, "perfbench.SelfTest", [], tmpdir, GATED_TIMEOUT_S)
            print("\n".join(lines))
            sys.exit(code)
        trace_out = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.spans.jsonl")
        cpu0 = cpu_times()
        code, lines = jvm(classes, jars, "perfbench.Main",
                          ["--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace),
                           "--work-dir", work, "--trace-out", trace_out],
                          tmpdir, GATED_TIMEOUT_S if a.workload in gated() else RUN_TIMEOUT_S)
        steal = steal_share(cpu0, cpu_times())
        if steal is not None:
            lines.insert(max(0, len(lines) - 1), f"host CPU steal during the run: {steal:.1%}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    for line in lines[:-1] if result is not None else lines:
        print(line)
    if code != 0 or not isinstance(result, dict) or \
            set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"harness exited with code {code} and no result")
    declared = declared_metrics(a.trace)
    if declared is not None and list(result["metrics"]) != declared:
        fail("metric names differ from BENCHMARK.json: "
             f"{sorted(set(result['metrics']) ^ set(declared))}")
    print(json.dumps(result))


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def gated():
    return [w["name"] for w in (spec() or {}).get("workloads", [])]


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, in order."""
    s = spec()
    return None if s is None else [m["name"] for m in s["per_layer" if trace else "end_to_end"]]


if __name__ == "__main__":
    main()
