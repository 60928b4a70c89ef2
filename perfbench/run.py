#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: registry_sample and backfill_days (see
perfbench/README.md). The first run in a checkout builds the program and
the harness from source with sbt; later runs reuse the build while no
source changed. Each run gets its own directory for pipeline storage,
java.io.tmpdir and Spark's local dirs, removed when the run ends. The
spans of the last run of each workload are kept under
.bench_build/traces/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
WORKLOADS = ("registry_sample", "backfill_days")
DEADLINE_S = 170

# The module opens Spark needs on JDK 17 outside spark-submit, as in the
# program's own build, and UTC as the JVM's zone: collected TIMESTAMP and
# DATE values render in it, so digests do not depend on the machine's zone.
JVM_FLAGS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + ["-Duser.timezone=UTC"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    """Every file the build reads, relative to the checkout root."""
    out = [p for p in ("build.sbt", "project/build.properties",
                       "perfbench/build.sbt", "perfbench/project/build.properties")
           if os.path.isfile(os.path.join(root, p))]
    for top in ("src/main", "perfbench/src/main"):
        for d, _, fs in os.walk(os.path.join(root, top)):
            out += [os.path.relpath(os.path.join(d, f), root) for f in fs]
    return sorted(out)


def stamp(root):
    h = hashlib.sha256()
    for p in sources(root):
        h.update(p.encode())
        with open(os.path.join(root, p), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile the program and the harness; return the runtime classpath."""
    cp_file = os.path.join(root, BUILD, "classpath.txt")
    stamp_file = os.path.join(root, BUILD, "stamp")
    want = stamp(root)
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(os.path.join(root, BUILD), exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), stdout=subprocess.PIPE,
        stderr=sys.stderr, stdin=subprocess.DEVNULL, text=True, timeout=850)
    sys.stderr.write(proc.stdout)
    if proc.returncode != 0:
        fail(f"build failed (sbt exit {proc.returncode})")
    lines = [l for l in proc.stdout.splitlines()
             if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(want)
    return lines[-1].strip()


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(root, "build.sbt")):
        fail("run from the root of a checkout of the program (src/main/scala/graft not found)")
    data = os.path.join(HERE, "data", "sf0.01")
    digests = os.path.join(HERE, "registry", "digests.tsv")
    for p in (data, digests):
        if not os.path.exists(p):
            fail(f"missing benchmark input {os.path.relpath(p, root)}")

    classpath = build(root)
    t_start = time.time()

    run_dir = os.path.join(root, BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "store"):
        os.makedirs(os.path.join(run_dir, sub))
    trace_out = os.path.join(root, BUILD, "traces", f"{a.workload}-trace{a.trace}.jsonl")
    cmd = [java(), "-Xmx2g", "-XX:+UseG1GC", *JVM_FLAGS,
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false",
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--run-dir", run_dir, "--data", data, "--digests", digests,
           "--trace-out", trace_out]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail("run timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        fail(f"harness exited {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    sys.stderr.write("\n".join(lines[:-1]) + ("\n" if len(lines) > 1 else ""))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
