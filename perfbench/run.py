#!/usr/bin/env python3
"""Repository benchmark: build graft from this checkout and run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: dedup_batch, index_churn (or `all`, which runs both in turn).
The first run in a checkout compiles the program and the benchmark with sbt
(perfbench/build.sbt depends on the root build); later runs reuse the build
until a source file changes. Each run is one JVM
(`perfbench.Main`) on `local[<cores>]`; its last stdout line is the result
object, which this script passes through. Scratch data lives under
perfbench/.work and is removed when the run ends; a trace run leaves its
spans in perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha1")
WORKLOADS = ["dedup_batch", "index_churn"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these (the root build's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """Digest of every input of the build: paths, sizes and mtimes."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def java_cmd(work):
    """The JVM command line up to (not including) the main class."""
    with open(CLASSPATH) as f:
        cp = [line.strip() for line in f if line.strip()]
    missing = [p for p in cp if not os.path.exists(p)]
    if missing:
        fail(f"classpath entry missing: {missing[0]}", 3)
    # a fixed-size heap: no heap resizing while the JIT warms up
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join(cp)]


def run_jvm(args, work, timeout):
    """Run perfbench.Main in its own process group; returns (code, stdout)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = java_cmd(work)
    proc = subprocess.Popen(cmd + ["perfbench.Main"] + args + ["--work", work],
                            cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, b""
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


def build():
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    if os.path.exists(STAMP):
        os.remove(STAMP)
    print("[perfbench] building (sbt)...", file=sys.stderr, flush=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "-Dsbt.supershell=false",
           "writeClasspath"]
    try:
        r = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {r.returncode})", 3)
    with open(STAMP, "w") as f:
        f.write(digest + "\n")


def run_one(workload, seed, seconds, trace):
    work = os.path.join(HERE, ".work", f"{workload}-{seed}-{os.getpid()}")
    args = ["--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0"]
    if trace:
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        args += ["--spans-out", os.path.join(out_dir, f"spans-{workload}-{seed}.json")]
    code, out = run_jvm(args, work, RUN_TIMEOUT_S)
    if code is None:
        fail(f"{workload}: timed out after {RUN_TIMEOUT_S} s", 4)
    lines = out.decode("utf-8", "replace").splitlines()
    if code != 0 or not lines:
        fail(f"{workload}: benchmark exited {code}", code or 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{workload}: malformed result line", 5)
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a graft checkout: {need} is missing under {ROOT}")
    build()
    if a.workload == "all":
        results = {w: run_one(w, a.seed, a.seconds, a.trace) for w in WORKLOADS}
        print(json.dumps(results))
    else:
        print(json.dumps(run_one(a.workload, a.seed, a.seconds, a.trace)))


if __name__ == "__main__":
    main()
