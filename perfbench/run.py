#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload sync_tip --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
benchmark from source into the build directory ($CARGO_TARGET_DIR, else
.bench_build); later runs reuse that build while the sources are unchanged.
Each run starts a fresh JVM with its own work directory and Spark local
directory, both removed when the run ends. The traced run (--trace 1) also
keeps its spans in <build dir>/traces/.

The last line is one JSON object: {"correct", "attempted", "failed",
"metrics"}. The exit code is non-zero when the build or the run fails or an
output check fails.
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
WORKLOADS = ("sync_backfill", "sync_tip")
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources(root):
    out = [os.path.join(HERE, "build.sh")]
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, build_dir):
    """Compile unless the build stamp matches the current sources."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("perfbench: src/main/scala not found; run from the repository root")
    h = hashlib.sha256()
    for f in sources(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_file = os.path.join(build_dir, "stamp")
    stamp = h.hexdigest()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    log("building program and benchmark")
    t0 = time.time()
    os.makedirs(build_dir, exist_ok=True)
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), build_dir], cwd=root,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: build failed ({r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spark_home():
    """The Spark install whose jars hold the compiler and the runtime."""
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: set SPARK_HOME to a Spark install")
    return home


def run_jvm(args, build_dir, work):
    spark_jars = os.path.join(spark_home(), "jars")
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}"]
    # class-data sharing: the first run in a build dumps the classes it
    # loaded, later runs map them instead of loading and verifying each
    jsa = os.path.join(build_dir, "classes.jsa")
    cmd.append(f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
               else f"-XX:ArchiveClassesAtExit={jsa}")
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.path.join(build_dir, "perfbench.jar") + os.pathsep + os.path.join(spark_jars, "*"),
            "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
            str(args.trace), work, str(cores()), str(int(time.time() * 1000))]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s; stopping it")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    spark_home()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    build(root, build_dir)

    work = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code = run_jvm(args, build_dir, work)
        result_file = os.path.join(work, "result.json")
        if code != 0 or not os.path.exists(result_file):
            raise SystemExit(f"perfbench: run failed (exit {code})")
        res = json.load(open(result_file))
        if args.trace:
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(traces, f"{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    log("shape " + json.dumps(res["shape"]))
    log("steps " + json.dumps(res["steps"]))
    for v in res["violations"]:
        log("output check failed: " + v)
    out = {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(out))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
