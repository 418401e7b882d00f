#!/usr/bin/env python3
"""Janus end-to-end benchmark runner.

    python3 janusbench/run.py --workload historical|live|hybrid \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout builds the
engine and the benchmark with sbt (janusbench/build.sbt); later runs
reuse the build until a source file changes. The workload itself runs
in one JVM; its last stdout line is the result JSON object.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.stamp")
WORKLOADS = ("historical", "live", "hybrid")
# whole run, build excluded; a run that is not done by then is killed
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def nproc():
    """Cores this process may run on, as `nproc` reports them."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def build():
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    sbt = shutil.which("sbt")
    if sbt is None:
        sys.exit("janusbench: sbt not found on PATH")
    # build chatter goes to stderr: stdout carries only the result line
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no sbt server and no JVM perf files: the build writes only inside
    # the checkout (and the toolchain's own caches)
    env = dict(os.environ)
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") +
                                " -XX:-UsePerfData").strip()
    r = subprocess.run([sbt, "-batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
                        "writeLaunch"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        sys.exit(f"janusbench: build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        sys.exit("janusbench: --seconds must be at least 1")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"janusbench: engine source missing ({need}); "
                     "run from a full checkout")
    build()
    with open(LAUNCH) as f:
        lines = [x for x in f.read().splitlines() if x]
    classpath, jvm_opts = lines[0], lines[1:]
    work = os.path.join(TARGET, "work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    # keep Spark's scratch space inside the checkout
    env.pop("SPARK_LOCAL_DIRS", None)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
           + jvm_opts
           + ["-cp", classpath, "janusbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--cores", str(nproc())])
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = 124
        print("janusbench: run timed out", file=sys.stderr)
    finally:
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            keep = os.path.join(TARGET, "spans")
            os.makedirs(keep, exist_ok=True)
            shutil.move(spans, os.path.join(
                keep, f"{args.workload}-seed{args.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
