#!/usr/bin/env python3
"""Benchmark entry point for the KG-construction + SHACL-validation engine.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark code from source with sbt (perfbench/build.sbt); later runs reuse
the build while the sources are unchanged. Each run starts one JVM that runs
one workload closed-loop (one call at a time) on local[nproc] and prints its
metrics; the last line of standard output is the result JSON. Full records
(host stamp, every sample) land in perfbench/.work/results/, traced runs'
spans in perfbench/.work/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ["kg_build", "shacl", "clean_docs"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 175
# A fixed heap and young generation: left to grow on demand, the heap's
# resizing and the extra collections cost a cold call about a third of its
# time and made it vary by as much.
JVM_HEAP = ["-Xms3g", "-Xmx3g", "-Xmn1g"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for tree in trees:
        for d, _, names in os.walk(tree):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found: set SPARK_HOME")
    return home


def build(env, deadline):
    """Compile engine + benchmark code; return the runtime classpath."""
    stamp = os.path.join(HERE, "target", "perfbench-classpath.txt")
    fp = fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == fp:
            return lines[1]
    print("perfbench: building engine and benchmark code with sbt", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "printClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=max(30, deadline - time.time()))
    out = proc.stdout.splitlines()
    cps = [l for l in out if os.pathsep in l and l.endswith(".jar") and "scala-2.13" in l]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(out[-40:]) + "\n")
        fail("build failed", 3)
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(fp + "\n" + cps[-1] + "\n")
    return cps[-1]


def git_commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_one(args, classpath, env, deadline):
    cmd = (["java"] + JVM_HEAP + [f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", WORK,
              "--stamp", f"git_commit={git_commit()}",
              "--stamp", f"source_sha256={fingerprint()}",
              "--stamp", f"nproc_os={os.cpu_count()}"])
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(max(1, deadline - time.time()), kill)
    watchdog.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith('{"correct"'):
                result = line.strip()
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            kill()
            proc.wait()
    if timed_out.is_set():
        fail("run exceeded its time limit", 4)
    if proc.returncode != 0 or result is None:
        fail(f"workload {args.workload} exited with code {proc.returncode}", 5)
    return result


def main():
    start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala: run from a full checkout")
    env = dict(os.environ, SPARK_HOME=spark_home())
    classpath = build(env, start + BUILD_TIMEOUT_S)
    if args.workload != "all":
        print(run_one(args, classpath, env, time.time() + RUN_TIMEOUT_S))
        return
    results = {}
    for w in WORKLOADS:
        one = argparse.Namespace(**{**vars(args), "workload": w})
        results[w] = json.loads(run_one(one, classpath, env, time.time() + RUN_TIMEOUT_S))
    ok = all(r["correct"] for r in results.values())
    print(json.dumps({"correct": ok,
                      "attempted": sum(r["attempted"] for r in results.values()),
                      "failed": sum(r["failed"] for r in results.values()),
                      "metrics": {f"{w}.{m}": v for w, r in results.items()
                                  for m, v in r["metrics"].items()}}))


if __name__ == "__main__":
    main()
