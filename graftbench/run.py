#!/usr/bin/env python3
"""graft benchmark runner.

Builds the engine and the benchmark from source (once per source digest)
and runs one workload in a fresh JVM:

    python3 graftbench/run.py --workload serve_warm --seed 1 --seconds 15 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
the per-layer ones. Everything the run writes stays under .bench_build/.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("build", "serve_warm")
WORK = os.path.join(ROOT, ".bench_build", "graftbench")
CLASSES = os.path.join(BENCH_DIR, "target", "scala-2.13", "classes")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 175
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=1):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build compiles, relative to the repository root."""
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH_DIR, "src")]
    files = [os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(os.path.relpath(f, ROOT) for f in files)


def source_digest():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found: set SPARK_HOME")
    return home


def build(digest, env, home):
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env = dict(env, SBT_OPTS=opts.strip(), COURSIER_MODE="offline", SPARK_HOME=home)
    print(f"graftbench: compiling (source digest {digest})", file=sys.stderr)
    try:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=BENCH_DIR, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            timeout=BUILD_TIMEOUT_S).returncode
    except FileNotFoundError:
        fail("sbt is not on PATH")
    except subprocess.TimeoutExpired:
        fail(f"build did not finish within {BUILD_TIMEOUT_S} s")
    if rc != 0:
        fail(f"build failed (sbt exit {rc})")
    with open(stamp, "w") as f:
        f.write(digest + "\n")


def commit_id():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "none"


def expected_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, if it is present."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft sources not found under {ROOT}/src/main/scala: "
             "run from a full checkout of the repository", code=2)
    home = spark_home()
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    digest = source_digest()
    build(digest, dict(os.environ), home)

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    cmd = [java, f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", "-XX:SoftRefLRUPolicyMSPerMB=0",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(home, "jars", "*"), "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", WORK, "--data", os.path.join(BENCH_DIR, "data"),
            "--commit", commit_id(), "--source", digest]
    log_path = os.path.join(WORK, "logs", f"{tag}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True)
        timer = threading.Timer(RUN_TIMEOUT_S, proc.kill)
        timer.start()
        last = None
        try:
            # echo every line but the newest, which is held back until the
            # run has ended and the line has been validated
            for line in proc.stdout:
                if last is not None:
                    print(last, flush=True)
                last = line.rstrip("\n")
            rc = proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        if last is not None:
            print(last, flush=True)
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"run failed (exit {rc}); log in {log_path}")
    try:
        result = json.loads(last or "")
    except json.JSONDecodeError:
        fail(f"the run did not end with a JSON result line: {last!r}")
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail(f"result line has keys {sorted(result)}")
    names = expected_metrics(args.trace)
    if names is not None and sorted(result["metrics"]) != sorted(names):
        fail("result metrics differ from BENCHMARK.json: "
             f"{sorted(set(result['metrics']) ^ set(names))}")
    print(last, flush=True)


if __name__ == "__main__":
    main()
