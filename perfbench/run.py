#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload suite --seed 1 --seconds 10 --trace 0

Builds the engine (src/main/scala) and the benchmark (perfbench/src) with the
Scala compiler that ships in the Spark distribution, generates the input
tables once, runs one workload in one JVM and prints its result as the last
line of standard output. Everything it writes goes under .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

T0 = time.monotonic()
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
BENCH = os.path.join(ROOT, "perfbench")
REPO_SRC = os.path.join(ROOT, "src", "main", "scala")
# the engine packages the workloads reach; anything else they reference is
# compiled from the source path on demand
REPO_PACKAGES = ["graft/core", "graft/constraints", "graft/requirements", "graft/runner",
                 "graft/ops", "graft/functions", "graft/sources", "org"]
WORKLOADS = ["suite", "curate"]
RUN_LIMIT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def scala_files(root, subdirs):
    out = []
    for sub in subdirs:
        for dirpath, _, files in os.walk(os.path.join(root, sub)):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME") or "/opt/spark"
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars at {jars}; set SPARK_HOME")
    return jars + "/*"


def scalac(out, classpath, sourcepath, files):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "-sourcepath", sourcepath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"compilation into {out} failed")


def build():
    """Compile the engine and the benchmark unless their sources are unchanged."""
    repo_files = scala_files(REPO_SRC, REPO_PACKAGES)
    bench_files = scala_files(BENCH, ["src"])
    if not repo_files or not os.path.isdir(os.path.join(REPO_SRC, "graft")):
        fail("engine sources (src/main/scala) not found: run from the repository root")
    stamp_path = os.path.join(WORK, "build.stamp")
    stamp = digest(repo_files + bench_files)
    repo_cls = os.path.join(WORK, "classes", "repo")
    bench_cls = os.path.join(WORK, "classes", "bench")
    if os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return repo_cls, bench_cls
    if os.path.exists(stamp_path):
        os.remove(stamp_path)
    jars = spark_jars()
    scalac(repo_cls, jars, REPO_SRC, repo_files)
    scalac(bench_cls, repo_cls + os.pathsep + jars, os.path.join(BENCH, "src"), bench_files)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return repo_cls, bench_cls


def jvm(classpath, args, timeout):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xmx4g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"] + opens +
           ["-cp", classpath, "perfbench.Main", "--work", WORK] + args)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"JVM exceeded {timeout:.0f}s")
    if proc.returncode != 0:
        sys.stdout.write(out)
        fail(f"JVM exited with {proc.returncode}")
    return out


def ensure_data(classpath):
    """Generate the input tables once per generator version."""
    gen = os.path.join(BENCH, "src", "perfbench", "DataGen.scala")
    data = os.path.join(WORK, "data-" + digest([gen])[:16])
    if not os.path.isdir(data):
        staging = data + ".tmp"
        shutil.rmtree(staging, ignore_errors=True)
        jvm(classpath, ["--generate", "1", "--data", staging], 600)
        os.rename(staging, data)
    return data


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="write the observed verdicts or counts to this file")
    a = ap.parse_args()

    os.makedirs(WORK, exist_ok=True)
    repo_cls, bench_cls = build()
    classpath = os.pathsep.join([bench_cls, repo_cls, spark_jars()])
    data = ensure_data(classpath)
    # the first run in a checkout builds; later runs keep to the run limit
    budget = RUN_LIMIT_S - (time.monotonic() - T0) if time.monotonic() - T0 < 30 else 600
    args = ["--data", data, "--expected", os.path.join(BENCH, "expected"),
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    if a.record:
        args += ["--record", os.path.abspath(a.record)]
    lines = jvm(classpath, args, budget).strip().splitlines()
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    for line in lines:
        print(line)


if __name__ == "__main__":
    main()
