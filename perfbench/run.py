#!/usr/bin/env python3
"""Repo benchmark entry point.

    python3 perfbench/run.py --workload stream_paced|catalog \
        --seed N --seconds S --trace 0|1

Builds the engine plus the harness from source with sbt when the build is
missing or older than a source file, runs one workload in one JVM at
local[nproc], and prints the result JSON as the last line of stdout. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones. Exits 1 when an output check failed, 2 when the run could not be made.
Everything it writes stays under perfbench/ (.build, work, out).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BUILD_DIR = os.path.join(HERE, ".build")
CLASSPATH = os.path.join(BUILD_DIR, "classpath.txt")
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
CATALOG_FILE = os.path.join(HERE, "catalog.tsv")
WORKLOADS = ("stream_paced", "catalog")
DEADLINE_S = 175
BUILD_TIMEOUT_S = 880

JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"[graftbench] {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = os.path.getmtime(os.path.join(HERE, "build.sbt"))
    for top in (ENGINE_SRC, os.path.join(HERE, "src", "main")):
        for dirpath, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    return newest


def jvm_args(work):
    """JVM options of every benchmark JVM; all scratch files go under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    args = ["java", "-Xmx3g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={work}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        args += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return args


def build(deadline):
    """Compiles with sbt; returns the runtime classpath."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources missing: {ENGINE_SRC}")
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return open(CLASSPATH).read().strip()
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    os.makedirs(BUILD_DIR)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", "compile", "export Runtime/fullClasspath"]
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as lf:
        try:
            p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                               stderr=lf, text=True, timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "target" in l and os.pathsep in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-3000:])
        fail(f"build failed (exit {p.returncode}); see {log}")
    classpath = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(classpath)
    return classpath


def check_names(result, traced):
    """The result must carry exactly the metrics BENCHMARK.json declares."""
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        return
    spec = json.load(open(spec_path))
    want = {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if want != got:
        fail(f"metric set differs from BENCHMARK.json: {sorted(set(want.items()) ^ set(got.items()))}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    start = time.time()
    classpath = build(start + BUILD_TIMEOUT_S)
    deadline = time.time() + DEADLINE_S

    work = os.path.join(HERE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    result_file = os.path.join(work, "result.json")
    cmd = jvm_args(work) + ["-cp", classpath, "graftbench.Main",
                 "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--work", work, "--out", os.path.join(HERE, "out"),
                 "--fixtures", FIXTURES, "--catalog", CATALOG_FILE,
                 "--result", result_file]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=lf, text=True)
        try:
            out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {DEADLINE_S} s; see {log}")
    for line in out.splitlines():
        if line.startswith("[graftbench]"):
            print(line)
    if proc.returncode != 0 or not os.path.exists(result_file):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"JVM exited with {proc.returncode}; see {log}")
    result = json.load(open(result_file))
    check_names(result, args.trace == 1)
    print(json.dumps(result), flush=True)
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
