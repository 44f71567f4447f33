#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <submission|corpus|queries>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of the repository. The first run builds the program
and the benchmark code with sbt (perfbench/build.sbt depends on the
program's own build); later runs start the JVM straight from the saved
classpath. Inputs are generated from --seed under .perfbench_work/.
With --trace 0 the result holds the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Progress and diagnostics go to
stderr; the last stdout line is the result.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".perfbench_work")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "2g"

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads: the program's and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties"))]
    return files


def run_child(cmd, cwd, timeout, stdout):
    """Runs a child process in its own process group, killing the group
    (the child and whatever it started) and reaping the child on timeout
    or when this script is terminated."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True)

    def kill():
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()

    def stop(signum, _frame):
        kill()
        sys.exit(128 + signum)
    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill()
        log(f"{cmd[0]} timed out after {timeout} s")
        return None
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return p


def build():
    files = sources()
    if os.path.exists(CLASSPATH) and all(
            os.path.getmtime(f) <= os.path.getmtime(CLASSPATH) for f in files):
        return True
    log("building the program and the benchmark with sbt")
    p = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                  BENCH, BUILD_TIMEOUT_S, sys.stderr)
    return p is not None and p.returncode == 0 and os.path.exists(CLASSPATH)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["submission", "corpus", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "Engine.scala")):
        log("the program's sources are missing: run from the repository root")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not build():
        log("build failed")
        return 2

    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = ["java", f"-Xmx{HEAP}",
           *[x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           f"-Dderby.system.home={work}/warehouse",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
           "--root", ROOT]
    out_path = os.path.join(work, "stdout.txt")
    with open(out_path, "w") as out:
        p = run_child(cmd, work, RUN_TIMEOUT_S, out)
    if p is None or p.returncode != 0:
        log(f"benchmark JVM failed (exit {None if p is None else p.returncode})")
        return 1
    with open(out_path) as f:
        lines = [l for l in f.read().splitlines() if l.strip()]
    result = json.loads(lines[-1])

    want = {m["name"]: m["unit"] for m in
            spec["per_layer" if a.trace == "1" else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        log(f"metrics {sorted(got.items())} do not match BENCHMARK.json {sorted(want.items())}")
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
