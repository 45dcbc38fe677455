#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine sources (src/main/scala) together with the harness under
perfbench/src with sbt into .bench_build/ (skipped when the sources are
unchanged), refuses to measure while another Spark JVM runs, starts one
JVM for the workload and prints its metric table. The last stdout line is
the result object: {"correct", "attempted", "failed", "metrics"}.
`--workload all` runs every workload in turn and prints one combined object
with the metrics named <workload>.<metric>.

Exits non-zero, without a result, when the engine sources are missing, the
build fails or another Spark JVM is running; exits non-zero after printing
the result when an output check failed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE = os.path.join(ROOT, "src", "main", "scala", "graft")
HEAP = "3g"
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(digest):
    stamp = os.path.join(BUILD, "build.stamp")
    cp = os.path.join(BUILD, "target", "classpath.txt")
    if os.path.exists(cp) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
                   + (f" -Dsbt.repository.config={repos}" if os.path.exists(repos) else ""))
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
                        f"-J-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0 or not os.path.exists(cp):
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return open(cp).read().strip()


def other_spark_jvms():
    """Pids of running JVMs with Spark on their classpath, other than ours."""
    mine = {os.getpid(), os.getppid()}
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        if int(pid) in mine:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if "java" in cmd.split(" ")[0] and ("spark" in cmd.lower()) and "sbt-launch" not in cmd:
            found.append(pid)
    return found


def run_workload(cp, digest, workload, seed, seconds, trace):
    work = os.path.join(BUILD, f"run-{os.getpid()}-{workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--spec", os.path.join(HERE, "spec.json"), "--work", work, "--out", out,
              "--source-digest", digest])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=170)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{workload}: timed out", 3)
    sys.stdout.write(stdout)
    result = None
    if proc.returncode == 0 and os.path.exists(out):
        with open(out) as fh:
            result = json.load(fh)
    spans = out + ".spans.json"
    if os.path.exists(spans):
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        shutil.copy(spans, os.path.join(BUILD, "traces", f"{workload}-seed{seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        fail(f"{workload}: the JVM exited with {proc.returncode} and no result", 4)
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(ENGINE):
        fail(f"engine sources not found under {os.path.relpath(ENGINE, ROOT)}")
    with open(os.path.join(HERE, "spec.json")) as fh:
        names = list(json.load(fh)["workloads"])
    if a.workload != "all" and a.workload not in names:
        fail(f"unknown workload {a.workload}; one of {names} or all")
    os.makedirs(BUILD, exist_ok=True)
    digest = source_digest()
    cp = build(digest)
    # never measure next to another Spark JVM: give a finishing one a
    # moment, then refuse
    deadline = time.time() + 30
    while other_spark_jvms():
        if time.time() > deadline:
            fail(f"another Spark JVM is running (pids {other_spark_jvms()}); refusing to measure", 5)
        time.sleep(1)
    results = {w: run_workload(cp, digest, w, a.seed, a.seconds, a.trace)
               for w in (names if a.workload == "all" else [a.workload])}
    if a.workload == "all":
        result = {"correct": all(r["correct"] for r in results.values()),
                  "attempted": sum(r["attempted"] for r in results.values()),
                  "failed": sum(r["failed"] for r in results.values()),
                  "metrics": {f"{w}.{m}": v for w, r in results.items() for m, v in r["metrics"].items()}}
    else:
        result = results[a.workload]
    print(json.dumps(result, separators=(",", ":")))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
