#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload serve_api --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark with sbt when their sources changed since
the last build (the classpath is cached under perfbench/target), then runs the
workload in one JVM. The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; the line before it,
"PERFBENCH_RECORD {...}", is the full record (every figure, generator
parameters, machine context, output checks). The JVM's log goes to
perfbench/target/work/<workload>/jvm.log.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("serve_api", "ingest_live", "train_history", "curate_corpus")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "3g"
# The module openings Spark needs on JDK 17 outside spark-submit (the same
# list the engine's build passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every input of the build: both build definitions and sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    return p.returncode


def build():
    """(classpath, digest) of the build, rebuilding first if any input changed."""
    stamp = os.path.join(TARGET, "build-stamp.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            saved = json.load(fh)
        if saved.get("digest") == digest:
            return saved["classpath"], digest
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export perfbench/Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cps[-1]}, fh)
    return cps[-1], digest


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail(f"engine sources not found under {ROOT}; run from a full checkout")

    cp, digest = build()
    work = os.path.join(TARGET, "work", a.workload)
    # Seed-independent artifacts (the frozen curation models) are kept per
    # build, so they are made once per checkout and never outlive a change.
    cache = os.path.join(TARGET, "cache", digest[:16])
    subprocess.run(["rm", "-rf", work], check=True)
    os.makedirs(os.path.join(work, "tmp"))
    # C1 only: C2's speculative compilation made the same run differ by
    # 10-20% from JVM to JVM at these run lengths; C1 code settles within
    # the warm-up and repeats closely.
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
              "--cache", cache])
    out_path = os.path.join(work, "stdout.txt")
    log = os.path.join(work, "jvm.log")
    t0 = time.time()
    with open(out_path, "w") as out, open(log, "w") as err:
        rc = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=out, stderr=err,
                         stdin=subprocess.DEVNULL)
    with open(out_path) as fh:
        lines = [ln for ln in fh.read().splitlines() if ln.strip()]
    result = None
    if rc == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        why = "timed out" if rc is None else f"exit {rc}"
        fail(f"{a.workload} produced no result ({why} after {time.time() - t0:.0f} s); see {log}")
    for ln in lines:
        print(ln)


if __name__ == "__main__":
    main()
