#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--size full|tiny]

Builds the engine and the benchmark from source with sbt (once per source
state; the classpath is cached under perfbench/target), then runs the
workload in one JVM. The JVM prints a JSON result as its last line; this
script prints it as its own last line and exits 0, or exits non-zero
without a result when the build or the run fails.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
WORKLOADS = ("ingest_versions", "drop_cycle", "serve_mix")

# Spark on JDK 17 needs these opens outside spark-submit (Spark's
# JavaModuleOptions), as the engine's own build passes to forked JVMs.
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


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the cached classpath matches the sources."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    cp = [l for l in proc.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(stamp + "\n" + cp[-1] + "\n")
    return cp[-1]


def heap():
    """Half the machine's memory, between 2 and 8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources next to {HERE}; run from a full checkout")
    cp = build()

    # A fixed path: the engine's sidecars record absolute file paths, so a
    # path that changed from run to run would change the bytes they hold.
    work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--size", a.size,
              "--work", work])
    t0 = time.time()
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=170)
    except subprocess.TimeoutExpired:
        fail("run timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        fail(f"run failed (exit {proc.returncode}) after {time.time() - t0:.0f}s")
    print(lines[-1])


if __name__ == "__main__":
    main()
