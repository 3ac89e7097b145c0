#!/usr/bin/env python3
"""End-to-end CDC benchmark of graft.

    python3 perfbench/run.py --workload <firehose|serve> --seed <n> \
        --seconds <s> --trace <0|1> [--plant 1]

Run from the root of a source checkout. Builds the engine and the harness
(perfbench/build.sbt) when their sources changed, then runs one workload in
one JVM. The last line of stdout is the JSON result; the exit code is 0 only
for a complete run whose answers all match the oracle and whose metrics were
all measured.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha256")
WORK = os.path.join(HERE, "work")

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of every input of the two builds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_child(cmd, cwd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    want = sources_digest()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == want:
                return
    if shutil.which("sbt") is None:
        fail("sbt not found")
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                    "-Dsbt.server.autostart=false", "writeClasspath"],
                   cwd=HERE, timeout=BUILD_TIMEOUT_S, stdout=sys.stderr)
    if rc != 0 or not os.path.isfile(CLASSPATH):
        fail(f"build failed (exit {rc})")
    with open(STAMP, "w") as f:
        f.write(want)


def main():
    # a terminated benchmark still stops the JVM it started (run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["firehose", "serve"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--plant", default="0", choices=["0", "1"])
    a = ap.parse_args()

    # the engine is built from the checkout's own sources
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine sources: {need} is missing")
    build()

    with open(CLASSPATH) as f:
        cp = f.read().strip()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--plant", a.plant, "--work", work]
    out_path = os.path.join(WORK, f"stdout-{os.getpid()}.txt")
    try:
        with open(out_path, "w") as out:
            rc = run_child(cmd, cwd=ROOT, timeout=RUN_TIMEOUT_S, stdout=out)
        with open(out_path) as f:
            lines = [l for l in f.read().splitlines() if l.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(out_path):
            os.remove(out_path)
    if rc is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if lines and lines[-1].startswith("{"):
        print(lines[-1], flush=True)
    sys.exit(rc if rc is not None else 2)


if __name__ == "__main__":
    main()
