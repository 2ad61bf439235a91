#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result line.

    python3 perfbench/run.py --workload etl_sync --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the benchmark
(perfbench/build.sbt compiles graft's sources from ../src next to the
benchmark's own) and caches the classpath, keyed on a digest of every
source file; later runs with unchanged sources start the JVM directly. The JVM process prints a human-readable report followed by one
JSON line; that JSON line is the last line this script prints. The exit
code is 0 when every check passed, 1 when a check failed (the result is
still printed), and 2 or more, with no result, when the benchmark could
not run at all.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import threading

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
LIBRARY = ROOT / "src" / "main" / "scala" / "graft"
# build.sbt compiles ../src/main/scala next to the benchmark's own sources.
BUILD_INPUTS = (ROOT / "src" / "main", HERE / "src" / "main", HERE / "build.sbt",
                HERE / "project" / "build.properties")
CLASSPATH = HERE / "target" / "perfbench-classpath.txt"

JAVA_OPTS = [
    # A fixed heap and young generation: peak RSS then follows the data the
    # run keeps live instead of the collector's sizing decisions.
    "-Xms2g", "-Xmx2g", "-Xmn512m",
    # no hsperfdata file: a run writes only inside its checkout
    "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false",
] + [
    arg
    for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    )
    for arg in ("--add-opens", pkg + "=ALL-UNNAMED")
]

# The workloads whose rounds are mostly Spark's driver (planning, job
# scheduling) run on C1 alone. That code is megamorphic: under C2 a JVM was
# still compiling about 2000 methods per 5 s and deoptimizing thousands a
# minute into a run, and each JVM settled at its own speed (reconcile run
# medians from 2.0 to 3.4 s, each steady within its JVM; IQR / median 19%
# over twenty runs). C1 does not speculate on profiles, so the rounds repeat
# across JVMs (IQR / median over ten seeds: reconcile 5%, etl_sync 7%).
# curate_dedup's rounds are mostly text expressions inside tasks, where C2
# settles and C1 ran 50% slower and less steady (13.5 to 19.3 s), so it
# keeps the default tiered JIT.
JIT = {
    "etl_sync": ["-XX:TieredStopAtLevel=1"],
    "reconcile": ["-XX:TieredStopAtLevel=1"],
    "curate_dedup": [],
}
WORKLOADS = tuple(JIT)


def fail(msg):
    """Exit without a result: the benchmark could not run."""
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


def source_key():
    """Digest of every file the build reads, and of where it lives: the
    cached classpath names class directories under HERE, so a copy of the
    benchmark elsewhere, or any changed source, builds afresh."""
    h = hashlib.sha256(str(HERE).encode())
    for r in BUILD_INPUTS:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()


def classpath():
    """Compile unless the cached classpath was built from these sources."""
    key = source_key()
    if CLASSPATH.is_file():
        cached = CLASSPATH.read_text().split("\n")
        if len(cached) >= 2 and cached[0] == key:
            return cached[1]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it is needed to build the benchmark")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    lines = [l for l in proc.stdout.splitlines() if "perfbench" in l and ".jar" in l
             and not l.startswith("[")]
    if not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build printed no classpath")
    CLASSPATH.parent.mkdir(parents=True, exist_ok=True)
    CLASSPATH.write_text(key + "\n" + lines[-1] + "\n")
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not LIBRARY.is_dir():
        fail("graft's sources (src/main/scala/graft) are not in this checkout; "
             "run the benchmark from the root of a full checkout")
    cp = classpath()

    work = HERE / ".work" / f"{a.workload}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, *JAVA_OPTS, *JIT[a.workload], f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(work / "run")]
    child = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                             text=True, start_new_session=True)

    def stop(*_):
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    # A run must end within its time limit: a hung JVM is killed.
    watchdog = threading.Timer(a.seconds + 160, lambda: os.killpg(child.pid, signal.SIGKILL))
    watchdog.start()
    last = ""
    try:
        for line in child.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
        code = child.wait()
    finally:
        watchdog.cancel()
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code not in (0, 1) or not last:
        fail(f"the benchmark JVM exited with code {code} and no result")
    print(last, flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
