#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload ts_dashboard --seed 1 --seconds 25 --trace 0

Run from the repository root. The first run compiles with sbt (offline,
the same flags as the repository's own test command) and records the
runtime classpath; later runs reuse it until a source file changes. The
JVM then runs perfbench.Main with pinned settings. Everything it writes
goes under .bench_build/ in the repository root; the per-run scratch
directory is deleted when the run ends. The last stdout line is the
result JSON; build and engine logs go to stderr.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BENCH, "target", "runtime.classpath")
STAMP = os.path.join(OUT, "build.stamp")

# Sources whose change forces a rebuild: the engine build and sources,
# and the benchmark's own.
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src/main"]

HEAP = "2g"
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# C1 only, so a short run does not time C2 warm-up, and at a tenth of the
# usual compile thresholds, so that warm-up ends before timing starts (at
# the default thresholds the first timed refreshes ran 10-25% slower than
# the last, and a slow host, fitting fewer ops, read more of that slope).
# Every query compiles new generated classes, and at the default code
# cache size one op at the same point of nearly every run was 40-70%
# slower than its neighbours, with the code cache sweeper busy; a 512 MB
# cache does not fill within a run. The heap is touched at start, not
# page by page during the timed loop.
JVM_FLAGS = ["-XX:+UseG1GC", "-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.1",
             "-XX:ReservedCodeCacheSize=512m", "-XX:+AlwaysPreTouch"]
# A run must end within 180 s, or 900 s when it builds first.
BUILD_TIMEOUT_S = 780
RUN_LIMIT_S = 175
BUILD_RUN_LIMIT_S = 890


def log(msg):
    print(f"run.py: {msg}", file=sys.stderr, flush=True)


def fingerprint():
    h = hashlib.sha256(ROOT.encode())
    for rel in SOURCES:
        top = os.path.join(ROOT, rel)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build():
    """Compile unless the recorded build matches the sources; True if built."""
    fp = fingerprint()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == fp:
                return False
    log("building engine and benchmark with sbt (offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    code, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "-Dsbt.server.autostart=false", "writeClasspath"],
                          BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                          stdin=subprocess.DEVNULL, stdout=sys.stderr)
    if code != 0 or not os.path.exists(CLASSPATH):
        raise SystemExit(f"run.py: build failed (sbt exit {code})")
    os.makedirs(OUT, exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(fp)
    log(f"build done in {time.time() - t0:.0f} s")
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()
    start = time.time()

    missing = [p for p in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        raise SystemExit(f"run.py: run from the repository root; missing {', '.join(missing)}")
    limit = BUILD_RUN_LIMIT_S if build() else RUN_LIMIT_S
    with open(CLASSPATH) as f:
        cp = f.read().strip()

    tmp = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "java-tmp"))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + JVM_FLAGS + [
           f"-Djava.io.tmpdir={os.path.join(tmp, 'java-tmp')}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--tmp", tmp, "--trace-dir", os.path.join(OUT, "traces")]
    # settings are pinned above: nothing from the environment may move
    # Spark's scratch dirs out of the run dir or change the JVM flags
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_") and k not in ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")}
    try:
        code, out = run_bounded(cmd, limit - (time.time() - start), cwd=tmp, env=env,
                                stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = out.rstrip("\n").split("\n") if out else []
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write("\n".join(l for l in lines if not l.startswith("{")) + "\n")
        raise SystemExit(f"run.py: workload {a.workload} failed (exit {code})")
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
