#!/usr/bin/env python3
"""Build the library and the benchmark harness from source, then run one workload.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the repository root. The Scala sources under src/main/scala and
perfbench/src are compiled with the Scala compiler that ships in the Spark jars
directory ($SPARK_HOME/jars, else the `unmanagedBase` that build.sbt names).
Classes are cached under $CARGO_TARGET_DIR/perfbench (default .bench_build) and
rebuilt when any source changes. The harness prints one JSON result as the last
line of standard output; see perfbench/METRICS.md.
"""
import argparse
import fcntl
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
from pathlib import Path

WORKLOADS = ("dashboard", "curation")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 needs these when a SparkSession starts outside spark-submit
# (the same list build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = root / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    fail("no Spark jars directory: set SPARK_HOME")


def sources(root):
    lib = root / "src" / "main" / "scala"
    bench = root / "perfbench" / "src"
    if not lib.is_dir() or not bench.is_dir():
        fail("library sources (src/main/scala) or perfbench/src not found; "
             "run from the repository root")
    files = sorted(lib.rglob("*.scala")) + sorted(bench.rglob("*.scala"))
    if not files:
        fail("no Scala sources found")
    return files


def fingerprint(root, files, jars):
    h = hashlib.sha256()
    h.update(str(sorted(p.name for p in jars.glob("*.jar"))).encode())
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(root, out, jars):
    files = sources(root)
    fp = fingerprint(root, files, jars)
    classes = out / "classes"
    stamp = out / "classes.stamp"
    out.mkdir(parents=True, exist_ok=True)
    with open(out / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if stamp.is_file() and stamp.read_text() == fp and classes.is_dir():
            return classes, fp
        tmp = out / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        argfile = out / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", str(tmp), f"@{argfile}"]
        r = subprocess.run(cmd, cwd=root, timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            fail(f"compile failed ({r.returncode})")
        shutil.rmtree(classes, ignore_errors=True)
        tmp.rename(classes)
        stamp.write_text(fp)
    return classes, fp


def git_commit(root):
    """HEAD of the checkout, or "unknown" outside a git work tree."""
    # the ceiling keeps git from looking for a repository above the checkout
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=str(root.parent))
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10, env=env)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    out = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"
    jars = spark_jars(root)
    classes, fp = build(root, out, jars)

    # per-process scratch: warehouses, Spark local dirs, JVM temp files
    work = out / "work" / str(os.getpid())
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # sun.net.httpserver.nodelay: without TCP_NODELAY the JDK HTTP server's
    # separate header and body writes meet the client's delayed ACK, and a
    # small response waits ~40 ms for a kernel timer instead of for the server.
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           "-Dsun.net.httpserver.nodelay=true",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work-dir", str(work), "--records", str(root / "perfbench" / "records"),
            "--source-sha256", fp, "--git-commit", git_commit(root)]
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(stdout)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
