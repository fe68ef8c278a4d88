#!/usr/bin/env python3
"""Build the library and the benchmark from this checkout, then run one
workload and relay its output.

    python3 perfbench/run.py --workload tenant_search --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles with sbt (about a
minute); later runs reuse the build while no source file has changed. The
last line of stdout is the JSON result; build output goes to stderr.
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
WORK = os.path.join(HERE, "work")
WORKLOADS = ("tenant_search", "ingest_mixed", "curate_corpus")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these opened modules.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source digest; return the runtime classpath."""
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "sources.sha256")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    print("perfbench: building with sbt", file=sys.stderr)
    try:
        p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    sys.stderr.write(p.stdout)
    if p.returncode != 0:
        die(f"build failed (sbt exit {p.returncode})")
    lines = [l.strip() for l in p.stdout.splitlines()
             if l.strip() and not l.startswith("[") and ".jar" in l]
    if not lines:
        die("build printed no classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return lines[-1]


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        die("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(f"no graft sources beside the benchmark (looked in {ROOT})")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME is not set; the build takes Spark's jars from $SPARK_HOME/jars")

    cp = build()
    run_dir = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    java = [
        "java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    ]
    for m in ADD_OPENS:
        java += ["--add-opens", f"{m}=ALL-UNNAMED"]
    java += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", a.trace, "--work", run_dir,
             "--commit", git_commit()]
    proc = subprocess.Popen(java, cwd=ROOT, stdin=subprocess.DEVNULL,
                            start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(143)))
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
        proc.wait()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        code = 124
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
