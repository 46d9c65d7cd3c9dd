#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

Usage (from the repository root):

    python3 perfbench/run.py --workload repl_incremental --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the harness and the engine from source
with sbt (perfbench/build.sbt); later runs reuse the build until a source
file changes. Each run gets its own temporary root under perfbench/.work/,
which is removed when the run ends. The last line of standard output is the
result JSON: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
CLASSPATH = os.path.join(WORK, "classpath.txt")
STAMP = os.path.join(WORK, "classpath.stamp")
WORKLOADS = ["repl_incremental", "analytics_mix", "stream_commit"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads, to know when to rebuild."""
    h = hashlib.sha1()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "resources"), os.path.join(BENCH, "project")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    print("perfbench: building harness and engine with sbt", file=sys.stderr)
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        BENCH, subprocess.STDOUT, BUILD_TIMEOUT_S)
    lines = [l for l in out if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if code != 0 or any("[error]" in l for l in lines) or not cp or cp.startswith("["):
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        fail("build failed")
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp


def heap():
    """JVM heap: a quarter of memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def java_cmd(cp, root, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        # heap not pre-touched, so resident memory grows with what the
        # program holds; a fixed young generation, since G1's adaptive
        # young sizing alone moved peak resident memory by a quarter
        # between runs
        f"-Xmx{heap()}g", "-Xmn512m", "-XX:+UseG1GC",
        f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, main] + args)


def run_group(cmd, cwd, stderr, timeout):
    """Run `cmd` in its own process group and return (exit code, stdout
    lines); on timeout or interruption the whole group is killed and reaped.
    """
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out.splitlines()
    except subprocess.TimeoutExpired:
        return 124, []
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def run_java(cmd, root, timeout):
    """Run the JVM, its stderr in the run root's jvm.log."""
    with open(os.path.join(root, "jvm.log"), "w") as log:
        return run_group(cmd, REPO, log, timeout)


def valid_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(r["attempted"], int) and r["attempted"] >= 1)


def main():
    # a terminated run still kills its JVM and removes its root (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--print-golden", action="store_true",
                    help="print the analytics corpus checksums for resources/golden.tsv")
    a = ap.parse_args()
    if not a.workload and not a.print_golden:
        fail("--workload is required")
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found beside perfbench/")

    os.makedirs(WORK, exist_ok=True)
    cp = build()
    root = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(root, "tmp"))
    try:
        if a.print_golden:
            code, out = run_java(java_cmd(cp, root, "graftbench.Golden", [root]), root, 600)
            print("\n".join(out))
            sys.exit(code)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--root", root]
        if a.trace:
            args += ["--trace-out", os.path.join(WORK, f"spans-{a.workload}.jsonl")]
        code, out = run_java(java_cmd(cp, root, "graftbench.Main", args), root, RUN_TIMEOUT_S)
        if code != 0 or not out or not valid_result(out[-1]):
            with open(os.path.join(root, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            sys.stderr.write("\n".join(out[-20:]) + "\n")
            fail(f"run failed (exit {code})")
        print("\n".join(out))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
