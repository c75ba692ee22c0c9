#!/usr/bin/env python3
"""Repository benchmark: build the library and the benchmark from source,
then run one workload (or the smoke test) in a fresh JVM.

Run from the root of a checkout:

    python3 perfbench/run.py --workload score_fixed --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. See perfbench/README.md.
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
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (the list spark-submit would pass).
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    files = []
    for top in ("build.sbt", "project/build.properties",
                "perfbench/build.sbt", "perfbench/project/build.properties"):
        files.append(top)
    for tree in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(ROOT, tree)):
            files.extend(os.path.relpath(os.path.join(d, n), ROOT)
                         for n in names)
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout and
    always wait for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
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


def build(stamp):
    """Compile with sbt unless this source fingerprint is built already;
    return the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "compile", "export Runtime/fullClasspath"],
                       BUILD_TIMEOUT_S, cwd=HERE, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if not cp:
        fail(f"build printed no classpath; log in {log}")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


def heap_gb():
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
        return max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="every workload once on the smallest inputs, checks only")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload or --smoke is required")

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("library sources not found next to the benchmark "
             "(run from the root of a full checkout)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    files = source_files()
    stamp = fingerprint(files)
    cp = build(stamp)

    work = os.path.join(WORK, f"run{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    heap = f"{heap_gb()}g"
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    # native libraries and other temp files land in the checkout too
    cmd += [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--work", work, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--commit", "src-" + stamp[:16]]
    if a.smoke:
        cmd.append("--smoke")
    else:
        cmd += ["--workload", a.workload]
    err = os.path.join(WORK, "last-stderr.log")
    try:
        with open(err, "w") as errf:
            rc = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stderr=errf,
                           stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        with open(err) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("benchmark run timed out" if rc is None
             else f"benchmark run failed (exit {rc})")


if __name__ == "__main__":
    main()
