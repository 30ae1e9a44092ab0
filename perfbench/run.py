#!/usr/bin/env python3
"""Run one load-spine benchmark workload and print its result line.

    python3 perfbench/run.py --workload bulk_load --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the product and the
benchmark from source with sbt (perfbench/build.sbt compiles against the
repository's own build) and caches the classpath in perfbench/.build;
later runs reuse it while the sources are unchanged. Each run stages its
seeded inputs under perfbench/.work and removes them when it ends.

The last stdout line is the result object: {"correct", "attempted",
"failed", "metrics"}. The line before it carries the host-load markers
(1-minute load average and CPU pressure before and after, and the CPU
steal share during the run), and the one before that the run's detail (input fingerprint, sizes, tail
percentiles, setup breakdown, per-module diagnostics when traced).
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

WORKLOADS = ("bulk_load", "drain_stream")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 175          # the run itself, build excluded
BUILD_DEADLINE_S = 700    # a first run, build included, stays under 900 s
HEAP = "2g"  # fixed (-Xms = -Xmx), so when collections run does not follow heap resizing

# Spark on JDK 17 outside spark-submit needs these (as in the product's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for base, dirs, files in os.walk(d):
            dirs.sort()
            inputs += [os.path.join(base, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """Build if the sources changed since the cached build; return the runtime classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                cwd=HERE, stdout=subprocess.PIPE, stderr=log, stdin=subprocess.DEVNULL,
                timeout=BUILD_DEADLINE_S, text=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_DEADLINE_S}s (log: {log_path})")
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or os.pathsep not in lines[-1] and not lines[-1].endswith(".jar"):
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (exit {p.returncode}, log: {log_path})")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def cpu_times():
    """Aggregate (steal, total) jiffies from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7], sum(fields[:8])
    except (OSError, ValueError, IndexError):
        return None


def host_load():
    """1-minute load average and CPU pressure (some avg10), when the host exposes them."""
    out = {}
    try:
        with open("/proc/loadavg") as f:
            out["loadavg_1m"] = float(f.read().split()[0])
    except OSError:
        out["loadavg_1m"] = None
    try:
        with open("/proc/pressure/cpu") as f:
            some = next(l for l in f if l.startswith("some"))
        out["cpu_psi_some_avg10"] = float(some.split("avg10=")[1].split()[0])
    except (OSError, StopIteration, IndexError, ValueError):
        out["cpu_psi_some_avg10"] = None
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {', '.join(WORKLOADS)}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no product sources next to the benchmark: expected build.sbt and "
             f"src/main/scala/graft in {ROOT}")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")

    cp = classpath()

    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    result_file = os.path.join(work, "result.json")
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC", "-XX:-UsePerfData",
           "--add-modules", "jdk.incubator.vector"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", os.path.join(work, "run"), "--result", result_file,
    ]
    load_before = host_load()
    cpu_before = cpu_times()
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{a.workload} did not finish within {DEADLINE_S}s", 3)
    jvm_s = time.monotonic() - t0
    load_after = host_load()
    cpu_after = cpu_times()
    # share of CPU time the hypervisor gave to other guests during the run
    steal = None
    if cpu_before and cpu_after and cpu_after[1] > cpu_before[1]:
        steal = (cpu_after[0] - cpu_before[0]) / (cpu_after[1] - cpu_before[1])

    result = None
    if os.path.isfile(result_file):
        with open(result_file) as f:
            result = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(WORK)
    except OSError:
        pass

    sys.stdout.write(out)
    print(json.dumps({"host_load": {"before": load_before, "after": load_after, "cpu_steal_share": steal},
                      "jvm_s": jvm_s}))
    if result is None:
        fail(f"{a.workload} produced no result (exit {proc.returncode})", proc.returncode or 1)
    print(json.dumps(result))
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
