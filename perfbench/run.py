#!/usr/bin/env python3
"""Build and run the graft benchmark.

    python3 perfbench/run.py --workload bulk_load --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --selftest

The benchmark compiles the engine's sources of the checkout it sits in
(../src/main/scala) together with its own, with sbt, once per source state;
later runs start the JVM directly. Every run works in its own directory
under perfbench/target/runs/, which is removed when the run ends. The last
line of stdout is the result object; the line before it gives the
environment, sample counts and each workload's named metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
WORKLOADS = ["bulk_load", "text_search"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, as paths relative to the repo root."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(os.path.relpath(f, ROOT) for f in files)


def source_digest():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build(digest):
    """Compile with sbt unless this source state is already built."""
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return True
    log("building with sbt (first run in this checkout)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "writeClasspath"]
    p = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    _children.append(p)
    try:
        p.wait(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log("build timed out")
        return False
    if p.returncode != 0 or not os.path.exists(CLASSPATH):
        log(f"build failed (exit {p.returncode})")
        return False
    with open(STAMP, "w") as f:
        f.write(digest)
    return True


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def heap_mb():
    """Driver heap: a quarter of memory, between 1 and 3 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return max(1024, min(3072, kb // 4096))
    except (OSError, StopIteration, ValueError):
        return 2048


_children = []


def _stop_children(signum, _frame):
    """Kill the JVM (and sbt) process groups when this script is stopped."""
    for p in _children:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(128 + signum)


def run_jvm(extra, digest):
    """Run perfbench.Main in a fresh work dir; returns (exit code, stdout lines)."""
    work = os.path.join(TARGET, "runs", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    # a fixed-size heap, so heap resizing does not move the timings
    heap = f"{heap_mb()}m"
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", work] + extra
    env = dict(os.environ, PERFBENCH_COMMIT=git_commit(), PERFBENCH_SOURCE_DIGEST=digest)
    errlog = os.path.join(TARGET, "runs", os.path.basename(work) + ".log")
    try:
        with open(errlog, "w") as err:
            p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=err,
                                 text=True, start_new_session=True)
            _children.append(p)
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                log(f"run exceeded {RUN_TIMEOUT_S} s and was killed")
                return 1, []
        if p.returncode != 0:
            with open(errlog) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
        return p.returncode, out.splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(errlog):
            os.remove(errlog)


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def selftest(digest):
    """Tiny-scale run of every workload, traced and untraced: every named
    metric is emitted with its unit and no op fails. Then one bulk_load run
    with a corrupted decoded page must report failures."""
    spec = bench_spec()
    problems = []
    for wl in WORKLOADS:
        for trace in (0, 1):
            code, lines = run_jvm(["--workload", wl, "--seed", "1", "--seconds", "1",
                                   "--trace", str(trace), "--tiny"], digest)
            want = spec["per_layer" if trace else "end_to_end"]
            if code != 0 or not lines:
                problems.append(f"{wl} trace={trace}: exit {code}")
                continue
            res = json.loads(lines[-1])
            got = res["metrics"]
            if set(got) != {m["name"] for m in want}:
                problems.append(f"{wl} trace={trace}: metric names differ: "
                                f"{sorted(set(got) ^ {m['name'] for m in want})}")
            problems += [f"{wl} trace={trace}: {m['name']} unit {got[m['name']]['unit']}"
                         for m in want if m["name"] in got and got[m["name"]]["unit"] != m["unit"]]
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"{wl} trace={trace}: {res['failed']}/{res['attempted']} ops failed")
            log(f"selftest {wl} trace={trace}: {res['attempted']} ops, {res['failed']} failed")
    code, lines = run_jvm(["--workload", "bulk_load", "--seed", "1", "--seconds", "1",
                           "--trace", "0", "--tiny", "--corrupt"], digest)
    res = json.loads(lines[-1]) if code == 0 and lines else None
    if res is None or res["correct"] or res["failed"] == 0:
        problems.append("a corrupted decoded page was not counted as a failure")
    else:
        rate = json.loads(lines[-2])["error_rate"]
        log(f"selftest corrupt: error_rate {rate:.3f} > 0")
    for p in problems:
        log(f"SELFTEST FAIL {p}")
    return 0 if not problems else 1


def main():
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _stop_children)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log(f"engine sources not found under {os.path.join(ROOT, 'src', 'main', 'scala')}")
        return 2
    digest = source_digest()
    if not build(digest):
        return 3
    if a.selftest:
        return selftest(digest)
    code, lines = run_jvm(["--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace)], digest)
    if code != 0 or not lines:
        log(f"benchmark exited with {code}")
        return code or 4
    print("\n".join(lines[-2:]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
