#!/usr/bin/env python3
"""Benchmark runner: builds the engine with the benchmark driver, runs one
workload in one JVM, checks its outputs and prints the result.

    python3 perfbench/run.py --workload batch_jobs --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are BENCHMARK.json's end_to_end ones, with
--trace 1 its per_layer ones. The exit code is 0 only when every output
check passed. See perfbench/README.md for the workloads and metrics.
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

import checks
import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(BENCH, ".build")
WORK_ROOT = os.path.join(BENCH, ".work")
BUILD_TIMEOUT_S = 850
DRIVER_HEAP = "2g"
# JVM time limit: session start, warm-up and output checks, plus the loop.
# A loop starts operations until its window has passed, so it overruns by
# up to one operation; a traced run has three loops and a finish round.
SETUP_AND_CHECKS_S = 120
LONGEST_OP_S = 40

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    files = []
    for top in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    files += [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, else the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found: set SPARK_HOME")
    return home


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    log("building (sbt compile)")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return classpath


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_timeout(seconds, trace):
    return SETUP_AND_CHECKS_S + seconds + (4 if trace else 1) * LONGEST_OP_S


def run_jvm(classpath, argv, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: page faults of heap growth land in set-up,
    # not in the timed operation
    cmd = ["java", f"-Xms{DRIVER_HEAP}", f"-Xmx{DRIVER_HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + argv
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"benchmark JVM exceeded {timeout:.0f} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def tail(xs, beyond=10):
    """The highest percentile above the median with `beyond` samples past it."""
    n = len(xs)
    if n - beyond <= n / 2:
        return f"no percentile above the median has {beyond} samples beyond it at n={n}"
    return f"p{100 * (n - beyond) / n:.0f} = {sorted(xs)[n - beyond - 1]} s"


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(path) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench = spec()
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {args.workload}")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("engine sources (src/main/scala/graft) not found next to the benchmark")
    classpath = build()

    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.perf_counter()
        gen.generate(args.workload, args.seed, os.path.join(work, "in"))
        gen_s = time.perf_counter() - t0
        result_file = os.path.join(work, "result.json")
        code = run_jvm(classpath, [args.workload, str(args.seconds), str(args.trace),
                                   str(cores()), work, result_file], work,
                       jvm_timeout(args.seconds, args.trace))
        if code != 0 or not os.path.exists(result_file):
            fail(f"benchmark JVM exited with {code}")
        with open(result_file) as fh:
            res = json.load(fh)

        t0 = time.perf_counter()
        failures = list(res["check_failures"])
        failures += checks.run_checks(os.path.join(work, "in"), res["oracle_checks"])
        log(f"output checks took {time.perf_counter() - t0:.1f} s")
        for f in failures:
            log(f"output check failed: {f}")
        if args.trace == 1:
            trace = os.path.join(work, "trace.json")
            if os.path.exists(trace):
                shutil.copy(trace, os.path.join(WORK_ROOT, f"trace-{args.workload}-s{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    samples = res["samples"]
    setup_s = gen_s + samples["setup_session_s"] + samples["setup_warmup_s"]
    values = dict(res["end_to_end"], setup_s=setup_s) if args.trace == 0 else res["per_layer"]
    wanted = bench["end_to_end"] if args.trace == 0 else bench["per_layer"]
    missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
    if missing:
        fail(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"closed loop, one client; config {json.dumps(res['config'])}")
    print(f"op_s samples (n={len(samples['op_s'])}): {samples['op_s']}; {tail(samples['op_s'])}")
    print(f"setup: generate {gen_s:.3f} s, JVM start to "
          f"session {samples['setup_session_s']:.3f} s, warm-up {samples['setup_warmup_s']:.3f} s")
    for name, m in metrics.items():
        print(f"{name} = {m['value']} {m['unit']}")
    attempted = res["attempted"]
    failed = res["failed"] + (1 if failures else 0)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": min(failed, attempted), "metrics": metrics}))
    sys.exit(0 if not failures else 1)


if __name__ == "__main__":
    main()
