#!/usr/bin/env python3
"""The ONE gate entry point (dev tooling): chains every check the round
must close on, fails on the FIRST nonzero child by default (use
--keep-going to run them all), and prints a one-line PASS/FAIL summary
per gate. Exists because the gates used to run individually — which is
exactly how a stale SCALECHECK.json survived two rounds unnoticed.

Gates, in order (each is independently runnable; logs under /tmp):
  test        sbt -batch test (full ScalaTest suite)
  selfcheck1  DuckDB oracle hash-compare, every registered query, sf0.01
  selfcheck2  same at sf0.1
  bench       graft.Bench at sf0.1 (exits nonzero on its own plan gates)
  scalecheck  graft.tools.ScaleCheck 10x replica (violations -> nonzero)
  streambench graft.tools.StreamBench (steady-state > 2x budget -> nonzero)

bench, scalecheck and streambench run at local[SPARK_GRAFT_CPUS]: taken
from the environment, else the cores this process may run on (what
`nproc` prints). The summary names the count, since every number quoted
from these gates must name its cores.

Usage: python3 tools/gate.py [--only g1,g2] [--skip g1,g2] [--keep-going]
Exit code: 0 iff every selected gate passed.
"""
import os, subprocess, sys, time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOGDIR = "/tmp/graft_gate"
CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
SPARK_ENV = {"SPARK_GRAFT_CPUS": CPUS}

GATES = [
    ("test",        ["sbt", "-batch", "test"], {}),
    ("selfcheck1",  [sys.executable, "tools/selfcheck.py",
                     "/root/testdata/sf0.01", "/tmp/gate_verify_sf001"], {}),
    ("selfcheck2",  [sys.executable, "tools/selfcheck.py",
                     "/root/testdata/sf0.1", "/tmp/gate_verify_sf01"], {}),
    ("bench",       ["sbt", "-batch", "runMain graft.Bench"],
                    {"SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.1",
                     **SPARK_ENV}),
    ("scalecheck",  ["sbt", "-batch",
                     "runMain graft.tools.ScaleCheck /root/testdata/sf0.1 10 "
                     "/tmp/graft_scale_x10"], SPARK_ENV),
    ("streambench", ["sbt", "-batch", "runMain graft.tools.StreamBench"], SPARK_ENV),
]


def main() -> int:
    args = sys.argv[1:]
    def listarg(flag):
        if flag in args:
            return set(args[args.index(flag) + 1].split(","))
        return None
    only, skip = listarg("--only"), listarg("--skip") or set()
    keep_going = "--keep-going" in args
    names = {n for n, _, _ in GATES}
    for sel in (only or set()) | skip:
        if sel not in names:
            sys.exit(f"unknown gate '{sel}' (gates: {', '.join(sorted(names))})")
    os.makedirs(LOGDIR, exist_ok=True)
    results, failed = [], False
    for name, cmd, extra_env in GATES:
        if (only is not None and name not in only) or name in skip:
            results.append((name, "SKIP", 0.0, ""))
            continue
        log = f"{LOGDIR}/{name}.log"
        env = dict(os.environ, **extra_env)
        t0 = time.time()
        with open(log, "w") as lf:
            rc = subprocess.run(cmd, cwd=REPO, env=env,
                                stdout=lf, stderr=subprocess.STDOUT).returncode
        dt = time.time() - t0
        status = "PASS" if rc == 0 else f"FAIL rc={rc}"
        print(f"GATE {name:<12} {status:<10} {dt:8.1f}s  log={log}", flush=True)
        results.append((name, status, dt, log))
        if rc != 0:
            failed = True
            tail = open(log).read().splitlines()[-12:]
            print("\n".join(f"  | {l}" for l in tail), flush=True)
            if not keep_going:
                break
    print(f"\n== gate summary (SPARK_GRAFT_CPUS={CPUS}) ==")
    for name, status, dt, _ in results:
        print(f"  {name:<12} {status:<10} {dt:8.1f}s")
    print("GATE RESULT:", "FAIL" if failed else "PASS")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
