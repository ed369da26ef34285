#!/usr/bin/env python3
"""Benchmark launcher: ``python3 hostbench/run.py --workload build|serve
--seed N --seconds S --trace 0|1`` from the root of a checkout.

It sizes Spark from the host (driver heap from MemAvailable, cores from
the CPU affinity mask), keeps every file Spark and the JVM write under
``hostbench/.work``, prepares the per-checkout cache of corpora and
indexes when the package source changed, then runs the measured process
and relays its output; the last stdout line is the result object. Every
process it starts has ended when it exits.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "deces_dataprep_spark")
#: bump when the prepared inputs change shape
DATA_VERSION = "3"
CHILD_TIMEOUT_S = 170
PREPARE_TIMEOUT_S = 840


def child_env(work: str, heap_gib: int, cpus: int) -> dict:
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_DRIVER_MEM": f"{heap_gib}g",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # the JVM's crash log and temp files stay in the work dir, and it
        # writes no hsperfdata file into the system temp dir
        "JAVA_TOOL_OPTIONS": (f"-XX:ErrorFile={work}/hs_err_pid%p.log "
                              f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    return env


def run_child(argv: list[str], env: dict, cwd: str, timeout: float) -> int:
    """Run the measured process in its own process group and wait until every
    process of the group (the JVM, Python workers) has ended."""
    env = dict(env, HOSTBENCH_T0=repr(time.time()))
    proc = subprocess.Popen([sys.executable, os.path.abspath(__file__), "--child",
                             *argv], env=env, cwd=cwd, start_new_session=True)
    timed_out = False
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"[hostbench] timed out after {timeout:.0f}s", file=sys.stderr)
        timed_out, code = True, -1
    finally:
        reap(proc.pid, timed_out)
        proc.wait()
    return code


def reap(pgid: int, timed_out: bool, grace_s: float = 10.0) -> None:
    """Wait until no process of the group is left: first for the JVM to
    exit on its own, then after SIGTERM, then after SIGKILL."""
    steps = ((signal.SIGTERM, grace_s), (signal.SIGKILL, grace_s))
    if not timed_out:
        steps = ((0, grace_s),) + steps
    for sig, wait in steps:
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait
        while time.time() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        sys.argv.pop(1)
        import workloads

        return workloads.main()

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("build", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-mod", type=int, default=None,
                    help="build: reindex a seeded 1/M slice of the corpus "
                         "instead of all of it (steadiness.py's build-size "
                         "runs)")
    args = ap.parse_args()

    if not os.path.isdir(PACKAGE):
        print(f"[hostbench] package not found at {PACKAGE}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import helpers

    cpus = helpers.host_cpus()
    heap = helpers.driver_heap_gib(helpers.mem_available_gib())
    key = helpers.tree_digest(PACKAGE)[:16] + "-d" + DATA_VERSION
    cache_root = os.path.join(HERE, ".cache")
    cache = os.path.join(cache_root, key)
    work_root = os.path.join(HERE, ".work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        env = child_env(work, heap, cpus)
        if not os.path.exists(os.path.join(cache, "_READY")):
            # one-off per checkout and package source: corpora and indexes
            # the measured runs load instead of building
            if os.path.isdir(cache_root):
                shutil.rmtree(cache_root)
            os.makedirs(cache)
            code = run_child(["--prepare", "--work", work, "--cache", cache],
                             env, work, PREPARE_TIMEOUT_S)
            if code != 0:
                return 1
            open(os.path.join(cache, "_READY"), "w").close()
        code = run_child(["--workload", args.workload, "--seed", str(args.seed),
                          "--seconds", str(args.seconds), "--trace", str(args.trace),
                          "--work", work, "--cache", cache,
                          *(["--build-mod", str(args.build_mod)]
                            if args.build_mod else [])],
                         env, work, CHILD_TIMEOUT_S)
        return 0 if code == 0 else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
