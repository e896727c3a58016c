#!/usr/bin/env python3
"""Benchmark entry point for the firehose engine.

    python3 perfbench/run.py --workload firehose-catchup --seed 1 --seconds 8 --trace 0

Run from the repository root. It pins the Spark environment, builds the
workload's inputs from the seed, drives the engine through its public
functions, checks the outputs, and prints one JSON object as the last
line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 they are the per-layer ones, and a span file is written
under .bench_out/. The line before the result is an {"env": ...} record
of the pinned settings, the start load average and the spin canaries.
All scratch files live under .bench_work/ and are removed at exit, after
every process the run started (Spark's JVM and what it spawned) has ended.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("firehose-catchup", "batch-headline")


def _physical_mem_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def pin_environment(work: str, cpus: int) -> dict:
    """Settings every run pins before the JVM starts: cores, a driver
    heap well below physical memory, and every scratch directory (Spark
    local dirs, Python and JVM temp files) inside the run's own work
    directory."""
    mem_gb = max(1, min(4, _physical_mem_bytes() // 4 // 2**30))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return env


PR_SET_CHILD_SUBREAPER = 36
STOP_GRACE_S = 30.0


def adopt_orphans() -> None:
    """Make this process the parent of every process it starts, also
    after their own parent has died: when Spark's JVM exits it leaves
    its launcher shell and its Python worker daemon behind, and
    stop_children() must still see them to wait for them (Linux only)."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me = str(os.getpid())
    kids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = f.read().rpartition(")")[2].split()[1]
        except (OSError, IndexError):
            continue
        if ppid == me:
            kids.append(int(d))
    return kids


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_children(grace_s: float = STOP_GRACE_S) -> None:
    """Stop Spark's JVM and wait until every process this run started
    has ended. Closing the gateway's stdin is the JVM's signal to exit;
    the spin canary's process pool leaves a multiprocessing resource
    tracker that ends only when this process does, unless stopped here.
    A child still alive after grace_s is killed. Each is reaped."""
    tracker = sys.modules.get("multiprocessing.resource_tracker")
    if tracker is not None:
        tracker._resource_tracker._stop()
    pyspark = sys.modules.get("pyspark")
    gw = pyspark.SparkContext._gateway if pyspark else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        proc = getattr(gw, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()
    deadline = time.monotonic() + grace_s
    while True:
        _reap()
        kids = _children()
        if not kids:
            return
        if time.monotonic() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            if time.monotonic() > deadline + 10:
                print(f"perfbench: processes {kids} did not end", file=sys.stderr)
                return
        time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cpus", type=int, default=0,
        help="local[N] cores; 0 pins to the available cores",
    )
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "confluent_example_firehose_spark")):
        print(
            "perfbench: engine package not found next to perfbench/; "
            "run from a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    adopt_orphans()
    # a SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    cpus = args.cpus or len(os.sched_getaffinity(0))
    work = os.path.abspath(
        os.path.join(".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    )
    pinned = pin_environment(work, cpus)
    try:
        from perfbench import workloads

        result, env = workloads.run(
            args.workload, args.seed, args.seconds, bool(args.trace), cpus, work
        )
    finally:
        stop_children()
        shutil.rmtree(work, ignore_errors=True)
    env.update({k: v for k, v in pinned.items() if k.startswith("SPARK_")})
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
