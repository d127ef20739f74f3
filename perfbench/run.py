#!/usr/bin/env python3
"""Launcher of the repository benchmark.

    python3 perfbench/run.py --workload mosaic --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It pins the Spark session through the
``SPARK_GRAFT_*`` knobs that ``topojson_spark.session`` reads (dropping any
inherited ones), prints the host and the pinned values, then runs
``perfbench/bench.py`` in its own process group and waits for every process
of that group to end. Everything the run writes stays under ``.bench_work/``
in the checkout; only the traced run's span file is kept afterwards.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# two task slots on a four-core host leave cores free for the Python workers,
# the JIT and GC threads, so runs are less sensitive to other tenants
MAX_CPUS = 2
MAX_DRIVER_GB = 4
# one task per slot in each shuffle stage; most of a task's cost here does
# not depend on its rows
SHUFFLE_PARTITIONS = 2
# keep a run under 180 s, with room to reap the process group
CHILD_TIMEOUT_S = 170


def mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pinned_env(work: Path, cpus: int, mem_kb: int, trace: bool) -> dict:
    driver_gb = max(1, min(MAX_DRIVER_GB, mem_kb // 2**20 // 4))
    tmp = work / "tmp"
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_GRAFT_AQE": "false",
        "SPARK_GRAFT_SHUFFLE": str(SHUFFLE_PARTITIONS),
        # session.py's default GC, plus a JVM temp dir inside the checkout
        "SPARK_GRAFT_JVM_OPTS": f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": str(work / "local"),
        # Python workers import topojson_spark too; sys.path alone does not
        # reach them
        "PYTHONPATH": str(ROOT),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
    }
    env["PYSPARK_SUBMIT_ARGS"] = "pyspark-shell"
    if trace:
        env["SPARK_GRAFT_EVENTLOG"] = str(work / "events")
        # one plain JSON-lines file that Python can read as it is
        env["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false pyspark-shell"
        )
    return env


def reap_group(proc: subprocess.Popen, timeout: float = 5.0) -> None:
    """Kill whatever is left of the child's process group, collect the
    child, and wait until no process of the group remains."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    print(f"error: process group {proc.pid} still alive", file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser(description="topojson_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "topojson_spark" / "__init__.py").is_file():
        print(f"error: no topojson_spark package under {ROOT}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    mem_kb = mem_total_kb()
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = ROOT / ".bench_work" / run_id
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    dropped = sorted(set(os.environ) - set(env))
    pins = pinned_env(work, min(nproc, MAX_CPUS), mem_kb, bool(args.trace))
    env.update(pins)
    print(f"# host nproc={nproc} MemTotal={mem_kb} kB")
    print("# pinned " + " ".join(f"{k}={v}" for k, v in sorted(pins.items())))
    if dropped:
        print("# dropped inherited " + " ".join(dropped))
    sys.stdout.flush()

    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    cmd = [
        sys.executable, str(ROOT / "perfbench" / "bench.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(work),
        "--spans", str(ROOT / ".bench_work" / f"spans-{run_id}.json"),
    ]
    # a terminated launcher still reaps the benchmark's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, start_new_session=True)
    try:
        rc = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"error: benchmark exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        rc = 124
    finally:
        reap_group(proc)
        shutil.rmtree(work, ignore_errors=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
