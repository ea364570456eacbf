#!/usr/bin/env python3
"""Benchmark entry point.

    python3 hrbench/run.py --workload headline --seed 1 --seconds 30 --trace 0

Run from the repository root. Pins every input the program reads from the
environment, runs one measurement (``hrbench/measure.py``) in a child
process group under a fresh per-run TMPDIR, waits until every process of
that group has ended, and relays its output; the last line of standard
output is the result JSON. Exits non-zero without a result when the
program, its fixtures or the run fail.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from hrbench.workloads import TESTDATA, WORKLOADS  # noqa: E402

WORK = os.path.join(ROOT, ".hrbench")
CHILD_TIMEOUT_S = 170
DRIVER_HEAP = "4g"
PR_SET_CHILD_SUBREAPER = 36


def cores() -> int:
    """Cores given to Spark: one less than the CPUs this process may run on.

    The spare core keeps the driver, the JIT and the Python workers off the
    task threads; on 4 cores it made both workloads steadier (run-to-run
    spread ~11% against ~20%) at the same median speed."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def pinned_env(run_dir: str) -> dict[str, str]:
    env = {
        k: v for k, v in os.environ.items()
        if not k.startswith("SPARK_GRAFT_")
        and k not in ("OMP_NUM_THREADS", "PYSPARK_SUBMIT_ARGS", "PYTHONHASHSEED")
    }
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env.update(
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_HEAP,
        PYSPARK_SUBMIT_ARGS=(
            f"--conf spark.driver.extraJavaOptions=-Xms{DRIVER_HEAP} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
        PYTHONHASHSEED="0",
        PYTHONPATH=ROOT,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        HRBENCH_WORK=WORK,
    )
    return env


def missing_inputs(workload) -> list[str]:
    need = [
        os.path.join(ROOT, "hive_reflex_spark", "__init__.py"),
        os.path.join(ROOT, "scripts", "check_oracle.py"),
        workload.sf_dir,
    ]
    return [p for p in need if not os.path.exists(p)]


def reap_group(pgid: int, deadline_s: float = 5.0) -> None:
    """Kill what is left of the child's process group and wait for it.

    This process is a child subreaper, so group members orphaned by the
    measurement process are re-parented here and can be waited for."""
    end = time.monotonic() + deadline_s
    while time.monotonic() < end:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = missing_inputs(WORKLOADS[args.workload])
    if missing:
        print(f"hrbench: cannot run, missing {missing} (fixtures live in {TESTDATA})",
              file=sys.stderr)
        return 2

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    run_dir = os.path.join(WORK, "runs", f"{os.getpid()}-{time.time_ns()}")
    env = pinned_env(run_dir)
    cmd = [
        sys.executable, "-m", "hrbench.measure",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
    ]
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, start_new_session=True
    )
    try:
        out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = b""
        print(f"hrbench: run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
    finally:
        reap_group(proc.pid)
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = out.decode(errors="replace").splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines) + "\n")
        return proc.returncode or 3
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print(f"hrbench: malformed result {lines[-1]!r}", file=sys.stderr)
        return 4
    print("\n".join(lines), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
