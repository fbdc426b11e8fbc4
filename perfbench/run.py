"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Pins the environment the numbers depend
on, runs one workload in a fresh driver process (perfbench/worker.py)
under a private work directory inside the checkout, waits for every
process that run started to end, removes the work directory and
relays the run's output; its last line is the JSON result. Exits
non-zero, without a result, when the run cannot complete.
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

RUN_TIMEOUT_S = 150
DRIVER_MEM = "2g"  # well below the RAM of the machines this runs on
WORKLOADS = ("tiles", "near_dup")  # the names in perfbench/workloads.py
_PR_SET_CHILD_SUBREAPER = 36


def pinned_env(root: str, work: str) -> dict:
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # Python workers import gelos_spark and perfbench from the checkout
        "PYTHONPATH": root,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "TMPDIR": f"{work}/tmp",
        # no Iceberg runtime: the snapshot-manifest table layer is measured
        "GELOS_ICEBERG_JAR": f"{work}/no-iceberg.jar",
        # Spark runs one Python worker per core; one BLAS thread each
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "PYTHONHASHSEED": "0",
    })
    return env


def proc_children(pid: int) -> list[tuple[int, str]]:
    """(pid, command name) of every live process whose parent is ``pid``."""
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if int(stat[stat.rindex(")") + 2:].split()[1]) == pid:
                out.append((int(entry), stat[stat.index("(") + 1:stat.rindex(")")]))
    return out


def reap_all(deadline_s: float = 30.0) -> None:
    """Signal every remaining descendant (orphans are re-parented to us
    as child subreaper) and wait until none is left."""
    end = time.monotonic() + deadline_s
    sig = signal.SIGTERM
    while True:
        kids = proc_children(os.getpid())
        if not kids:
            return
        for pid, _ in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.2)
        if time.monotonic() > end:
            sig = signal.SIGKILL


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "gelos_spark", "session.py")):
        print("perfbench: run from the repository root (gelos_spark/ not found)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{os.getpid()}")
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
    ]
    log_path = os.path.join(work, "worker.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=root, env=pinned_env(root, work), stdout=subprocess.PIPE,
                                    stderr=log, text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                out, _ = proc.communicate()
                print(f"perfbench: run exceeded {RUN_TIMEOUT_S}s", file=sys.stderr)
        reap_all()
        lines = out.strip().splitlines()
        result = None
        if proc.returncode == 0 and lines:
            try:
                result = json.loads(lines[-1])
            except json.JSONDecodeError:
                result = None
        if result is None:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            sys.stderr.write(out[-4000:])
            print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
            return 1
        print("\n".join(lines))
        return 0
    finally:
        reap_all()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
