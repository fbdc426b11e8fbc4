"""Session defaults that depend on the machine the engine runs on."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]

PRINT_CPUS = (
    "import bench, gelos_spark.session as s; print(s.DEFAULT_CPUS, bench.CPUS)"
)


def _cpus(env_cpus: str | None, affinity: set[int]) -> list[int]:
    """(session.DEFAULT_CPUS, bench.CPUS) read by a fresh interpreter
    that may run only on the CPUs in ``affinity``."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    if env_cpus is not None:
        env["SPARK_GRAFT_CPUS"] = env_cpus
    out = subprocess.run(
        [sys.executable, "-c", PRINT_CPUS],
        cwd=ROOT,
        env=env,
        preexec_fn=lambda: os.sched_setaffinity(0, affinity),
        capture_output=True,
        text=True,
        check=True,
    )
    return [int(x) for x in out.stdout.split()]


def test_default_cpus_follow_the_cpu_affinity_when_unset():
    """With SPARK_GRAFT_CPUS unset, the session and bench.py run
    local[N] on the CPUs the process may use (what `nproc` reports),
    not a fixed count; a set variable still wins."""
    one = {min(os.sched_getaffinity(0))}
    assert _cpus(None, one) == [1, 1]
    everything = os.sched_getaffinity(0)
    assert _cpus(None, everything) == [len(everything)] * 2
    assert _cpus("3", one) == [3, 3]
