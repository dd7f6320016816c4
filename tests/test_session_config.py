"""Session configuration read from the environment (no Spark needed)."""

import os
import subprocess
import sys
from pathlib import Path


def test_cpus_default_to_visible_cores():
    """Unset ``SPARK_GRAFT_CPUS`` means the cores this process may run
    on, never a fixed count that oversubscribes a small machine."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    code = "from heparchy_spark.session import CPUS; print(CPUS)"
    out = subprocess.check_output(
        [sys.executable, "-c", code], env=env, text=True,
        cwd=Path(__file__).resolve().parent.parent,
    )
    assert int(out) == len(os.sched_getaffinity(0))
