"""The session factory makes the package importable in Python workers, so a
tool works from any working directory, not only from the checkout root."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_check_oracle_runs_outside_the_checkout(tmp_path, sf_small):
    """`udf_quote`'s pandas UDF is unpickled in a Python worker by import
    path. Run from an unrelated directory, with no PYTHONPATH, the worker
    finds the package only through the session's executor environment."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "check_oracle.py"), "--sf", sf_small, "udf_quote"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    assert "1 exact, 0 rows-only, 0 FAIL" in out.stdout
