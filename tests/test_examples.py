"""Examples-as-E2E smoke — the reference's test-strategy layer 1
(`/root/reference/tests/test_all.py:48-104`): every example script must
run to completion in a clean subprocess."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXAMPLES = sorted(
    f for f in os.listdir(os.path.join(REPO, "examples")) if f.endswith(".py")
)


@pytest.mark.parametrize("script", EXAMPLES)
def test_example_runs(script):
    env = dict(os.environ, PYTHONPATH=REPO)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "examples", script)],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, f"{script}:\n{proc.stdout}\n{proc.stderr}"
