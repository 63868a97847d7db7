"""Smoke runs of the example scripts as their users start them: a fresh
Python process (its own Spark session) per script, small and capped so
it fits next to the test session's JVM."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


def _run_example(name: str, sf_dir: str) -> str:
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        # the Python workers import the package by name
        PYTHONPATH=os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
    )
    proc = subprocess.run(
        [sys.executable, str(ROOT / "examples" / name), sf_dir],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
    return proc.stdout


@pytest.mark.parametrize(
    "name, expect",
    [
        (
            "streaming_training_set.py",
            "matches the one-shot batch capstone: True",
        ),
        ("multimodal_pipeline.py", "near-dup candidate pairs:"),
    ],
)
def test_example_runs(name, expect, sf_dir):
    assert expect in _run_example(name, sf_dir)
