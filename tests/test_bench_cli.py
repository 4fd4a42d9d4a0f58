"""``bench.py`` runs from any working directory, not only the repo root."""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

from tests.test_entry_gate import SF_DIR

REPO = pathlib.Path(__file__).resolve().parents[1]


def test_bench_throughput_only_outside_the_repo_root(tmp_path):
    # no PYTHONPATH and a cwd outside the repo: the Python workers can find
    # the package only if bench.py points them at its own checkout
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_GRAFT_SF_DIR=SF_DIR,
        SPARK_GRAFT_CPUS="2",
        BENCH_REPLICAS="1",
    )
    res = subprocess.run(
        [sys.executable, str(REPO / "bench.py"), "--throughput-only"],
        capture_output=True,
        text=True,
        env=env,
        cwd=str(tmp_path),
        timeout=420,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    last = res.stdout.strip().splitlines()[-1]
    assert isinstance(json.loads(last), dict)
