"""The command refuses to produce a result without the program."""

import os
import shutil
import subprocess
import sys

from conftest import BENCH, ROOT


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "coverage",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
    assert "missing" in p.stderr


def test_unknown_workload_is_refused():
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "nope",
         "--seed", "1", "--seconds", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=120)
    assert p.returncode == 2 and p.stdout.strip() == ""
