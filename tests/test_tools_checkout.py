"""bench.py and the tools/ CLIs run the checkout they live in: no file
names an absolute path into a checkout, and importing tools/measure.py
puts its own checkout first for the driver and for the Python workers.
Starts no Spark."""

from __future__ import annotations

import ast
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
FILES = [ROOT / "bench.py", *sorted((ROOT / "tools").glob("*.py"))]


def test_no_file_hard_codes_its_checkout():
    root = str(ROOT)
    for f in FILES:
        tree = ast.parse(f.read_text())
        literals = [n.value for n in ast.walk(tree)
                    if isinstance(n, ast.Constant) and isinstance(n.value, str)]
        assert not [s for s in literals
                    if s == root or s.startswith(root + os.sep)], f.name
        for n in ast.walk(tree):
            if (isinstance(n, ast.Call)
                    and ast.unparse(n.func) == "sys.path.insert"):
                assert not isinstance(n.args[1], ast.Constant), f.name


def test_measure_puts_its_own_checkout_first(tmp_path):
    shutil.copytree(ROOT / "tools", tmp_path / "tools",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code = ("import os, sys; sys.path.insert(0, sys.argv[1]); "
            "import measure; "
            "print(measure.ROOT); print(sys.path[0]); "
            "print(os.environ['PYTHONPATH'].split(os.pathsep)[0]); "
            "print('pyspark' in sys.modules)")
    # this checkout already on PYTHONPATH: the copy must still win
    env = {**os.environ, "PYTHONPATH": str(ROOT)}
    out = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path / "tools")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=60,
        check=True).stdout.split("\n")
    assert out[:4] == [str(tmp_path)] * 3 + ["False"]
