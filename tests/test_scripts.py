"""Scripts measure the checkout they sit in, on the box they run on.

A script that puts a fixed absolute path on ``sys.path`` imports the
package found there, not the one beside it, so a second checkout (a
parent commit, a copy) silently runs the first one's code. A script
that hard-codes a ``local[<n>]`` master or a driver heap measures
oversubscription on a box with fewer cores or less memory than it was
written on. Scripts find the repository from ``__file__`` and take
their parallelism from ``session.default_parallelism()`` or
``session.get_spark``.

The contract tests read the scripts' source and start no Spark; the
slow test runs ``scripts/scale.py`` end to end from a copy of the
repository.
"""

from __future__ import annotations

import ast
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = sorted((REPO / "scripts").glob("*.py"))

#: scripts whose session copies a fixed outside configuration on purpose
FIXED_SESSION = {
    # the external driver builds its own vanilla local[8] session
    "driver_sim.py",
    # BASELINE.md's cells were recorded at local[8]; bench.py's paired
    # baseline re-measures them like for like
    "remeasure_baseline_cells.py",
}

_PINNED = re.compile(r"local\[\d+\]|spark\.driver\.memory")


def _strings(node: ast.AST):
    for n in ast.walk(node):
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            yield n.value


def _sys_path_calls(tree: ast.AST):
    """The argument lists of every ``sys.path.insert/append`` call."""
    for n in ast.walk(tree):
        if (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("insert", "append")
                and isinstance(n.func.value, ast.Attribute)
                and n.func.value.attr == "path"
                and isinstance(n.func.value.value, ast.Name)
                and n.func.value.value.id == "sys"):
            yield n.args


def test_no_script_puts_an_absolute_path_on_sys_path():
    assert SCRIPTS, REPO / "scripts"
    bad = []
    for path in SCRIPTS:
        for args in _sys_path_calls(ast.parse(path.read_text())):
            bad += [f"{path.name}: {s!r}" for a in args for s in _strings(a)
                    if os.path.isabs(s)]
    assert not bad, bad


def test_no_script_pins_a_master_or_driver_heap():
    bad = [
        f"{path.name}: {s!r}"
        for path in SCRIPTS if path.name not in FIXED_SESSION
        for s in _strings(ast.parse(path.read_text())) if _PINNED.search(s)
    ]
    assert not bad, bad


@pytest.mark.slow
@pytest.mark.parametrize("op", ["ivf", "maintenance", "stream_dedup"])
def test_scale_op_passes_from_a_copy(op, tmp_path):
    """Each ``scale.py`` op exits 0 at ``--x 1`` when run from a copy
    of the repository, so it imports the copy's package."""
    copy = tmp_path / "repo"
    ignore = shutil.ignore_patterns("__pycache__")
    for d in ("dask_hivemetastore_spark", "perfbench", "scripts"):
        shutil.copytree(REPO / d, copy / d, ignore=ignore)
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, str(copy / "scripts" / "scale.py"), "--op", op,
         "--x", "1", "--seed", "1"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stdout[-3000:] + out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    record = json.loads(lines[-2])
    assert record["ok"] and record["op"] == op, record
    assert lines[-1].startswith(f"VERDICT {op} x=1: ok"), lines[-1]
