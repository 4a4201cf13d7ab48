"""The slow test tier must not silently empty.

``pytest.ini`` deselects ``-m slow`` by default; a marker typo would
drop tests from the slow tier while every run still reports green.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: slow-tier tests at the time this floor was set
SLOW_TIER_FLOOR = 51


def test_slow_tier_collects_its_floor():
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q",
         "-p", "no:cacheprovider", "-m", "slow", "tests/"],
        cwd=REPO_ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    m = re.search(r"(\d+)/\d+ tests? collected", out.stdout)
    assert m, out.stdout[-2000:]
    assert int(m.group(1)) >= SLOW_TIER_FLOOR, out.stdout[-500:]
