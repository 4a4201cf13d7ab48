"""Quantitative plan-regression gate: shuffle + scan volume (VERDICT
r7 #4; widened r9 #5).

The plan audit greps operator trees; it cannot see a 10× shuffle-volume
regression that keeps the same operators (a filter no longer pushed below
an exchange, a projection widened before a shuffle). This gate replays
the pinned registry queries at sf0.01 — the 20 heaviest-shuffling UNION
every multi-exchange oracle key — and compares executed-plan metrics
against the committed snapshot: shuffle/scan bytes and records at ±50%,
the exchange COUNT exactly, and (r9) the pruned-column FINGERPRINT
(sorted per-scan output column lists) exactly — a scan that starts
reading all columns for a 2-column projection changes the fingerprint
even when bytes stay inside the band at sf0.01 (at 100 TB it would not).

The replays run in a fresh process under the snapshot's own session
settings: ``shuffle_partitions`` and ``default_parallelism``. Both move
the volumes (compression framing per shuffle partition; map-side combine
per CPU-spread map partition), so the verdict must not depend on the
host's core count or on what earlier tests left in the suite's session.

If a failure is a deliberate plan change, re-run
``python scripts/make_shuffle_snapshot.py`` and commit the diff with the
explanation; an unexplained move is the regression this exists to catch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

_HERE = os.path.dirname(os.path.abspath(__file__))
_SCRIPT = os.path.join(os.path.dirname(_HERE), "scripts", "make_shuffle_snapshot.py")

SNAPSHOT = os.path.join(_HERE, "shuffle_snapshot.json")


def _load():
    with open(SNAPSHOT) as f:
        return json.load(f)


_SNAP = _load()


@pytest.fixture(scope="module")
def replayed(tmp_path_factory):
    out = tmp_path_factory.mktemp("shuffle_replay") / "profiles.json"
    proc = subprocess.run(
        [sys.executable, _SCRIPT, "--replay", str(out)],
        capture_output=True, text=True, timeout=1500,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    with open(out) as f:
        return json.load(f)


@pytest.mark.parametrize("key", sorted(_SNAP["queries"]))
def test_shuffle_volume_pinned(key, replayed):
    for setting in ("shuffle_partitions", "default_parallelism"):
        assert replayed[setting] == _SNAP[setting], (
            f"replay ran under {setting}={replayed[setting]}, the snapshot "
            f"was recorded under {_SNAP[setting]}"
        )

    got = replayed["queries"][key]
    assert "error" not in got, f"{key}: replay failed: {got.get('error')}"
    want = _SNAP["queries"][key]

    assert got["n_shuffles"] == want["n_shuffles"], (
        f"{key}: exchange count moved {want['n_shuffles']} -> "
        f"{got['n_shuffles']} — a plan-shape change; inspect .explain() "
        "and re-snapshot only if deliberate"
    )
    # r10 (ADVICE): an empty fingerprint means the scan gate is BLIND
    # for this key (persist boundary hides the FileScan). Blindness must
    # be declared in the snapshot (scan_blind: true, a reviewed diff),
    # never acquired silently by a plan change.
    if not want.get("scan_blind"):
        assert got["scan_cols"], (
            f"{key}: executed plan surfaces no FileScan — the scan "
            "fingerprint gate just went blind for this key; if the plan "
            "change is deliberate, re-snapshot (which marks it "
            "scan_blind) and commit that diff"
        )
    assert got["scan_cols"] == want["scan_cols"], (
        f"{key}: pruned-column fingerprint moved\n"
        f"  want {want['scan_cols']}\n  got  {got['scan_cols']}\n"
        "— a scan is reading different columns (ReadSchema widening is "
        "the silent 10× at 100 TB); re-snapshot only if deliberate"
    )
    for m in ("shuffle_bytes", "shuffle_records", "scan_bytes"):
        lo, hi = want[m] * 0.5, want[m] * 1.5
        assert lo <= got[m] <= hi, (
            f"{key}: {m} moved {want[m]} -> {got[m]} "
            f"(allowed ±50%); if deliberate, re-run "
            "scripts/make_shuffle_snapshot.py and commit the diff"
        )
