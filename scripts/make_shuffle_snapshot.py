#!/usr/bin/env python
"""Record the shuffle+scan snapshot that tests/test_shuffle_budget.py
gates against (VERDICT r7 #4; widened r9 #5).

Profiles every BATCH registry query at the correctness scale (sf0.01)
under the test-suite session config (shuffle_partitions=8 — shuffle
BYTES depend on partition count via per-partition compression framing,
so snapshot and replay must match). Pinned set (r9): the 20 heaviest by
shuffle bytes UNION every key whose plan has >= 2 exchanges — a pruning
or pushdown regression on a mid-weight multi-exchange query is the
silent 10× at 100 TB that the old top-20 pin could not see. Each pinned
entry carries shuffle volumes, scan bytes, and the pruned-column
fingerprint (sorted per-scan output column lists).

Streaming keys are skipped: their returned DataFrame is a memory-sink
table scan whose executed plan carries none of the stream's shuffles.

The session also pins ``defaultParallelism`` (``spark.default.parallelism``,
recorded in the snapshot). The CPU-spread repartitions (``ngram_freq_top``,
``doc_chunk_windows`` and the word-n-gram barriers) size their map side to it, so
their shuffle records would otherwise follow the host's core count. Only
the value is pinned: the master keeps the host's cores, so a replay on a
small box does not start one task thread per pinned partition.

Re-run + commit the snapshot ONLY when a deliberate plan change moves a
pinned query's volume (the test failure message says which and by how
much); an unexplained move is the regression the gate exists to catch.

``--replay OUT`` profiles the snapshot's pinned keys under the snapshot's
own session settings and writes them to ``OUT`` as JSON; the gate
(tests/test_shuffle_budget.py) runs it in a fresh process.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = "/root/testdata/sf0.01"
TOP_N = 20
SHUFFLE_PARTITIONS = 8
DEFAULT_PARALLELISM = 32
SNAPSHOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "shuffle_snapshot.json",
)


def pinned_session(app_name: str, default_parallelism: int):
    from dask_hivemetastore_spark.session import get_spark

    spark = get_spark(
        app_name=app_name, shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_confs={"spark.default.parallelism": str(default_parallelism)},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def session_settings(spark) -> dict[str, int]:
    return {
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "default_parallelism": int(spark.sparkContext.defaultParallelism),
    }


def replay(out_path: str) -> None:
    from plan_metrics import shuffle_profile

    from dask_hivemetastore_spark import plans

    with open(SNAPSHOT) as f:
        snap = json.load(f)
    spark = pinned_session("shuffle-replay", snap["default_parallelism"])
    profiles: dict[str, dict] = {}
    for key in sorted(snap["queries"]):
        # cold-plan shape, as when the snapshot was recorded
        spark.catalog.clearCache()
        try:
            profiles[key] = shuffle_profile(plans.QUERIES[key](spark, snap["sf_dir"]))
        except Exception as exc:  # noqa: BLE001 — reported per key by the gate
            profiles[key] = {"error": f"{type(exc).__name__}: {exc}"}
    with open(out_path, "w") as f:
        json.dump({**session_settings(spark), "queries": profiles}, f)


def main() -> None:
    from plan_metrics import shuffle_profile

    from dask_hivemetastore_spark import plans

    spark = pinned_session("shuffle-snapshot", DEFAULT_PARALLELISM)

    profiles: dict[str, dict[str, int]] = {}
    for key, fn in plans.QUERIES.items():
        if "stream" in key:
            continue
        try:
            # cold-plan shape: a persist() from an earlier key must not
            # swap later keys' FileScans for InMemoryTableScan (the
            # pinning test clears the cache the same way)
            spark.catalog.clearCache()
            profiles[key] = shuffle_profile(fn(spark, SF_DIR))
        except Exception as exc:  # noqa: BLE001 — diagnostic tool
            print(f"skip {key}: {type(exc).__name__}: {exc}", file=sys.stderr)
            continue
        print(json.dumps({"query": key, **profiles[key]}), flush=True)

    top = dict(
        sorted(profiles.items(), key=lambda kv: -kv[1]["shuffle_bytes"])[:TOP_N]
    )
    # r9 widening: every multi-exchange key joins the pin — these are the
    # queries whose plans have room for a mid-plan pushdown regression
    for key, prof in profiles.items():
        if prof["n_shuffles"] >= 2:
            top.setdefault(key, prof)
    # r10 (ADVICE): a query whose executed plan surfaces NO FileScan
    # (an internal persist/localCheckpoint boundary hides it) records an
    # EMPTY fingerprint — the scan gate is blind for it. Mark that
    # explicitly so the pinning test can assert blindness never spreads
    # silently: a key losing its fingerprint in a re-snapshot shows up
    # as a scan_blind:true diff a reviewer must accept, not as a
    # quietly-vacuous 0 == 0.
    for key, prof in top.items():
        if not prof.get("scan_cols"):
            prof["scan_blind"] = True
            print(
                f"WARNING: {key} surfaces no FileScan (persist boundary) — "
                "scan fingerprint gate is BLIND for it",
                file=sys.stderr,
            )
    out = {"sf_dir": SF_DIR, **session_settings(spark), "queries": top}
    with open(SNAPSHOT, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"\nwrote {SNAPSHOT} with top {len(top)} by shuffle bytes")


if __name__ == "__main__":
    if sys.argv[1:2] == ["--replay"]:
        replay(sys.argv[2])
    else:
        main()
