#!/usr/bin/env python
"""Local driver simulation — the CORRECTNESS gate, reproducible in one
command (r14; previously an ad-hoc heredoc each round).

Builds a VANILLA SparkSession (none of the repo's session confs — the
external driver does the same), loads ``__spark_entry__``, and replays
the rows+schema+value-hash compare (tests/oracle_harness.py, the same
canonicalization the driver applies) against DuckDB for the selected
keys at sf0.01.

Usage:
  python scripts/driver_sim.py                 # the 50-key window
  python scripts/driver_sim.py --all           # every registered key
  python scripts/driver_sim.py k1 k2 ...       # specific keys
  python scripts/driver_sim.py --entry         # smoke entry() too

Exit code 0 iff every selected key matches (rows-only keys count their
rows and always pass unless they raise).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="*", help="keys to check (default: window)")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--entry", action="store_true")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--window", type=int, default=50)
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    from oracle_harness import compare

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()  # vanilla on purpose — the driver adds nothing
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod

    if args.entry:
        rows = entry_mod.entry(spark).collect()
        print(f"entry rows: {len(rows)}")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{t}.parquet')"
        )
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    if args.keys:
        keys = args.keys
        unknown = [k for k in keys if k not in qs]
        if unknown:
            print(f"unknown keys: {unknown}", file=sys.stderr)
            return 2
    elif args.all:
        keys = list(qs)
    else:
        keys = list(qs)[: args.window]

    fails = []
    t_all = time.time()
    for k in keys:
        t0 = time.time()
        try:
            sdf = qs[k](spark, args.sf_dir)
            if k in oracles:
                problems = compare(k, sdf, con.sql(oracles[k]))
                if problems:
                    fails.append(k)
                    print("\n".join(problems))
                print(f"  {k}: {'OK' if not problems else 'MISMATCH'} "
                      f"({time.time() - t0:.2f}s)", flush=True)
            else:
                print(f"  {k}: rows-only n={sdf.count()} "
                      f"({time.time() - t0:.2f}s)", flush=True)
        except Exception as exc:  # noqa: BLE001 — report, keep going
            fails.append(k)
            print(f"  {k}: ERR {type(exc).__name__}: {str(exc)[:300]}",
                  flush=True)
    verdict = "ALL-MATCH" if not fails else f"FAIL {fails}"
    print(f"RESULT: {verdict} ({len(keys)} keys, {time.time() - t_all:.0f}s)")
    return 0 if not fails else 1


if __name__ == "__main__":
    sys.exit(main())
