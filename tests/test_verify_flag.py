"""The verify_enabled() gate on the sketch/sample keys (r11, VERDICT
r10 #7).

Default ON is the driver contract — every registered oracle assumes the
exact-twin verdict columns are real. OFF is the 100 TB serving path
whose cost PERF.md "Derived-verdict overhead A/B" records (the A/B
script is in git history): the sketch plan runs WITHOUT its exact
counterpart and the verdict columns emit NULL.
Pinned here so neither arm can drift silently:

- ON: full oracle parity (the driver's compare, via oracle_harness);
- OFF: same schema, same row count and group keys, NULL verdicts, and
  the expensive exact-twin operators GONE from the plan (no second
  aggregate over the base table / no anti-join).
"""

from __future__ import annotations

import pytest

from .oracle_harness import compare

KEYS = [
    "approx_distinct_users",
    "hll_sketch_merge",
    "cms_heavy_hitters",
    "quantile_approx_value",
    "sample_fraction",
    "sample_stratified",
]

# per key: the verdict columns that must be NULL with the flag off
_NULL_COLS = {
    "approx_distinct_users": ["n_exact", "within_rsd"],
    "hll_sketch_merge": ["n_exact", "within_tol"],
    "cms_heavy_hitters": ["cms_ok"],
    "quantile_approx_value": ["median_in_bounds", "p95_in_bounds"],
    "sample_fraction": ["n_population", "subset_ok", "count_in_ci"],
    "sample_stratified": ["n_stratum", "count_in_ci"],
}


@pytest.fixture()
def verify_off(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_VERIFY", "0")


@pytest.mark.parametrize("key", KEYS)
def test_on_arm_full_parity(key, spark, sf_dir, duck):
    """Default arm: unchanged driver contract (rows+schema+hash)."""
    from dask_hivemetastore_spark import plans

    problems = compare(
        key, plans.QUERIES[key](spark, sf_dir), duck.sql(plans.ORACLES[key])
    )
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("key", KEYS)
def test_off_arm_schema_and_null_verdicts(key, spark, sf_dir, verify_off):
    """Serving arm: identical schema, identical row count, all verdict
    columns NULL (never a fabricated verdict without the exact pass)."""
    from dask_hivemetastore_spark import plans

    df = plans.QUERIES[key](spark, sf_dir)
    rows = df.collect()
    import os

    os.environ["SPARK_GRAFT_VERIFY"] = "1"
    on_df = plans.QUERIES[key](spark, sf_dir)
    assert [
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    ] == [(f.name, f.dataType.simpleString()) for f in on_df.schema.fields]
    assert len(rows) == on_df.count()
    for r in rows:
        for c in _NULL_COLS[key]:
            assert r[c] is None, (key, c, r)


@pytest.mark.parametrize(
    "key", [k for k in KEYS if k != "cms_heavy_hitters"]
)
def test_off_arm_drops_exact_twin_from_plan(key, spark, sf_dir, verify_off):
    """The point of the flag is the PLAN, not the NULLs: with the gate
    off, the optimized plan must read the base table at most once —
    the exact twin's second aggregate / anti-join over it is gone.
    (cms_heavy_hitters is excluded: its saving is a driver-side count()
    job, not a node in the returned plan.)"""
    from dask_hivemetastore_spark import plans

    plan = plans.QUERIES[key](spark, sf_dir)._jdf.queryExecution() \
        .optimizedPlan().toString()
    n_scans = plan.count("parquet")
    assert n_scans <= 1, f"{key}: OFF plan still reads the table twice\n{plan}"
