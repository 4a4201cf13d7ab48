"""Contract tests for the query registry's helpers."""

from __future__ import annotations


def test_audit_persist_one_fifo_slot_per_cached_plan(spark):
    """The same audited frame built twice holds ONE FIFO slot and stays
    cached: Spark caches by analyzed plan, so a second slot for the same
    cache entry would, on its older twin's eviction, unpersist data the
    newer caller relies on."""
    from pyspark import StorageLevel

    from dask_hivemetastore_spark.plans import registry

    def build():
        return spark.range(7).selectExpr("id * 3 AS x")

    before = list(registry._AUDIT_PERSISTED)
    first = registry.audit_persist(build())
    try:
        second = registry.audit_persist(build())
        added = registry._AUDIT_PERSISTED[len(before):]
        assert len(added) == 1, added
        assert second.storageLevel != StorageLevel.NONE
        assert sorted(r.x for r in second.collect()) == [3 * i for i in range(7)]
    finally:
        first.unpersist()
        registry._AUDIT_PERSISTED[:] = before
