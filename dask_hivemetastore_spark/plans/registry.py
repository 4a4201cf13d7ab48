"""Registry mapping query keys → (Spark callable, DuckDB oracle SQL).

Contract (driver's ``__spark_entry__`` protocol):

- each callable: ``(spark, sf_dir) -> DataFrame``;
- the oracle SQL runs in DuckDB against pre-registered views named
  ``region nation customer supplier part orders lineitem events documents
  embeddings``;
- row-count + schema + order-insensitive value-hash must match, so every
  computed column is aliased identically on both sides, float aggregates are
  ROUNDed on both sides, and timestamps are µs-truncated on both sides
  (SURVEY.md §5.2).

Queries whose results are non-deterministic across engines by construction
(approx sketches, LSH candidates) register with ``oracle=None`` → the driver
records a weaker rows-only check.

Output-shape discipline (r7, learned from ``embedding_group_centroid``):
NO top-level array/map/struct column in a registered query's result. The
driver's canonicalizer ``sort_values`` the raw result columns before
hashing and cannot sort list cells (``TypeError: unhashable type: 'list'``
— the only red driver row across r1–r6). Explode to one scalar row per
element, or serialize with ``concat_ws`` on BOTH sides, before returning.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a named query and (optionally) its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query key {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            if "--" in oracle:
                # oracle text is flattened to one line; a `--` comment would
                # swallow the rest of the query
                raise ValueError(f"SQL line comment in oracle for {name!r}")
            ORACLES[name] = " ".join(oracle.split())
        return fn

    return deco


#: Bounded FIFO of live audit persists: each frame is k-row bounded, but
#: a long-lived service session invoking hundreds of audited queries
#: would otherwise accumulate hundreds of cached frames, so the oldest
#: are evicted past the cap (recomputation after eviction is always
#: correct; conftest's suite invariant). Spark's CacheManager matches
#: cached data by ANALYZED PLAN, and the load_table memo returns the same
#: lazy plan per (session, sf_dir, table), so within one session a repeat
#: invocation of the same audited query HITS this cache instead of
#: recomputing. That is correct (same session, same inputs, same result);
#: a caller wanting forced recomputation in-session must clearCache().
_AUDIT_PERSISTED: list[DataFrame] = []
_AUDIT_PERSIST_CAP = 64


def audit_persist(df: DataFrame) -> DataFrame:
    """persist() for bounded audit frames that are collected in the query
    body AND materialized again by the consumer: with the cache, the
    audited pipeline computes once, and plan audits still reach the
    cache's build plan through the InMemoryRelation walk
    (scripts/plan_metrics.py). A frame whose plan is already cached is
    returned as is, so one cache entry holds one FIFO slot: a second
    slot's eviction would unpersist data the newer caller relies on.
    """
    from pyspark import StorageLevel

    if df.storageLevel != StorageLevel.NONE:
        return df
    df = df.persist()
    _AUDIT_PERSISTED.append(df)
    while len(_AUDIT_PERSISTED) > _AUDIT_PERSIST_CAP:
        old = _AUDIT_PERSISTED.pop(0)
        try:
            old.unpersist()
        except Exception:  # noqa: BLE001 — session may already be stopped
            pass
    return df


def verify_enabled() -> bool:
    """Whether the sketch/sample keys run their exact-twin VERDICT pass
    (r11, VERDICT r10 #7).

    The r10 derived oracles work by computing an exact counterpart
    beside each sketch (count_distinct beside HLL, a conditional-
    aggregate rank pass beside the quantile sketch, population count +
    anti-join beside the samplers) so the driver can hash-check real
    columns and pin INT verdicts. That twin exists for CERTIFICATION;
    at 100 TB it is the difference between a sketch query (one scan,
    fixed-size state) and a second exact scan. Default ON — the
    registered contract and every driver row are unchanged — and the
    perf sweep / A/B harness (scripts/ab_verify_overhead.py) flips
    ``SPARK_GRAFT_VERIFY=0`` to measure the sketch-only serving cost.
    With the flag off the verdict/exact columns emit NULL (same schema,
    no oracle validity)."""
    import os

    return os.environ.get("SPARK_GRAFT_VERIFY", "1") != "0"


_SCRATCH_BASE: str | None = None


def scratch_dir(prefix: str) -> str:
    """Fresh scratch directory for a round-trip/sink query.

    Every call returns a new unique dir, but all of them live under ONE
    per-process base that is removed at interpreter exit — so a 100-rep
    perf sweep no longer leaks a table copy into /tmp per query call
    (r7 review: a dozen queries each did a bare ``tempfile.mkdtemp`` with
    no cleanup). ``SPARK_GRAFT_SCRATCH`` relocates the base to any
    Hadoop-visible URI for cluster runs (driver-local /tmp paths are
    invisible to executors there); the base gets a per-process unique
    suffix either way, so concurrent sweeps over the same dataset cannot
    clobber each other's files. Remote bases are left to the store's
    lifecycle policy to reap (the driver cannot rmtree an s3a:// URI).
    """
    global _SCRATCH_BASE
    import os
    import uuid

    if _SCRATCH_BASE is None:
        import atexit
        import shutil
        import tempfile

        root = os.environ.get("SPARK_GRAFT_SCRATCH")
        if root:
            _SCRATCH_BASE = (
                f"{root.rstrip('/')}/scratch_{os.getpid()}_"
                f"{uuid.uuid4().hex[:6]}"
            )
        else:
            _SCRATCH_BASE = tempfile.mkdtemp(prefix="spark_graft_scratch_")
            atexit.register(shutil.rmtree, _SCRATCH_BASE, ignore_errors=True)
    if "://" in _SCRATCH_BASE:
        return f"{_SCRATCH_BASE}/{prefix}{uuid.uuid4().hex[:8]}"
    import tempfile

    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_BASE)
