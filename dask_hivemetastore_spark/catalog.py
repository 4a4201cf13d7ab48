"""Table catalog over the driver's testdata.

Plays the role the Hive Metastore plays for the reference connector
(SURVEY.md §1.3): given a table name, resolve schema + location + format and
return a lazy DataFrame. Two layers:

- :func:`load_table` / :func:`register_views` — the testdata catalog used by
  every query in ``plans/``. Normalizes the one semantic quirk in the data:
  ``events.ts`` has shipped in two physical layouts across driver testdata
  regenerations — parquet TIMESTAMP(NANOS) (Spark 4 reads bigint nanos under
  ``nanosAsLong``) and TIMESTAMP(MICROS) (read natively as TIMESTAMP_NTZ).
  Either way the column is exposed as TIMESTAMP_NTZ at µs precision, which
  is what the DuckDB oracle sees (SURVEY.md §7.6), so Spark-side queries and
  oracle SQL compare identical values on both layouts.
- :class:`ThinCatalog` (in ``sources/metastore.py``) — a standalone
  metastore-like registry mirroring the reference's resolution flow for
  arbitrary tables.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import ensure_runtime_confs

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Per-SESSION memo of load_table's lazy DataFrames (r17 optimization round,
# guide §5/§7.3 — "the driver should do almost no data work").
#
# Every `spark.read.parquet(path)` call pays driver-side work BEFORE any
# job runs: file listing, footer schema inference, and a fresh
# InMemoryFileIndex — none of it cached across calls for bare-path reads
# (Spark's FileStatusCache keys catalog tables, not paths). Each registered
# query calls load_table per referenced table per invocation, so a 6-table
# join (q5) re-lists and re-infers 6 schemas on EVERY bench draw, while the
# BASELINE.md protocol builds its sources once per session and re-times only
# the action (scripts/remeasure_baseline_cells.py). Memoizing the lazy
# DataFrame per (session, sf_dir, table) removes that asymmetric driver tax.
# This is plan/schema reuse, NOT result caching: no rows are materialized,
# no `.cache()` is involved, and every action still computes from the
# parquet input. Keyed weakly by session so a new session (the driver
# builds its own) never sees another session's plans; keyed by sf_dir so
# distinct fixtures never collide. Testdata dirs are immutable within a
# process (driver contract), which is what makes the memo sound; hostile /
# scratch fixtures get unique paths per build.
_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def events_ts_is_long(df: DataFrame) -> bool:
    """True when ``events.ts`` reads as bigint nanos (legacy TIMESTAMP(NANOS)
    parquet under ``nanosAsLong``); False when it reads as a native timestamp
    (the current testdata stores TIMESTAMP(MICROS), which Spark reads as
    TIMESTAMP_NTZ directly). The catalog adapts to whichever physical layout
    the driver generated rather than assuming one.
    """
    from pyspark.sql.types import LongType

    return isinstance(df.schema["ts"].dataType, LongType)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with oracle-aligned column semantics.

    ``events.ts`` is exposed as TIMESTAMP_NTZ at µs precision (what the
    DuckDB oracle sees) regardless of physical layout:

    - TIMESTAMP(NANOS) parquet + ``nanosAsLong`` → bigint nanoseconds →
      convert via integer division (float division would lose precision:
      ns since epoch ≈ 1.7e18 > 2^53).
    - TIMESTAMP(MICROS) parquet → native TIMESTAMP_NTZ → passthrough
      (the cast is a no-op Catalyst folds away).

    Kept a *pure projection*: no derived columns. Precision-sensitive
    operators that need integer µs/ns (rolling time windows, as-of
    tolerance) derive them locally via ``unix_micros(ts)`` — wall-clock
    exact because the session pins ``timeZone=UTC``.
    """
    ensure_runtime_confs(spark)
    memo = _TABLE_MEMO.setdefault(spark, {})
    cached = memo.get((sf_dir, name))
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        if events_ts_is_long(df):
            df = df.withColumn(
                "ts",
                F.expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)"),
            )
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    memo[(sf_dir, name)] = df
    return df


def tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (SQL entry point)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
