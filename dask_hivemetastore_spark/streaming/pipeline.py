"""Structured Streaming surface (SURVEY.md §2-I I4-I6, §7.2 M7).

The reference has NO streaming surface — Dask DataFrame is batch-only
(SURVEY.md §2-I) — so this module is a north-star upgrade, not parity: the
same event-log semantics the batch operators in ``plans/events.py`` certify,
re-expressed as incremental Structured Streaming pipelines.

Design for correctness-checkability: every pipeline reads the *finite*
``events`` parquet as a file-source stream, runs with
``trigger(availableNow=True)`` (process-everything-then-stop), and lands in a
memory sink, so the final answer is deterministic and equal to the batch
answer — which makes these the rare streaming operators with a DuckDB oracle.

100 TB notes (§7.5): in production the source is Kafka/Kinesis with the same
transformations; the memory sink becomes a partitioned Delta/parquet sink;
state stores move to RocksDB (``spark.sql.streaming.stateStore.providerClass``)
so watermarked aggregation and dedup state spill to disk instead of executor
heap; watermark delay bounds state size, and shuffle partitions size the
state-store shard count (set BEFORE the first checkpoint — it is frozen into
the state layout).

Streaming-specific constraints honored here (vs the batch twins):

- ``countDistinct`` is unsupported in streaming aggregation → the streaming
  tumbling query drops ``n_users`` (use approx_count_distinct or a two-stage
  dedup-then-count pipeline at scale).
- file sources need an explicit schema (no inference mid-stream);
- ``dropDuplicatesWithinWatermark`` keys must not include the event-time
  column itself.
"""

from __future__ import annotations

import os
import tempfile
import time
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions import sql_round
from ..operators import similarity
from ..plans.registry import audit_persist, query
from ..session import ensure_runtime_confs

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source streaming read of ``events`` with the same oracle-aligned
    ``ts`` normalization as :func:`..catalog.load_table` (ns → µs TIMESTAMP,
    SURVEY.md §7.6).

    The schema is captured once from a batch read (driver-side footer peek) —
    streaming file sources require a user-supplied schema. ``ts`` arrives
    either as bigint nanos (legacy TIMESTAMP(NANOS) + ``nanosAsLong``) or as
    a native timestamp (TIMESTAMP(MICROS) testdata); the watermark column
    must be a plain TIMESTAMP (event-time), so unlike the batch path we use
    TIMESTAMP (UTC session tz) rather than TIMESTAMP_NTZ — wall-clock values
    are identical because the session factory pins
    ``spark.sql.session.timeZone=UTC``.
    """
    from ..catalog import events_ts_is_long

    ensure_runtime_confs(spark)
    raw = _file_stream(spark, sf_dir, "events")
    ts_expr = (
        F.timestamp_micros(F.expr("ts div 1000"))
        if events_ts_is_long(raw)
        else F.col("ts").cast("timestamp")
    )
    return raw.select(
        "event_id",
        ts_expr.alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def _file_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source stream over ``{sf_dir}/{table}.parquet``. Streaming
    file sources need a user-supplied schema, so it is captured once
    from a batch read (a driver-side footer peek).

    ``SPARK_GRAFT_STREAM_MAX_FILES`` sets ``maxFilesPerTrigger``. Unset,
    a finite fixture drains in ONE availableNow batch and the
    multi-batch state machine (watermark advancement, state carry,
    late-row eviction) never runs; tests/test_stream_batching.py splits
    the table into K part files and sets it to 1, driving the streaming
    keys through real micro-batch boundaries, the shape of incremental
    arrival. Semantics must be boundary-invariant (what that gate
    asserts), so the knob is safe to expose."""
    raw = spark.readStream.schema(
        spark.read.parquet(f"{sf_dir}/{table}.parquet").schema
    ).option("basePath", sf_dir)
    mft = os.environ.get("SPARK_GRAFT_STREAM_MAX_FILES")
    if mft:
        raw = raw.option("maxFilesPerTrigger", int(mft))
    # glob path on purpose: for a non-glob path FileStreamSource force-sets
    # basePath to the (file) path itself, which partition discovery rejects;
    # a glob keeps our explicit directory basePath in effect
    return raw.parquet(f"{sf_dir}/{table}.parque[t]")


def _drain(writer, ckpt: str):
    """Run a configured ``DataStreamWriter`` over its finite input to the
    end (availableNow trigger, checkpoint at ``ckpt``), then stop it;
    returns the stopped query."""
    q = writer.option("checkpointLocation", ckpt).trigger(
        availableNow=True).start()
    q.awaitTermination()
    q.stop()
    return q


def stream_shuffle_partitions(spark: SparkSession, *paths: str) -> int:
    """Scale-adaptive shuffle/state partition count for a streaming query
    (r17 optimization round, guide §2: derive partitioning from input
    size, never a constant tuned for one box).

    A streaming query's shuffle partition count is special three times
    over: it becomes the STATE partition count, it is frozen into the
    checkpoint at the first micro-batch (changing it later requires a new
    checkpoint), and AQE cannot coalesce stateful exchanges — so unlike a
    batch shuffle it must be sized deliberately up front. Every state
    partition costs real per-micro-batch work regardless of data volume
    (task launch + state store open/commit + delta file + maintenance),
    measured on this box at ~60-90 ms per partition per batch: a keyed
    aggregation over the 2 MB events fixture pays 2.5-11 s/batch at 32
    partitions vs 0.6-1.2 s at 4-8 (interleaved A/B, r17 PERF notes).

    Sizing: ceil(input_bytes / 64 MB) clamped to [4, session
    ``spark.sql.shuffle.partitions``] — locally that floors at 4; at
    cluster scale the byte term exceeds the clamp and the session
    (cluster-sized) value is returned unchanged, so this is a pure
    local-overhead fix with no production behavior change.
    ``SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS`` overrides (A/B harness +
    deployments that size state partitions explicitly). Paths on remote
    stores (no local stat) fall back to the session value.

    Applies to JVM-stateful streams only (windowed/keyed aggs, stream
    joins, dropDuplicates): their per-group work is negligible and the
    per-partition store overhead dominates. ``applyInPandasWithState``
    streams are the opposite — per-GROUP Python protocol work dominates
    and needs core-count parallelism (interleaved A/B:
    stream_dedup_near_docs read 86 s at the derived count vs 22 s at the
    session count) — those use :func:`stream_python_state_partitions`.
    """
    sess = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    env = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS")
    if env:
        return max(1, min(sess, int(env)))
    total = 0
    for p in paths:
        lp = p[len("file:"):] if p.startswith("file:") else p
        if "://" in lp:
            return sess
        if os.path.isdir(lp):
            for root, _dirs, files in os.walk(lp):
                total += sum(
                    os.path.getsize(os.path.join(root, f))
                    for f in files if not f.startswith((".", "_"))
                )
        elif os.path.exists(lp):
            total += os.path.getsize(lp)
        else:
            return sess
    return max(4, min(sess, -(-total // (64 * 1024 * 1024))))



def stream_python_state_partitions(spark: SparkSession, *paths: str) -> int:
    """State partitioning for ``applyInPandasWithState`` streams (r17):
    their cost is per-GROUP Python protocol work (one pandas frame + one
    state round-trip per key per batch), so the stage is PARALLELISM-bound
    up to the core count and overhead-bound past it. Sized to
    ``defaultParallelism`` (total cores — the same number on a cluster),
    raised by the input-byte term at scale, clamped to the session value:
    a vanilla 200-partition session over a 2 MB source runs 200 state
    stores for work 32 cores finish in parallel (measured: the driver-sim
    vanilla session ran stream_sessionize 27.5 s at 200 state partitions
    vs ~4 s at 32). Same env override + remote-path fallback as
    :func:`stream_shuffle_partitions`.
    """
    sess = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    env = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS")
    if env:
        return max(1, min(sess, int(env)))
    cores = int(spark.sparkContext.defaultParallelism)
    derived = stream_shuffle_partitions(spark, *paths)
    return max(1, min(sess, max(cores, derived)))


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int | None):
    """Set ``spark.sql.shuffle.partitions`` for the duration of a stream's
    drain and restore it after — the conf is consulted when the query
    plans its first micro-batch, so wrapping start()+awaitTermination()
    scopes the stream's state partitioning without leaking into the
    session's batch queries."""
    if n is None:
        yield
        return
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str,
                  state_partitions: int | None = None) -> DataFrame:
    """Execute a streaming plan to completion: availableNow trigger → memory
    sink → return the materialized result as a batch DataFrame.

    Finite input + availableNow ⇒ the stream drains and stops on its own;
    the memory table then holds the complete answer. (At 100 TB this helper
    is replaced by a long-lived query writing Delta/Kafka — the *plan* above
    it is unchanged; that separation is the point of this module.)

    ``state_partitions`` (r17): the stream's shuffle/state partition
    count, from :func:`stream_shuffle_partitions`; None keeps the session
    value (stateless streams don't care).
    """
    spark = stream_df.sparkSession
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    with scoped_shuffle_partitions(spark, state_partitions):
        _drain(stream_df.writeStream.format("memory").queryName(name)
               .outputMode(output_mode), ckpt)
    return spark.table(name)



def _ev_parts(spark: SparkSession, sf_dir: str) -> int:
    """events-source state partitioning (see stream_shuffle_partitions)."""
    return stream_shuffle_partitions(spark, f"{sf_dir}/events.parquet")


# --------------------------------------------------------------- I4: watermark


@query(
    "stream_tumbling_1h",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           COUNT(*)              AS n_events,
           ROUND(SUM(value), 2)  AS total_value
    FROM events WHERE ts IS NOT NULL GROUP BY 1
    """,
)
def stream_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4: watermarked tumbling-window aggregation as a real streaming query.

    The 10-minute watermark bounds state (windows older than
    max-event-time − 10 min are finalized and evicted); ``complete`` output
    keeps every window visible in the memory sink so the finite-stream answer
    equals the batch tumbling aggregate — hence the exact DuckDB oracle.
    Streaming forbids ``countDistinct``, so unlike batch
    ``events_tumbling_1h`` there is no ``n_users`` column here.

    NULL event times: the watermarked streaming aggregation DROPS rows
    with a NULL ``ts`` (no event time → no window), same as the batch
    ``F.window`` twin; both oracles exclude them (r9 hostile-streaming
    gate — this oracle originally kept a NULL hour group and diverged on
    the hostile corpus). Applies equally to ``stream_sliding_30m``.
    """
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), _TS_FMT).alias("hour_start"),
            "n_events",
            "total_value",
        )
    )
    return run_to_memory(agg, "stream_tumbling_1h", "complete",
                         state_partitions=_ev_parts(spark, sf_dir))


# ---------------------------------------------------------- I5: stream dedup


@query(
    "stream_dedup_users",
    oracle="SELECT DISTINCT user_id FROM events",
)
def stream_dedup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I5: ``dropDuplicatesWithinWatermark`` — streaming first-occurrence
    dedup whose state is bounded by the watermark delay (the scale story for
    unbounded-feed dedup, §7.5: exact dedup over an infinite stream is
    impossible with finite state; within-watermark dedup is the principled
    compromise). On this finite stream every duplicate falls inside one
    batch, so the kept set is exactly DISTINCT user_id.
    """
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    deduped = ev.dropDuplicatesWithinWatermark(["user_id"]).select("user_id")
    return run_to_memory(deduped, "stream_dedup_users", "append",
                         state_partitions=_ev_parts(spark, sf_dir))


# ------------------------------------------------- I6: custom stateful operator


_STATE_SCHEMA = StructType([StructField("n", LongType())])
_COUNT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
    ]
)


def _count_events(key, pdf_iter, state: GroupState):
    """Running per-user event count; state = one long. Emits the updated
    total each time the group sees data (update-mode semantics)."""
    n = state.get[0] if state.exists else 0
    for pdf in pdf_iter:
        n += len(pdf)
    state.update((n,))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})


@query(
    "stream_stateful_counts",
    oracle="SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id",
)
def stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6: custom stateful operator via ``applyInPandasWithState`` — the
    Spark idiom for the reference ecosystem's "roll your own stateful
    aggregation" escape hatch, here a per-user running event counter.

    Arrow-batched per group, one long of state per key; at 100 TB the state
    store shards by the grouping key across executors (RocksDB provider) and
    a timeout (``GroupStateTimeout``) would expire idle users. availableNow
    drains the finite stream in one batch, so the final update per user is
    the exact group count — oracle-checkable.
    """
    ev = read_events_stream(spark, sf_dir)
    counts = ev.groupBy("user_id").applyInPandasWithState(
        _count_events,
        outputStructType=_COUNT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # applyInPandasWithState: per-GROUP Python protocol work needs
    # core-count parallelism, not the batch shuffle default (r17; see
    # stream_python_state_partitions)
    return run_to_memory(counts, "stream_stateful_counts", "update",
                         state_partitions=stream_python_state_partitions(
                             spark, f"{sf_dir}/events.parquet"))


# --------------------------------------------- I6b: stateful sessionization


_SESS_STATE = StructType(
    [
        StructField("starts", ArrayType(LongType())),
        StructField("lasts", ArrayType(LongType())),
        StructField("ns", ArrayType(LongType())),
        StructField("sums", ArrayType(DoubleType())),
    ]
)
_SESS_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", StringType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)
_GAP_US = 30 * 60 * 1_000_000


def _sessionize_fn(key, pdf_iter, state: GroupState):
    """Per-user gap sessionizer, ORDER-INDEPENDENT across micro-batches
    (r11, VERDICT r10 missing #3 / next #5).

    The r8–r10 version kept only the one OPEN session (4 scalars) and
    finalized earlier sessions eagerly, which made it exact only under
    in-order batch arrival — random micro-batch splits were documented
    out-of-contract. The fix drops the in-order assumption instead of
    buffering raw rows: state = the user's full set of GAP-COMPONENTS
    (disjoint session intervals, 4 scalars each — start/last/n/sum).
    Sessionizing a SET of timestamps into >30-min-gap components is a
    pure function of the set, so inserting events one at a time with
    interval merging reproduces it under ANY arrival order:

    - event within the gap of the component on its left → extend it;
    - within the gap of the component on its right → that component's
      start moves EARLIER (the superseded start gets a tombstone row —
      n_events NULL — so an upsert sink keyed on (user_id,
      session_start) can retract it);
    - bridging both → merge the two components (+1 event);
    - neither → a new 1-event component.

    Merge boundary stays STRICTLY-greater-than (exact last+gap arrivals
    coalesce, matching batch ``F.session_window``; pinned by the
    hostile-events corpus, r8). Value sums keep SQL-SUM semantics (NaN =
    sum-of-nothing; NULL values counted in n but skipped by the sum, r8
    NULL probe); merging adds component partial sums, so summation
    association under out-of-order arrival differs from strict
    event-time order by at most float reassociation — inside the
    ROUND(,2) grain on every gate corpus.

    Update-mode emission = changed/new components only, plus tombstones
    for vanished starts. The sink's upsert key is the SECONDS-granularity
    start string, so tombstones are keyed there too: one is emitted only
    when the vanished µs-start's string has NO live component left (two
    µs-starts in the same second otherwise retract each other — r11 fuzz
    find, seed 9). Applied sequentially in batch order — update the key
    on a real row, delete it on a tombstone — the sink converges to the
    exact component set under any batching; a tombstoned string KEY can
    be legitimately reborn by a later batch (a new component opening in
    that same second), which sequential upsert handles naturally.

    100 TB state bound: with a watermark configured, components whose
    ``last + gap`` precedes the watermark can never change again (any
    event that could extend them is older than the watermark and gets
    dropped upstream) — they are evicted from state WITHOUT a tombstone
    (their last emission is already final). The registered finite-drain
    query runs unwatermarked (exactness over eviction), so state holds
    all of a user's sessions — at production scale the watermark keeps
    it to the recent window per user.
    """
    import bisect as _bisect
    import math as _math

    rows: list[tuple[int, float]] = []
    for pdf in pdf_iter:
        # drop NULL event-times, matching batch session_window (which
        # drops undated rows); NaT would otherwise convert to int64 MIN
        # and open a garbage session at the epoch floor (r8 NULL probe)
        pdf = pdf.dropna(subset=["ts"])
        ts_us = pdf["ts"].values.astype("datetime64[us]").astype("int64")
        rows.extend(zip(ts_us.tolist(), pdf["value"].tolist()))
    rows.sort()
    if state.exists:
        starts, lasts, ns, sums = (list(c) for c in state.get)
    else:
        starts, lasts, ns, sums = [], [], [], []
    old = dict(zip(starts, zip(lasts, ns, sums)))

    def _add(sm: float, v) -> float:
        if v is not None and not _math.isnan(float(v)):
            return float(v) if _math.isnan(sm) else sm + float(v)
        return sm

    for ts, v in rows:
        i = _bisect.bisect_right(starts, ts) - 1
        j = i + 1
        joins_left = i >= 0 and ts - lasts[i] <= _GAP_US
        joins_right = j < len(starts) and starts[j] - ts <= _GAP_US
        if joins_left and joins_right:
            lasts[i] = max(lasts[i], lasts[j], ts)
            ns[i] += ns[j] + 1
            if _math.isnan(sums[i]):
                sums[i] = sums[j]
            elif not _math.isnan(sums[j]):
                sums[i] += sums[j]
            sums[i] = _add(sums[i], v)
            del starts[j], lasts[j], ns[j], sums[j]
        elif joins_left:
            lasts[i] = max(lasts[i], ts)
            ns[i] += 1
            sums[i] = _add(sums[i], v)
        elif joins_right:
            starts[j] = ts
            ns[j] += 1
            sums[j] = _add(sums[j], v)
        else:
            starts.insert(j, ts)
            lasts.insert(j, ts)
            ns.insert(j, 1)
            sums.insert(j, _add(float("nan"), v))

    def _fmt(us: int) -> str:
        return pd.Timestamp(us, unit="us").strftime("%Y-%m-%d %H:%M:%S")

    out: list[tuple[int, float | None, float | None]] = []
    for st, la, n, sm in zip(starts, lasts, ns, sums):
        # NaN-aware change detection (r12 ADVICE): a component whose sum
        # is NaN (all-NULL-value session) must compare EQUAL to its prior
        # self — tuple != would see nan != nan and re-emit the untouched
        # component every batch, violating the changed/new-only contract.
        prev = old.get(st)
        unchanged = (
            prev is not None
            and prev[0] == la
            and prev[1] == n
            and (prev[2] == sm or (_math.isnan(prev[2]) and _math.isnan(sm)))
        )
        if not unchanged:
            out.append((st, n, sm))
    live = set(starts)
    # Tombstone key = the FORMATTED start (the sink's upsert key is the
    # seconds-granularity string). A vanished µs-start whose string still
    # has a live component — the absorbing component starts in the same
    # second — must NOT retract it: the live component's own update this
    # batch overwrites the key (r11 fuzz find, seed 9 of
    # tests/test_sessionize_components.py).
    live_strs = {_fmt(st) for st in starts}
    tombstones = [
        st for st in old if st not in live and _fmt(st) not in live_strs
    ]

    # production state bound: finalize-evict components sealed by the
    # watermark (the unwatermarked registered finite drain takes the
    # no-eviction branch — getCurrentWatermarkMs RAISES without a
    # configured watermark rather than returning 0)
    try:
        wm_us = state.getCurrentWatermarkMs() * 1000
    except Exception:
        wm_us = 0
    if wm_us > 0:
        keep = [k for k, la in enumerate(lasts) if la + _GAP_US >= wm_us]
        starts = [starts[k] for k in keep]
        lasts = [lasts[k] for k in keep]
        ns = [ns[k] for k in keep]
        sums = [sums[k] for k in keep]
    if starts:
        state.update((starts, lasts, ns, sums))
    elif state.exists:
        state.remove()

    yield pd.DataFrame(
        {
            "user_id": pd.array(
                [key[0]] * (len(out) + len(tombstones)), dtype="object"
            ),
            "session_start": [_fmt(st) for st, _, _ in out]
            + [_fmt(st) for st in tombstones],
            "n_events": pd.array(
                [n_ for _, n_, _ in out] + [None] * len(tombstones),
                dtype="object",
            ),
            "total_value": [
                None if _math.isnan(s_) else sql_round(s_)
                for _, _, s_ in out
            ]
            + [None] * len(tombstones),
        }
    )


@query(
    "stream_sessionize",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_sess
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
    ), sess AS (
        SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*)                               AS n_events,
           ROUND(SUM(value), 2)                   AS total_value
    FROM sess GROUP BY user_id, sid
    """,
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6 flagship: custom stateful sessionization (30-min inactivity gap)
    via ``applyInPandasWithState`` — the operator ``F.session_window``
    cannot express once you need per-session custom logic (e.g. different
    emission policies for closed vs open sessions).

    State = the user's gap-component set (4 scalars per session,
    independent of session LENGTH — never raw events), which makes the
    operator order-independent across micro-batches: random batch splits
    are in-contract since r11 (tests/test_stream_batching.py asserts
    exactness under both ordered and random splits; superseded session
    starts emit tombstone rows — NULL n_events — for the upsert sink).
    On the single-batch drain each session emits exactly once, so the
    sink equals the batch gaps-and-islands answer — the same oracle as
    ``events_sessionize``. At 100 TB: RocksDB state store, a watermark
    (see ``_sessionize_fn``'s eviction path) to seal and evict old
    components, and an upsert sink keyed on (user_id, session_start).
    """
    ev = read_events_stream(spark, sf_dir).select("user_id", "ts", "value")
    sessions = ev.groupBy("user_id").applyInPandasWithState(
        _sessionize_fn,
        outputStructType=_SESS_OUT,
        stateStructType=_SESS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # applyInPandasWithState: core-count parallelism (r17; see
    # stream_python_state_partitions)
    return run_to_memory(sessions, "stream_sessionize", "update",
                         state_partitions=stream_python_state_partitions(
                             spark, f"{sf_dir}/events.parquet"))


# ------------------------------------------------------- A6-streaming: sink


@query(
    "stream_filter_to_parquet",
    oracle="SELECT event_id, value FROM events WHERE event_type = 'click'",
)
def stream_filter_to_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming parquet sink: stream → filter → exactly-once file sink →
    batch re-read. Stateless (no watermark needed, append mode), so the
    finite stream lands complete and the re-read hash-matches the batch
    oracle. At scale this is the bronze-layer ingest pattern: the sink's
    transaction log (_spark_metadata) gives exactly-once file commits;
    partitionBy(date) on the sink makes the layer prunable."""
    out_dir = tempfile.mkdtemp(prefix="stream_sink_")
    ev = read_events_stream(spark, sf_dir)
    _drain(
        ev.where(F.col("event_type") == "click")
        .select("event_id", "value")
        .writeStream.format("parquet")
        .option("path", f"{out_dir}/data")
        .outputMode("append"),
        f"{out_dir}/ckpt",
    )
    return spark.read.parquet(f"{out_dir}/data")


# --------------------------------------------------- I8: stream-static join


@query(
    "stream_static_enrich",
    oracle="""
    SELECT e.event_type,
           c.c_mktsegment AS segment,
           COUNT(*)             AS n_events,
           ROUND(SUM(e.value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join (dimension enrichment): the event stream joins a
    BATCH dimension table — no watermark needed on the static side, no
    join state at all (each micro-batch broadcast-joins the dimension),
    and the static side is re-resolved per batch, so slowly-changing
    dimensions pick up updates between batches. This is the silver-layer
    enrichment pattern: at 100 TB the stream is Kafka and the dimension a
    Delta table; the plan is unchanged.

    Aggregation after a stream-static inner join stays append-compatible
    state-wise (only the agg holds state); complete mode drains the finite
    fixture to the exact batch answer.
    """
    ev = read_events_stream(spark, sf_dir)
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    agg = (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy("event_type", "segment")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    return run_to_memory(agg, "stream_static_enrich", "complete",
                         state_partitions=_ev_parts(spark, sf_dir))


# ------------------------------------------------ I4b: streaming sliding window


@query(
    "stream_sliding_30m",
    oracle="""
    WITH g AS (SELECT date_trunc('hour', ts)
                      + CASE WHEN date_part('minute', ts) >= 30
                             THEN INTERVAL 30 MINUTE
                             ELSE INTERVAL 0 MINUTE END AS w1
               FROM events WHERE ts IS NOT NULL),
    b AS (SELECT w1 AS ws FROM g
          UNION ALL
          SELECT w1 - INTERVAL 30 MINUTE FROM g)
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start,
           COUNT(*) AS n_events
    FROM b GROUP BY 1
    """,
)
def stream_sliding_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I2 as a streaming query: 1-hour windows sliding every 30 minutes —
    each event lands in exactly two overlapping windows. Watermark bounds
    how long a window stays open; complete mode drains the finite stream
    to the batch answer (the oracle enumerates both windows per event:
    the containing hour-aligned one and the half-hour-shifted one)."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), _TS_FMT).alias("win_start"),
            "n_events",
        )
    )
    return run_to_memory(agg, "stream_sliding_30m", "complete",
                         state_partitions=_ev_parts(spark, sf_dir))


# ----------------------------------------------- I7: stream-stream interval join


@query(
    "stream_click_attribution",
    oracle="""
    SELECT c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS buy_ts,
           ROUND(p.value, 2) AS buy_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INTERVAL JOIN (click→purchase attribution): two
    watermarked streams joined on key + a bounded event-time range — the
    canonical two-stream stateful operator Structured Streaming adds over
    any batch engine.

    The time bound is load-bearing twice: semantically (attribute a
    purchase to a click at most 30 minutes earlier) and operationally —
    with both watermarks and a two-sided range, each side's join state is
    evicted once the other side's watermark passes the range, so state is
    O(window), not O(stream). Append mode: pairs emit exactly once, and on
    a finite availableNow drain the result equals the batch interval join
    — hence the exact DuckDB oracle.
    """
    clicks = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "10 minutes")
    )
    buys = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("buy_user"),
            F.col("ts").alias("buy_ts"),
            "value",
        )
        .withWatermark("buy_ts", "10 minutes")
    )
    joined = clicks.join(
        buys,
        F.expr(
            "user_id = buy_user AND "
            "buy_ts >= click_ts AND buy_ts <= click_ts + INTERVAL 30 MINUTES"
        ),
        "inner",
    ).select(
        "user_id",
        F.date_format("click_ts", _TS_FMT).alias("click_ts"),
        F.date_format("buy_ts", _TS_FMT).alias("buy_ts"),
        F.round("value", 2).alias("buy_value"),
    )
    return run_to_memory(joined, "stream_click_attribution", "append",
                         state_partitions=_ev_parts(spark, sf_dir))


# ------------------------------------- I6c: transformWithStateInPandas (TWS)


def _tws_available() -> bool:
    """transformWithStateInPandas ships its state protocol over protobuf;
    the pip ``protobuf`` package is not in this container, so the query
    registers only where the dependency exists (import-try gate per the
    environment contract)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stream_tws_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6 on the NEW stateful API: ``transformWithStateInPandas``
    (Spark 4's successor to applyInPandasWithState) — typed state handles
    (ValueState/ListState/MapState), timers, and TTL, mandatory RocksDB
    state store. Same per-user counter as ``stream_stateful_counts`` so the
    two APIs are directly comparable; identical oracle.

    The RocksDB requirement is the 100 TB story made concrete: state lives
    off-heap with changelog checkpointing instead of executor-heap
    HDFS-backed maps.
    """
    import pandas as _pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class CountProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("count", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            n = self._count.get()[0] if self._count.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._count.update((n,))
            yield _pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self) -> None:
            pass

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = read_events_stream(spark, sf_dir)
        counts = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=CountProcessor(),
            outputStructType="user_id bigint, n_events bigint",
            outputMode="Update",
            timeMode="None",
        )
        return run_to_memory(counts, "stream_tws_counts", "update",
                             state_partitions=stream_python_state_partitions(
                                 spark, f"{sf_dir}/events.parquet"))
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            # previously unset: unset again, or the RocksDB override
            # would silently leak into every later streaming query's
            # checkpoint in this session (r7 review)
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


if _tws_available():  # pragma: no cover - protobuf absent in this container
    query(
        "stream_tws_counts",
        oracle="SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id",
    )(stream_tws_counts)


# ----------------------------------- I-extensibility: Python streaming source


@query(
    "python_stream_source_agg",
    oracle="""
    SELECT CAST(range % 5 AS BIGINT) AS bucket,
           COUNT(*)                  AS n,
           CAST(SUM(range) AS BIGINT) AS total
    FROM range(5000) GROUP BY 1
    """,
)
def python_stream_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING Python DataSource (Spark 4
    ``SimpleDataSourceStreamReader``): a capped offset-driven source drained
    over multiple micro-batches (5000 rows / 1000 per batch = 5 commits),
    landed in a memory sink, aggregated after. Exercises the offset →
    prefetch → commit → (on recovery) readBetweenOffsets replay contract —
    the same loop a Kafka-like connector implements. Deterministic, so it
    hash-matches a DuckDB range() oracle."""
    import tempfile as _tf

    from ..sources.pyds import register_stream

    register_stream(spark)
    stream = spark.readStream.format("synthstream").option("n", 5000).option(
        "batch", 1000
    ).load()
    q = (
        stream.writeStream.format("memory")
        .queryName("python_stream_source_agg")
        .option("checkpointLocation", _tf.mkdtemp(prefix="pyds_stream_"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return (
        spark.table("python_stream_source_agg")
        .groupBy((F.col("i") % 5).alias("bucket"))
        .agg(F.count("*").alias("n"), F.sum("i").alias("total"))
    )


# ----------------------------------------------------- I9: foreachBatch sink


@query(
    "stream_foreach_batch_snapshot",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
)
def stream_foreach_batch_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: per micro-batch, arbitrary BATCH write logic gets
    the batch DataFrame + batch id — the escape hatch for sinks Structured
    Streaming lacks natively (JDBC upserts, multi-table writes, merges).
    Here each batch overwrites a parquet snapshot of the complete-mode
    aggregate; the final snapshot after an availableNow drain equals the
    batch answer.

    At 100 TB this exact shape becomes MERGE INTO a warehouse table;
    foreachBatch gives at-least-once delivery, so production sinks key the
    write on batch_id (idempotent overwrite here has the same property).
    """
    out_dir = tempfile.mkdtemp(prefix="feb_sink_")
    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/data")

    with scoped_shuffle_partitions(spark, _ev_parts(spark, sf_dir)):
        _drain(agg.writeStream.foreachBatch(upsert).outputMode("complete"),
               f"{out_dir}/ckpt")
    return spark.read.parquet(f"{out_dir}/data")


# --------------------------------- I9b / K3: streaming ANN index ingest

_IVF_DIM = 64  # the embeddings fixture's declared model dimension (K3)


@query(
    "stream_ivf_ingest",
    oracle=f"""
    WITH e AS (SELECT * FROM embeddings
               WHERE {similarity.ORACLE_FINITE.format(v='embedding',
                                                      d=64)}),
    q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id, label,
           ROUND(list_sum(list_transform(list_zip(embedding, qv),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6)
               AS cosine
    FROM e, q
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
)
def stream_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 × streaming (r11): ANN index maintenance as a STREAMING
    pipeline — embeddings arrive as a file stream, every micro-batch is
    assigned against the fixed coarse quantizer and appended to the
    hive-partitioned IVF index via ``foreachBatch``
    (:func:`..operators.similarity.ivf_append`); after the drain, the
    probe answers from the grown index.

    This is the composition a training-data platform actually runs: the
    embedding job lands vectors continuously, the index ingests them
    per micro-batch at |batch| cost (measured 11.9× cheaper than a
    rebuild for a 10% batch — PERF.md r11), and the index is ALWAYS
    queryable mid-ingest because appends add files to cell directories
    without touching resident ones. foreachBatch is at-least-once, so
    this key WRITES IDEMPOTENTLY (r12 ADVICE fix): each micro-batch
    lands under its own ``ingest_batch=<batch_id>`` hive subdirectory
    with ``mode="overwrite"`` — a task/batch retry truncates-and-
    rewrites ONLY that batch's directory instead of duplicating rows,
    so a replayed batch leaves the index content byte-identical
    (pinned in tests/test_hostile_embeddings.py). Partition discovery
    sees ``ingest_batch`` as one more partition column above ``cell``;
    cell pruning at probe time is unaffected.

    FULL brute-force oracle, same argument as ``knn_ivf_append_probe``:
    assignment is a pure function of (vector, centroids) — ingest
    history cannot change index content — and the shared cached
    centroids make the probed candidate set identical to
    ``knn_ivf_topk``'s, where fixture recall is 1.0 deterministic.
    Corrupt vectors are excluded at append time (``ivf_assign_full`` →
    ``finite_vectors``), matching the oracle's eligibility filter.

    r13 (VERDICT r12 next #2): MANIFEST-FIRST — the index manifest
    (centroids + training-time drift reference, ``ivf_manifest``) is
    written once before ingest; appends and the final probe resolve
    the quantizer from the path alone, and the production monitoring
    composition (``ivf_drift_check_batch`` per micro-batch, manifest
    reference, zero resident-corpus reads) is pinned in
    tests/test_streaming.py + tests/test_layouts.py."""
    import numpy as np

    from ..catalog import load_table

    ensure_runtime_confs(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    C = similarity.ivf_train_centroids(
        emb, n_cells=16, cache_key=sf_dir, dim=_IVF_DIM
    )
    base = tempfile.mkdtemp(prefix="stream_ivf_")
    idx = f"{base}/index"
    # r13 (VERDICT r12 next #2): the index MANIFEST — centroids +
    # training-time drift reference — is written ONCE before ingest
    # starts; every append then resolves the quantizer from the path
    # alone (the batch subdir walks up to the root manifest), and a
    # per-batch drift monitor (ivf_drift_check_batch) runs at |batch|
    # cost with ZERO resident-corpus reads — pinned in
    # tests/test_layouts.py and tests/test_streaming.py
    similarity.write_index_manifest(
        spark, idx,
        similarity.ivf_manifest(emb, C, dim=_IVF_DIM, n_cells=16, seed=42),
    )

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        # batch-id-keyed subdirectory + overwrite = replay-idempotent;
        # centroids resolved from the root manifest (path-only API)
        similarity.ivf_append(
            batch_df,
            f"{idx}/ingest_batch={batch_id}",
            None,
            dim=_IVF_DIM,
            mode="overwrite",
        )

    _drain(_file_stream(spark, sf_dir, "embeddings").writeStream
           .foreachBatch(append_batch), f"{base}/ckpt")

    qrow = (
        similarity.finite_vectors(emb, "embedding", _IVF_DIM)
        .where(F.col("vec_id") == 0)
        .select("embedding")
        .first()
    )
    qv = np.asarray(qrow[0], dtype=np.float64)  # 1-row fetch, bounded
    return similarity.ivf_probe_indexed(  # centroids from the manifest
        spark, idx, None, qv, k=10, nprobe=8, exclude_id=0
    )


@query(
    "stream_lsh_ingest",
    oracle=f"""
    WITH e AS (SELECT * FROM embeddings
               WHERE {similarity.ORACLE_FINITE.format(v='embedding',
                                                      d=64)}),
    q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id, label,
           ROUND(list_sum(list_transform(list_zip(embedding, qv),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6)
               AS cosine,
           1 AS lsh_recall_floor_met
    FROM e, q
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
)
def stream_lsh_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 × streaming (r13, VERDICT r12 next #5): the LSH POSTINGS
    index maintained by a stream — the exact sibling of
    ``stream_ivf_ingest``, closing the "index keeps up with ingest"
    story for BOTH ANN layouts. Embeddings arrive as a file stream;
    the index manifest (``lsh_manifest``: dim/bits/n_tables/seed —
    planes are a pure seeded function, nothing to train) is written
    ONCE before ingest; each micro-batch is hashed against those
    planes by ``foreachBatch`` → :func:`..operators.similarity.
    lsh_append` with the batch keyed to its own
    ``ingest_batch=<batch_id>`` subdirectory and ``mode="overwrite"``
    — idempotent under at-least-once replay on BOTH stores (postings
    and the INT8 rescore sidecar; pinned in tests/test_layouts.py).
    The index is queryable mid-ingest (appends only add files), and
    because hashing is stateless the stream-grown postings are
    content-identical to a one-shot build — there is no drift arm to
    monitor, by construction (the LSH advantage ``lsh_build_index``
    documents). After the drain, :func:`..operators.similarity.
    lsh_probe_indexed` answers from the grown index with the path
    alone (manifest-resolved config, INT8 screen + exact rerank).

    Same DERIVED recall-verdict full oracle as ``knn_lsh_indexed``
    (the r12 graduation pattern): the key returns the exact top-10
    annotated with ``lsh_recall_floor_met`` = (probe recall@10 ≥ 0.5),
    which the DuckDB oracle pins to 1 — a recall slip on the
    stream-grown index turns the driver row red. Stream-grown-vs-
    one-shot probe identity is additionally pinned in
    tests/test_streaming.py. Both collects are bounded (10 rows)."""
    from ..catalog import load_table

    ensure_runtime_confs(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    base = tempfile.mkdtemp(prefix="stream_lsh_")
    idx = f"{base}/index"
    similarity.write_index_manifest(
        spark, idx,
        similarity.lsh_manifest(dim=_IVF_DIM, bits=8, n_tables=16,
                                seed=42),
    )

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        similarity.lsh_append(  # config from the root manifest
            batch_df, idx,
            subdir=f"ingest_batch={batch_id}", mode="overwrite",
        )

    _drain(_file_stream(spark, sf_dir, "embeddings").writeStream
           .foreachBatch(append_batch), f"{base}/ckpt")

    lsh_ids = {
        r.vec_id
        for r in similarity.lsh_probe_indexed(
            emb, idx, query_id=0, k=10
        ).collect()
    }
    # persist-the-audited-arm pattern (r17): collected for the recall
    # audit and materialized again by the consumer
    exact = audit_persist(similarity.knn_topk(emb, query_id=0, k=10, dim=_IVF_DIM))
    exact_ids = {r.vec_id for r in exact.collect()}
    floor_met = int(len(lsh_ids & exact_ids) >= 5)
    return exact.withColumn("lsh_recall_floor_met", F.lit(floor_met))


@query(
    "stream_ivfpq_ingest",
    oracle=f"""
    WITH e AS (SELECT * FROM embeddings
               WHERE {similarity.ORACLE_FINITE.format(v='embedding',
                                                      d=64)}),
    q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id, label,
           ROUND(list_sum(list_transform(list_zip(embedding, qv),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6)
               AS cosine,
           1 AS ivfpq_recall_floor_met
    FROM e, q
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
)
def stream_ivfpq_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 × streaming (r14): the IVF+PQ index maintained by a stream —
    completing ingest parity across all three materialized ANN
    families (``stream_ivf_ingest`` / ``stream_lsh_ingest`` siblings).
    Manifest-FIRST: centroids, PQ codebooks and config
    (:func:`..operators.similarity.ivfpq_manifest` — payloads in the
    lazy parquet sidecars) are written once before ingest; each
    micro-batch is then assigned AND PQ-encoded against those fixed
    artifacts by ``foreachBatch`` → :func:`..operators.similarity.
    ivfpq_append`, batch-keyed to its own ``ingest_batch=<batch_id>``
    subdirectory with ``mode="overwrite"`` — idempotent under
    at-least-once replay — and every append participates in the
    epoch/marker race protocol. Both model artifacts are pure fixed
    functions, so the stream-grown index is content-identical to a
    one-shot :func:`..operators.similarity.ivfpq_build_index` (the
    same argument as both siblings; build identity pinned in
    tests/test_layouts.py). After the drain,
    :func:`..operators.similarity.ivfpq_probe_indexed` answers from
    the path alone: cell pruning × ADC over the 16-byte codes × pushed
    ``In(id)`` exact rescore.

    Same derived RECALL-VERDICT full oracle as ``knn_ivfpq_topk``:
    exact top-10 annotated with ``ivfpq_recall_floor_met`` =
    (probe recall@10 ≥ 0.5 at nprobe=8/16, shortlist=50), pinned to 1.
    Bounded collects only (1 query vector + 2×10 rows)."""
    import numpy as np

    from ..catalog import load_table

    ensure_runtime_confs(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    base = tempfile.mkdtemp(prefix="stream_ivfpq_")
    idx = f"{base}/index"
    C = similarity.ivf_train_centroids(
        emb, n_cells=16, cache_key=sf_dir, dim=_IVF_DIM
    )
    books = similarity.pq_train_codebooks(
        emb, m=16, ksub=32, cache_key=sf_dir, dim=_IVF_DIM
    )
    similarity.write_index_manifest(
        spark, idx,
        similarity.ivfpq_manifest(emb, C, books, dim=_IVF_DIM,
                                  n_cells=16, m=16, ksub=32, seed=42,
                                  drift_reference=False),
    )

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        similarity.ivfpq_append(  # artifacts from the root manifest
            batch_df, f"{idx}/ingest_batch={batch_id}", mode="overwrite"
        )

    _drain(_file_stream(spark, sf_dir, "embeddings").writeStream
           .foreachBatch(append_batch), f"{base}/ckpt")

    qrow = (
        similarity.finite_vectors(emb, "embedding", _IVF_DIM)
        .where(F.col("vec_id") == 0)
        .select("embedding")
        .first()  # bounded: 1 row
    )
    qv = np.asarray(qrow[0], dtype=np.float64)
    got = {
        r.vec_id
        for r in similarity.ivfpq_probe_indexed(
            spark, idx, qv, k=10, nprobe=8, shortlist=50, exclude_id=0
        ).collect()  # bounded: k rows
    }
    # persist-the-audited-arm pattern (r17): collected for the recall
    # audit and materialized again by the consumer
    exact = audit_persist(similarity.knn_topk(emb, query_id=0, k=10, dim=_IVF_DIM))
    exact_ids = {r.vec_id for r in exact.collect()}  # bounded: k rows
    floor_met = int(len(got & exact_ids) >= 5)
    return exact.withColumn("ivfpq_recall_floor_met", F.lit(floor_met))


# ------------------------------------------- state-store observability


def read_query_state(spark: SparkSession, checkpoint: str, **options: str) -> DataFrame:
    """Read a streaming query's state store as a batch DataFrame (Spark 4
    State Data Source, format ``statestore``).

    Returns ``key`` / ``value`` structs per state row (plus
    ``partition_id``). This is the operational answer to "what does my
    stream currently believe": state inspection, state-size audits, and
    offline repair pipelines all become plain DataFrame queries against the
    checkpoint — no replay of the input. Options pass through (e.g.
    ``batchId`` for time travel to an earlier micro-batch,
    ``storeName``/``joinSide`` for stream-stream join state).

    Scale note: the source shards by state-store partition, so reading a
    1000-partition RocksDB state is a 1000-task parallel scan, not a
    driver walk.
    """
    reader = spark.read.format("statestore")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(checkpoint)


@query(
    "statestore_event_counts",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1
    """,
)
def statestore_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I10 state-store observability, driver-certified (VERDICT r5 #8): a
    streaming aggregation drains the events table into its checkpoint,
    then the answer is produced by reading the CHECKPOINT'S STATE back
    through the Spark 4 State Data Source (``format("statestore")``) —
    not from the sink. The oracle recomputes the same counts from the
    source, so the hash match certifies the state store holds exactly the
    per-key aggregate the stream claims to have — state inspection as a
    first-class query, the tool for state-size audits and offline repair
    at 100 TB (the source shards by state partition; a 1000-partition
    RocksDB state reads as a 1000-task scan, no input replay).

    The state value's buffer field for ``count(*)`` is named ``count``
    regardless of the agg alias; the sink is ``noop`` because only the
    checkpoint matters.
    """
    ckpt = tempfile.mkdtemp(prefix="statestore_q_")
    ev = read_events_stream(spark, sf_dir)
    with scoped_shuffle_partitions(spark, _ev_parts(spark, sf_dir)):
        _drain(
            ev.groupBy("event_type")
            .agg(F.count("*").alias("n_events"))
            .writeStream.format("noop")
            .outputMode("update"),
            ckpt,
        )
    state = read_query_state(spark, ckpt)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("bigint").alias("n_events"),
    )


# ------------------------------------------- A11 on streams: observe() QC


@query(
    "stream_observe_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT)
                                    AS n_clicks,
           CAST(SUM(user_id) AS BIGINT) AS user_id_checksum
    FROM events
    """,
)
def stream_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 observed metrics ON A STREAM (VERDICT r4 "Next round #8"):
    ``DataFrame.observe`` attaches the same zero-extra-scan QC manifest the
    batch ``observed_write_metrics`` certifies, but to a streaming query —
    each micro-batch emits its metric row into
    ``StreamingQueryProgress.observedMetrics`` and the per-batch rows SUM to
    the exact whole-input answer, because every metric chosen is
    batch-decomposable (counts and an integer checksum; a mean or distinct
    count would NOT re-aggregate this way). The sink is ``noop``: the point
    is metrics without landing data twice.

    At 100 TB this is the streaming QC pattern: per-batch row counts and
    checksums flow to the metrics bus via a StreamingQueryListener with no
    second scan and no state; the oracle recomputing the same aggregates
    from the source certifies the accumulated manifest is exact.

    Accumulation is via a ``StreamingQueryListener`` (not
    ``q.recentProgress``, which is a ring buffer capped at
    ``spark.sql.streaming.numRecentProgressUpdates`` = 100 — a source
    producing more micro-batches than the cap would silently undercount).
    The listener bus delivers events in order per query, so once the
    terminated event for this run arrives every progress event has been
    accumulated; batches are deduped by (runId, batchId) in case a
    progress update is reported twice for one batch.
    """
    from pyspark.sql.streaming import StreamingQueryListener

    class _QCAccumulator(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: dict[tuple[str, int], dict] = {}
            self.terminated_runs: set[str] = set()

        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = event.progress
            qc = (p.observedMetrics or {}).get("qc")
            if qc is not None:  # no-data ticks carry no metric row
                self.batches[(str(p.runId), p.batchId)] = {
                    "n_rows": int(qc["n_rows"]),
                    "n_clicks": int(qc["n_clicks"]),
                    "user_id_checksum": int(qc["user_id_checksum"]),
                }

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            self.terminated_runs.add(str(event.runId))

    ev = read_events_stream(spark, sf_dir)
    observed = ev.observe(
        "qc",
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_clicks"),
        F.sum("user_id").alias("user_id_checksum"),
    )
    listener = _QCAccumulator()
    spark.streams.addListener(listener)
    try:
        q = _drain(observed.writeStream.format("noop"),
                   tempfile.mkdtemp(prefix="stream_obs_"))
        run_id = str(q.runId)
        # Listener delivery is async relative to awaitTermination(); the
        # terminated event is ordered AFTER every progress event, so wait
        # for it before reading the accumulator.
        deadline = time.monotonic() + 60.0
        while (run_id not in listener.terminated_runs
               and time.monotonic() < deadline):
            time.sleep(0.05)
        if run_id not in listener.terminated_runs:
            raise TimeoutError(
                "StreamingQueryListener terminated event not delivered"
            )
    finally:
        spark.streams.removeListener(listener)
    n_rows = n_clicks = checksum = 0
    for (rid, _batch), m in sorted(listener.batches.items()):
        if rid != run_id:
            continue
        n_rows += m["n_rows"]
        n_clicks += m["n_clicks"]
        checksum += m["user_id_checksum"]
    return spark.createDataFrame(
        [(n_rows, n_clicks, checksum)],
        "n_rows bigint, n_clicks bigint, user_id_checksum bigint",
    )


# ------------------------------------ I6d / K2: streaming near-duplicate LSH


_DOCS_SCRATCH: dict = {}


def _docs_stream_dir(spark: SparkSession, sf_dir: str, n_files: int = 6) -> str:
    """Scatter ``documents`` into ``n_files`` parquet files once per
    (process, sf_dir) so a file-source stream with ``maxFilesPerTrigger``
    replays the corpus as a multi-micro-batch arrival — the shape a real
    ingest feed has. ``SPARK_GRAFT_SCRATCH`` relocates the scratch base for
    cluster runs (same contract as the compaction demo); the local default
    is removed at interpreter exit.
    """
    base = _DOCS_SCRATCH.get(sf_dir)
    if base is None:
        # shared scratch helper (r7): per-process-unique base locally AND
        # under SPARK_GRAFT_SCRATCH, so concurrent runs can't scatter
        # over each other's files; atexit cleanup rides the helper
        from ..plans.registry import scratch_dir

        base = scratch_dir("docstream_")
        (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .repartition(n_files)
            .write.mode("overwrite")
            .parquet(base)
        )
        _DOCS_SCRATCH[sf_dir] = base
    return base


_BAND_STATE = StructType(
    [
        StructField("ids", ArrayType(LongType())),
        StructField("overflow", LongType()),
    ]
)
_PAIR_OUT = StructType(
    [StructField("doc_a", LongType()), StructField("doc_b", LongType())]
)

#: Default per-(band, band_hash) membership cap. A bucket this large means
#: >512 documents share one LSH band hash — a boilerplate/degenerate-text
#: cluster whose pairwise expansion is the quadratic corner both the batch
#: self-join and this streaming twin share. Past the cap we stop enrolling
#: (bounding BOTH state size and emitted-pair count at C(cap, 2)) and count
#: the dropped enrollments in the state's ``overflow`` field, which the
#: state-store reader (I10) exposes for alerting. 512 is far above any
#: fixture bucket (max ≈ planted-dup cluster size, single digits) so the
#: certified answer is unaffected.
BAND_BUCKET_CAP = 512


def make_band_collisions(max_bucket_size: int = BAND_BUCKET_CAP):
    """Build the keyed-state update function with a membership cap.

    Per-(band, band_hash) membership state: every newly arrived doc id
    emits a candidate pair against each id already resident in the bucket
    (and earlier arrivals of the same batch), then joins the membership
    list. State size = bucket membership, the same bound the batch LSH
    self-join has per bucket — now hard-capped at ``max_bucket_size``:
    arrivals past the cap are dropped (not enrolled, no pairs emitted)
    and counted in the state's ``overflow`` field."""

    def _update(key, pdf_iter, state: GroupState):
        if state.exists:
            st = state.get
            members = list(st[0])
            overflow = int(st[1] or 0)
        else:
            members, overflow = [], 0
        seen = set(members)
        pairs: list[tuple[int, int]] = []
        for pdf in pdf_iter:
            for raw in pdf["doc_id"]:
                nid = int(raw)
                if nid in seen:
                    continue
                if len(members) >= max_bucket_size:
                    overflow += 1
                    continue
                for m in members:
                    pairs.append((m, nid) if m < nid else (nid, m))
                members.append(nid)
                seen.add(nid)
        state.update((sorted(members), overflow))
        if pairs:
            yield pd.DataFrame(pairs, columns=["doc_a", "doc_b"])

    return _update


_band_collisions = make_band_collisions()


# --- r18: grouped band-bucket state (guide §4 — amortize the per-group
# Python protocol cost). applyInPandasWithState pays one pandas frame +
# one state round-trip PER KEY PER BATCH; keyed by raw (band, band_hash)
# the sf0.1 corpus makes ~16k keys × 3 micro-batches pay that protocol
# (~0.45 ms each — 21.5 s profiled, the costliest key in the registry,
# VERDICT r17 next #3). Coarsening the STATE key to a hash group of
# buckets keeps the identical per-bucket enrollment/cap/overflow
# semantics (applied per exact (band, band_hash) inside the group) while
# dividing the protocol round-trips by buckets-per-group. Group count
# scales with the cluster (8 × defaultParallelism — enough keys to hash
# evenly over core-count state partitions, guide §2.5) and is
# env-overridable; 0 restores the per-bucket keying (A/B harness).

_GROUPED_BAND_STATE = StructType(
    [
        StructField("bands", ArrayType(IntegerType())),
        StructField("hashes", ArrayType(LongType())),
        StructField("members", ArrayType(ArrayType(LongType()))),
        StructField("overflow", LongType()),
    ]
)


def band_state_groups(spark: SparkSession) -> int:
    """Number of coarse state groups for the streaming band-bucket dedup
    (0 = key state by raw (band, band_hash), the pre-r18 shape). Scales
    with the cluster; ``SPARK_GRAFT_BAND_GROUPS`` overrides. At very
    large state-to-arrival ratios a deployment may prefer finer groups
    (each batch rewrites a touched group's whole membership map), so the
    knob is the contract, the default the measured local/cluster shape.

    Any deployment with a durable checkpoint must pin
    ``SPARK_GRAFT_BAND_GROUPS``: ``G`` is part of the persisted state key,
    so resuming on a cluster of a different size under the default would
    re-route buckets to other groups, silently missing residents and
    losing duplicate pairs."""
    env = os.environ.get("SPARK_GRAFT_BAND_GROUPS")
    if env is not None:
        return max(0, int(env))
    return 8 * int(spark.sparkContext.defaultParallelism)


def make_grouped_band_collisions(max_bucket_size: int = BAND_BUCKET_CAP):
    """Grouped-key variant of :func:`make_band_collisions`: one state key
    holds MANY (band, band_hash) buckets (parallel arrays in the state
    struct), each with exactly the per-bucket membership/cap/overflow
    semantics of the single-bucket function — new-vs-resident pairs only,
    duplicate arrivals ignored, enrollments past ``max_bucket_size``
    dropped and counted in the group's ``overflow`` total."""

    def _update(key, pdf_iter, state: GroupState):
        if state.exists:
            st = state.get
            bands = list(st[0])
            hashes = list(st[1])
            members = [list(m) for m in st[2]]
            overflow = int(st[3] or 0)
        else:
            bands, hashes, members, overflow = [], [], [], 0
        idx = {bh: i for i, bh in enumerate(zip(bands, hashes))}
        seen = [set(m) for m in members]
        pairs: list[tuple[int, int]] = []
        for pdf in pdf_iter:
            for b, h, raw in zip(
                pdf["band"].to_numpy(),
                pdf["band_hash"].to_numpy(),
                pdf["doc_id"].to_numpy(),
            ):
                bkey = (int(b), int(h))
                i = idx.get(bkey)
                if i is None:
                    i = len(bands)
                    idx[bkey] = i
                    bands.append(bkey[0])
                    hashes.append(bkey[1])
                    members.append([])
                    seen.append(set())
                nid = int(raw)
                if nid in seen[i]:
                    continue
                mem = members[i]
                if len(mem) >= max_bucket_size:
                    overflow += 1
                    continue
                for m in mem:
                    pairs.append((m, nid) if m < nid else (nid, m))
                mem.append(nid)
                seen[i].add(nid)
        order = sorted(range(len(bands)), key=lambda i: (bands[i], hashes[i]))
        state.update(
            (
                [bands[i] for i in order],
                [hashes[i] for i in order],
                [sorted(members[i]) for i in order],
                overflow,
            )
        )
        if pairs:
            yield pd.DataFrame(pairs, columns=["doc_a", "doc_b"])

    return _update


_grouped_band_collisions = make_grouped_band_collisions()


from ..plans.llm import _JACCARD_ORACLE  # noqa: E402  (loaded before this module)


@query("stream_dedup_near_docs", oracle=_JACCARD_ORACLE)
def stream_dedup_near_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6 × K2: INCREMENTAL near-duplicate detection — MinHash+LSH band
    buckets kept as streaming state, so every arriving document is checked
    against the full history without ever re-comparing old×old.

    The corpus arrives as ~3 micro-batches (file source,
    ``maxFilesPerTrigger``); each doc's 32 band hashes are computed
    map-side in the stream (the same signature stage the certified batch
    ``dedup_near_minhash`` uses), and ``applyInPandasWithState`` keyed by
    a hash GROUP of (band, band_hash) buckets holds bucket membership
    (per-bucket semantics inside the group; r18 — grouped keying amortizes
    the per-key Python protocol round-trip) — the streaming twin of the
    batch band-bucket self-join, with candidate work proportional to
    new×resident, never old×old (the property the batch incremental probe
    [``dedup_incremental_batch``] gets from its asymmetric prefix filter).
    Candidates then take the exact batch Jaccard verification, so the
    final answer equals the certified batch answer: the parity test pins
    it equal to ``minhash_lsh_pairs`` on the fixture (which recovers all
    25 planted pairs).

    100 TB: the band-bucket state shards across the cluster by the
    hash-group key under RocksDB exactly like any keyed state — the group
    count scales with ``defaultParallelism`` (:func:`band_state_groups`),
    so shards stay balanced at any cluster size; per-bucket membership
    arrays are the same size the batch self-join's buckets are, and the
    ``BAND_BUCKET_CAP`` membership cap (drop + count in the state's
    ``overflow`` field, readable via the I10 state-store reader) bounds
    the quadratic corner both paths share — a pathological boilerplate
    bucket emits at most C(cap, 2) pairs and holds at most ``cap`` ids,
    ever.

    Full oracle: the update-mode pair log double-counts across band
    collisions, but the batch-side distinct + exact verification make the
    returned pairs deterministic — the same shared Jaccard oracle the
    batch twins certify against (LSH miss rate at J ≥ 0.9 is ~1e-15).
    """
    from ..operators.dedup import minhash_band_buckets, with_word_ngrams

    ensure_runtime_confs(spark)
    src = _docs_stream_dir(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    docs_stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
        .select("doc_id", "text")
    )
    # the SAME gram expression the certified batch twin uses — shared via
    # with_word_ngrams(nparts=...) because the df.rdd partition probe is
    # illegal on a stream (a drifting copy here would silently break the
    # streaming-equals-batch parity claim; r7 review). CPU-parallelism
    # sized like the state stage below (r17): a vanilla 200-partition
    # session otherwise repartitions a 0.6 MB batch 200 ways
    nparts = stream_python_state_partitions(spark, src)
    grams = with_word_ngrams(
        docs_stream, "text", 3, nparts=nparts
    ).drop("text")
    buckets = minhash_band_buckets(grams, "doc_id")
    # r18 (guide §4): key the state by a HASH GROUP of buckets, not the
    # raw (band, band_hash) — the per-key pandas-frame + state round-trip
    # was ~16k keys × 3 batches ≈ the whole 21.5 s drain; grouped keying
    # amortizes it over buckets-per-group with identical per-bucket
    # semantics (make_grouped_band_collisions). SPARK_GRAFT_BAND_GROUPS=0
    # restores per-bucket keying (A/B harness).
    n_groups = band_state_groups(spark)
    if n_groups > 0:
        pair_log = (
            buckets.withColumn(
                "state_group",
                F.pmod(F.xxhash64("band", "band_hash"), F.lit(n_groups)),
            )
            .groupBy("state_group")
            .applyInPandasWithState(
                _grouped_band_collisions,
                outputStructType=_PAIR_OUT,
                stateStructType=_GROUPED_BAND_STATE,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
    else:
        pair_log = buckets.groupBy("band", "band_hash").applyInPandasWithState(
            _band_collisions,
            outputStructType=_PAIR_OUT,
            stateStructType=_BAND_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    # applyInPandasWithState: the per-group Python protocol work dominates,
    # so the state shuffle takes core-count parallelism (input-derived
    # partitioning measured 4x SLOWER here — 86 s vs 22 s — while a
    # vanilla 200-partition session pays 6x state-store overhead; r17)
    logged = run_to_memory(pair_log, "stream_dedup_near_docs", "update",
                           state_partitions=stream_python_state_partitions(
                               spark, src))
    # batch-side: distinct candidates -> the SAME exact verification the
    # certified batch operator applies
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    g = with_word_ngrams(docs.select("doc_id", "text"), "text", 3).select(
        F.col("doc_id").alias("__id"), F.col("grams").alias("__g")
    )
    cand = logged.distinct()
    verified = (
        cand.join(g.withColumnRenamed("__g", "__ga"), F.col("doc_a") == F.col("__id"))
        .drop("__id")
        .join(g.withColumnRenamed("__g", "__gb"), F.col("doc_b") == F.col("__id"))
        .drop("__id")
        .withColumn("shared", F.size(F.array_intersect("__ga", "__gb")).cast("double"))
        .withColumn("uni", F.size("__ga") + F.size("__gb") - F.col("shared"))
    )
    j = F.col("shared") / F.col("uni")
    return verified.where(j >= 0.9).select(
        "doc_a", "doc_b", F.round(j, 6).alias("jaccard")
    )
