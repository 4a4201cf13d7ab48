"""Structured Streaming semantics tests (SURVEY.md §2-I I4-I6).

The oracle-parity sweep already certifies that each streaming query's
*final* answer equals the batch answer on the finite events stream. These
tests target what that sweep cannot see: genuinely incremental behavior —
multi-micro-batch arrival, watermark advancement between batches, and
dedup-state expiry.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from dask_hivemetastore_spark import plans
from dask_hivemetastore_spark.streaming.pipeline import run_to_memory

from .conftest import SF_SMOKE


def test_stream_tumbling_matches_batch_twin(spark):
    """Final streaming tumbling agg == batch events_tumbling_1h (minus the
    streaming-unsupported countDistinct column)."""
    stream = plans.QUERIES["stream_tumbling_1h"](spark, SF_SMOKE)
    batch = (
        plans.QUERIES["events_tumbling_1h"](spark, SF_SMOKE)
        .select("hour_start", "n_events", "total_value")
    )
    s = sorted(map(tuple, stream.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert s == b and len(s) > 0


def _write_batch(dirpath: str, seq: int, rows: list[tuple[int, int]]) -> None:
    """One micro-batch file: (user_id, ts_us) rows, with mtime ordered by seq
    so FileStreamSource picks the files up in arrival order."""
    pdf = pd.DataFrame(
        {"user_id": [u for u, _ in rows], "ts_us": [t for _, t in rows]}
    )
    path = os.path.join(dirpath, f"b{seq}.parquet")
    pdf.to_parquet(path)
    t = 1_700_000_000 + seq * 60
    os.utime(path, (t, t))


def test_dedup_state_expires_past_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark contract across micro-batches:

    - batch 1: users {1, 2} at t0            → both emitted
    - batch 2: user 1 again at t0 + 2 h      → DROPPED (watermark still
      trails batch 1, state alive) — but it advances the watermark
    - batch 3: user 1 again at t0 + 2 h + 1s → still DROPPED: the batch-2
      watermark (t0+2h−10min) becomes the eviction threshold only at the
      END of batch 3, so batch 3's dedup check still sees the old state
    - batch 4: user 1 again at t0 + 2 h + 2s → EMITTED (state evicted)

    Total emitted rows = 3, i.e. one *re-emission* — the difference between
    within-watermark dedup (bounded state, §7.5) and global distinct.
    """
    t0 = 1_600_000_000_000_000  # µs since epoch
    two_h = 2 * 3600 * 1_000_000
    src = tmp_path / "src"
    src.mkdir()
    _write_batch(str(src), 1, [(1, t0), (2, t0)])
    _write_batch(str(src), 2, [(1, t0 + two_h)])
    _write_batch(str(src), 3, [(1, t0 + two_h + 1_000_000)])
    _write_batch(str(src), 4, [(1, t0 + two_h + 2_000_000)])

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [StructField("user_id", LongType()), StructField("ts_us", LongType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch
        .parquet(str(src))
        .select("user_id", F.timestamp_micros("ts_us").alias("ts"))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id"])
        .select("user_id", "ts")
    )
    out = run_to_memory(stream, "test_dedup_expiry", "append")
    rows = sorted((r.user_id, r.ts) for r in out.collect())
    assert len(rows) == 3, f"expected one re-emission after expiry, got {rows}"
    assert [u for u, _ in rows] == [1, 1, 2]


def test_stateful_counts_accumulate_across_batches(spark, tmp_path):
    """applyInPandasWithState keeps per-key state across micro-batches: a
    user seen in two batches yields a final count equal to the total, and
    update mode emits one row per (key, batch-with-data)."""
    import pandas as pd  # noqa: F811
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    src = tmp_path / "src2"
    src.mkdir()
    t0 = 1_600_000_000_000_000
    _write_batch(str(src), 1, [(7, t0), (7, t0 + 1), (8, t0)])
    _write_batch(str(src), 2, [(7, t0 + 2)])

    def count_fn(key, pdf_iter, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    schema = StructType(
        [StructField("user_id", LongType()), StructField("ts_us", LongType())]
    )
    out_schema = StructType(
        [StructField("user_id", LongType()), StructField("n_events", LongType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .groupBy("user_id")
        .applyInPandasWithState(
            count_fn,
            outputStructType=out_schema,
            stateStructType=StructType([StructField("n", LongType())]),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    out = run_to_memory(stream, "test_stateful_accum", "update")
    rows = sorted((r.user_id, r.n_events) for r in out.collect())
    # user 7: emitted n=2 (batch 1) then n=3 (batch 2); user 8: n=1
    assert rows == [(7, 2), (7, 3), (8, 1)]


def test_sessionize_state_carries_across_batches(spark, tmp_path):
    """A session spanning two micro-batches must be re-emitted with grown
    counts (open-session upsert semantics), and a >30-min gap starts a new
    session (exactly 30 merges, matching batch session_window — r8)."""
    import pandas as pd  # noqa: F811
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from dask_hivemetastore_spark.streaming.pipeline import (
        _SESS_OUT,
        _SESS_STATE,
        _sessionize_fn,
        run_to_memory,
    )

    src = tmp_path / "sess_src"
    src.mkdir()
    t0 = 1_600_000_000_000_000
    m = 60 * 1_000_000
    for seq, rows in enumerate(
        [
            [(1, t0, 1.0), (1, t0 + 5 * m, 2.0)],          # open session: n=2
            [(1, t0 + 10 * m, 3.0), (1, t0 + 50 * m, 4.0)],  # grows to n=3, then gap -> new session
        ],
        start=1,
    ):
        pdf = pd.DataFrame(
            {"user_id": [r[0] for r in rows], "ts_us": [r[1] for r in rows],
             "value": [r[2] for r in rows]}
        )
        p = str(src / f"b{seq}.parquet")
        pdf.to_parquet(p)
        import os as _os
        _os.utime(p, (1_700_000_000 + seq * 60,) * 2)

    schema = StructType([
        StructField("user_id", LongType()), StructField("ts_us", LongType()),
        StructField("value", DoubleType()),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .select("user_id", F.timestamp_micros("ts_us").alias("ts"), "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn,
            outputStructType=_SESS_OUT,
            stateStructType=_SESS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    out = run_to_memory(stream, "test_sess_carry", "update")
    rows = sorted((r.session_start, r.n_events, r.total_value) for r in out.collect())
    # batch1: open session (start t0, n=2, 3.0)
    # batch2: session grows to n=3/6.0 and CLOSES at the 40-min gap; new open session (n=1, 4.0)
    s0 = pd.Timestamp(t0, unit="us").strftime("%Y-%m-%d %H:%M:%S")
    s1 = pd.Timestamp(t0 + 50 * m, unit="us").strftime("%Y-%m-%d %H:%M:%S")
    assert rows == [(s0, 2, 3.0), (s0, 3, 6.0), (s1, 1, 4.0)], rows


def test_tws_gate_consistency():
    """stream_tws_counts must register exactly when its protobuf dependency
    exists (environment-gated, VERDICT r1 'What's missing #2'): absent
    protobuf -> absent key, never a broken registration; present protobuf
    -> the key and its oracle both register."""
    from dask_hivemetastore_spark import plans
    from dask_hivemetastore_spark.streaming import pipeline

    avail = pipeline._tws_available()
    assert ("stream_tws_counts" in plans.QUERIES) == avail
    assert ("stream_tws_counts" in plans.ORACLES) == avail


def test_rocksdb_state_store_provider(spark):
    """The off-heap state path (RocksDBStateStoreProvider) must produce
    identical results to the default provider — at 100 TB this is how
    watermarked aggregation / dedup / stateful ops keep state off the
    executor heap with changelog checkpointing."""
    from dask_hivemetastore_spark import plans

    sf = "/root/testdata/sf0.001"
    key = "stream_stateful_counts"
    baseline = sorted(map(tuple, plans.QUERIES[key](spark, sf).collect()))
    conf = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(conf, None)
    try:
        spark.conf.set(
            conf,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        rocks = sorted(map(tuple, plans.QUERIES[key](spark, sf).collect()))
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)
    assert rocks == baseline and len(rocks) > 0


@pytest.mark.parametrize("key", ["stream_dedup_users", "stream_sessionize"])
def test_streaming_keys_rocksdb_provider_parity(spark, key):
    """VERDICT r11 #6: the production provider (RocksDB) wired into
    REGISTERED streaming keys' test path, not just the stress scripts —
    the 100×-scale evidence (1.5 M state keys on 8 g heap, PERF.md
    "RocksDB closes the r10 stream-dedup heap note") lives outside
    pytest, so a provider regression in the registered dedup/sessionize
    paths would otherwise surface only at stress time. Result sets must be
    IDENTICAL across providers (the default-provider answer is the
    oracle-certified one)."""
    from dask_hivemetastore_spark import plans

    sf = "/root/testdata/sf0.001"
    baseline = sorted(map(tuple, plans.QUERIES[key](spark, sf).collect()))
    conf = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(conf, None)
    try:
        spark.conf.set(
            conf,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        rocks = sorted(map(tuple, plans.QUERIES[key](spark, sf).collect()))
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)
    assert rocks == baseline and len(rocks) > 0


def test_state_store_reader_matches_counts(spark, tmp_path):
    """The statestore batch source reads back exactly the per-key state a
    drained streaming aggregation left in its checkpoint — state
    observability without replaying the stream."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from dask_hivemetastore_spark.streaming.pipeline import read_query_state

    src = tmp_path / "state_src"
    src.mkdir()
    _write_batch(str(src), 1, [(1, 10), (1, 11), (2, 10)])
    _write_batch(str(src), 2, [(2, 12), (3, 13)])
    schema = StructType(
        [StructField("user_id", LongType()), StructField("ts_us", LongType())]
    )
    ckpt = str(tmp_path / "state_ckpt")
    q = (
        spark.readStream.schema(schema)
        .parquet(str(src) + "/*.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .writeStream.format("memory")
        .queryName("state_reader_counts")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    state = read_query_state(spark, ckpt)
    got = sorted(
        (r["key"]["user_id"], r["value"]["count"]) for r in state.collect()
    )
    assert got == [(1, 2), (2, 2), (3, 1)]


def test_observe_metrics_sum_across_batches(spark, tmp_path):
    """stream_observe_metrics' correctness claim is batch-decomposability:
    per-micro-batch observedMetrics rows must SUM to the whole-input
    answer. Drive a 3-file source one file per trigger so the stream
    actually produces multiple metric rows, then check the accumulation."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    src = tmp_path / "obs_src"
    src.mkdir()
    _write_batch(str(src), 1, [(1, 10), (2, 11)])
    _write_batch(str(src), 2, [(3, 12)])
    _write_batch(str(src), 3, [(4, 13), (5, 14), (6, 15)])
    schema = StructType(
        [StructField("user_id", LongType()), StructField("ts_us", LongType())]
    )
    observed = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*.parquet")
        .observe(
            "qc",
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("user_id").alias("checksum"),
        )
    )
    q = (
        observed.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "obs_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    rows = [
        p.observedMetrics["qc"]
        for p in q.recentProgress
        if p.observedMetrics and "qc" in p.observedMetrics
    ]
    assert len(rows) >= 2  # one metric row per non-empty micro-batch
    assert sum(int(r["n_rows"]) for r in rows) == 6
    assert sum(int(r["checksum"]) for r in rows) == 21


def test_stream_dedup_near_equals_batch_lsh(spark, sf_dir):
    """The incremental band-state pipeline must produce exactly the pairs
    the certified batch MinHash+LSH operator produces — the streaming
    arrival order and micro-batch boundaries may not change the answer."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.dedup import minhash_lsh_pairs
    from dask_hivemetastore_spark.streaming.pipeline import stream_dedup_near_docs

    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in stream_dedup_near_docs(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    want = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    assert got == want and len(got) == 25


def test_band_collision_state_emits_new_vs_resident_only(spark):
    """Unit-level: a second micro-batch hitting a bucket with resident
    members emits only new-vs-(resident+earlier-new) pairs, never
    old-vs-old again."""
    import pandas as pd

    from dask_hivemetastore_spark.streaming.pipeline import _band_collisions

    class FakeState:
        def __init__(self, ids=None, overflow=0):
            self.exists = ids is not None
            self.get = (ids, overflow) if ids is not None else None
            self.updated = None

        def update(self, v):
            self.updated = v

    st = FakeState([3, 7])
    out = list(
        _band_collisions(
            (0, 0), [pd.DataFrame({"doc_id": [9, 3, 11]})], st
        )
    )
    pairs = {tuple(r) for r in out[0].itertuples(index=False)}
    # 3 is already resident -> no pairs re-emitted for it
    assert pairs == {(3, 9), (7, 9), (3, 11), (7, 11), (9, 11)}
    assert st.updated == ([3, 7, 9, 11], 0)


def test_grouped_band_collisions_per_bucket_semantics(spark):
    """r18 grouped state key: one state group holding several
    (band, band_hash) buckets must apply EXACTLY the single-bucket
    semantics per bucket — pairs only within a bucket, residents never
    re-paired, per-bucket cap with overflow accumulated group-wide —
    and keep the state's parallel arrays sorted for determinism."""
    import pandas as pd

    from dask_hivemetastore_spark.streaming.pipeline import (
        make_grouped_band_collisions,
    )

    fn = make_grouped_band_collisions(max_bucket_size=3)

    class FakeState:
        def __init__(self, st=None):
            self.exists = st is not None
            self.get = st

        def update(self, v):
            self.get = v
            self.exists = True

    # batch 1: two buckets in the same group — (0, 10) gets docs 1,2 and
    # (1, 99) gets docs 2,5; NO cross-bucket pairs allowed
    st = FakeState()
    out1 = list(fn((7,), [pd.DataFrame({
        "band": [0, 0, 1, 1], "band_hash": [10, 10, 99, 99],
        "doc_id": [1, 2, 2, 5],
    })], st))
    pairs1 = {tuple(r) for r in out1[0].itertuples(index=False)}
    assert pairs1 == {(1, 2), (2, 5)}
    assert st.get == ([0, 1], [10, 99], [[1, 2], [2, 5]], 0)
    # batch 2: resident 1 re-arrives (ignored), 3 joins bucket (0,10)
    # filling it to the cap of 3, then 4 overflows; new bucket (1, 50)
    # appears and the state arrays stay (band, hash)-sorted
    out2 = list(fn((7,), [pd.DataFrame({
        "band": [0, 0, 0, 1], "band_hash": [10, 10, 10, 50],
        "doc_id": [1, 3, 4, 9],
    })], st))
    pairs2 = {tuple(r) for r in out2[0].itertuples(index=False)}
    assert pairs2 == {(1, 3), (2, 3)}  # 3 vs residents only; 4 dropped
    assert st.get == ([0, 1, 1], [10, 50, 99], [[1, 2, 3], [9], [2, 5]], 1)


def test_band_bucket_cap_bounds_state_and_pairs(spark):
    """Pathological hot bucket (every doc hashes to the same band bucket):
    with a cap of 4, state membership never exceeds 4 ids, emitted pairs
    never exceed C(4, 2) = 6 total, and every dropped enrollment is counted
    in the state's overflow field — including drops spread across multiple
    micro-batch arrivals."""
    import pandas as pd

    from dask_hivemetastore_spark.streaming.pipeline import make_band_collisions

    fn = make_band_collisions(max_bucket_size=4)

    class FakeState:
        def __init__(self):
            self.exists = False
            self.get = None

        def update(self, v):
            self.get = v
            self.exists = True

    st = FakeState()
    # batch 1: 10 docs into one bucket — only the first 4 enroll
    out1 = list(fn((0, 0), [pd.DataFrame({"doc_id": list(range(10))})], st))
    pairs1 = {tuple(r) for r in out1[0].itertuples(index=False)}
    assert st.get == ([0, 1, 2, 3], 6)
    assert len(pairs1) == 6  # C(4,2): pairs among the enrolled only
    assert all(a < 4 and b < 4 for a, b in pairs1)
    # batch 2: 5 more arrivals, incl. a resident (no overflow for it) —
    # bucket stays full, nothing new emits, overflow accumulates
    out2 = list(fn((0, 0), [pd.DataFrame({"doc_id": [2, 20, 21, 22, 23]})], st))
    assert out2 == []
    assert st.get == ([0, 1, 2, 3], 10)


def test_checkpoint_recovery_resumes_exactly_once(spark, tmp_path):
    """I4 hardening (VERDICT r7 #3): a watermarked streaming aggregation
    STOPPED after its first micro-batch and RESTARTED from the same
    checkpoint must finish with exactly the batch answer — state restores
    from the checkpoint, already-seen files are not reprocessed, new files
    are (exactly-once across restart).

    Mechanics: the events table is split into 4 parquet files; phase 1
    drains a source directory holding only 2 of them (availableNow), then
    the query stops. The remaining files land and phase 2 restarts the
    SAME plan on the SAME checkpoint under a new memory-sink name. If
    offset tracking failed the phase-2 answer would double-count files
    1-2; if state recovery failed it would cover only files 3-4."""
    import shutil

    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table

    stage = str(tmp_path / "stage")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    ev.repartition(4).write.parquet(stage)
    parts = sorted(
        f for f in os.listdir(stage) if f.endswith(".parquet")
    )
    assert len(parts) == 4
    for f in parts[:2]:
        shutil.copy(os.path.join(stage, f), os.path.join(src, f))

    schema = spark.read.parquet(stage).schema

    def start(name: str):
        agg = (
            spark.readStream.schema(schema).parquet(src)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("h"),
                "n_events",
                "total_value",
            )
        )
        q = (
            agg.writeStream.format("memory").queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        return spark.table(name)

    partial = start("ckpt_rec_p1").collect()

    full_batch = (
        spark.read.parquet(stage)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("h"),
            "n_events",
            "total_value",
        )
        .collect()
    )
    # phase 1 genuinely saw only half the input
    assert sum(r.n_events for r in partial) < sum(r.n_events for r in full_batch)

    for f in parts[2:]:
        shutil.copy(os.path.join(stage, f), os.path.join(src, f))
    recovered = start("ckpt_rec_p2").collect()

    def key(rows):
        return sorted((r.h, r.n_events) for r in rows)

    assert key(recovered) == key(full_batch)
    # exactly-once on the summed values too (same Spark-side rounding op,
    # but accumulation ORDER differs stream-vs-batch — compare at 1e-6)
    got = {r.h: r.total_value for r in recovered}
    want = {r.h: r.total_value for r in full_batch}
    assert all(abs(got[h] - want[h]) < 1e-6 for h in want)


def test_stateful_checkpoint_recovery_restores_custom_state(spark, tmp_path):
    """I6 hardening (r8, sibling of the watermarked-agg recovery test):
    an applyInPandasWithState query stopped after draining half its input
    and RESTARTED from the same checkpoint must restore the CUSTOM state
    (the open session) — the restarted run re-emits that session grown,
    not restarted. Upserting emissions by (user, session_start), phase-2
    last-wins, must reproduce the batch gaps-and-islands answer."""
    import pandas as pd  # noqa: F811
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from dask_hivemetastore_spark.streaming.pipeline import (
        _SESS_OUT,
        _SESS_STATE,
        _sessionize_fn,
    )

    src = tmp_path / "sess_rec_src"
    src.mkdir()
    ckpt = str(tmp_path / "sess_rec_ckpt")
    t0 = 1_600_000_000_000_000
    m = 60 * 1_000_000
    # batch A: session opens (2 events); batch B (lands after restart):
    # grows the SAME session (+10 min), then a >30-min gap opens a new one
    batches = {
        "a.parquet": [(1, t0, 1.0), (1, t0 + 5 * m, 2.0)],
        "b.parquet": [(1, t0 + 15 * m, 3.0), (1, t0 + 55 * m, 4.0)],
    }
    schema = StructType([
        StructField("user_id", LongType()), StructField("ts_us", LongType()),
        StructField("value", DoubleType()),
    ])

    def write(name):
        rows = batches[name]
        pd.DataFrame(
            {"user_id": [r[0] for r in rows], "ts_us": [r[1] for r in rows],
             "value": [r[2] for r in rows]}
        ).to_parquet(str(src / name))

    def run(sink: str):
        stream = (
            spark.readStream.schema(schema).parquet(str(src))
            .select("user_id", F.timestamp_micros("ts_us").alias("ts"), "value")
            .groupBy("user_id")
            .applyInPandasWithState(
                _sessionize_fn,
                outputStructType=_SESS_OUT,
                stateStructType=_SESS_STATE,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        # foreachBatch, not a memory sink: update-mode memory sinks refuse
        # checkpoint recovery (only complete mode supports it)
        emissions: list = []

        def grab(batch_df, _bid):
            emissions.extend(batch_df.collect())

        q = (
            stream.writeStream.foreachBatch(grab)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        return emissions

    write("a.parquet")
    p1 = run("sess_rec_p1")
    write("b.parquet")
    p2 = run("sess_rec_p2")

    final = {}
    for r in list(p1) + list(p2):  # phase-2 emissions overwrite phase-1
        final[(r.user_id, r.session_start)] = (r.n_events, r.total_value)
    s0 = pd.Timestamp(t0, unit="us").strftime("%Y-%m-%d %H:%M:%S")
    s1 = pd.Timestamp(t0 + 55 * m, unit="us").strftime("%Y-%m-%d %H:%M:%S")
    # state restored: first session ends at n=3/6.0 (NOT a fresh n=1 at
    # +15min, which is what a lost-state restart would emit)
    assert final == {(1, s0): (3, 6.0), (1, s1): (1, 4.0)}, final


def test_sessionize_watermark_evicts_sealed_components(spark, tmp_path):
    """r11 eviction path on the REAL engine (the FakeState unit test can't
    prove ``state.getCurrentWatermarkMs()`` wiring): with a 30-min
    watermark, a component whose last+gap precedes the watermark is
    sealed — removed from the state store WITHOUT a tombstone — and a
    late event that could have extended it is dropped upstream by the
    watermark filter, so the sealed emission stands as final. Eviction
    is verified by reading the state store back (the I10 source): the
    user's state must hold ONLY the young component."""
    import os as _os

    import pandas as pd  # noqa: F811
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from dask_hivemetastore_spark.streaming.pipeline import (
        _SESS_OUT,
        _SESS_STATE,
        _sessionize_fn,
    )

    src = tmp_path / "wm_src"
    src.mkdir()
    t0 = 1_600_000_000_000_000
    m = 60 * 1_000_000
    batches = [
        # old session (t0, t0+5m) + a far-future clock event pushing the
        # watermark to t0+5h-30m at the NEXT batch
        [(1, t0, 1.0), (1, t0 + 5 * m, 2.0), (2, t0 + 300 * m, 9.0)],
        # young user-1 session; invoking user 1 runs its eviction sweep
        [(1, t0 + 300 * m, 3.0)],
        # LATE event inside the old session's gap window: upstream
        # watermark filter must drop it (old session stays n=2)
        [(1, t0 + 10 * m, 7.0)],
    ]
    for seq, rows in enumerate(batches, start=1):
        pdf = pd.DataFrame(
            {"user_id": [r[0] for r in rows], "ts_us": [r[1] for r in rows],
             "value": [r[2] for r in rows]}
        )
        p = str(src / f"b{seq}.parquet")
        pdf.to_parquet(p)
        _os.utime(p, (1_700_000_000 + seq * 60,) * 2)

    schema = StructType([
        StructField("user_id", LongType()), StructField("ts_us", LongType()),
        StructField("value", DoubleType()),
    ])
    ckpt = str(tmp_path / "wm_ckpt")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .select("user_id", F.timestamp_micros("ts_us").alias("ts"), "value")
        .withWatermark("ts", "30 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn,
            outputStructType=_SESS_OUT,
            stateStructType=_SESS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = (
        stream.writeStream.format("memory").queryName("test_sess_wm")
        .outputMode("update").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    q.stop()

    sink = spark.table("test_sess_wm").toPandas()
    u1 = sink[sink["user_id"] == 1]
    # no tombstones anywhere: eviction is silent, nothing superseded
    assert not sink["n_events"].isna().any()
    s_old = pd.Timestamp(t0, unit="us").strftime("%Y-%m-%d %H:%M:%S")
    s_new = pd.Timestamp(t0 + 300 * m, unit="us").strftime("%Y-%m-%d %H:%M:%S")
    final = {}
    for r in u1.itertuples(index=False):
        final[r.session_start] = (r.n_events, r.total_value)
    # old session sealed at n=2 (the late 7.0 event was dropped upstream)
    assert final[s_old] == (2, 3.0)
    assert final[s_new] == (1, 3.0)

    # the state store holds ONLY the young component for user 1
    state = (
        spark.read.format("statestore").load(ckpt)
        .select("key.user_id", "value.groupState.starts")
        .collect()
    )
    by_user = {r.user_id: list(r.starts) for r in state}
    assert by_user[1] == [t0 + 300 * m], by_user


def test_stream_ivf_ingest_batching_invariant_with_fixed_centroids(
        spark, tmp_path):
    """The streaming ANN ingest's split-invariance claim, pinned at the
    honest level: with the coarse quantizer FIXED (the production shape —
    centroids are a trained artifact, not re-derived per arrival), a
    foreachBatch ivf_append drain over a 3-file embedding stream yields
    an index content-identical to a one-shot assignment write, and the
    pruned probe answers identically. (The registered key retrains
    centroids from its sf_dir; k-means|| init is data-order-sensitive, so
    a RESHUFFLED corpus may train different cells — that is centroid
    drift, handled by retrain policy, not an append bug.)"""
    import os as _os

    import numpy as _np
    import pandas as _pd

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ivf_append,
        ivf_assign_full,
        ivf_probe_indexed,
        ivf_train_centroids,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    C = ivf_train_centroids(emb, n_cells=8, cache_key=str(tmp_path))

    src = tmp_path / "emb_stream"
    ed = src / "embeddings.parquet"
    ed.mkdir(parents=True)
    pdf = _pd.read_parquet(_os.path.join(SF_SMOKE, "embeddings.parquet"))
    n = len(pdf)
    for i, (lo, hi) in enumerate([(0, n // 3), (n // 3, 2 * n // 3),
                                  (2 * n // 3, n)]):
        p = str(ed / f"part-{i}.parquet")
        pdf.iloc[lo:hi].to_parquet(p, index=False)
        _os.utime(p, (1_000_000_000 + 60 * i,) * 2)

    idx = str(tmp_path / "grown_idx")
    schema = spark.read.parquet(str(ed)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(ed))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda bdf, bid: ivf_append(bdf, idx, C)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    oneshot = str(tmp_path / "oneshot_idx")
    ivf_assign_full(emb, C).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(oneshot)

    a = spark.read.parquet(idx).select("vec_id", "cell")
    b = spark.read.parquet(oneshot).select("vec_id", "cell")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    qv = _np.asarray(
        emb.where("vec_id = 0").select("embedding").first()[0],
        dtype=_np.float64,
    )
    got = [tuple(r) for r in ivf_probe_indexed(
        spark, idx, C, qv, k=5, nprobe=3, exclude_id=0).collect()]
    ref = [tuple(r) for r in ivf_probe_indexed(
        spark, oneshot, C, qv, k=5, nprobe=3, exclude_id=0).collect()]
    assert got == ref

def test_stream_ivf_ingest_per_batch_drift_monitoring(spark, tmp_path):
    """Drift monitoring composed INTO the streaming ingest path (r12;
    r13: MANIFEST-ONLY): each foreachBatch micro-batch is scored by
    ivf_drift_check_batch against the reference STORED IN THE INDEX
    MANIFEST — centroids, ref_mean and the per-index σ all come off the
    path; the resident corpus is never read per batch (the |batch|-cost
    contract a 100 TB monitor needs; zero-resident-read pinned
    behaviorally in tests/test_layouts.py). The append, too, resolves
    its quantizer from the path alone. Over a 3-file stream of two
    in-distribution slices and one deliberately-shifted file, exactly
    the shifted batch must flag. This is the operational answer to
    'when do I retrain' AT the ingest point, not in a nightly job."""
    import os as _os

    import numpy as _np
    import pandas as _pd

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ivf_append,
        ivf_drift_check_batch,
        ivf_manifest,
        ivf_train_centroids,
        write_index_manifest,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    C = ivf_train_centroids(emb, n_cells=16, cache_key=str(tmp_path), dim=64)

    src = tmp_path / "emb_stream"
    ed = src / "embeddings.parquet"
    ed.mkdir(parents=True)
    pdf = _pd.read_parquet(_os.path.join(SF_SMOKE, "embeddings.parquet"))
    n = len(pdf)
    u = _np.ones(64) / _np.sqrt(64)

    def write_part(i, part, shift=False):
        part = part.copy()
        if shift:
            V = _np.stack([_np.asarray(v, dtype=_np.float64)
                           for v in part["embedding"]])
            V = V + 2.0 * u
            V /= _np.linalg.norm(V, axis=1, keepdims=True)
            part["embedding"] = [r.astype(_np.float32) for r in V]
            part["vec_id"] = part["vec_id"] + 50_000
        p = str(ed / f"part-{i}.parquet")
        part.to_parquet(p, index=False)
        _os.utime(p, (1_000_000_000 + 60 * i,) * 2)

    write_part(0, pdf.iloc[: n // 3])
    write_part(1, pdf.iloc[n // 3: 2 * n // 3])
    write_part(2, pdf.iloc[2 * n // 3:], shift=True)

    idx = str(tmp_path / "idx")
    write_index_manifest(spark, idx, ivf_manifest(emb, C, dim=64,
                                                  n_cells=16, seed=42))
    seen: list[tuple[int, bool, int]] = []

    def append_with_monitoring(bdf, bid):
        _st, flag = ivf_drift_check_batch(bdf, idx)  # manifest-only
        seen.append(
            (bid, flag, bdf.agg({"vec_id": "min"}).first()[0])
        )
        ivf_append(bdf, f"{idx}/ingest_batch={bid}", None, dim=64,
                   mode="overwrite")

    schema = spark.read.parquet(str(ed)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(ed))
    )
    q = (
        stream.writeStream.foreachBatch(append_with_monitoring)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    assert len(seen) == 3
    flagged = {min_id >= 50_000 for _, flag, min_id in seen if flag}
    unflagged = {min_id >= 50_000 for _, flag, min_id in seen if not flag}
    assert flagged == {True}, seen     # exactly the shifted file flags
    assert unflagged == {False}, seen  # both in-dist slices stay quiet
    # and every batch (flagged or not) landed idempotently in the index
    assert spark.read.parquet(idx).count() == n


def test_stream_lsh_ingest_key_recall_and_schema(spark):
    """The r13 stream_lsh_ingest key (VERDICT r12 next #5): streaming
    postings ingest → path-only probe → derived recall verdict. The
    key must return the exact top-10 with the verdict column pinned 1
    (16×8-bit tables clear the ≥5/10 floor on this fixture — same
    measured contract as knn_lsh_indexed)."""
    from dask_hivemetastore_spark import plans
    from .conftest import SF_SMOKE

    rows = plans.QUERIES["stream_lsh_ingest"](spark, SF_SMOKE).collect()
    assert len(rows) == 10
    assert all(r.lsh_recall_floor_met == 1 for r in rows)
    assert [type(r.vec_id) for r in rows]  # schema sanity: scalar cols


def test_stream_lsh_grown_content_identical_to_oneshot(spark, tmp_path):
    """Stream-grown LSH postings (manifest first, batch-keyed subdir
    appends — the stream_lsh_ingest mechanism) are CONTENT-IDENTICAL
    to a one-shot lsh_build_index over the union — hashing is a pure
    seeded function, so ingest history cannot change index content —
    and the path-only probe returns the same rows from either."""
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        lsh_append,
        lsh_build_index,
        lsh_manifest,
        lsh_probe_indexed,
        write_index_manifest,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    oneshot = str(tmp_path / "oneshot")
    grown = str(tmp_path / "grown")
    lsh_build_index(emb, oneshot, dim=64, bits=8, n_tables=4)
    write_index_manifest(spark, grown, lsh_manifest(dim=64, bits=8,
                                                    n_tables=4))
    for bid, parity in enumerate((0, 1)):
        lsh_append(emb.where(F.col("vec_id") % 2 == parity), grown,
                   subdir=f"ingest_batch={bid}", mode="overwrite")

    def postings(path):
        return {(r.table, r.bucket, r.vec_id)
                for r in spark.read.parquet(path)
                .select("table", "bucket", "vec_id").collect()}

    assert postings(grown) == postings(oneshot)  # bounded: 2k rows
    pg = [tuple(r) for r in lsh_probe_indexed(
        emb, grown, query_id=0, k=10).collect()]
    po = [tuple(r) for r in lsh_probe_indexed(
        emb, oneshot, query_id=0, k=10).collect()]
    assert pg == po and len(pg) == 10
