"""Layout-matrix regression tests for events.parquet physical layouts.

Round 2 lost its entire bench (rc=1) and 17 correctness rows when the driver
regenerated events.parquet as TIMESTAMP(MICROS) while the catalog assumed
TIMESTAMP(NANOS)+nanosAsLong. These tests write the SAME tiny events fixture
in BOTH layouts and drive the full adaptation surface over each —
``catalog.load_table``, a batch window plan, and the streaming reader — so
the next testdata regeneration (micros-with-tz, int96, back to nanos) fails
a unit test here instead of failing the round.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql.types import LongType, TimestampNTZType

N_ROWS = 48
BASE = dt.datetime(2024, 3, 1, 0, 0, 0)


def _events_arrays():
    """One fixture, µs-precision wall-clock values (lossless in both layouts)."""
    ts = [BASE + dt.timedelta(minutes=7 * i, microseconds=123456 * i) for i in range(N_ROWS)]
    return {
        "event_id": list(range(N_ROWS)),
        "ts": ts,
        "user_id": [i % 5 for i in range(N_ROWS)],
        "event_type": ["click" if i % 3 else "view" for i in range(N_ROWS)],
        "value": [round(0.5 * i, 2) for i in range(N_ROWS)],
        "props": ['{"k":%d}' % i for i in range(N_ROWS)],
    }


def _write_layout(dirpath: str, unit: str) -> str:
    """Write events.parquet with ts as timestamp[unit] (us → TIMESTAMP(MICROS),
    ns → TIMESTAMP(NANOS); parquet format version 2.6 keeps nanos as nanos)."""
    cols = _events_arrays()
    table = pa.table(
        {
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": pa.array(cols["ts"], pa.timestamp(unit)),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(cols["event_type"], pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
            "props": pa.array(cols["props"], pa.string()),
        }
    )
    os.makedirs(dirpath, exist_ok=True)
    path = os.path.join(dirpath, "events.parquet")
    pq.write_table(table, path, version="2.6")
    return dirpath


@pytest.fixture(scope="module")
def layout_dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("events_layouts")
    return {
        "micros": _write_layout(str(root / "micros"), "us"),
        "nanos": _write_layout(str(root / "nanos"), "ns"),
    }


def test_physical_layouts_differ_as_intended(layout_dirs, spark):
    """Sanity: the fixtures really exercise both branches of the adapter."""
    from dask_hivemetastore_spark.catalog import events_ts_is_long

    raw_us = spark.read.parquet(f"{layout_dirs['micros']}/events.parquet")
    raw_ns = spark.read.parquet(f"{layout_dirs['nanos']}/events.parquet")
    assert not events_ts_is_long(raw_us)  # native timestamp branch
    assert events_ts_is_long(raw_ns)  # bigint-nanos branch (nanosAsLong)


def test_load_table_normalizes_both_layouts(layout_dirs, spark):
    """load_table exposes identical TIMESTAMP_NTZ µs values for both layouts."""
    from dask_hivemetastore_spark.catalog import load_table

    frames = {k: load_table(spark, d, "events") for k, d in layout_dirs.items()}
    for name, df in frames.items():
        assert isinstance(df.schema["ts"].dataType, TimestampNTZType), name
        assert not isinstance(df.schema["ts"].dataType, LongType), name
    rows_us = sorted(frames["micros"].collect(), key=lambda r: r.event_id)
    rows_ns = sorted(frames["nanos"].collect(), key=lambda r: r.event_id)
    assert rows_us == rows_ns
    assert rows_us[1].ts == BASE + dt.timedelta(minutes=7, microseconds=123456)


def test_window_plan_identical_across_layouts(layout_dirs, spark):
    """A real registered plan (rolling time window, derives unix_micros(ts))
    returns byte-identical results over both physical layouts."""
    from dask_hivemetastore_spark.plans.windows import rolling_1h_events

    out = {
        k: sorted(rolling_1h_events(spark, d).collect(), key=lambda r: r.event_id)
        for k, d in layout_dirs.items()
    }
    assert out["micros"] == out["nanos"]
    assert len(out["micros"]) == N_ROWS


def test_tumbling_plan_identical_across_layouts(layout_dirs, spark):
    from dask_hivemetastore_spark.plans.events import events_tumbling_1h

    out = {
        k: sorted(map(tuple, events_tumbling_1h(spark, d).collect()))
        for k, d in layout_dirs.items()
    }
    assert out["micros"] == out["nanos"]
    assert len(out["micros"]) > 0


def test_streaming_reader_identical_across_layouts(layout_dirs, spark):
    """read_events_stream drains to the same rows for both layouts."""
    from dask_hivemetastore_spark.streaming.pipeline import (
        read_events_stream,
        run_to_memory,
    )

    out = {}
    for k, d in layout_dirs.items():
        batch = run_to_memory(read_events_stream(spark, d), f"layout_{k}", "append")
        out[k] = sorted(batch.collect(), key=lambda r: r.event_id)
    assert out["micros"] == out["nanos"]
    assert len(out["micros"]) == N_ROWS


def test_ivf_append_content_identical_to_rebuild(spark, tmp_path):
    """r11 incremental IVF maintenance: an index grown by ivf_append
    batches against FIXED centroids must be content-identical (every
    row, including its cell assignment) to a one-shot ivf_build_index
    over the union — assignment is a pure function of (vector,
    centroids), so ingest history cannot leak into the index. Also pins
    that the appended layout stays partition-prunable: the probe scan
    lists only the probed cell directories."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ivf_append,
        ivf_assign_full,
        ivf_build_index,
        ivf_probe_indexed,
        ivf_train_centroids,
    )
    from pyspark.sql import functions as F
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    C = ivf_train_centroids(emb, n_cells=8, cache_key=str(tmp_path))

    grown = str(tmp_path / "grown")
    ivf_assign_full(emb.where(F.col("vec_id") % 2 == 0), C).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(grown)
    for parity in (1, 3):
        ivf_append(emb.where(F.col("vec_id") % 4 == parity), grown, C)

    oneshot = str(tmp_path / "oneshot")
    ivf_build_index(emb, oneshot, n_cells=8, cache_key=str(tmp_path))

    a = spark.read.parquet(grown).select("vec_id", "cell")
    b = spark.read.parquet(oneshot).select("vec_id", "cell")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.count() == b.count()

    qv = emb.where("vec_id = 0").select("embedding").first()[0]
    top = ivf_probe_indexed(spark, grown, C, qv, k=5, nprobe=3, exclude_id=0)
    plan = spark._jvm.PythonSQLUtils.explainString(
        top._jdf.queryExecution(), "formatted"
    )
    part_filters = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "cell" in part_filters, plan
    ref = ivf_probe_indexed(spark, oneshot, C, qv, k=5, nprobe=3,
                            exclude_id=0)
    assert [tuple(r) for r in top.collect()] == [tuple(r) for r in ref.collect()]


def test_ivf_hot_cell_compaction_preserves_probe(spark, tmp_path):
    """The maintenance pair the r11 append docstrings promise: appends
    accumulate small files per cell directory, and the partition-scoped
    compactor (OPTIMIZE ... WHERE cell=k) must rewrite a hot cell
    in-place — fewer files, byte-identical rows — without touching
    other cells or changing any probe answer."""
    import os as _os

    import numpy as _np

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.layout import compact_partitions
    from dask_hivemetastore_spark.operators.similarity import (
        ivf_append,
        ivf_assign_full,
        ivf_probe_indexed,
        ivf_train_centroids,
    )
    from pyspark.sql import functions as F
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    C = ivf_train_centroids(emb, n_cells=4, cache_key=str(tmp_path))
    idx = str(tmp_path / "hot_idx")
    ivf_assign_full(emb.where(F.col("vec_id") % 4 == 0), C).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(idx)
    for parity in (1, 2, 3):  # three appends -> several files per cell
        ivf_append(emb.where(F.col("vec_id") % 4 == parity), idx, C)

    qv = _np.asarray(
        emb.where("vec_id = 0").select("embedding").first()[0],
        dtype=_np.float64,
    )
    hot = int((C @ qv).argmax())
    before = [tuple(r) for r in ivf_probe_indexed(
        spark, idx, C, qv, k=5, nprobe=2, exclude_id=0).collect()]

    def _nfiles(cell: int) -> int:
        d = _os.path.join(idx, f"cell={cell}")
        return len([f for f in _os.listdir(d) if f.endswith(".parquet")])

    n_before = _nfiles(hot)
    assert n_before >= 3  # the appends really fragmented the hot cell
    other = next(c for c in range(4) if c != hot and
                 _os.path.isdir(_os.path.join(idx, f"cell={c}")))
    other_files = sorted(_os.listdir(_os.path.join(idx, f"cell={other}")))

    stats = compact_partitions(spark, idx, {"cell": hot})
    assert stats["n_files_out"] < stats["n_files_in"] == n_before

    # untouched sibling cell keeps its exact file listing
    assert sorted(_os.listdir(_os.path.join(idx, f"cell={other}"))) \
        == other_files
    after = [tuple(r) for r in ivf_probe_indexed(
        spark, idx, C, qv, k=5, nprobe=2, exclude_id=0).collect()]
    assert after == before


# --------------------------- r13: ANN index manifests (VERDICT r12 #2)


def test_ivf_manifest_path_only_probe_and_append(spark, tmp_path):
    """The r13 self-describing index: after ivf_build_index writes the
    manifest, probe and append need ONLY the path — centroids=None
    resolves from the manifest and the answers are identical to the
    explicit-centroids calls. An explicit dim that contradicts the
    manifest fails loudly (a wrong-dim append would corrupt the
    index)."""
    import numpy as _np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ivf_append,
        ivf_build_index,
        ivf_probe_indexed,
        read_index_manifest,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "ivf_m")
    C = ivf_build_index(emb.where(F.col("vec_id") % 2 == 0), idx,
                        n_cells=8, cache_key=str(tmp_path), dim=64)

    m = read_index_manifest(spark, idx)
    assert m["kind"] == "ivf" and m["dim"] == 64 and m["n_cells"] == 8
    assert _np.allclose(_np.asarray(m["centroids"]), C)  # exact JSON trip
    assert m["drift"]["n"] > 0 and m["drift"]["ref_sigma"] > 0

    # path-only append (the batch-keyed-subdir parent walk is exercised
    # by the streaming monitor test; a built index grows at its root —
    # cell=* siblings must stay the only partition column there)
    ivf_append(emb.where(F.col("vec_id") % 2 == 1), idx, None, dim=64)

    qv = _np.asarray(
        emb.where("vec_id = 0").select("embedding").first()[0],
        dtype=_np.float64,
    )
    explicit = [tuple(r) for r in ivf_probe_indexed(
        spark, idx, C, qv, k=5, nprobe=4, exclude_id=0).collect()]
    path_only = [tuple(r) for r in ivf_probe_indexed(
        spark, idx, None, qv, k=5, nprobe=4, exclude_id=0).collect()]
    assert explicit == path_only and len(explicit) == 5

    with pytest.raises(ValueError, match="manifest mismatch"):
        ivf_append(emb.limit(1), idx, None, dim=32)


def test_ivf_drift_check_batch_reads_zero_resident_rows(spark, tmp_path):
    """THE manifest pin (VERDICT r12 next #2 done-condition): the
    per-batch drift monitor runs against the manifest's stored
    reference with ZERO resident-corpus reads. Pinned behaviorally —
    stronger than a scan-metrics assertion: the resident index data
    AND the source table are DELETED after the build, and the monitor
    still answers (control quiet, shifted flags), which is impossible
    if any code path re-scans resident rows."""
    import shutil

    import numpy as _np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ivf_build_index,
        ivf_drift_check_batch,
        shift_vectors,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "ivf_drift")
    ivf_build_index(emb, idx, n_cells=16, cache_key=str(tmp_path), dim=64)

    # materialize the batches to their own files, then DELETE every
    # resident row the monitor could possibly re-scan
    ctrl_p = str(tmp_path / "ctrl.parquet")
    shift_p = str(tmp_path / "shift.parquet")
    ctrl = emb.where(F.col("vec_id") % 10 == 0)
    ctrl.write.parquet(ctrl_p)
    shift_vectors(ctrl, alpha=2.0, dim=64).write.parquet(shift_p)
    for child in os.listdir(idx):
        if child.startswith("cell="):
            shutil.rmtree(os.path.join(idx, child))
    assert not [c for c in os.listdir(idx) if c.startswith("cell=")]

    st_c, flag_c = ivf_drift_check_batch(spark.read.parquet(ctrl_p), idx)
    st_s, flag_s = ivf_drift_check_batch(spark.read.parquet(shift_p), idx)
    assert not flag_c and st_c[2] > 0
    assert flag_s and st_s[2] == st_c[2]  # shift preserves eligibility


def test_lsh_manifest_path_only_and_mismatch_raises(spark, tmp_path):
    """LSH manifest (r13 advisor): the postings layout stores its
    (dim, bits, n_tables, seed) — a probe with the path ALONE resolves
    them and matches the fully-explicit call; an append or probe whose
    explicit parameters contradict the build's fails loudly instead of
    silently corrupting the index / degrading recall."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        lsh_append,
        lsh_build_index,
        lsh_probe_indexed,
        read_index_manifest,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "lsh_m")
    lsh_build_index(emb, idx, dim=64, bits=8, n_tables=4, seed=42)
    m = read_index_manifest(spark, idx)
    assert (m["kind"], m["dim"], m["bits"], m["n_tables"], m["seed"]) == \
        ("lsh", 64, 8, 4, 42)
    assert m["quantized"] is True

    explicit = [tuple(r) for r in lsh_probe_indexed(
        emb, idx, query_id=0, dim=64, bits=8, n_tables=4, k=10,
        seed=42).collect()]
    path_only = [tuple(r) for r in lsh_probe_indexed(
        emb, idx, query_id=0, k=10).collect()]
    assert explicit == path_only and len(explicit) > 0

    with pytest.raises(ValueError, match="manifest mismatch"):
        lsh_probe_indexed(emb, idx, query_id=0, bits=12, k=10)
    with pytest.raises(ValueError, match="manifest mismatch"):
        lsh_append(emb.limit(1), idx, seed=7)
    with pytest.raises(ValueError, match="manifest mismatch"):
        lsh_append(emb.limit(1), idx, n_tables=16)


@pytest.mark.parametrize("kind", ["lsh", "ivf", "ivfpq"])
def test_path_only_append_and_probe_on_custom_column_names(
        spark, tmp_path, kind):
    """An index built with custom id and vector column names appends and
    probes by path alone: both columns come from its manifest, so the
    answers are the default-named index's with the columns renamed."""
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators import similarity as S
    from .conftest import SF_SMOKE

    build, append, probe = {
        "lsh": (lambda e, p, **c: S.lsh_build_index(
                    e, p, dim=64, bits=8, n_tables=4, **c),
                S.lsh_append, S.lsh_probe_indexed_batch),
        "ivf": (lambda e, p, **c: S.ivf_build_index(
                    e, p, n_cells=8, dim=64, int8_cols=True, **c),
                S.ivf_append, S.ivf_probe_indexed_batch),
        "ivfpq": (lambda e, p, **c: S.ivfpq_build_index(
                      e, p, n_cells=8, m=8, ksub=16, dim=64, **c),
                  S.ivfpq_append, S.ivfpq_probe_indexed_batch),
    }[kind]
    emb = load_table(spark, SF_SMOKE, "embeddings")
    custom = emb.withColumnRenamed("vec_id", "doc_id") \
        .withColumnRenamed("embedding", "emb")
    answers = []
    for name, corpus, cols in (
            ("default", emb, {}),
            ("custom", custom, {"id_col": "doc_id", "vec_col": "emb"})):
        idx = str(tmp_path / name)
        id_col = cols.get("id_col", "vec_id")
        build(corpus.where(F.col(id_col) % 2 == 0), idx, **cols)
        append(corpus.where(F.col(id_col) % 2 == 1), idx)
        out = probe(corpus, idx, [0, 5, 17], k=5)
        answers.append((out.columns, [tuple(r) for r in out.collect()]))
    (want_cols, want), (got_cols, got) = answers
    assert got_cols == ["doc_id" if c == "vec_id" else c for c in want_cols]
    assert got == want and len(got) == 15


def test_lsh_probe_int8_screen_identical_to_float(spark, tmp_path):
    """The r13 INT8 rescore (VERDICT r12 next #4): the screened probe
    (dequantized-dot shortlist + exact float rerank) must return the
    EXACT same rows as the all-float rescore and the inline lsh_topk —
    the screen only prunes, the shortlist margin absorbs the bounded
    INT8 reconstruction error, and every returned cosine is the same
    JVM fold."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        lsh_build_index,
        lsh_probe_indexed,
        lsh_topk,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "lsh_q")
    lsh_build_index(emb, idx, dim=64, bits=8, n_tables=16)
    int8 = [tuple(r) for r in lsh_probe_indexed(
        emb, idx, query_id=0, k=10, rescore="int8").collect()]
    flt = [tuple(r) for r in lsh_probe_indexed(
        emb, idx, query_id=0, k=10, rescore="float").collect()]
    inline = [(r.vec_id, r.cosine) for r in lsh_topk(
        emb, 0, k=10, bits=8, dim=64, n_tables=16).collect()]
    assert int8 == flt == inline and len(int8) == 10


def test_lsh_append_subdir_replay_idempotent(spark, tmp_path):
    """lsh_append's batch-keyed at-least-once contract (r13, the
    stream_lsh_ingest mechanism): an APPEND-ONLY index (manifest
    written first, every batch under its own ``ingest_batch=<id>``
    subdirectory — a root never mixes built ``table=*`` dirs with
    batch subdirs, which breaks partition discovery) where a REPLAYED
    subdir append with mode=overwrite leaves BOTH stores — postings
    and the INT8 sidecar — content-identical (row counts and probe
    answer), where a plain re-append would duplicate every row."""
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        lsh_append,
        lsh_manifest,
        lsh_probe_indexed,
        write_index_manifest,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "lsh_replay")
    write_index_manifest(spark, idx, lsh_manifest(dim=64, bits=8,
                                                  n_tables=4))
    # every batch keyed to its own subdir; config comes off the manifest
    lsh_append(emb.where(F.col("vec_id") % 2 == 0), idx,
               subdir="ingest_batch=0", mode="overwrite")
    batch = emb.where(F.col("vec_id") % 2 == 1)

    def counts():
        post = spark.read.parquet(idx).count()
        q = spark.read.parquet(f"{idx}/_quantized").count()
        return post, q

    lsh_append(batch, idx, subdir="ingest_batch=1", mode="overwrite")
    first = counts()
    top_first = [tuple(r) for r in lsh_probe_indexed(
        emb, idx, query_id=0, k=10).collect()]
    # the replay: same batch id, same rows, at-least-once redelivery
    lsh_append(batch, idx, subdir="ingest_batch=1", mode="overwrite")
    assert counts() == first
    top_replay = [tuple(r) for r in lsh_probe_indexed(
        emb, idx, query_id=0, k=10).collect()]
    assert top_replay == top_first and len(top_first) == 10


def test_ivf_int8_screened_probe_identical_and_schema_uniform(spark,
                                                              tmp_path):
    """The r13 opt-in IVF INT8 screen (the LSH sidecar's twin, carried
    as columns on the index rows): a probe over an int8_cols index must
    return EXACTLY the float path's rows (screen only prunes; shortlist
    absorbs the bounded reconstruction error); appends follow the
    manifest so the grown index keeps the uniform (…, scale, qvec)
    schema; and the int8 probe's exact-rescore scan carries BOTH the
    cell PartitionFilters and the pushed In(vec_id, …) shortlist
    filter — the plan-level bytes evidence."""
    import numpy as _np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ivf_append,
        ivf_build_index,
        ivf_probe_indexed,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    plain = str(tmp_path / "ivf_plain")
    coded = str(tmp_path / "ivf_int8")
    C = ivf_build_index(emb, plain, n_cells=8,
                        cache_key=str(tmp_path), dim=64)
    ivf_build_index(emb.where(F.col("vec_id") % 2 == 0), coded, n_cells=8,
                    cache_key=str(tmp_path), dim=64, int8_cols=True)
    # append follows the manifest: no int8_cols argument, schema uniform
    ivf_append(emb.where(F.col("vec_id") % 2 == 1), coded, None, dim=64)
    grown = spark.read.parquet(coded)
    assert "qvec" in grown.columns and "scale" in grown.columns
    assert grown.where(F.col("qvec").isNull()).count() == 0

    qv = _np.asarray(
        emb.where("vec_id = 0").select("embedding").first()[0],
        dtype=_np.float64,
    )
    ref = [tuple(r) for r in ivf_probe_indexed(
        spark, plain, C, qv, k=10, nprobe=8, exclude_id=0).collect()]
    flt = [tuple(r) for r in ivf_probe_indexed(
        spark, coded, None, qv, k=10, nprobe=8, exclude_id=0,
        rescore="float").collect()]
    i8 = [tuple(r) for r in ivf_probe_indexed(
        spark, coded, None, qv, k=10, nprobe=8, exclude_id=0).collect()]
    assert ref == flt == i8 and len(ref) == 10  # auto detected the codes

    df8 = ivf_probe_indexed(spark, coded, None, qv, k=10, nprobe=8,
                            exclude_id=0, rescore="int8")
    plan = df8._jdf.queryExecution().executedPlan().toString()
    scan = next(line for line in plan.split("\n")
                if "FileScan" in line and "embedding" in line)
    assert "In(vec_id" in scan.split("PushedFilters:")[1]
    assert "cell#" in scan.split("PartitionFilters:")[1].split("]")[0]


def test_lsh_batch_probe_identical_to_single_probes(spark, tmp_path):
    """The r13 batched postings probe (one scan for Q queries,
    knn_lsh_join's engine): per-query rows must be IDENTICAL to Q
    independent single-query probes at the same config — same planes,
    same candidates (coarse pushed filter + broadcast pair match),
    same INT8 screen, same exact scores. Also pins the no-answer
    contract: a corrupt/absent query id contributes zero rows without
    disturbing the others."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        lsh_build_index,
        lsh_probe_indexed,
        lsh_probe_indexed_batch,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "lsh_batch")
    lsh_build_index(emb, idx, dim=64, bits=8, n_tables=8)
    qids = [0, 1, 2, 3, -999]  # -999: absent -> no rows for it
    per_q: dict[int, list] = {}
    for r in lsh_probe_indexed_batch(emb, idx, qids, k=5).collect():
        per_q.setdefault(r.q_id, []).append((r.vec_id, r.cosine))
    assert -999 not in per_q
    assert set(per_q) == {0, 1, 2, 3}
    for q in (0, 1, 2, 3):
        single = [(r.vec_id, r.cosine) for r in lsh_probe_indexed(
            emb, idx, query_id=q, k=5).collect()]
        assert per_q[q] == single and len(single) == 5, q
    # float-rescore arm agrees too (screen only prunes)
    per_qf: dict[int, list] = {}
    for r in lsh_probe_indexed_batch(emb, idx, [0, 1], k=5,
                                     rescore="float").collect():
        per_qf.setdefault(r.q_id, []).append((r.vec_id, r.cosine))
    assert per_qf[0] == per_q[0] and per_qf[1] == per_q[1]


def test_ann_index_compact_lsh_identity_files_and_probe(spark, tmp_path):
    """ann_index_compact on an LSH postings index grown by appends
    (r13): the rewrite (a) strictly reduces data files, (b) preserves
    postings content exactly (identical to a one-shot build over the
    union), (c) keeps the manifest (the post-compaction probe runs
    path-only) and folds the INT8 sidecar's qbatch labels into one,
    and (d) leaves the probe answer identical."""
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_compact,
        lsh_append,
        lsh_build_index,
        lsh_probe_indexed,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "grown")
    ref = str(tmp_path / "oneshot")
    lsh_build_index(emb.where(F.col("vec_id") % 2 == 0), idx,
                    dim=64, bits=8, n_tables=4)
    lsh_append(emb.where(F.col("vec_id") % 2 == 1), idx)
    top_before = [tuple(r) for r in lsh_probe_indexed(
        emb, idx, query_id=0, k=10).collect()]

    stats = ann_index_compact(spark, idx)
    assert stats["kind"] == "lsh"
    assert stats["n_files_out"] < stats["n_files_in"]

    lsh_build_index(emb, ref, dim=64, bits=8, n_tables=4)
    got = spark.read.parquet(idx).select("table", "bucket", "vec_id")
    want = spark.read.parquet(ref).select("table", "bucket", "vec_id")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # sidecar folded to the single compacted label, still INT8-probing
    qb = spark.read.parquet(f"{idx}/_quantized").select("qbatch").distinct()
    assert [r[0] for r in qb.collect()] == ["compacted"]
    top_after = [tuple(r) for r in lsh_probe_indexed(
        emb, idx, query_id=0, k=10).collect()]
    assert top_after == top_before and len(top_after) == 10


def test_ann_index_compact_ivf_folds_batch_dirs(spark, tmp_path):
    """ann_index_compact on a streaming-style IVF index (manifest-first,
    every batch under ingest_batch=<i>): the batch dirs are folded away
    (root becomes cell=* as if one-shot built), content equals a fresh
    full-corpus assignment, and the path-only probe answer is unchanged."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_compact,
        finite_vectors,
        ivf_append,
        ivf_assign_full,
        ivf_manifest,
        ivf_probe_indexed,
        ivf_train_centroids,
        write_index_manifest,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "ivf_stream")
    C = ivf_train_centroids(emb, n_cells=8, cache_key=SF_SMOKE + "_cmp",
                            dim=64)
    write_index_manifest(
        spark, idx,
        ivf_manifest(emb, C, dim=64, n_cells=8, seed=42,
                     drift_reference=False),
    )
    for b in range(3):
        ivf_append(emb.where(F.col("vec_id") % 3 == b),
                   f"{idx}/ingest_batch={b}", mode="overwrite")
    qv = np.asarray(
        finite_vectors(emb, "embedding", 64)
        .where(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )
    top_before = [tuple(r) for r in ivf_probe_indexed(
        spark, idx, None, qv, k=10, nprobe=4, exclude_id=0).collect()]

    stats = ann_index_compact(spark, idx)
    assert stats["kind"] == "ivf"
    assert stats["n_batch_dirs_folded"] == 3
    assert stats["n_files_out"] < stats["n_files_in"]

    root_cols = spark.read.parquet(idx).columns
    assert "ingest_batch" not in root_cols

    got = spark.read.parquet(idx).select("cell", "vec_id")
    want = ivf_assign_full(emb, C, "embedding", dim=64).select(
        "cell", "vec_id")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    top_after = [tuple(r) for r in ivf_probe_indexed(
        spark, idx, None, qv, k=10, nprobe=4, exclude_id=0).collect()]
    assert top_after == top_before and len(top_after) == 10


def test_ann_index_compact_requires_manifest(spark, tmp_path):
    """Only self-describing indexes compact by path — a bare parquet
    directory (no manifest) fails loudly instead of guessing a layout."""
    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_compact,
    )

    p = str(tmp_path / "bare")
    spark.range(10).write.parquet(p)
    with pytest.raises(ValueError, match="no manifest"):
        ann_index_compact(spark, p)


def test_rrf_fuse_hand_computed(spark):
    """rrf_fuse equals the textbook formula on a hand-checkable case:
    contributions 1/(k0+rank) summed per id, n_arms = retriever
    agreement."""
    from dask_hivemetastore_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "id long, rank int")
    b = spark.createDataFrame(
        [(2, 1), (4, 2)], "id long, rank int")
    out = {r["id"]: (r["rrf_raw"], r["n_arms"])
           for r in rrf_fuse([a, b], "id", k0=60).collect()}
    assert out[1] == (1 / 61, 1)
    assert out[3] == (1 / 63, 1)
    assert out[4] == (1 / 62, 1)
    rrf2, n2 = out[2]
    assert n2 == 2 and abs(rrf2 - (1 / 62 + 1 / 61)) < 1e-15


def test_ivf_batch_probe_identical_to_single_probes(spark, tmp_path):
    """ivf_probe_indexed_batch (r13) returns, per query, EXACTLY the
    single-probe answer at the same config — float layout and INT8
    layout (screened rescore) both — and absent/corrupt query ids
    contribute no rows."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        finite_vectors,
        ivf_build_index,
        ivf_probe_indexed,
        ivf_probe_indexed_batch,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qids = [0, 3, 7, 123456]  # last id absent from the corpus

    def qvec(qid):
        row = (
            finite_vectors(emb, "embedding", 64)
            .where(F.col("vec_id") == qid).select("embedding").first()
        )
        return None if row is None else np.asarray(row[0], np.float64)

    for int8 in (False, True):
        idx = str(tmp_path / f"ivf_{int8}")
        ivf_build_index(emb, idx, n_cells=8, cache_key=SF_SMOKE + "_b",
                        dim=64, drift_reference=False, int8_cols=int8)
        batch = ivf_probe_indexed_batch(
            emb, idx, qids, k=5, nprobe=4, dim=64)
        got: dict[int, list] = {}
        for r in batch.collect():
            got.setdefault(r.q_id, []).append(
                (r.vec_id, r.label, r.cosine))
        assert 123456 not in got
        for qid in (0, 3, 7):
            single = [
                (r.vec_id, r.label, r.cosine)
                for r in ivf_probe_indexed(
                    spark, idx, None, qvec(qid), k=5, nprobe=4,
                    exclude_id=qid).collect()
            ]
            assert sorted(got[qid]) == sorted(single), (int8, qid)
            assert len(single) == 5


def test_probe_row_filter_prefilter_semantics(spark, tmp_path):
    """row_filter (r13) on both index probes is a PRE-filter: the top-k
    ranks inside the predicate-restricted candidate set. Pins:
    - LSH: filtered probe (int8 AND float arms) == inline lsh_topk over
      the pre-filtered corpus with the query row retained;
    - IVF at nprobe=n_cells: filtered probe == brute knn_topk over the
      filtered corpus (exact, since every cell is probed);
    - the filter never returns a predicate-failing id, and a query row
      OUTSIDE the predicate still answers."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        finite_vectors,
        ivf_build_index,
        ivf_probe_indexed,
        knn_topk,
        lsh_build_index,
        lsh_probe_indexed,
        lsh_topk,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    pred = (F.col("vec_id") % 3 == 1) | (F.col("vec_id") == 0)
    filtered = emb.where((F.col("vec_id") % 3 == 1) | (F.col("vec_id") == 0))

    # --- LSH: both rescore arms equal the inline filtered path
    lidx = str(tmp_path / "lshf")
    lsh_build_index(emb, lidx, dim=64, bits=8, n_tables=4)
    inline = [tuple(r) for r in lsh_topk(
        filtered, 0, k=10, dim=64, bits=8, n_tables=4).collect()]
    for arm in ("int8", "float"):
        got = [tuple(r) for r in lsh_probe_indexed(
            emb, lidx, query_id=0, k=10, rescore=arm,
            row_filter=pred).collect()]
        assert got == inline and len(got) == 10, arm
        assert all(vid % 3 == 1 for vid, _ in got), arm

    # --- IVF at nprobe=n_cells: exact on the filtered corpus
    iidx = str(tmp_path / "ivff")
    ivf_build_index(emb, iidx, n_cells=8, cache_key=SF_SMOKE + "_rf",
                    dim=64, drift_reference=False)
    qv = np.asarray(
        finite_vectors(emb, "embedding", 64)
        .where(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )
    got = [(r.vec_id, r.label, r.cosine) for r in ivf_probe_indexed(
        spark, iidx, None, qv, k=10, nprobe=8, exclude_id=0,
        row_filter=(F.col("vec_id") % 3 == 1)).collect()]
    brute = [(r.vec_id, r.label, r.cosine) for r in knn_topk(
        filtered, 0, k=10, dim=64).collect()]
    assert got == brute and len(got) == 10
    assert all(vid % 3 == 1 for vid, _, _ in got)

    # --- query outside the predicate still answers (query_id=0 is NOT
    # %3==1; all asserts above already ran with that query) — and a
    # strict predicate that EXCLUDES everything returns empty, not k
    # wrong rows
    empty = lsh_probe_indexed(
        emb, lidx, query_id=0, k=10,
        row_filter=F.col("vec_id") < 0).collect()
    assert empty == []


def test_batch_probe_row_filter_matches_single(spark, tmp_path):
    """row_filter on the BATCH probes (r13): per-query rows equal the
    single filtered probe at the same config, on both index families."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        finite_vectors,
        ivf_build_index,
        ivf_probe_indexed,
        ivf_probe_indexed_batch,
        lsh_build_index,
        lsh_probe_indexed,
        lsh_probe_indexed_batch,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    pred = F.col("vec_id") % 3 == 1
    qids = [0, 5]

    lidx = str(tmp_path / "lshbf")
    lsh_build_index(emb, lidx, dim=64, bits=8, n_tables=4)
    got: dict[int, set] = {}
    for r in lsh_probe_indexed_batch(
        emb, lidx, qids, k=5, row_filter=pred
    ).collect():
        got.setdefault(r.q_id, set()).add((r.vec_id, r.cosine))
    for qid in qids:
        single = {
            (r.vec_id, r.cosine)
            for r in lsh_probe_indexed(
                emb, lidx, query_id=qid, k=5, row_filter=pred).collect()
        }
        assert got.get(qid, set()) == single and len(single) == 5, qid

    iidx = str(tmp_path / "ivfbf")
    ivf_build_index(emb, iidx, n_cells=8, cache_key=SF_SMOKE + "_bf",
                    dim=64, drift_reference=False)
    got = {}
    for r in ivf_probe_indexed_batch(
        emb, iidx, qids, k=5, nprobe=4, dim=64, row_filter=pred
    ).collect():
        got.setdefault(r.q_id, set()).add((r.vec_id, r.cosine))
    for qid in qids:
        qv = np.asarray(
            finite_vectors(emb, "embedding", 64)
            .where(F.col("vec_id") == qid).select("embedding").first()[0],
            dtype=np.float64,
        )
        single = {
            (r.vec_id, r.cosine)
            for r in ivf_probe_indexed(
                spark, iidx, None, qv, k=5, nprobe=4, exclude_id=qid,
                row_filter=pred).collect()
        }
        assert got.get(qid, set()) == single and len(single) == 5, qid


def test_ann_index_compact_preserves_ivf_int8_columns(spark, tmp_path):
    """ann_index_compact on an int8_cols IVF layout: the in-row qvec /
    scale columns survive the rewrite (the rewrite projects all data
    columns, folding only ingest_batch) and the INT8-screened probe
    answers identically after compaction."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_compact,
        finite_vectors,
        ivf_append,
        ivf_build_index,
        ivf_probe_indexed,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "ivf_int8")
    ivf_build_index(emb.where(F.col("vec_id") % 2 == 0), idx, n_cells=8,
                    cache_key=SF_SMOKE + "_ci", dim=64,
                    drift_reference=False, int8_cols=True)
    # append follows the build's int8 schema automatically
    ivf_append(emb.where(F.col("vec_id") % 2 == 1), idx)
    qv = np.asarray(
        finite_vectors(emb, "embedding", 64)
        .where(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )
    before = [tuple(r) for r in ivf_probe_indexed(
        spark, idx, None, qv, k=10, nprobe=4, exclude_id=0,
        rescore="int8").collect()]
    stats = ann_index_compact(spark, idx)
    assert stats["n_files_out"] < stats["n_files_in"]
    cols = set(spark.read.parquet(idx).columns)
    assert {"qvec", "scale"} <= cols, cols
    after = [tuple(r) for r in ivf_probe_indexed(
        spark, idx, None, qv, k=10, nprobe=4, exclude_id=0,
        rescore="int8").collect()]
    assert after == before and len(after) == 10


# ---------------------------------------------------------------------------
# r14: append/compaction race detection (epoch protocol) + manifest
# centroid sidecar (VERDICT r13 missing #1/#2, r13 advisor items)
# ---------------------------------------------------------------------------


def _small_lsh_index(spark, tmp_path, name="race_idx"):
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import lsh_build_index
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / name)
    lsh_build_index(emb.where(F.col("vec_id") % 2 == 0), idx,
                    dim=64, bits=8, n_tables=2, quantized=False)
    return emb, idx


def test_compact_append_race_aborts_before_swap(spark, tmp_path):
    """The race r13 documented as 'silently LOST' is now caught with
    ZERO loss: an append completing between compaction's snapshot read
    and its swap (injected via the test hook) makes the compaction
    ABORT loudly, the old directories stay untouched (the racing rows
    are queryable), no staging/tombstone junk remains, and a re-run in
    a quiet window succeeds and includes the raced batch."""
    import os

    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_compact,
        lsh_append,
    )

    emb, idx = _small_lsh_index(spark, tmp_path)
    odd = emb.where(F.col("vec_id") % 2 == 1)

    def racing_append():
        lsh_append(odd, idx)

    with pytest.raises(RuntimeError, match="after the compaction snapshot"):
        ann_index_compact(spark, idx, _race_window_hook=racing_append)

    names = set(os.listdir(idx))
    assert not any(n.startswith("_tomb_") for n in names)
    assert not os.path.exists(f"{idx}__compact_stage")
    # no rows lost: the raced batch is present alongside the build
    n_all = spark.read.parquet(idx).select("vec_id").distinct().count()
    assert n_all == emb.select("vec_id").distinct().count()
    # quiet-window re-run consumes the marker and succeeds
    stats = ann_index_compact(spark, idx)
    assert stats["epoch"] == 1
    n_after = spark.read.parquet(idx).select("vec_id").distinct().count()
    assert n_after == n_all


def test_stale_append_marker_blocks_append_and_compact(spark, tmp_path):
    """A marker recording an append against an OLDER epoch (i.e. an
    append that overlapped a past compaction — its rows may be gone)
    turns every subsequent append AND compaction into a loud error
    until the operator clears the log."""
    import os

    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.operators.similarity import (
        _record_append_marker,
        ann_index_compact,
        lsh_append,
    )

    emb, idx = _small_lsh_index(spark, tmp_path, "stale_idx")
    stats = ann_index_compact(spark, idx)  # epoch 0 -> 1
    assert stats["epoch"] == 1

    _record_append_marker(spark, idx, 0)  # an append that targeted epoch 0
    odd = emb.where(F.col("vec_id") % 2 == 1)
    with pytest.raises(RuntimeError, match="race detected"):
        lsh_append(odd, idx)
    with pytest.raises(RuntimeError, match="race detected"):
        ann_index_compact(spark, idx)

    # operator clears the flag -> both operations work again
    log = f"{idx}/_append_log"
    for n in os.listdir(log):
        os.remove(f"{log}/{n}")
    lsh_append(odd, idx)
    stats2 = ann_index_compact(spark, idx)
    assert stats2["epoch"] == 2


def test_append_self_detects_concurrent_compaction(spark, tmp_path):
    """The append-side half of the protocol: after its writes land, an
    append re-reads the manifest — if the epoch moved underneath it
    (a compaction swapped directories mid-append) it raises at the
    earliest possible moment instead of returning success."""
    from dask_hivemetastore_spark.operators.similarity import (
        _commit_append_marker,
        read_index_manifest,
        write_index_manifest,
    )

    _, idx = _small_lsh_index(spark, tmp_path, "selfdetect_idx")
    m = dict(read_index_manifest(spark, idx))
    assert int(m.get("epoch", 0)) == 0
    m["epoch"] = 1  # a compaction finished while "our" append ran
    write_index_manifest(spark, idx, m)
    with pytest.raises(RuntimeError, match="epoch 0 .*now.*epoch 1"):
        _commit_append_marker(spark, idx, 0, "lsh_append")


def test_compact_leftover_tombstones_fail_fast(spark, tmp_path):
    """A crashed mid-swap compaction leaves _tomb_* dirs; the next
    compaction refuses to run over them (manual recovery keeps every
    original byte) instead of compounding the damage."""
    import os

    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_compact,
    )

    _, idx = _small_lsh_index(spark, tmp_path, "tomb_idx")
    os.makedirs(f"{idx}/_tomb_table=0")
    with pytest.raises(RuntimeError, match="tombstone"):
        ann_index_compact(spark, idx)


def test_compact_mixed_layout_build_plus_batch_dirs(spark, tmp_path):
    """r13 advisor: a root mixing one-shot build dirs (table=*) with
    batch-keyed append dirs (ingest_batch=*/table=*) — the documented
    at-least-once ingest shape — now compacts: each depth group reads
    under its own basePath and the union is rewritten; content equals
    a one-shot build over the union."""
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_compact,
        lsh_append,
        lsh_build_index,
    )
    from .conftest import SF_SMOKE

    emb, idx = _small_lsh_index(spark, tmp_path, "mixed_idx")
    odd = emb.where(F.col("vec_id") % 2 == 1)
    lsh_append(odd, idx, subdir="ingest_batch=1", mode="overwrite")

    stats = ann_index_compact(spark, idx)
    assert stats["n_batch_dirs_folded"] == 1

    ref = str(tmp_path / "mixed_ref")
    lsh_build_index(load_table(spark, SF_SMOKE, "embeddings"), ref,
                    dim=64, bits=8, n_tables=2, quantized=False)
    got = spark.read.parquet(idx).select("table", "bucket", "vec_id")
    want = spark.read.parquet(ref).select("table", "bucket", "vec_id")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_manifest_centroids_live_in_parquet_sidecar(spark, tmp_path):
    """r14 (VERDICT r13 missing #2): the manifest JSON carries a
    centroids_sidecar POINTER, not the centroid payload — the JSON
    stays a few hundred bytes at any n_cells x dim — and the lazy
    load returns exactly the built centroids. Legacy inline-centroid
    manifests still read."""
    import json as _json
    import os

    import numpy as np

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ivf_build_index,
        read_index_manifest,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "sidecar_idx")
    C = ivf_build_index(emb, idx, n_cells=8,
                        cache_key=SF_SMOKE + "_sc", dim=64,
                        drift_reference=False)

    raw = _json.loads(open(f"{idx}/_index_manifest/manifest.json").read())
    assert "centroids" not in raw
    # r17: generations are content-digest-named (never overwritten in
    # place — the commit-ordering fix for the r16 advisor's rollback bug)
    import re as _re
    assert _re.fullmatch(
        r"_index_manifest_centroids/centroids-[0-9a-f]{12}\.parquet",
        raw["centroids_sidecar"],
    )
    assert raw["epoch"] == 0
    assert os.path.getsize(
        f"{idx}/{raw['centroids_sidecar']}"
    ) > 0

    m = read_index_manifest(spark, idx)
    assert "centroids" in m  # __contains__ answers without loading
    got = np.asarray(m["centroids"], dtype=np.float64)
    assert got.shape == C.shape
    assert np.allclose(got, C)

    # legacy inline format still reads
    legacy = str(tmp_path / "legacy_idx")
    os.makedirs(f"{legacy}/_index_manifest")
    with open(f"{legacy}/_index_manifest/manifest.json", "w") as f:
        f.write(_json.dumps({"kind": "ivf", "dim": 64,
                             "centroids": C.tolist()}))
    lm = read_index_manifest(spark, legacy)
    assert np.allclose(np.asarray(lm["centroids"]), C)


def test_compact_epoch_bump_preserves_centroid_sidecar(spark, tmp_path):
    """ann_index_compact's epoch bump rewrites ONLY the manifest JSON:
    the centroid sidecar is untouched and the path-only probe still
    ranks identically afterwards."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_compact,
        finite_vectors,
        ivf_append,
        ivf_build_index,
        ivf_probe_indexed,
        read_index_manifest,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "bump_idx")
    C = ivf_build_index(emb.where(F.col("vec_id") % 2 == 0), idx,
                        n_cells=8, cache_key=SF_SMOKE + "_bump", dim=64,
                        drift_reference=False)
    ivf_append(emb.where(F.col("vec_id") % 2 == 1), idx)
    qv = np.asarray(
        finite_vectors(emb, "embedding", 64)
        .where(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )
    before = [tuple(r) for r in ivf_probe_indexed(
        spark, idx, None, qv, k=10, nprobe=4, exclude_id=0).collect()]
    stats = ann_index_compact(spark, idx)
    assert stats["epoch"] == 1
    m = read_index_manifest(spark, idx)
    assert int(m["epoch"]) == 1
    assert np.allclose(np.asarray(m["centroids"]), C)
    after = [tuple(r) for r in ivf_probe_indexed(
        spark, idx, None, qv, k=10, nprobe=4, exclude_id=0).collect()]
    assert after == before and len(after) == 10


def test_hybrid_fusion_identical_over_indexed_dense_arm(spark, tmp_path):
    """r14 (VERDICT r13 missing #4): the serving composition the hybrid
    keys document — dense arm served by the MATERIALIZED probe instead
    of brute force — fuses identically at a recall-1.0 index config
    (bits=1 probes every bucket of every table, so the probe's exact
    rescore covers the full candidate set). Pins that rrf fusion over
    lsh_probe_indexed's arm equals fusion over knn_topk's arm row for
    row, rank for rank."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators import text
    from dask_hivemetastore_spark.operators.similarity import (
        knn_topk,
        lsh_build_index,
        lsh_probe_indexed,
        rrf_fuse,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    docs = load_table(spark, SF_SMOKE, "documents")
    idx = str(tmp_path / "recall1_idx")
    lsh_build_index(emb, idx, dim=64, bits=1, n_tables=2, quantized=False)

    dense_brute = knn_topk(emb, query_id=0, k=50, dim=64)
    dense_indexed = lsh_probe_indexed(emb, idx, query_id=0, k=50)
    a = [(r.vec_id, r.cosine) for r in dense_brute.collect()]
    b = [(r.vec_id, r.cosine) for r in dense_indexed.collect()]
    assert a == b and len(a) == 50  # recall 1.0: the arm itself is identical

    sparse_rank = (
        text.bm25_scores(docs, ["spark", "hash", "window"])
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(50)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
            .alias("rank"),
        )
    )

    def fused(dense50):
        dense_rank = dense50.select(
            F.col("vec_id").alias("doc_id"),
            F.row_number()
            .over(Window.orderBy(F.desc("cosine"), F.asc("vec_id")))
            .alias("rank"),
        )
        f = rrf_fuse([sparse_rank, dense_rank], "doc_id", k0=60)
        return [
            tuple(r)
            for r in f.orderBy(F.desc("rrf_raw"), F.asc("doc_id"))
            .limit(10)
            .select("doc_id", F.round("rrf_raw", 6).alias("rrf"), "n_arms")
            .collect()
        ]

    assert fused(dense_brute) == fused(dense_indexed)


def test_probes_answer_on_mixed_layout_root(spark, tmp_path):
    """r14: both families' probes (single + batch) answer on a MIXED
    root — one-shot build dirs plus a batch-keyed append subdir — and
    identically to the same index grown with a plain (uniform) append.
    Before _read_index_root, plain spark.read.parquet failed partition
    discovery on the conflicting depths."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        finite_vectors,
        ivf_append,
        ivf_build_index,
        ivf_probe_indexed,
        lsh_append,
        lsh_build_index,
        lsh_probe_indexed,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    even = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.where(F.col("vec_id") % 2 == 1)

    # LSH: build at root, append batch-keyed -> mixed depths
    mixed = str(tmp_path / "lsh_mixed")
    plain = str(tmp_path / "lsh_plain")
    for p in (mixed, plain):
        lsh_build_index(even, p, dim=64, bits=8, n_tables=2,
                        quantized=False)
    lsh_append(odd, mixed, subdir="ingest_batch=1", mode="overwrite")
    lsh_append(odd, plain)
    a = [tuple(r) for r in lsh_probe_indexed(
        emb, mixed, query_id=0, k=10).collect()]
    b = [tuple(r) for r in lsh_probe_indexed(
        emb, plain, query_id=0, k=10).collect()]
    assert a == b and len(a) == 10

    # IVF: same shape
    imixed = str(tmp_path / "ivf_mixed")
    iplain = str(tmp_path / "ivf_plain")
    for p in (imixed, iplain):
        ivf_build_index(even, p, n_cells=8,
                        cache_key=SF_SMOKE + "_mx", dim=64,
                        drift_reference=False)
    ivf_append(odd, f"{imixed}/ingest_batch=1", mode="overwrite")
    ivf_append(odd, iplain)
    qv = np.asarray(
        finite_vectors(emb, "embedding", 64)
        .where(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )
    ia = [tuple(r) for r in ivf_probe_indexed(
        spark, imixed, None, qv, k=10, nprobe=4, exclude_id=0).collect()]
    ib = [tuple(r) for r in ivf_probe_indexed(
        spark, iplain, None, qv, k=10, nprobe=4, exclude_id=0).collect()]
    assert ia == ib and len(ia) == 10


def test_ann_index_recover_rolls_back_crashed_swap(spark, tmp_path):
    """r14: ann_index_recover restores the pre-swap state from the
    tombstones a crashed compaction leaves behind — simulated at three
    crash points (mid-tombstoning; mid staged-rename with a partial new
    dir in place; post-swap with cleanup unfinished) — after which the
    probe answers exactly as before and a fresh compaction succeeds."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_compact,
        ann_index_recover,
        lsh_append,
        lsh_probe_indexed,
    )

    emb, idx = _small_lsh_index(spark, tmp_path, "recover_idx")
    lsh_append(emb.where(F.col("vec_id") % 2 == 1), idx)
    want = [tuple(r) for r in lsh_probe_indexed(
        emb, idx, query_id=0, k=10).collect()]

    # crash state: one table dir tombstoned, one still in place, a
    # partial "new" dir under the tombstoned name, staging half-written
    os.rename(f"{idx}/table=0", f"{idx}/_tomb_table=0")
    os.makedirs(f"{idx}/table=0")  # partial new dir (would be lost data)
    with open(f"{idx}/table=0/part-partial.parquet", "w") as f:
        f.write("junk")
    os.makedirs(f"{idx}__compact_stage/table=0")

    stats = ann_index_recover(spark, idx)
    assert stats["recovered"] == 1 and stats["staging_removed"] == 1
    assert not os.path.exists(f"{idx}/_tomb_table=0")
    assert not os.path.exists(f"{idx}__compact_stage")

    got = [tuple(r) for r in lsh_probe_indexed(
        emb, idx, query_id=0, k=10).collect()]
    assert got == want and len(got) == 10

    # compaction now runs clean over the recovered index
    cstats = ann_index_compact(spark, idx)
    assert cstats["epoch"] == 1
    got2 = [tuple(r) for r in lsh_probe_indexed(
        emb, idx, query_id=0, k=10).collect()]
    assert got2 == want

    # post-swap crash shape: every dir tombstoned, new dirs in place --
    # roll-back still restores a consistent (pre-compact) index
    tables = [d for d in os.listdir(idx) if d.startswith("table=")]
    for d in tables:
        shutil.copytree(f"{idx}/{d}", f"{idx}/__copy_{d}")
        os.rename(f"{idx}/{d}", f"{idx}/_tomb_{d}")
        os.rename(f"{idx}/__copy_{d}", f"{idx}/{d}")
    stats2 = ann_index_recover(spark, idx)
    assert stats2["recovered"] == len(tables)
    got3 = [tuple(r) for r in lsh_probe_indexed(
        emb, idx, query_id=0, k=10).collect()]
    assert got3 == want

    # idempotent no-op when nothing to recover
    assert ann_index_recover(spark, idx)["recovered"] == 0


# ---------------------------------------------------------------------------
# r14: materialized IVF+PQ layout
# ---------------------------------------------------------------------------


def test_ivfpq_probe_exact_at_full_config_and_sidecars(spark, tmp_path):
    """ivfpq_build_index + ivfpq_probe_indexed: at nprobe=n_cells with a
    wide shortlist the exact rescore recovers the brute-force top-10
    verbatim (ADC only prunes); the manifest JSON holds POINTERS for
    both model payloads (centroids + codebooks) and the lazy loads
    round-trip the trained artifacts exactly."""
    import json as _json

    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        finite_vectors,
        ivfpq_build_index,
        ivfpq_probe_indexed,
        knn_topk,
        read_index_manifest,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "ivfpq_idx")
    C, books = ivfpq_build_index(
        emb, idx, n_cells=16, m=16, ksub=32,
        cache_key=SF_SMOKE + "_pq", dim=64, drift_reference=False,
    )

    raw = _json.loads(open(f"{idx}/_index_manifest/manifest.json").read())
    assert "centroids" not in raw and "codebooks" not in raw
    assert raw["centroids_sidecar"] and raw["codebooks_sidecar"]
    mf = read_index_manifest(spark, idx)
    assert np.allclose(np.asarray(mf["centroids"]), C)
    assert np.allclose(np.asarray(mf["codebooks"]), books)

    qv = np.asarray(
        finite_vectors(emb, "embedding", 64)
        .where(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )
    got = [tuple(r) for r in ivfpq_probe_indexed(
        spark, idx, qv, k=10, nprobe=16, shortlist=200,
        exclude_id=0).collect()]
    want = [tuple(r) for r in knn_topk(
        emb, 0, k=10, dim=64).collect()]
    assert got == want and len(got) == 10


def test_ivfpq_append_content_identical_and_compactable(spark, tmp_path):
    """An IVFPQ index grown by ivfpq_append equals a one-shot build over
    the union row-for-row (assignment AND codes are pure functions of
    the fixed artifacts), probes answer identically on both, and
    ann_index_compact maintains the layout (kind ivfpq) with the probe
    answer preserved and the epoch bumped."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_compact,
        finite_vectors,
        ivfpq_append,
        ivfpq_build_index,
        ivfpq_probe_indexed,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    grown = str(tmp_path / "pq_grown")
    oneshot = str(tmp_path / "pq_oneshot")
    ck = SF_SMOKE + "_pqg"
    ivfpq_build_index(emb.where(F.col("vec_id") % 2 == 0), grown,
                      n_cells=8, m=16, ksub=32, cache_key=ck, dim=64,
                      drift_reference=False)
    ivfpq_append(emb.where(F.col("vec_id") % 2 == 1), grown)
    ivfpq_build_index(emb.where(F.col("vec_id") % 2 == 0), oneshot,
                      n_cells=8, m=16, ksub=32, cache_key=ck, dim=64,
                      drift_reference=False)
    # one-shot over the union: rebuild with the SAME cached artifacts
    from dask_hivemetastore_spark.operators.similarity import (
        ivf_assign_full,
        ivf_train_centroids,
        pq_encode_rows,
        pq_train_codebooks,
    )
    C = ivf_train_centroids(emb.where(F.col("vec_id") % 2 == 0),
                            n_cells=8, cache_key=ck, dim=64)
    books = pq_train_codebooks(emb.where(F.col("vec_id") % 2 == 0),
                               m=16, ksub=32, cache_key=ck, dim=64)
    want_rows = pq_encode_rows(
        ivf_assign_full(emb, C, "embedding", dim=64), books,
        "embedding", dim=64,
    ).select("cell", "vec_id", F.col("pq_code").cast("string"))
    got_rows = spark.read.parquet(grown).select(
        "cell", "vec_id", F.col("pq_code").cast("string"))
    assert got_rows.exceptAll(want_rows).count() == 0
    assert want_rows.exceptAll(got_rows).count() == 0

    qv = np.asarray(
        finite_vectors(emb, "embedding", 64)
        .where(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )
    before = [tuple(r) for r in ivfpq_probe_indexed(
        spark, grown, qv, k=10, nprobe=8, shortlist=100,
        exclude_id=0).collect()]
    stats = ann_index_compact(spark, grown)
    assert stats["kind"] == "ivfpq"
    assert stats["n_files_out"] < stats["n_files_in"]
    assert stats["epoch"] == 1
    after = [tuple(r) for r in ivfpq_probe_indexed(
        spark, grown, qv, k=10, nprobe=8, shortlist=100,
        exclude_id=0).collect()]
    assert after == before and len(after) == 10


def test_ivfpq_probe_plan_shapes(spark, tmp_path):
    """The three scan claims of the IVFPQ probe, at the PLAN level:
    (a) the ADC screen's scan carries the cell partition filter and
    reads ONLY (id, pq_code) — the float embedding column must NOT be
    in its ReadSchema; (b) the exact rescore scan carries the pushed
    In(vec_id, ...) literal filter; (c) no Python anywhere — the screen
    is a pure-JVM literal-LUT aggregate."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        _adc_score_expr,
        _read_index_root,
        dot_f64,
        finite_vectors,
        ivfpq_build_index,
        read_index_manifest,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "pq_plan_idx")
    ivfpq_build_index(emb, idx, n_cells=8, m=16, ksub=32,
                      cache_key=SF_SMOKE + "_pqp", dim=64,
                      drift_reference=False)
    mf = read_index_manifest(spark, idx)
    books = np.asarray(mf["codebooks"], dtype=np.float64)
    C = np.asarray(mf["centroids"], dtype=np.float64)
    qv = np.asarray(
        finite_vectors(emb, "embedding", 64)
        .where(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )
    probes = [int(c) for c in (C @ qv).argsort()[::-1][:4]]

    screen = (
        _read_index_root(spark, idx, "cell")
        .where(F.col("cell").isin(probes))
        .select("vec_id", _adc_score_expr(books, qv).alias("__adc"))
        .orderBy(F.desc("__adc"), F.asc("vec_id"))
        .limit(50)
    )
    plan = screen._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    import re

    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert read_schemas, plan
    for rs in read_schemas:
        assert "embedding" not in rs, rs  # the 16x I/O claim
        assert "pq_code" in rs, rs
    for marker in ("PythonUDF", "BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan

    short_ids = [r[0] for r in screen.collect()]
    qcol = F.array(*[F.lit(float(x)) for x in qv])
    rescore = (
        _read_index_root(spark, idx, "cell")
        .where(F.col("cell").isin(probes))
        .where(F.col("vec_id").isin(short_ids))
        .select("vec_id", F.round(dot_f64(F.col("embedding"), qcol), 6)
                .alias("cosine"))
    )
    rplan = rescore._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in rplan and "In(vec_id" in rplan, rplan


def test_ivfpq_batch_probe_identical_to_single_probes(spark, tmp_path):
    """r14 batch parity for IVFPQ: per-query rows of
    ivfpq_probe_indexed_batch equal a single-probe loop at the same
    config, row-for-row — including the ADC screen batched via the
    broadcast LUT column instead of a literal."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        finite_vectors,
        ivfpq_build_index,
        ivfpq_probe_indexed,
        ivfpq_probe_indexed_batch,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "pq_batch_idx")
    ivfpq_build_index(emb, idx, n_cells=8, m=16, ksub=32,
                      cache_key=SF_SMOKE + "_pqb", dim=64,
                      drift_reference=False)
    qids = [0, 1, 2, 3, 999_999_999]  # last id absent: no rows, not wrong
    loop: dict = {}
    for q in qids[:-1]:
        qv = np.asarray(
            finite_vectors(emb, "embedding", 64)
            .where(F.col("vec_id") == q).select("embedding").first()[0],
            dtype=np.float64,
        )
        loop[q] = {(r.vec_id, r.cosine) for r in ivfpq_probe_indexed(
            spark, idx, qv, k=5, nprobe=4, shortlist=30,
            exclude_id=q).collect()}
    batch: dict = {}
    for r in ivfpq_probe_indexed_batch(
        emb, idx, qids, k=5, nprobe=4, shortlist=30
    ).collect():
        batch.setdefault(r.q_id, set()).add((r.vec_id, r.cosine))
    assert batch == loop
    assert 999_999_999 not in batch


def test_single_vector_probes_default_masks_nothing(spark, tmp_path):
    """With the default ``exclude_id=None`` the IVF and IVF-PQ single
    probes mask no row: the query's own row comes back first with cosine
    1.0, followed by the ``exclude_id=q`` answer."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        finite_vectors,
        ivf_build_index,
        ivf_probe_indexed,
        ivfpq_build_index,
        ivfpq_probe_indexed,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = 3
    qv = np.asarray(
        finite_vectors(emb, "embedding", 64)
        .where(F.col("vec_id") == q).select("embedding").first()[0],
        dtype=np.float64,
    )
    ivf_idx = str(tmp_path / "ivf_self")
    ivf_build_index(emb, ivf_idx, n_cells=8, cache_key=SF_SMOKE + "_self",
                    dim=64, drift_reference=False)
    pq_idx = str(tmp_path / "pq_self")
    ivfpq_build_index(emb, pq_idx, n_cells=8, m=16, ksub=32,
                      cache_key=SF_SMOKE + "_pqself", dim=64,
                      drift_reference=False)

    def rows(df):
        return [(r.vec_id, r.cosine) for r in df.collect()]

    for probe, args in ((ivf_probe_indexed, (spark, ivf_idx, None, qv)),
                        (ivfpq_probe_indexed, (spark, pq_idx, qv))):
        # the unmasked shortlist holds the query's own row plus the same
        # 40 candidates the masked one screens in
        got = rows(probe(*args, k=5, nprobe=4, shortlist=41))
        masked = rows(probe(*args, k=4, nprobe=4, shortlist=40,
                            exclude_id=q))
        assert got[0] == (q, 1.0), (probe.__name__, got)
        assert got[1:] == masked and len(got) == 5, probe.__name__


def test_probe_plans_hold_no_python_relations(spark, tmp_path):
    """The probes' small driver-side relations (query vectors, probe
    cells or buckets, ADC LUTs, shortlist pairs, empty results) are JVM
    LocalRelations: no optimized probe plan holds a ``LogicalRDD``,
    whose broadcast would run Python-worker tasks. Rows equal the
    brute-force references: ``knn_topk`` for IVF and IVF-PQ probed at
    every cell, the inline ``lsh_topk`` for LSH."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        finite_vectors,
        ivf_build_index,
        ivf_probe_indexed,
        ivf_probe_indexed_batch,
        ivfpq_build_index,
        ivfpq_probe_indexed,
        ivfpq_probe_indexed_batch,
        knn_topk,
        lsh_build_index,
        lsh_probe_indexed,
        lsh_probe_indexed_batch,
        lsh_topk,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qids = [0, 3, 7]

    def collected(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan, plan
        return [tuple(r) for r in df.collect()]

    def per_query(df):
        got: dict = {}
        for r in collected(df):
            got.setdefault(r[0], []).append(r[1:])
        return {q: sorted(v) for q, v in got.items()}

    brute = {q: [tuple(r) for r in knn_topk(emb, q, k=5, dim=64).collect()]
             for q in qids}
    inline = {q: [tuple(r) for r in lsh_topk(
        emb, q, k=5, dim=64, bits=8, n_tables=4).collect()] for q in qids}
    qv = np.asarray(
        finite_vectors(emb, "embedding", 64)
        .where(F.col("vec_id") == 3).select("embedding").first()[0],
        dtype=np.float64,
    )

    for int8 in (False, True):
        idx = str(tmp_path / f"ivf_{int8}")
        ivf_build_index(emb, idx, n_cells=8, cache_key=SF_SMOKE + "_lr",
                        dim=64, drift_reference=False, int8_cols=int8)
        got = per_query(ivf_probe_indexed_batch(
            emb, idx, qids + [123456], k=5, nprobe=8, dim=64))
        assert got == {q: sorted(brute[q]) for q in qids}, int8
        assert collected(ivf_probe_indexed(
            spark, idx, None, qv, k=5, nprobe=8, exclude_id=3)) == brute[3]
    assert collected(ivf_probe_indexed_batch(
        emb, idx, [123456], k=5, nprobe=8, dim=64)) == []

    pq = str(tmp_path / "pq")
    ivfpq_build_index(emb, pq, n_cells=8, m=16, ksub=32,
                      cache_key=SF_SMOKE + "_pqlr", dim=64,
                      drift_reference=False)
    got = per_query(ivfpq_probe_indexed_batch(
        emb, pq, qids, k=5, nprobe=8, shortlist=200))
    assert got == {q: sorted(brute[q]) for q in qids}
    assert collected(ivfpq_probe_indexed(
        spark, pq, qv, k=5, nprobe=8, shortlist=200,
        exclude_id=3)) == brute[3]

    lsh = str(tmp_path / "lsh")
    lsh_build_index(emb, lsh, dim=64, bits=8, n_tables=4)
    for arm in ("int8", "float"):
        got = per_query(lsh_probe_indexed_batch(
            emb, lsh, qids, k=5, rescore=arm))
        assert got == {q: sorted(inline[q]) for q in qids}, arm
    assert collected(lsh_probe_indexed(emb, lsh, query_id=3, k=5)) \
        == inline[3]


def test_local_frame_schema_rows_and_fallbacks(spark):
    """``_local_frame`` keeps its schema exactly (nullability and
    ``containsNull`` included) from a ``StructType`` or a DDL string,
    gives an empty frame for no rows, and returns the same rows when
    Spark falls back to an RDD (``localRelationThreshold=0``) or Arrow
    conversion is off. Both confs are restored."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from dask_hivemetastore_spark.operators.similarity import _local_frame

    strict = StructType([
        StructField("a", LongType(), False),
        StructField("b", IntegerType()),
        StructField("c", DoubleType(), False),
        StructField("d", ArrayType(DoubleType(), False)),
        StructField("e", ArrayType(ArrayType(DoubleType()), False), False),
    ])
    ddl = "a long, b int, c double, d array<double>, e array<array<double>>"
    rows = [(1, None, 0.5, [1.0, 2.0], [[1.0, None], []]),
            (2, 7, -1.5, None, [[3.0]])]

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    for schema, want in ((strict, strict), (ddl, StructType.fromDDL(ddl))):
        df = _local_frame(spark, rows, schema)
        assert df.select("*").schema == want  # the JVM's schema
        assert [tuple(r) for r in df.collect()] == rows
        assert "LocalRelation" in plan(df)
        empty = _local_frame(spark, [], schema)
        assert empty.select("*").schema == want
        assert empty.collect() == []

    for key, value, leaf in (
        ("spark.sql.execution.arrow.localRelationThreshold", "0",
         "LogicalRDD"),
        ("spark.sql.execution.arrow.pyspark.enabled", "false",
         "LocalRelation"),
    ):
        old = spark.conf.get(key)
        spark.conf.set(key, value)
        try:
            df = _local_frame(spark, rows, strict)
            assert leaf in plan(df), key
            assert df.select("*").schema == strict, key
            assert [tuple(r) for r in df.collect()] == rows, key
        finally:
            spark.conf.set(key, old)
        assert spark.conf.get(key) == old


def test_ivfpq_row_filter_prefilter_semantics(spark, tmp_path):
    """r14: the IVFPQ probes' row_filter is a PRE-filter — candidates
    are scoped before the ADC screen and the exact rescore, so at the
    full config (nprobe=n_cells, wide shortlist) the filtered probe
    equals brute-force knn over the filtered corpus, k rows returned —
    on the single AND the batched probe."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        finite_vectors,
        ivfpq_build_index,
        ivfpq_probe_indexed,
        ivfpq_probe_indexed_batch,
        knn_topk,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "pq_rf_idx")
    ivfpq_build_index(emb, idx, n_cells=8, m=16, ksub=32,
                      cache_key=SF_SMOKE + "_pqrf", dim=64,
                      drift_reference=False)
    pred = F.col("label") == 1
    want = [tuple(r) for r in knn_topk(
        emb.where(pred | (F.col("vec_id") == 0)), 0, k=10, dim=64
    ).collect()]

    qv = np.asarray(
        finite_vectors(emb, "embedding", 64)
        .where(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )
    got = [tuple(r) for r in ivfpq_probe_indexed(
        spark, idx, qv, k=10, nprobe=8, shortlist=500, exclude_id=0,
        row_filter=pred).collect()]
    assert got == want and len(got) == 10

    batch = [
        (r.vec_id, r.cosine)
        for r in ivfpq_probe_indexed_batch(
            emb, idx, [0], k=10, nprobe=8, shortlist=500,
            row_filter=pred,
        ).collect()
    ]
    assert batch == [(r[0], r[2]) for r in want]  # same ids, same cosines


def test_hybrid_fusion_identical_over_ivfpq_dense_arm(spark, tmp_path):
    """r14: the third family plugs into the same fusion — dense arm
    served by ivfpq_probe_indexed at its recall-1.0 config
    (nprobe=n_cells, corpus-wide shortlist ⇒ the exact rescore IS the
    brute ranking) fuses identically to the brute arm."""
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators import text
    from dask_hivemetastore_spark.operators.similarity import (
        finite_vectors,
        ivfpq_build_index,
        ivfpq_probe_indexed,
        knn_topk,
        rrf_fuse,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    docs = load_table(spark, SF_SMOKE, "documents")
    idx = str(tmp_path / "pq_fuse_idx")
    ivfpq_build_index(emb, idx, n_cells=8, m=16, ksub=32,
                      cache_key=SF_SMOKE + "_pqf", dim=64,
                      drift_reference=False)
    qv = np.asarray(
        finite_vectors(emb, "embedding", 64)
        .where(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )
    dense_brute = knn_topk(emb, query_id=0, k=50, dim=64)
    dense_indexed = ivfpq_probe_indexed(
        spark, idx, qv, k=50, nprobe=8, shortlist=10_000, exclude_id=0)
    a = [(r.vec_id, r.cosine) for r in dense_brute.collect()]
    b = [(r.vec_id, r.cosine) for r in dense_indexed.collect()]
    assert a == b and len(a) == 50

    sparse_rank = (
        text.bm25_scores(docs, ["spark", "hash", "window"])
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(50)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
            .alias("rank"),
        )
    )

    def fused(dense50):
        dense_rank = dense50.select(
            F.col("vec_id").alias("doc_id"),
            F.row_number()
            .over(Window.orderBy(F.desc("cosine"), F.asc("vec_id")))
            .alias("rank"),
        )
        f = rrf_fuse([sparse_rank, dense_rank], "doc_id", k0=60)
        return [
            tuple(r)
            for r in f.orderBy(F.desc("rrf_raw"), F.asc("doc_id"))
            .limit(10)
            .select("doc_id", F.round("rrf_raw", 6).alias("rrf"), "n_arms")
            .collect()
        ]

    assert fused(dense_brute) == fused(dense_indexed)


def test_ann_index_verify_healthy_and_damaged(spark, tmp_path):
    """r14 fsck: ann_index_verify passes a healthy index of each kind
    (deep included), and flags — without raising — a stale append
    marker, a leftover tombstone, a missing INT8 store, and an
    out-of-range partition value."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        _record_append_marker,
        ann_index_compact,
        ann_index_verify,
        ivfpq_build_index,
        lsh_append,
        lsh_build_index,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")

    lidx = str(tmp_path / "v_lsh")
    lsh_build_index(emb.where(F.col("vec_id") % 2 == 0), lidx,
                    dim=64, bits=8, n_tables=2)
    lsh_append(emb.where(F.col("vec_id") % 2 == 1), lidx)
    rep = ann_index_verify(spark, lidx, deep=True)
    assert rep["ok"], rep
    assert rep["kind"] == "lsh" and rep["epoch"] == 0
    assert rep["checks"]["pending_append_markers"] == 1
    assert rep["checks"]["quantized_store"] is True
    assert rep["checks"]["duplicate_rows"] == 0

    pidx = str(tmp_path / "v_pq")
    ivfpq_build_index(emb, pidx, n_cells=8, m=16, ksub=32,
                      cache_key=SF_SMOKE + "_vfy", dim=64,
                      drift_reference=False)
    rep = ann_index_verify(spark, pidx, deep=True)
    assert rep["ok"], rep
    assert rep["checks"]["centroids_sidecar"] == "ok"
    assert rep["checks"]["codebooks_sidecar"] == "ok"

    # damage 1: stale marker (after a compaction bumps the epoch)
    stats = ann_index_compact(spark, lidx)
    assert stats["epoch"] == 1
    _record_append_marker(spark, lidx, 0)
    rep = ann_index_verify(spark, lidx)
    assert not rep["ok"] and any("stale append" in p for p in rep["problems"])
    log = f"{lidx}/_append_log"
    for n in os.listdir(log):
        os.remove(f"{log}/{n}")

    # damage 2: leftover tombstone
    os.makedirs(f"{lidx}/_tomb_table=0")
    rep = ann_index_verify(spark, lidx)
    assert not rep["ok"] and any("tombstone" in p for p in rep["problems"])
    os.rmdir(f"{lidx}/_tomb_table=0")

    # damage 3: INT8 store missing while the manifest claims it
    import shutil

    shutil.rmtree(f"{lidx}/_quantized")
    rep = ann_index_verify(spark, lidx)
    assert not rep["ok"] and any("INT8 store MISSING" in p
                                 for p in rep["problems"])

    # damage 4: out-of-range partition dir (cell id beyond the model)
    src = f"{pidx}/cell=0"
    shutil.copytree(src, f"{pidx}/cell=99")
    rep = ann_index_verify(spark, pidx)
    assert not rep["ok"] and any("outside the model range" in p
                                 for p in rep["problems"])


@pytest.mark.slow
@pytest.mark.parametrize("seed", [7, 23])
def test_ann_lifecycle_random_sequences_stay_exact(spark, tmp_path, seed):
    """Randomized maintenance-lifecycle soak (r14): from a seeded RNG,
    apply a random sequence of appends and compactions to LSH and IVFPQ
    indexes, and after EVERY step assert (a) the recall-1.0-config
    probe equals brute-force knn over exactly the ingested rows, and
    (b) ann_index_verify stays clean. Catches ordering/epoch/sidecar
    interactions no single-shot pin exercises."""
    import random

    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_compact,
        ann_index_verify,
        finite_vectors,
        ivfpq_append,
        ivfpq_build_index,
        ivfpq_probe_indexed,
        knn_topk,
        lsh_append,
        lsh_build_index,
        lsh_probe_indexed,
    )
    from .conftest import SF_SMOKE

    rng = random.Random(seed)
    emb = load_table(spark, SF_SMOKE, "embeddings")
    slices = [emb.where(F.col("vec_id") % 4 == i) for i in range(4)]
    qv = np.asarray(
        finite_vectors(emb, "embedding", 64)
        .where(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )

    lidx = str(tmp_path / "soak_lsh")
    pidx = str(tmp_path / "soak_pq")
    # bits=1 -> every bucket probed -> exact; nprobe=n_cells -> exact
    lsh_build_index(slices[0], lidx, dim=64, bits=1, n_tables=2)
    ivfpq_build_index(slices[0], pidx, n_cells=4, m=16, ksub=32,
                      cache_key=SF_SMOKE + f"_soak{seed}", dim=64,
                      drift_reference=False)
    ingested = [0]

    def check():
        cur = slices[ingested[0]]
        for i in ingested[1:]:
            cur = cur.unionByName(slices[i])
        want = [(r.vec_id, r.cosine) for r in knn_topk(
            cur, 0, k=8, dim=64).collect()]
        lg = [(r.vec_id, r.cosine) for r in lsh_probe_indexed(
            emb, lidx, query_id=0, k=8).collect()]
        pg = [(r.vec_id, r.cosine) for r in ivfpq_probe_indexed(
            spark, pidx, qv, k=8, nprobe=4, shortlist=2000,
            exclude_id=0).collect()]
        assert lg == want, (ingested, lg, want)
        assert pg == want, (ingested, pg, want)
        for idx in (lidx, pidx):
            rep = ann_index_verify(spark, idx)
            assert rep["ok"], rep

    check()
    next_slice = 1
    for _ in range(5):
        op = rng.choice(["append", "compact", "compact", "append"])
        if op == "append" and next_slice < 4:
            if rng.random() < 0.5:  # batch-keyed idempotent shape
                lsh_append(slices[next_slice], lidx,
                           subdir=f"ingest_batch={next_slice}",
                           mode="overwrite")
                ivfpq_append(slices[next_slice],
                             f"{pidx}/ingest_batch={next_slice}",
                             mode="overwrite")
            else:
                lsh_append(slices[next_slice], lidx)
                ivfpq_append(slices[next_slice], pidx)
            ingested.append(next_slice)
            next_slice += 1
        else:
            ann_index_compact(spark, lidx)
            ann_index_compact(spark, pidx)
        check()


def test_ivf_drift_check_works_on_ivfpq_manifest(spark, tmp_path):
    """r14 composition: the |batch|-cost drift monitor reads centroids +
    the training-time reference off ANY manifest that carries them —
    an IVFPQ build with drift_reference=True monitors exactly like the
    plain IVF layout (same coarse quantizer artifact), in-distribution
    batches unflagged, shifted batches flagged."""
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ivf_drift_check_batch,
        ivfpq_build_index,
        shift_vectors,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "pq_drift_idx")
    # n_cells=16 = the registered drift key's config, where the
    # shifted-batch margin is measured (PERF.md drift arm)
    ivfpq_build_index(emb, idx, n_cells=16, m=16, ksub=32,
                      cache_key=SF_SMOKE + "_pqd", dim=64,
                      drift_reference=True)

    ok_batch = emb.where(F.col("vec_id") % 7 == 3)
    stats, flagged = ivf_drift_check_batch(ok_batch, idx)
    assert not flagged, stats

    shifted = shift_vectors(ok_batch, alpha=2.0)
    stats2, flagged2 = ivf_drift_check_batch(shifted, idx)
    assert flagged2, stats2


def test_ivfpq_residual_variant_exact_and_append_identical(spark, tmp_path):
    """r14: residual IVFPQ (codes over x − centroid[cell], the FAISS
    formulation) — full-config probe equals brute force (ADC still only
    prunes), batch equals the single-probe loop, and an appended index
    equals a one-shot build row-for-row (the residual encode is a pure
    function of the fixed artifacts + the assigned cell)."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        finite_vectors,
        ivfpq_append,
        ivfpq_build_index,
        ivfpq_probe_indexed,
        ivfpq_probe_indexed_batch,
        knn_topk,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    ck = SF_SMOKE + "_res"
    idx = str(tmp_path / "pq_res")
    ivfpq_build_index(emb, idx, n_cells=8, m=16, ksub=32, cache_key=ck,
                      dim=64, drift_reference=False, residual=True)
    # the codebooks are pq_train_codebooks over the residuals of the
    # first sample_n eligible ids against the manifest's centroids
    from dask_hivemetastore_spark.operators.similarity import (
        pq_train_codebooks,
        read_index_manifest,
    )
    mf = read_index_manifest(spark, idx)
    C = np.asarray(mf["centroids"], dtype=np.float64)
    sample = (finite_vectors(emb, "embedding", 64).orderBy("vec_id")
              .limit(2048).select("vec_id", "embedding").collect())
    x = np.array([r.embedding for r in sample], dtype=np.float64)
    res = x - C[(x @ C.T).argmax(axis=1)]
    res_df = spark.createDataFrame(
        [(r.vec_id, v.tolist()) for r, v in zip(sample, res)],
        "vec_id long, embedding array<double>")
    assert np.array_equal(
        np.asarray(mf["codebooks"], dtype=np.float64),
        pq_train_codebooks(res_df, m=16, ksub=32, sample_n=2048, dim=64))
    qv = np.asarray(
        finite_vectors(emb, "embedding", 64)
        .where(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )
    got = [(r.vec_id, r.cosine) for r in ivfpq_probe_indexed(
        spark, idx, qv, k=10, nprobe=8, shortlist=2000,
        exclude_id=0).collect()]
    want = [(r.vec_id, r.cosine) for r in knn_topk(
        emb, 0, k=10, dim=64).collect()]
    assert got == want and len(got) == 10

    qids = [0, 1, 2]
    loop: dict = {}
    for q in qids:
        qq = np.asarray(
            finite_vectors(emb, "embedding", 64)
            .where(F.col("vec_id") == q).select("embedding").first()[0],
            dtype=np.float64,
        )
        loop[q] = {(r.vec_id, r.cosine) for r in ivfpq_probe_indexed(
            spark, idx, qq, k=5, nprobe=4, shortlist=30,
            exclude_id=q).collect()}
    batch: dict = {}
    for r in ivfpq_probe_indexed_batch(
        emb, idx, qids, k=5, nprobe=4, shortlist=30
    ).collect():
        batch.setdefault(r.q_id, set()).add((r.vec_id, r.cosine))
    assert batch == loop

    grown = str(tmp_path / "pq_res_grown")
    ivfpq_build_index(emb.where(F.col("vec_id") % 2 == 0), grown,
                      n_cells=8, m=16, ksub=32, cache_key=ck + "g",
                      dim=64, drift_reference=False, residual=True)
    ivfpq_append(emb.where(F.col("vec_id") % 2 == 1), grown)
    g = spark.read.parquet(grown).select(
        "cell", "vec_id", F.col("pq_code").cast("string"))
    # re-encode the union with the grown index's own artifacts
    from dask_hivemetastore_spark.operators.similarity import (
        pq_encode_rows,
        ivf_assign_full,
        read_index_manifest,
    )
    mf = read_index_manifest(spark, grown)
    C = np.asarray(mf["centroids"], dtype=np.float64)
    books = np.asarray(mf["codebooks"], dtype=np.float64)
    w = pq_encode_rows(
        ivf_assign_full(emb, C, "embedding", dim=64), books,
        "embedding", dim=64, centroids=C,
    ).select("cell", "vec_id", F.col("pq_code").cast("string"))
    assert g.exceptAll(w).count() == 0 and w.exceptAll(g).count() == 0


# ---------------------------------------------------------------------------
# r15: atomic manifest swap + batch-fold-aware recovery (VERDICT r14
# missing #3 / next #3, r14 advisor findings)
# ---------------------------------------------------------------------------


def test_manifest_swap_reader_never_sees_missing_manifest(spark, tmp_path):
    """r15 (VERDICT r14 missing #3): write_index_manifest's overwrite is
    a staged rename swap — a reader positioned INSIDE the swap window
    (where the old protocol had deleted the dir and not yet written the
    new file) still reads a manifest (the previous epoch, served from
    the dot-prefixed backup); after the write it reads the new one; a
    crash between the two renames is served from the backup, reported
    by ann_index_verify, and healed by ann_index_recover."""
    import os

    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_recover,
        ann_index_verify,
        read_index_manifest,
        write_index_manifest,
    )

    _, idx = _small_lsh_index(spark, tmp_path, "mswap_idx")
    before = dict(read_index_manifest(spark, idx))
    assert before["epoch"] == 0

    seen_in_window = {}

    def reader_in_window():
        m = read_index_manifest(spark, idx)
        seen_in_window["manifest"] = None if m is None else dict(m)

    bumped = {k: v for k, v in before.items() if not k.startswith("_")}
    bumped["epoch"] = 7
    write_index_manifest(spark, idx, bumped, _swap_hook=reader_in_window)

    # inside the window the reader got the PREVIOUS manifest, not None
    got = seen_in_window["manifest"]
    assert got is not None and got["epoch"] == 0
    # after the swap the new manifest is visible and no leftovers remain
    after = read_index_manifest(spark, idx)
    assert after["epoch"] == 7
    mdir = f"{idx}/_index_manifest"

    def visible(d):  # the local ChecksumFileSystem keeps .crc companions
        return sorted(n for n in os.listdir(d) if not n.endswith(".crc"))

    assert visible(mdir) == ["manifest.json"]
    assert ann_index_verify(spark, idx)["ok"]

    # crashed swap: old manifest moved aside, new one never renamed in
    os.rename(f"{mdir}/manifest.json", f"{mdir}/.manifest.json.prev")
    with open(f"{mdir}/.manifest.json.tmp", "w") as f:
        f.write("{\"uncommitted\": true}")
    served = read_index_manifest(spark, idx)
    assert served is not None and served["epoch"] == 7  # backup serves reads
    rep = ann_index_verify(spark, idx)
    assert not rep["ok"]
    assert any("manifest backup" in p for p in rep["problems"])
    assert any("manifest temp" in p for p in rep["problems"])

    stats = ann_index_recover(spark, idx)
    assert stats["manifest_healed"] == 2
    assert visible(mdir) == ["manifest.json"]
    healed = read_index_manifest(spark, idx)
    assert healed["epoch"] == 7  # roll-back: the uncommitted tmp is gone
    assert ann_index_verify(spark, idx)["ok"]


def test_recover_batch_fold_crash_restores_without_duplicates(
        spark, tmp_path, monkeypatch):
    """r15 (r14 advisor): a compaction that FOLDS ingest_batch=* dirs
    into cell=* dirs and crashes after the swap but before the commit
    sentinel used to leave every folded row TWICE after recovery (the
    restored batch dirs + the swapped-in cell dirs, whose names have no
    tombstone counterpart). The staged-names sentinel closes it: the
    crash is injected at exactly that point (the post-swap marker
    re-list), recovery deletes the swapped-in dirs and restores the
    originals, and the IVF probe — which does NOT dropDuplicates —
    answers exactly as before the crash."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators import similarity
    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_compact,
        ann_index_recover,
        finite_vectors,
        ivf_append,
        ivf_manifest,
        ivf_probe_indexed,
        ivf_train_centroids,
        write_index_manifest,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "foldcrash")
    C = ivf_train_centroids(emb, n_cells=8, cache_key=SF_SMOKE + "_fc",
                            dim=64)
    write_index_manifest(
        spark, idx,
        ivf_manifest(emb, C, dim=64, n_cells=8, seed=42,
                     drift_reference=False),
    )
    # batch-ONLY root: every data dir is ingest_batch=* — no staged
    # cell=* name has a tombstone counterpart, the exact advisor case
    for b in range(3):
        ivf_append(emb.where(F.col("vec_id") % 3 == b),
                   f"{idx}/ingest_batch={b}", mode="overwrite")
    qv = np.asarray(
        finite_vectors(emb, "embedding", 64)
        .where(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )

    def probe():
        return [tuple(r) for r in ivf_probe_indexed(
            spark, idx, None, qv, k=10, nprobe=4, exclude_id=0).collect()]

    want = probe()
    n_rows = spark.read.parquet(idx).count()

    # crash injection: compact's _list_append_markers calls are (1) the
    # stale-marker pre-flight, (2) the snapshot, (3) the pre-swap
    # re-list, (4) the post-swap re-list — #4 is the point where the
    # swap is done but the commit sentinel is not yet written
    real = similarity._list_append_markers
    calls = {"n": 0}

    def crashing(spark_, root):
        calls["n"] += 1
        if calls["n"] == 4:
            raise RuntimeError("injected crash after swap")
        return real(spark_, root)

    monkeypatch.setattr(similarity, "_list_append_markers", crashing)
    with pytest.raises(RuntimeError, match="injected crash"):
        ann_index_compact(spark, idx)
    monkeypatch.setattr(similarity, "_list_append_markers", real)

    names = set(os.listdir(idx))
    assert any(n.startswith("_tomb_ingest_batch=") for n in names)
    assert any(n.startswith("cell=") for n in names)  # swapped-in dirs
    assert "_tomb_staged.json" in names
    assert "_tomb_swapped.json" not in names
    # the crashed state really does hold every row twice
    assert spark.read.option("basePath", idx).parquet(
        *[f"{idx}/{n}" for n in names if n.startswith("cell=")]
    ).count() == n_rows

    # a fresh compaction refuses to run over the crash debris
    with pytest.raises(RuntimeError, match="ann_index_recover"):
        ann_index_compact(spark, idx)

    stats = ann_index_recover(spark, idx)
    assert stats["recovered"] == 3          # the three batch dirs
    assert stats["staged_removed"] > 0      # the swapped-in cell dirs
    names = set(os.listdir(idx))
    assert not any(n.startswith(("cell=", "_tomb_")) for n in names)
    assert spark.read.parquet(idx).count() == n_rows  # no doubling
    assert probe() == want

    # and the re-run compaction completes the fold cleanly
    cstats = ann_index_compact(spark, idx)
    assert cstats["n_batch_dirs_folded"] == 3 and cstats["epoch"] == 1
    assert spark.read.parquet(idx).count() == n_rows
    assert probe() == want


def test_recover_rolls_forward_after_committed_swap(spark, tmp_path):
    """r15: once the commit sentinel is down (post-swap race check
    passed), the tombstones are redundant bytes mid-deletion — originals
    may survive ONLY in the compacted dirs — so recovery finishes the
    cleanup instead of resurrecting tombstones next to the compacted
    copies."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_recover,
        ann_index_verify,
        lsh_append,
        lsh_probe_indexed,
    )

    emb, idx = _small_lsh_index(spark, tmp_path, "fwd_idx")
    lsh_append(emb.where(F.col("vec_id") % 2 == 1), idx)
    want = [tuple(r) for r in lsh_probe_indexed(
        emb, idx, query_id=0, k=10).collect()]

    # manufacture the committed-swap crash state: compacted dirs live,
    # stale tombstone copies + both sentinels left behind
    tables = [d for d in os.listdir(idx) if d.startswith("table=")]
    for d in tables:
        shutil.copytree(f"{idx}/{d}", f"{idx}/_tomb_{d}")
    with open(f"{idx}/_tomb_staged.json", "w") as f:
        f.write('{"staged": %s}' % str(tables).replace("'", '"'))
    with open(f"{idx}/_tomb_swapped.json", "w") as f:
        f.write("{}")

    rep = ann_index_verify(spark, idx)
    assert not rep["ok"] and any("sentinel" in p for p in rep["problems"])

    stats = ann_index_recover(spark, idx)
    assert stats["rolled_forward"] == len(tables)
    assert stats["recovered"] == 0 and stats["staged_removed"] == 0
    names = set(os.listdir(idx))
    assert not any(n.startswith("_tomb_") for n in names)
    got = [tuple(r) for r in lsh_probe_indexed(
        emb, idx, query_id=0, k=10).collect()]
    assert got == want
    assert ann_index_verify(spark, idx)["ok"]


def test_pq_ksub_over_128_raises(spark, tmp_path):
    """r15 (r14 advisor): PQ codes persist as int8 — ksub > 128 would
    silently wrap centroid ids negative and corrupt the ADC screen, so
    build/encode fail loudly instead."""
    import numpy as np

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ivfpq_build_index,
        pq_encode,
        pq_encode_rows,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    with pytest.raises(ValueError, match="ksub=200 exceeds 128"):
        ivfpq_build_index(emb, str(tmp_path / "bad"), n_cells=4,
                          m=16, ksub=200, dim=64, drift_reference=False)
    bad_books = np.zeros((16, 129, 4))
    with pytest.raises(ValueError, match="exceeds 128"):
        pq_encode_rows(emb, bad_books)
    with pytest.raises(ValueError, match="exceeds 128"):
        pq_encode(emb, bad_books)
    # ksub=128 stays valid (ids 0..127 all fit int8)
    ok_books = np.zeros((16, 128, 4))
    pq_encode_rows(emb, ok_books)  # plan construction succeeds


def test_compact_mixed_layout_column_divergence_raises(spark, tmp_path):
    """r15 (r14 advisor): a mixed build+batch root whose two depth
    groups disagree on the data columns refuses to compact (a rewrite
    would silently drop the difference) instead of deriving the schema
    from one group."""
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_compact,
        ivf_append,
        ivf_assign_full,
        ivf_manifest,
        ivf_train_centroids,
        write_index_manifest,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "diverge")
    C = ivf_train_centroids(emb, n_cells=4, cache_key=SF_SMOKE + "_dv",
                            dim=64)
    # built dirs carry an extra column the batch dirs lack
    ivf_assign_full(emb, C, "embedding", dim=64).withColumn(
        "extra_meta", F.lit(1)
    ).write.partitionBy("cell").parquet(idx)
    write_index_manifest(
        spark, idx,
        ivf_manifest(emb, C, dim=64, n_cells=4, seed=42,
                     drift_reference=False),
    )
    ivf_append(emb.where(F.col("vec_id") % 7 == 0),
               f"{idx}/ingest_batch=0", mode="overwrite")
    with pytest.raises(RuntimeError, match="column sets diverge"):
        ann_index_compact(spark, idx)


def test_hybrid_fusion_identical_over_ivf_batch_arm(spark, tmp_path):
    """r15 (VERDICT r14 missing #4): the LAST unpinned fusion
    composition — dense arm served by ivf_probe_indexed_batch at its
    recall-1.0 config (nprobe=n_cells probes every cell, so the exact
    rescore covers the full corpus) fuses identically to the brute arm,
    completing the indexed-arm identity across all three families
    (LSH :1144, IVFPQ :1611, plain-IVF batch here)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators import text
    from dask_hivemetastore_spark.operators.similarity import (
        ivf_build_index,
        ivf_probe_indexed_batch,
        knn_topk,
        rrf_fuse,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    docs = load_table(spark, SF_SMOKE, "documents")
    idx = str(tmp_path / "ivf_fuse_idx")
    ivf_build_index(emb, idx, n_cells=8, cache_key=SF_SMOKE + "_if",
                    dim=64, drift_reference=False)

    dense_brute = knn_topk(emb, query_id=0, k=50, dim=64)
    dense_indexed = ivf_probe_indexed_batch(
        emb, idx, [0], k=50, nprobe=8, dim=64
    ).where(F.col("q_id") == 0)
    a = [(r.vec_id, r.cosine) for r in dense_brute.collect()]
    b = [(r.vec_id, r.cosine) for r in dense_indexed.collect()]
    assert a == b and len(a) == 50  # recall 1.0: the arm itself matches

    sparse_rank = (
        text.bm25_scores(docs, ["spark", "hash", "window"])
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(50)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
            .alias("rank"),
        )
    )

    def fused(dense50):
        dense_rank = dense50.select(
            F.col("vec_id").alias("doc_id"),
            F.row_number()
            .over(Window.orderBy(F.desc("cosine"), F.asc("vec_id")))
            .alias("rank"),
        )
        f = rrf_fuse([sparse_rank, dense_rank], "doc_id", k0=60)
        return [
            tuple(r)
            for r in f.orderBy(F.desc("rrf_raw"), F.asc("doc_id"))
            .limit(10)
            .select("doc_id", F.round("rrf_raw", 6).alias("rrf"), "n_arms")
            .collect()
        ]

    assert fused(dense_brute) == fused(dense_indexed)


@pytest.mark.slow
@pytest.mark.parametrize("seed", [11, 37])
def test_ann_crash_anywhere_recovery_soak(spark, tmp_path, seed, monkeypatch):
    """r15 crash-anywhere soak: over a randomized append/compact
    lifecycle on an IVFPQ index (the family whose probes do NOT
    dropDuplicates — the r14 advisor's exposure), every compaction may
    crash at either injection point (the pre-swap re-list: staging
    written, nothing tombstoned; or the post-swap re-list: swap done,
    commit sentinel not yet written). After every crash,
    ann_index_recover must restore EXACT pre-crash probe results and a
    clean ann_index_verify, and the re-run compaction must succeed —
    the property the three single-shot crash pins sample, soaked."""
    import random

    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators import similarity
    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_compact,
        ann_index_recover,
        ann_index_verify,
        finite_vectors,
        ivfpq_append,
        ivfpq_build_index,
        ivfpq_probe_indexed,
        knn_topk,
    )
    from .conftest import SF_SMOKE

    rng = random.Random(seed)
    emb = load_table(spark, SF_SMOKE, "embeddings")
    slices = [emb.where(F.col("vec_id") % 4 == i) for i in range(4)]
    qv = np.asarray(
        finite_vectors(emb, "embedding", 64)
        .where(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )
    pidx = str(tmp_path / "crash_soak")
    ivfpq_build_index(slices[0], pidx, n_cells=4, m=16, ksub=32,
                      cache_key=SF_SMOKE + f"_cs{seed}", dim=64,
                      drift_reference=False)
    ingested = [0]

    def probe():
        return [(r.vec_id, r.cosine) for r in ivfpq_probe_indexed(
            spark, pidx, qv, k=8, nprobe=4, shortlist=2000,
            exclude_id=0).collect()]

    def brute():
        cur = slices[ingested[0]]
        for i in ingested[1:]:
            cur = cur.unionByName(slices[i])
        return [(r.vec_id, r.cosine) for r in knn_topk(
            cur, 0, k=8, dim=64).collect()]

    real = similarity._list_append_markers

    def compact_with_crash(crash_at):
        calls = {"n": 0}

        def crashing(spark_, root):
            calls["n"] += 1
            if calls["n"] == crash_at:
                raise RuntimeError("soak crash")
            return real(spark_, root)

        monkeypatch.setattr(similarity, "_list_append_markers", crashing)
        try:
            with pytest.raises(RuntimeError, match="soak crash"):
                ann_index_compact(spark, pidx)
        finally:
            monkeypatch.setattr(similarity, "_list_append_markers", real)

    assert probe() == brute()
    next_slice = 1
    for _ in range(5):
        op = rng.choice(["append", "compact", "compact"])
        if op == "append" and next_slice < 4:
            if rng.random() < 0.5:
                ivfpq_append(slices[next_slice],
                             f"{pidx}/ingest_batch={next_slice}",
                             mode="overwrite")
            else:
                ivfpq_append(slices[next_slice], pidx)
            ingested.append(next_slice)
            next_slice += 1
        else:
            want = probe()
            crash = rng.choice([None, 3, 4])  # pre-swap / post-swap re-list
            if crash is not None:
                compact_with_crash(crash)
                stats = ann_index_recover(spark, pidx)
                assert (stats["recovered"] + stats["staging_removed"]
                        + stats["staged_removed"]) > 0, (crash, stats)
                assert probe() == want, ("post-recover", crash)
                rep = ann_index_verify(spark, pidx)
                assert rep["ok"], rep
            ann_index_compact(spark, pidx)
            assert probe() == want, "post-compact"
        assert probe() == brute()
        rep = ann_index_verify(spark, pidx)
        assert rep["ok"], rep


def test_read_index_manifest_fast_path_no_job_and_legacy_fallback(
        spark, tmp_path):
    """r15: the healthy-path manifest read goes through the driver-side
    JVM FileSystem — ZERO Spark jobs (it used to launch one per read;
    every path-only probe/append/drift check paid it) — while legacy
    DataFrame-text layouts (the Connect fallback's part files) still
    read through the text source."""
    import shutil

    from dask_hivemetastore_spark.operators.similarity import (
        read_index_manifest,
    )

    _, idx = _small_lsh_index(spark, tmp_path, "fastread_idx")

    spark.sparkContext.setJobGroup("manifest_fast_read", "pin", False)
    try:
        m = read_index_manifest(spark, idx)
    finally:
        spark.sparkContext.setJobGroup("", "", False)
    assert m is not None and m["kind"] == "lsh" and m["epoch"] == 0
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    assert len(tracker.getJobIdsForGroup("manifest_fast_read")) == 0

    # legacy layout: the manifest as DataFrame-text part files (what a
    # JVM-less runtime writes) — the text-source fallback serves it
    payload = {k: v for k, v in m.items() if not k.startswith("_")}
    import json as _json

    shutil.rmtree(f"{idx}/_index_manifest")
    (
        spark.createDataFrame([(_json.dumps(payload, sort_keys=True),)],
                              "manifest string")
        .coalesce(1).write.mode("overwrite")
        .text(f"{idx}/_index_manifest")
    )
    legacy = read_index_manifest(spark, idx)
    assert legacy is not None and legacy["kind"] == "lsh"
    assert legacy["epoch"] == 0


def test_ann_index_verify_deep_flags_out_of_range_pq_codes(spark, tmp_path):
    """r15: the deep fsck reads ONLY the 16-byte code column and flags
    any persisted centroid id outside [0, ksub) — wraparound or
    codebook-mismatch corruption that would silently mis-rank the ADC
    screen."""
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_verify,
        ivfpq_build_index,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "pqrange")
    ivfpq_build_index(emb, idx, n_cells=4, m=16, ksub=32,
                      cache_key=SF_SMOKE + "_pqr", dim=64,
                      drift_reference=False)
    rep = ann_index_verify(spark, idx, deep=True)
    assert rep["ok"] and rep["checks"]["pq_code_range"] == [0, 31]

    bad = (
        spark.read.option("basePath", idx).parquet(f"{idx}/cell=0")
        .limit(1)
        .withColumn("pq_code",
                    F.expr("transform(pq_code, x -> CAST(-3 AS TINYINT))"))
        .drop("cell")
    )
    bad.write.mode("append").parquet(f"{idx}/cell=0")
    rep2 = ann_index_verify(spark, idx, deep=True)
    assert not rep2["ok"]
    assert any("outside [0, ksub=32)" in p for p in rep2["problems"])


def test_recover_restores_crashed_quantized_store_swap(spark, tmp_path):
    """r15: the LSH INT8 sidecar's compaction mini-swap (qroot renamed
    to _tomb__quantized, staged qbatch renamed in) runs AFTER the main
    swap commits — a crash inside it must restore the ORIGINAL store
    (content-preserving either way: readers project past qbatch), keep
    the INT8-screened probe exact, and leave verify clean."""
    import os

    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_recover,
        ann_index_verify,
        lsh_append,
        lsh_build_index,
        lsh_probe_indexed,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "qswap_idx")
    lsh_build_index(emb.where(F.col("vec_id") % 2 == 0), idx,
                    dim=64, bits=8, n_tables=2, quantized=True)
    lsh_append(emb.where(F.col("vec_id") % 2 == 1), idx)
    want = [tuple(r) for r in lsh_probe_indexed(
        emb, idx, query_id=0, k=10).collect()]

    # crash state mid-qstore-swap: original store tombstoned, qroot
    # recreated empty, staging half-written (main swap already clean)
    os.rename(f"{idx}/_quantized", f"{idx}/_tomb__quantized")
    os.makedirs(f"{idx}/_quantized")
    os.makedirs(f"{idx}__compact_qstage")
    rep = ann_index_verify(spark, idx)
    assert not rep["ok"]

    stats = ann_index_recover(spark, idx)
    assert stats["recovered"] == 1 and stats["staging_removed"] == 1
    assert not os.path.exists(f"{idx}/_tomb__quantized")
    got = [tuple(r) for r in lsh_probe_indexed(
        emb, idx, query_id=0, k=10).collect()]
    assert got == want and len(got) == 10
    assert ann_index_verify(spark, idx)["ok"]


# ---------------------------------------------------------------------------
# r16: maintenance lock, rebuild verb, recover hardening (r15 advisor)
# ---------------------------------------------------------------------------


def test_maintenance_lock_excludes_concurrent_maintainers(spark, tmp_path):
    """r16 (VERDICT r15 missing #3): two maintainers racing each other
    fail LOUDLY at lock acquisition instead of interleaving tombstone
    renames — compact-vs-compact and rebuild-vs-compact both pinned via
    the race-window hook (the second maintainer fires while the first
    holds the lock mid-swap); a crashed holder's leftover lock blocks
    with a message naming ann_index_recover, which clears it."""
    import os

    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_compact,
        ann_index_rebuild,
        ann_index_recover,
        ann_index_verify,
        lsh_append,
    )

    emb, idx = _small_lsh_index(spark, tmp_path, "lock_idx")
    lsh_append(emb.where(F.col("vec_id") % 2 == 1), idx)
    hits = []

    def second_compact():
        with pytest.raises(RuntimeError, match="_maint.lock"):
            ann_index_compact(spark, idx)
        hits.append("compact")

    ann_index_compact(spark, idx, _race_window_hook=second_compact)
    assert hits == ["compact"]
    assert not os.path.exists(f"{idx}/_maint.lock")  # released on success

    def second_rebuild():
        with pytest.raises(RuntimeError, match="_maint.lock"):
            ann_index_rebuild(spark, idx, corpus=emb)
        hits.append("rebuild")

    ann_index_compact(spark, idx, _race_window_hook=second_rebuild)
    assert hits == ["compact", "rebuild"]

    # crashed holder: leftover lock blocks, recover clears it
    open(f"{idx}/_maint.lock", "w").close()
    with pytest.raises(RuntimeError, match="ann_index_recover"):
        ann_index_compact(spark, idx)
    rep = ann_index_verify(spark, idx)
    assert not rep["ok"] and any("_maint.lock" in p for p in rep["problems"])
    stats = ann_index_recover(spark, idx)
    assert stats["lock_cleared"] == 1
    ann_index_compact(spark, idx)  # runs clean again
    assert ann_index_verify(spark, idx)["ok"]


def test_write_index_manifest_rename_failure_aborts_intact(spark, tmp_path):
    """r16 (r15 advisor #2): Hadoop rename reports failure by returning
    FALSE — an unchecked rename(tmp, final) followed by delete(prev)
    left no visible manifest. Forcing the failure (the swap hook deletes
    the staged tmp) must abort the swap loudly with the PREVIOUS
    manifest still served."""
    import json as _json

    from dask_hivemetastore_spark.operators.similarity import (
        read_index_manifest,
        write_index_manifest,
    )

    idx = str(tmp_path / "mf_idx")
    write_index_manifest(spark, idx, {"kind": "lsh", "dim": 64, "v": 1})
    assert read_index_manifest(spark, idx)["v"] == 1

    def kill_tmp():
        os.remove(f"{idx}/_index_manifest/.manifest.json.tmp")

    with pytest.raises(RuntimeError, match="returned false"):
        write_index_manifest(spark, idx, {"kind": "lsh", "dim": 64, "v": 2},
                             _swap_hook=kill_tmp)
    # previous manifest restored and visible under its final name
    raw = _json.loads(open(f"{idx}/_index_manifest/manifest.json").read())
    assert raw["v"] == 1
    assert read_index_manifest(spark, idx)["v"] == 1


def test_recover_corrupt_staged_sentinel(spark, tmp_path):
    """r16 (r15 advisor #1): a staged sentinel truncated mid-write (the
    byte write is not atomic) no longer crashes ann_index_recover with
    a JSONDecodeError. The sentinel lands after tombstoning and before
    any staged rename, so with NO visible data dirs the corrupt
    sentinel is provably empty and the roll-back restores the
    tombstones; with data dirs coexisting the state is ambiguous and
    recovery raises a targeted instruction instead of guessing (blind
    tombstone restore would reintroduce the fold row-doubling bug)."""
    import os

    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_recover,
        lsh_append,
        lsh_probe_indexed,
    )

    emb, idx = _small_lsh_index(spark, tmp_path, "corrupt_idx")
    lsh_append(emb.where(F.col("vec_id") % 2 == 1), idx)
    want = [tuple(r) for r in lsh_probe_indexed(
        emb, idx, query_id=0, k=10).collect()]

    # mid-sentinel-write crash: everything tombstoned, sentinel truncated
    tables = [d for d in os.listdir(idx) if d.startswith("table=")]
    for d in tables:
        os.rename(f"{idx}/{d}", f"{idx}/_tomb_{d}")
    with open(f"{idx}/_tomb_staged.json", "w") as f:
        f.write('{"staged": ["tab')  # truncated JSON
    stats = ann_index_recover(spark, idx)
    assert stats["recovered"] == len(tables)
    got = [tuple(r) for r in lsh_probe_indexed(
        emb, idx, query_id=0, k=10).collect()]
    assert got == want

    # ambiguous: corrupt sentinel with tombstones AND visible data dirs
    os.rename(f"{idx}/table=0", f"{idx}/_tomb_table=0")
    os.makedirs(f"{idx}/table=0")
    with open(f"{idx}/_tomb_staged.json", "w") as f:
        f.write('{"staged": ["tab')
    with pytest.raises(RuntimeError, match="unreadable"):
        ann_index_recover(spark, idx)
    # manual step: clear the junk dir + sentinel, then recover heals
    os.rmdir(f"{idx}/table=0")
    os.remove(f"{idx}/_tomb_staged.json")
    stats = ann_index_recover(spark, idx)
    assert stats["recovered"] == 1
    got = [tuple(r) for r in lsh_probe_indexed(
        emb, idx, query_id=0, k=10).collect()]
    assert got == want


def test_recover_manifest_tmp_only_copy_rolls_forward(spark, tmp_path):
    """r16 (r15 advisor #3): when the staged .manifest.json.tmp is the
    ONLY manifest copy (final and backup both gone — a crash between a
    rebuild's stale-cleanup and its rename), recover rolls it INTO
    PLACE instead of destroying it; an unparseable only-copy is kept on
    disk and reported, never silently deleted."""
    import shutil

    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_recover,
        read_index_manifest,
        write_index_manifest,
    )

    idx = str(tmp_path / "tmponly_idx")
    write_index_manifest(spark, idx, {"kind": "ivf", "dim": 64, "v": 7})
    mdir = f"{idx}/_index_manifest"
    shutil.move(f"{mdir}/manifest.json", f"{mdir}/.manifest.json.tmp")
    assert read_index_manifest(spark, idx) is None  # index is dark
    stats = ann_index_recover(spark, idx)
    assert stats["manifest_healed"] == 1 and stats["manifest_tmp_kept"] == 0
    assert read_index_manifest(spark, idx)["v"] == 7  # rolled forward

    # unparseable only-copy: kept + reported
    shutil.move(f"{mdir}/manifest.json", f"{mdir}/.manifest.json.tmp")
    with open(f"{mdir}/.manifest.json.tmp", "w") as f:
        f.write('{"kind": "iv')  # truncated
    stats = ann_index_recover(spark, idx)
    assert stats["manifest_tmp_kept"] == 1
    assert os.path.exists(f"{mdir}/.manifest.json.tmp")  # never destroyed

    # once a committed manifest exists again, a stale tmp is dropped
    write_index_manifest(spark, idx, {"kind": "ivf", "dim": 64, "v": 8})
    with open(f"{mdir}/.manifest.json.tmp", "w") as f:
        f.write("junk")
    stats = ann_index_recover(spark, idx)
    assert stats["manifest_healed"] == 1
    assert not os.path.exists(f"{mdir}/.manifest.json.tmp")
    assert read_index_manifest(spark, idx)["v"] == 8


def test_recover_roll_forward_finishes_compaction(spark, tmp_path):
    """r16 (r15 advisor #4): a committed-swap crash used to leave the
    snapshotted append markers pending and the epoch unbumped — verify
    then showed pending markers describing ingest_batch dirs the fold
    had already consumed. With the r16 sentinel recording (markers,
    epoch), roll-forward FINISHES the compaction: markers consumed,
    epoch bumped, verify clean."""
    import json as _json
    import os
    import shutil

    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.operators.similarity import (
        _list_append_markers,
        ann_index_recover,
        ann_index_verify,
        lsh_append,
        lsh_probe_indexed,
        read_index_manifest,
    )

    emb, idx = _small_lsh_index(spark, tmp_path, "finish_idx")
    lsh_append(emb.where(F.col("vec_id") % 2 == 1), idx)
    markers = sorted(_list_append_markers(spark, idx))
    assert markers  # the append recorded one
    want = [tuple(r) for r in lsh_probe_indexed(
        emb, idx, query_id=0, k=10).collect()]

    # committed-swap crash state with the r16 sentinel format
    tables = [d for d in os.listdir(idx) if d.startswith("table=")]
    for d in tables:
        shutil.copytree(f"{idx}/{d}", f"{idx}/_tomb_{d}")
    with open(f"{idx}/_tomb_staged.json", "w") as f:
        f.write(_json.dumps({"staged": tables, "markers": markers,
                             "epoch": 0, "op": "compact"}))
    with open(f"{idx}/_tomb_swapped.json", "w") as f:
        f.write("{}")

    stats = ann_index_recover(spark, idx)
    assert stats["rolled_forward"] == len(tables)
    assert stats["markers_consumed"] == len(markers)
    assert stats["epoch_finished"] == 1
    assert stats["pending_markers"] == 0
    assert int(read_index_manifest(spark, idx)["epoch"]) == 1
    got = [tuple(r) for r in lsh_probe_indexed(
        emb, idx, query_id=0, k=10).collect()]
    assert got == want
    assert ann_index_verify(spark, idx)["ok"]


def test_ann_index_rebuild_ivf_drift_lifecycle(spark, tmp_path):
    """r16 (VERDICT r15 missing #2): the full detect -> append ->
    REBUILD -> verify lifecycle on an IVF index. A shifted batch flags
    the per-index 3-sigma drift trigger against the build-time
    reference; after ann_index_rebuild retrains the coarse quantizer on
    the post-drift corpus and refreshes the drift reference, the SAME
    batch no longer flags (the quantizer owns the mode now), the
    rebuilt layout equals a fresh full-corpus assignment row-for-row,
    the epoch is bumped, the append markers are consumed, and the
    path-only probe serves exactly."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        _list_append_markers,
        ann_index_rebuild,
        ann_index_verify,
        finite_vectors,
        ivf_append,
        ivf_assign_full,
        ivf_build_index,
        ivf_drift_check_batch,
        ivf_probe_indexed,
        knn_topk,
        read_index_manifest,
        shift_vectors,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "rebuild_ivf")
    ivf_build_index(emb, idx, n_cells=16, dim=64)

    sq_norm = F.aggregate(
        "embedding", F.lit(0.0),
        lambda a, x: a + x.cast("double") * x.cast("double"),
    )
    ctrl = emb.where(F.col("vec_id") % 10 == 0).where(sq_norm > 0)
    shifted = shift_vectors(ctrl, alpha=2.0, dim=64).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    )
    _, flag_before = ivf_drift_check_batch(shifted, idx)
    assert flag_before  # the trigger fires against the old quantizer

    ivf_append(shifted, idx)
    assert _list_append_markers(spark, idx)  # append recorded

    stats = ann_index_rebuild(spark, idx)
    assert stats["kind"] == "ivf" and stats["epoch"] == 1
    assert stats["drift_reference_refreshed"]
    assert not _list_append_markers(spark, idx)  # markers consumed

    _, flag_after = ivf_drift_check_batch(shifted, idx)
    assert not flag_after  # the retrained quantizer owns the mode

    # rebuilt layout == fresh assignment of the union against the NEW
    # centroids, row for row
    m = read_index_manifest(spark, idx)
    assert int(m["epoch"]) == 1
    C_new = np.asarray(m["centroids"], dtype=np.float64)
    union = emb.unionByName(shifted)
    got = spark.read.parquet(idx).select("cell", "vec_id")
    want = ivf_assign_full(union, C_new, "embedding", dim=64).select(
        "cell", "vec_id")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # path-only probe at full nprobe == brute force over the union
    qv = np.asarray(
        finite_vectors(emb, "embedding", 64)
        .where(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )
    got_p = [tuple(r) for r in ivf_probe_indexed(
        spark, idx, None, qv, k=10, nprobe=16, exclude_id=0).collect()]
    want_p = [tuple(r) for r in knn_topk(union, 0, k=10, dim=64).collect()]
    assert got_p == want_p and len(got_p) == 10
    assert ann_index_verify(spark, idx)["ok"]


def test_ann_index_rebuild_lsh_content_identical_and_reseed(spark, tmp_path):
    """LSH rebuild: with the manifest's own config it is a pure repair
    verb — postings content-identical to a fresh one-shot build over
    the corpus (planes are a pure seeded function), batch dirs folded,
    INT8 store rewritten under the rebuild label; with a NEW seed the
    postings equal a fresh build at that seed (the re-seed path the
    drift docs prescribe for plane rotation)."""
    import os

    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        _lsh_postings,
        ann_index_rebuild,
        ann_index_verify,
        lsh_append,
        lsh_build_index,
        lsh_probe_indexed,
        read_index_manifest,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "rebuild_lsh")
    lsh_build_index(emb.where(F.col("vec_id") % 2 == 0), idx,
                    dim=64, bits=8, n_tables=2)
    lsh_append(emb.where(F.col("vec_id") % 2 == 1),
               f"{idx}/ingest_batch=b1", mode="overwrite")
    want = [tuple(r) for r in lsh_probe_indexed(
        emb, idx, query_id=0, k=10).collect()]

    with pytest.raises(ValueError, match="pass the corpus"):
        ann_index_rebuild(spark, idx)  # postings hold hashes, not floats

    stats = ann_index_rebuild(spark, idx, corpus=emb)
    assert stats["kind"] == "lsh" and stats["epoch"] == 1
    assert stats["n_batch_dirs_folded"] == 1
    assert not any(n.startswith("ingest_batch=") for n in os.listdir(idx))

    got = spark.read.parquet(idx).selectExpr(
        "cast(table as int) table", "bucket", "vec_id")
    expect = _lsh_postings(emb, dim=64, bits=8, n_tables=2,
                           id_col="vec_id", vec_col="embedding",
                           seed=42).select("table", "bucket", "vec_id")
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0
    # INT8 store rewritten under the single rebuild label
    qlabels = os.listdir(f"{idx}/_quantized")
    assert qlabels == ["qbatch=rebuild"]
    got_p = [tuple(r) for r in lsh_probe_indexed(
        emb, idx, query_id=0, k=10).collect()]
    assert got_p == want  # same planes -> same index -> same answer
    assert ann_index_verify(spark, idx)["ok"]

    # re-seed: content equals a fresh build at the new seed
    stats = ann_index_rebuild(spark, idx, corpus=emb, seed=7)
    assert stats["seed"] == 7 and stats["epoch"] == 2
    assert int(read_index_manifest(spark, idx)["seed"]) == 7
    got = spark.read.parquet(idx).selectExpr(
        "cast(table as int) table", "bucket", "vec_id")
    expect7 = _lsh_postings(emb, dim=64, bits=8, n_tables=2,
                            id_col="vec_id", vec_col="embedding",
                            seed=7).select("table", "bucket", "vec_id")
    assert got.exceptAll(expect7).count() == 0
    assert expect7.exceptAll(got).count() == 0
    # the probe resolves the new seed from the manifest and still serves
    assert len(lsh_probe_indexed(emb, idx, query_id=0, k=10).collect()) == 10


def test_ann_index_rebuild_ivfpq_reencodes_and_serves_exact(spark, tmp_path):
    """IVFPQ rebuild: coarse centroids AND codebooks retrain on the
    current corpus (uncached), every row's 16-byte code re-encodes, and
    the full-config probe still recovers the brute-force top-10
    verbatim; deep verify passes (codes inside [0, ksub))."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_rebuild,
        ann_index_verify,
        finite_vectors,
        ivfpq_append,
        ivfpq_build_index,
        ivfpq_probe_indexed,
        knn_topk,
        read_index_manifest,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "rebuild_ivfpq")
    ivfpq_build_index(emb.where(F.col("vec_id") % 2 == 0), idx,
                      n_cells=4, m=16, ksub=32, dim=64,
                      drift_reference=False)
    ivfpq_append(emb.where(F.col("vec_id") % 2 == 1), idx)

    stats = ann_index_rebuild(spark, idx)
    assert stats["kind"] == "ivfpq" and stats["epoch"] == 1
    m = read_index_manifest(spark, idx)
    assert int(m["epoch"]) == 1 and int(m["n_cells"]) == 4

    qv = np.asarray(
        finite_vectors(emb, "embedding", 64)
        .where(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )
    got = [tuple(r) for r in ivfpq_probe_indexed(
        spark, idx, qv, k=10, nprobe=4, shortlist=2000,
        exclude_id=0).collect()]
    want = [tuple(r) for r in knn_topk(emb, 0, k=10, dim=64).collect()]
    assert got == want and len(got) == 10
    rep = ann_index_verify(spark, idx, deep=True)
    assert rep["ok"], rep


def test_ann_index_rebuild_crash_rollback_and_rollforward(
        spark, tmp_path, monkeypatch):
    """Rebuild crash discipline: a crash BEFORE the manifest commit
    rolls the retrained layout back losslessly (old quantizer still
    authoritative — probe identical to pre-crash, drift still flags);
    a crash AFTER the commit rolls forward (recover finishes cleanup,
    consumes the snapshotted markers, rebuilt index serves)."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.operators import similarity
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        _list_append_markers,
        ann_index_rebuild,
        ann_index_recover,
        ann_index_verify,
        finite_vectors,
        ivf_append,
        ivf_build_index,
        ivf_probe_indexed,
        read_index_manifest,
        shift_vectors,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "rebuild_crash")
    ivf_build_index(emb, idx, n_cells=16, dim=64, drift_reference=False)
    shifted = shift_vectors(
        emb.where(F.col("vec_id") % 10 == 0), alpha=2.0, dim=64
    ).withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000))
    ivf_append(shifted, idx)
    qv = np.asarray(
        finite_vectors(emb, "embedding", 64)
        .where(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )

    def probe():
        return [(r.vec_id, r.cosine) for r in ivf_probe_indexed(
            spark, idx, None, qv, k=10, nprobe=16, exclude_id=0).collect()]

    want = probe()
    n_markers = len(_list_append_markers(spark, idx))
    assert n_markers == 1

    # ---- crash BEFORE the commit: the post-swap marker re-list raises
    real = similarity._list_append_markers
    calls = {"n": 0}

    def crash_post_swap(spark_, root):
        calls["n"] += 1
        if calls["n"] == 4:  # stale-check, snapshot, pre-swap, post-swap
            raise RuntimeError("rebuild crash pre-commit")
        return real(spark_, root)

    monkeypatch.setattr(similarity, "_list_append_markers", crash_post_swap)
    with pytest.raises(RuntimeError, match="pre-commit"):
        ann_index_rebuild(spark, idx)
    monkeypatch.setattr(similarity, "_list_append_markers", real)

    stats = ann_index_recover(spark, idx)
    assert stats["recovered"] > 0 and stats["staged_removed"] > 0
    assert stats["pending_markers"] == n_markers  # rollback keeps them
    assert int(read_index_manifest(spark, idx).get("epoch", 0)) == 0
    assert probe() == want  # old quantizer, old layout — exact
    assert ann_index_verify(spark, idx)["ok"]

    # ---- crash AFTER the commit: the swapped-sentinel write raises
    real_wb = similarity._fs_write_bytes

    def crash_on_swapped(spark_, path, data):
        if path.endswith("_tomb_swapped.json"):
            raise RuntimeError("rebuild crash post-commit")
        return real_wb(spark_, path, data)

    monkeypatch.setattr(similarity, "_fs_write_bytes", crash_on_swapped)
    with pytest.raises(RuntimeError, match="post-commit"):
        ann_index_rebuild(spark, idx)
    monkeypatch.setattr(similarity, "_fs_write_bytes", real_wb)

    stats = ann_index_recover(spark, idx)
    assert stats["rolled_forward"] > 0 and stats["recovered"] == 0
    assert stats["markers_consumed"] == n_markers
    assert stats["pending_markers"] == 0
    m = read_index_manifest(spark, idx)
    assert int(m["epoch"]) == 1  # the commit stood
    assert len(probe()) == 10  # rebuilt index serves path-only
    assert ann_index_verify(spark, idx)["ok"]


def test_lsh_append_batch_dir_target_anchors_int8_store_at_root(
        spark, tmp_path):
    """r16: a batch-keyed lsh_append may pass the batch dir as the
    TARGET (.../index/ingest_batch=7 — the ivf_append style) instead of
    subdir=. The INT8 sidecar must still land at the index ROOT: buried
    under the batch dir no probe reads it, and the screen's semi-join
    silently dropped those ids from every shortlist — the probe missed
    the true nearest neighbor with no error anywhere. Pinned: root
    placement, probe identity with the subdir= style, and deep verify
    flagging a store with missing ids."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_verify,
        lsh_append,
        lsh_build_index,
        lsh_probe_indexed,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    via_target = str(tmp_path / "via_target")
    via_subdir = str(tmp_path / "via_subdir")
    for idx in (via_target, via_subdir):
        lsh_build_index(emb.where(F.col("vec_id") % 2 == 0), idx,
                        dim=64, bits=8, n_tables=2)
    lsh_append(emb.where(F.col("vec_id") % 2 == 1),
               f"{via_target}/ingest_batch=b1", mode="overwrite")
    lsh_append(emb.where(F.col("vec_id") % 2 == 1), via_subdir,
               subdir="ingest_batch=b1", mode="overwrite")

    # store anchored at the ROOT under the batch-derived label, nothing
    # buried inside the batch dir
    assert sorted(os.listdir(f"{via_target}/_quantized")) == [
        "qbatch=build", "qbatch=ingest_batch_b1"]
    assert not os.path.exists(f"{via_target}/ingest_batch=b1/_quantized")

    got_t = [tuple(r) for r in lsh_probe_indexed(
        emb, via_target, query_id=0, k=10).collect()]
    got_s = [tuple(r) for r in lsh_probe_indexed(
        emb, via_subdir, query_id=0, k=10).collect()]
    assert got_t == got_s and len(got_t) == 10
    assert ann_index_verify(spark, via_target, deep=True)["ok"]

    # a store missing postings ids is the silent-drop failure mode —
    # deep verify must flag it
    shutil.rmtree(f"{via_target}/_quantized/qbatch=ingest_batch_b1")
    rep = ann_index_verify(spark, via_target, deep=True)
    assert not rep["ok"]
    assert any("missing from the INT8 store" in p for p in rep["problems"])
    assert rep["checks"]["ids_missing_from_int8_store"] > 0


def test_rebuild_append_race_aborts_before_swap(spark, tmp_path):
    """ann_index_rebuild shares compact's append-race protocol: an
    append completing between the rebuild's marker snapshot and its
    swap (injected via the race-window hook) aborts the rebuild loudly
    BEFORE anything is tombstoned — zero loss, the old index serves,
    and a re-run in a quiet window succeeds and includes the raced
    rows (assigned by the NEW quantizer, since the re-run retrains on
    the corpus that now contains them)."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_rebuild,
        ivf_append,
        ivf_assign_full,
        ivf_build_index,
        ivf_probe_indexed,
        read_index_manifest,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "rebuild_race")
    ivf_build_index(emb.where(F.col("vec_id") % 2 == 0), idx,
                    n_cells=8, dim=64, drift_reference=False)

    def racing_append():
        ivf_append(emb.where(F.col("vec_id") % 2 == 1), idx)

    with pytest.raises(RuntimeError, match="completed at"):
        ann_index_rebuild(spark, idx, _race_window_hook=racing_append)
    # nothing tombstoned, no sentinels, raced rows queryable, epoch 0
    names = os.listdir(idx)
    assert not any(n.startswith("_tomb") for n in names)
    assert int(read_index_manifest(spark, idx).get("epoch", 0)) == 0
    assert spark.read.parquet(idx).where(
        F.col("vec_id") % 2 == 1).count() > 0

    stats = ann_index_rebuild(spark, idx)  # quiet window: succeeds
    assert stats["epoch"] == 1
    C_new = np.asarray(
        read_index_manifest(spark, idx)["centroids"], dtype=np.float64)
    got = spark.read.parquet(idx).select("cell", "vec_id")
    want = ivf_assign_full(emb, C_new, "embedding", dim=64).select(
        "cell", "vec_id")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    qv = np.asarray(emb.where(F.col("vec_id") == 0)
                    .select("embedding").first()[0], dtype=np.float64)
    assert len(ivf_probe_indexed(
        spark, idx, None, qv, k=10, nprobe=8, exclude_id=0).collect()) == 10


def test_rebuild_capacity_change_n_cells(spark, tmp_path):
    """Capacity changes ride the rebuild verb: rebuild(n_cells=8) on a
    16-cell IVF index retrains at the new cell count, rewrites the
    layout with exactly the new partitions, updates the manifest, and
    the full-nprobe probe still recovers the brute-force top-10 —
    the operation a capacity planner runs when cells run hot."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_rebuild,
        ann_index_verify,
        ivf_build_index,
        ivf_probe_indexed,
        knn_topk,
        read_index_manifest,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "rebuild_cap")
    ivf_build_index(emb, idx, n_cells=16, dim=64, drift_reference=False)
    assert sum(1 for d in os.listdir(idx) if d.startswith("cell=")) == 16

    stats = ann_index_rebuild(spark, idx, n_cells=8)
    assert stats["epoch"] == 1
    m = read_index_manifest(spark, idx)
    assert int(m["n_cells"]) == 8
    assert len(m["centroids"]) == 8
    cells = {d for d in os.listdir(idx) if d.startswith("cell=")}
    assert len(cells) == 8 and all(
        int(c.split("=")[1]) < 8 for c in cells)

    qv = np.asarray(emb.where(F.col("vec_id") == 0)
                    .select("embedding").first()[0], dtype=np.float64)
    got = [tuple(r) for r in ivf_probe_indexed(
        spark, idx, None, qv, k=10, nprobe=8, exclude_id=0).collect()]
    want = [tuple(r) for r in knn_topk(emb, 0, k=10, dim=64).collect()]
    assert got == want  # nprobe == new n_cells: exact
    assert ann_index_verify(spark, idx)["ok"]


def test_rebuild_preserves_int8_cols_variant(spark, tmp_path):
    """An IVF index built with int8_cols=True (the probe-screen
    variant) keeps its INT8 columns through a rebuild: the manifest
    flag survives, every rebuilt row carries qvec/scale re-derived
    from the floats (never stale copies of the old assignment), and
    the dequantized codes still reconstruct the vectors within the
    documented scale/2 bound."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_rebuild,
        ann_index_verify,
        ivf_build_index,
        read_index_manifest,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "rebuild_int8")
    ivf_build_index(emb, idx, n_cells=8, dim=64, drift_reference=False,
                    int8_cols=True)
    stats = ann_index_rebuild(spark, idx)
    assert stats["epoch"] == 1
    m = read_index_manifest(spark, idx)
    assert bool(m["int8_cols"]) is True
    rows = spark.read.parquet(idx)
    assert {"qvec", "scale"} <= set(rows.columns)
    # finite rows all carry codes; reconstruction error bounded
    bad = rows.where(F.col("qvec").isNull()).count()
    assert bad == 0  # the fixture slice is all-finite
    sample = rows.select("embedding", "qvec", "scale").limit(50).collect()
    for r in sample:
        v = np.asarray(r.embedding, dtype=np.float64)
        q = np.asarray(r.qvec, dtype=np.float64) * r.scale
        assert np.max(np.abs(v - q)) <= r.scale / 2 + 1e-9
    assert ann_index_verify(spark, idx)["ok"]


def test_rebuild_ivfpq_residual_variant_and_drift_ref_semantics(
        spark, tmp_path):
    """The residual=True IVFPQ formulation survives a rebuild: the flag
    is honored (codebooks retrain on x - centroid[cell] residuals
    against the NEW coarse centroids, codes re-encode), and the
    full-config probe still recovers the brute-force top-10 verbatim.
    drift_reference semantics: a build without a drift reference
    rebuilds without one (no surprise full-corpus reference pass), and
    passing drift_reference=True opts the rebuilt manifest in."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.operators import similarity
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_rebuild,
        ann_index_verify,
        finite_vectors,
        ivfpq_build_index,
        ivfpq_probe_indexed,
        knn_topk,
        read_index_manifest,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "rebuild_res")
    ivfpq_build_index(emb, idx, n_cells=4, m=16, ksub=32, dim=64,
                      drift_reference=False, residual=True)

    stats = ann_index_rebuild(spark, idx)
    assert stats["epoch"] == 1
    assert stats["drift_reference_refreshed"] is False  # none to refresh
    m = read_index_manifest(spark, idx)
    assert bool(m["residual"]) is True
    assert "drift" not in dict.keys(m)

    # residual codes really encode against the NEW centroids: decoding
    # a row's code via the manifest artifacts must approximate the
    # vector (centroid + codebook lookup), which only holds if encode
    # and manifest agree on the quantizer
    C = np.asarray(m["centroids"], dtype=np.float64)
    books = np.asarray(m["codebooks"], dtype=np.float64)
    row = spark.read.parquet(idx).select(
        "cell", "embedding", "pq_code").first()
    v = np.asarray(row.embedding, dtype=np.float64)
    dsub = v.size // books.shape[0]
    rec = C[row.cell].copy()
    for j, code in enumerate(row.pq_code):
        rec[j * dsub:(j + 1) * dsub] += books[j, int(code)]
    res_norm = np.linalg.norm(v - C[row.cell])
    assert np.linalg.norm(v - rec) < res_norm + 1e-9  # codes help

    qv = np.asarray(
        finite_vectors(emb, "embedding", 64)
        .where(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )
    got = [tuple(r) for r in ivfpq_probe_indexed(
        spark, idx, qv, k=10, nprobe=4, shortlist=2000,
        exclude_id=0).collect()]
    want = [tuple(r) for r in knn_topk(emb, 0, k=10, dim=64).collect()]
    assert got == want
    assert ann_index_verify(spark, idx, deep=True)["ok"]

    # opting the reference IN at rebuild time
    stats = ann_index_rebuild(spark, idx, drift_reference=True)
    assert stats["drift_reference_refreshed"] is True
    m = read_index_manifest(spark, idx)
    assert "drift" in dict.keys(m)
    st, flagged = similarity.ivf_drift_check_batch(
        emb.where(F.col("vec_id") % 10 == 0), idx)
    assert not flagged  # in-distribution batch fits the fresh reference


def test_rebuild_sidecar_crash_before_commit_keeps_old_quantizer(
        spark, tmp_path, monkeypatch):
    """r17 (r16 advisor #1): the rebuild commit's sidecar writes must
    not clobber the generation the OLD manifest references. Crash the
    commit's write_index_manifest between the new-generation sidecar
    write and the manifest JSON rename: recover rolls the layout back
    (epoch unchanged) and the restored manifest must lazily serve the
    OLD centroids — the fixed-name protocol served the NEW quantizer
    against the old cell layout here, silent wrong answers. Also pins
    the orphaned uncommitted generation being collected by recover."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.operators import similarity
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_rebuild,
        ann_index_recover,
        ann_index_verify,
        finite_vectors,
        ivf_append,
        ivf_build_index,
        ivf_probe_indexed,
        read_index_manifest,
        shift_vectors,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "rebuild_sidecar_crash")
    ivf_build_index(emb, idx, n_cells=16, dim=64, drift_reference=False)
    C0 = np.asarray(read_index_manifest(spark, idx)["centroids"],
                    dtype=np.float64)
    shifted = shift_vectors(
        emb.where(F.col("vec_id") % 10 == 0), alpha=2.0, dim=64
    ).withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000))
    ivf_append(shifted, idx)
    qv = np.asarray(
        finite_vectors(emb, "embedding", 64)
        .where(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )

    def probe():
        # nprobe < n_cells so centroid-ranked pruning actually decides
        # the answer — probing every cell would mask a swapped quantizer
        return [(r.vec_id, r.cosine) for r in ivf_probe_indexed(
            spark, idx, None, qv, k=10, nprobe=4, exclude_id=0).collect()]

    want = probe()
    sc_dir = f"{idx}/{similarity._CENTROID_SIDECAR_DIR}"

    def gens():  # visible generations (the local FS adds .crc siblings)
        return sorted(n for n in os.listdir(sc_dir)
                      if not n.startswith("."))

    assert len(gens()) == 1

    real_wb = similarity._fs_write_bytes

    def crash_on_manifest_tmp(spark_, path, data):
        if path.endswith(similarity._MANIFEST_TMP):
            raise RuntimeError("crash between sidecar write and commit")
        return real_wb(spark_, path, data)

    monkeypatch.setattr(similarity, "_fs_write_bytes",
                        crash_on_manifest_tmp)
    with pytest.raises(RuntimeError, match="between sidecar write"):
        ann_index_rebuild(spark, idx)
    monkeypatch.setattr(similarity, "_fs_write_bytes", real_wb)

    # the uncommitted generation landed at its own digest path — the
    # authoritative pointer's bytes are untouched
    assert len(gens()) == 2

    stats = ann_index_recover(spark, idx)
    assert stats["recovered"] > 0 and stats["staged_removed"] > 0
    assert stats["sidecar_orphans_removed"] >= 1
    m = read_index_manifest(spark, idx)
    assert int(m.get("epoch", 0)) == 0  # rolled back
    C_after = np.asarray(m["centroids"], dtype=np.float64)
    assert np.allclose(C_after, C0)  # OLD quantizer authoritative
    assert probe() == want  # exact pre-crash results
    assert len(gens()) == 1  # orphan collected
    assert ann_index_verify(spark, idx)["ok"]

    # and the real rebuild still commits cleanly afterwards
    stats = ann_index_rebuild(spark, idx)
    assert stats["epoch"] == 1
    m = read_index_manifest(spark, idx)
    C1 = np.asarray(m["centroids"], dtype=np.float64)
    assert not np.allclose(C1, C0)  # retrained on the shifted corpus
    assert len(probe()) == 10
    assert ann_index_verify(spark, idx, deep=True)["ok"]


def test_manifest_sidecar_generation_gc_bounds_files(spark, tmp_path):
    """r17: digest-named sidecar generations are bounded — each
    payload-carrying write keeps its own generation plus the outgoing
    manifest's (lazy readers), GC-ing older ones; pointer-only writes
    (compact's epoch bump) leave the sidecar dir untouched."""
    import os

    import numpy as np

    from dask_hivemetastore_spark.operators import similarity
    from dask_hivemetastore_spark.operators.similarity import (
        read_index_manifest,
        write_index_manifest,
    )

    idx = str(tmp_path / "gen_gc")
    sc_dir = f"{idx}/{similarity._CENTROID_SIDECAR_DIR}"
    base = {"kind": "ivf", "dim": 4, "n_cells": 2}
    C = [np.full((2, 4), float(i)).tolist() for i in (1, 2, 3)]

    def gens():  # visible generations (the local FS adds .crc siblings)
        return sorted(n for n in os.listdir(sc_dir)
                      if not n.startswith("."))

    write_index_manifest(spark, idx, dict(base, centroids=C[0]))
    assert len(gens()) == 1
    write_index_manifest(spark, idx, dict(base, centroids=C[1]))
    assert len(gens()) == 2  # current + previous survive
    write_index_manifest(spark, idx, dict(base, centroids=C[2]))
    names = gens()
    assert len(names) == 2  # generation 1 collected
    m = read_index_manifest(spark, idx)
    ptr = dict.get(m, "centroids_sidecar")
    assert ptr.split("/")[-1] in names
    assert np.allclose(np.asarray(m["centroids"]), np.asarray(C[2]))

    # identical payload → identical digest → idempotent retry, no churn
    write_index_manifest(spark, idx, dict(base, centroids=C[2]))
    assert dict.get(read_index_manifest(spark, idx),
                    "centroids_sidecar") == ptr

    # pointer-only rewrite (the compact epoch-bump shape): no GC pass
    bumped = {k: v for k, v in dict.items(read_index_manifest(spark, idx))}
    bumped.pop("centroids", None)
    bumped["epoch"] = 1
    before = gens()
    write_index_manifest(spark, idx, bumped)
    assert gens() == before
    m = read_index_manifest(spark, idx)
    assert int(m["epoch"]) == 1
    assert np.allclose(np.asarray(m["centroids"]), np.asarray(C[2]))


def test_rollforward_empty_marker_snapshot_bumps_epoch(
        spark, tmp_path, monkeypatch):
    """r17 (r16 advisor #2): a compaction with an EMPTY marker snapshot
    (no appends since the last fold) that crashes after the swapped
    sentinel must still get its epoch bumped by recover — the finishing
    block is gated on the sentinel's epoch record, not its marker
    list."""
    from dask_hivemetastore_spark.operators import similarity
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_compact,
        ann_index_recover,
        ann_index_verify,
        ivf_build_index,
        read_index_manifest,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "empty_marker_rollforward")
    ivf_build_index(emb, idx, n_cells=8, dim=64, drift_reference=False)
    assert int(read_index_manifest(spark, idx).get("epoch", 0)) == 0

    real_wb = similarity._fs_write_bytes

    def crash_after_swapped(spark_, path, data):
        out = real_wb(spark_, path, data)
        if path.endswith(similarity._TOMB_SWAPPED_SENTINEL):
            raise RuntimeError("compact crash after swapped sentinel")
        return out

    monkeypatch.setattr(similarity, "_fs_write_bytes", crash_after_swapped)
    with pytest.raises(RuntimeError, match="after swapped sentinel"):
        ann_index_compact(spark, idx)
    monkeypatch.setattr(similarity, "_fs_write_bytes", real_wb)

    stats = ann_index_recover(spark, idx)
    assert stats["rolled_forward"] > 0 and stats["recovered"] == 0
    assert stats["markers_consumed"] == 0  # snapshot was empty
    assert stats["epoch_finished"] == 1  # ← the advisor's gap
    assert int(read_index_manifest(spark, idx)["epoch"]) == 1
    assert ann_index_verify(spark, idx)["ok"]


def test_compact_crash_at_swapped_sentinel_rolls_forward(
        spark, tmp_path, monkeypatch):
    """Compaction commits the way rebuild does: the epoch-bumped
    manifest write is the commit and the swapped sentinel comes after
    it. A compaction that crashes writing ``_tomb_swapped.json`` has
    therefore committed, and recover rolls it forward: the snapshotted
    markers are consumed, the epoch stays e+1, probes return the rows
    they returned before the crash, and verify is clean."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.operators import similarity
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        _list_append_markers,
        ann_index_compact,
        ann_index_recover,
        ann_index_verify,
        finite_vectors,
        ivf_append,
        ivf_build_index,
        ivf_probe_indexed,
        read_index_manifest,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "compact_swapped_crash")
    ivf_build_index(emb.where(F.col("vec_id") % 2 == 0), idx, n_cells=8,
                    dim=64, drift_reference=False)
    ann_index_compact(spark, idx)  # a clean pass first: e = 1
    ivf_append(emb.where(F.col("vec_id") % 2 == 1),
               f"{idx}/ingest_batch=1", mode="overwrite")
    e = int(read_index_manifest(spark, idx)["epoch"])
    markers = _list_append_markers(spark, idx)
    assert e == 1 and len(markers) == 1
    qv = np.asarray(
        finite_vectors(emb, "embedding", 64)
        .where(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )

    def probe():
        return [tuple(r) for r in ivf_probe_indexed(
            spark, idx, None, qv, k=10, nprobe=4, exclude_id=0).collect()]

    want = probe()
    real_wb = similarity._fs_write_bytes

    def crash_on_swapped(spark_, path, data):
        if path.endswith(similarity._TOMB_SWAPPED_SENTINEL):
            raise RuntimeError("compact crash at swapped sentinel")
        return real_wb(spark_, path, data)

    monkeypatch.setattr(similarity, "_fs_write_bytes", crash_on_swapped)
    with pytest.raises(RuntimeError, match="at swapped sentinel"):
        ann_index_compact(spark, idx)
    monkeypatch.setattr(similarity, "_fs_write_bytes", real_wb)

    stats = ann_index_recover(spark, idx)
    assert stats["rolled_forward"] > 0 and stats["recovered"] == 0
    assert stats["markers_consumed"] == len(markers)
    assert stats["pending_markers"] == 0
    assert not _list_append_markers(spark, idx)
    assert int(read_index_manifest(spark, idx)["epoch"]) == e + 1
    assert probe() == want and len(want) == 10
    assert ann_index_verify(spark, idx)["ok"]


def test_recover_manifest_heal_survives_raising_rename(spark, tmp_path):
    """r17 (r16 advisor #3): the local ChecksumFileSystem (and some
    object-store adapters) report rename failure by THROWING. A
    tmp-only-copy heal whose rename throws must degrade to the
    reported manifest_tmp_kept state — and a prev-restore whose rename
    throws must leave the backup on disk for the reader fallback —
    never crash ann_index_recover mid-heal."""
    import json as _json
    import os

    from dask_hivemetastore_spark.operators import similarity
    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_recover,
        read_index_manifest,
    )

    class _RaisingRenameFS:
        def __init__(self, fs):
            self._fs = fs

        def rename(self, *a):  # ChecksumFileSystem convention
            raise RuntimeError("java.io.IOException: rename failed")

        def __getattr__(self, name):
            return getattr(self._fs, name)

    real_fs = similarity._hadoop_fs

    def raising_fs(spark_, path):
        fs, JPath = real_fs(spark_, path)
        return (_RaisingRenameFS(fs) if fs is not None else None), JPath

    # --- tmp is the ONLY copy and parses: heal rename throws → kept
    idx = str(tmp_path / "heal_tmp_only")
    mdir = f"{idx}/{similarity._MANIFEST_DIR}"
    os.makedirs(mdir)
    payload = _json.dumps({"kind": "ivf", "dim": 4, "epoch": 0})
    with open(f"{mdir}/{similarity._MANIFEST_TMP}", "w") as f:
        f.write(payload)
    try:
        similarity._hadoop_fs = raising_fs
        stats = ann_index_recover(spark, idx)  # must not raise
    finally:
        similarity._hadoop_fs = real_fs
    assert stats["manifest_tmp_kept"] == 1
    assert os.path.exists(f"{mdir}/{similarity._MANIFEST_TMP}")
    # a later recover on a healthy FS rolls it forward
    stats = ann_index_recover(spark, idx)
    assert stats["manifest_healed"] == 1 and stats["manifest_tmp_kept"] == 0
    assert read_index_manifest(spark, idx)["kind"] == "ivf"

    # --- stranded prev, missing final: restore rename throws → kept
    idx2 = str(tmp_path / "heal_prev_only")
    mdir2 = f"{idx2}/{similarity._MANIFEST_DIR}"
    os.makedirs(mdir2)
    with open(f"{mdir2}/{similarity._MANIFEST_PREV}", "w") as f:
        f.write(payload)
    try:
        similarity._hadoop_fs = raising_fs
        stats = ann_index_recover(spark, idx2)  # must not raise
    finally:
        similarity._hadoop_fs = real_fs
    assert stats["manifest_healed"] == 0
    assert os.path.exists(f"{mdir2}/{similarity._MANIFEST_PREV}")
    # the reader fallback still serves the backup meanwhile
    assert read_index_manifest(spark, idx2)["kind"] == "ivf"
    stats = ann_index_recover(spark, idx2)
    assert stats["manifest_healed"] == 1
    assert os.path.exists(f"{mdir2}/manifest.json")


# ---------------------------------------------------------------------------
# One crash artifact at a time: verify names it, compaction refuses the
# ones a crashed pass leaves mid-swap, recover heals every one
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def healthy_ivf_index(spark, tmp_path_factory):
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import ivf_build_index
    from .conftest import SF_SMOKE

    idx = str(tmp_path_factory.mktemp("crash_states") / "healthy")
    ivf_build_index(load_table(spark, SF_SMOKE, "embeddings"), idx,
                    n_cells=8, cache_key=SF_SMOKE + "_crash", dim=64,
                    drift_reference=False)
    return idx


def _plant_tombstone(idx):
    cell = sorted(n for n in os.listdir(idx) if n.startswith("cell="))[0]
    os.rename(f"{idx}/{cell}", f"{idx}/_tomb_{cell}")
    return f"_tomb_{cell}"


def _plant_file(name, data=b"{}"):
    def plant(idx):
        with open(f"{idx}/{name}", "wb") as f:
            f.write(data)
        return name
    return plant


def _plant_manifest_copy(name):
    def plant(idx):
        mdir = f"{idx}/_index_manifest"
        with open(f"{mdir}/manifest.json", "rb") as src, \
                open(f"{mdir}/{name}", "wb") as dst:
            dst.write(src.read())
        return name
    return plant


def _plant_stage(suffix):
    def plant(idx):
        os.makedirs(f"{idx}{suffix}")
        return suffix
    return plant


#: artifact -> (plant it on an index root and return the name verify
#: must report, whether ann_index_compact refuses to run over it)
_CRASH_ARTIFACTS = {
    "tombstone": (_plant_tombstone, True),
    "staged_sentinel": (_plant_file(
        "_tomb_staged.json",
        b'{"staged": [], "markers": [], "epoch": 0, "op": "compact"}'), True),
    "swapped_sentinel": (_plant_file("_tomb_swapped.json"), True),
    "compact_stage": (_plant_stage("__compact_stage"), False),
    "rebuild_stage": (_plant_stage("__rebuild_stage"), False),
    "int8_stage": (_plant_stage("__compact_qstage"), False),
    "lock": (_plant_file("_maint.lock", b""), True),
    "manifest_tmp": (_plant_manifest_copy(".manifest.json.tmp"), False),
    "manifest_prev": (_plant_manifest_copy(".manifest.json.prev"), False),
}


@pytest.mark.parametrize("artifact", list(_CRASH_ARTIFACTS))
def test_crash_artifact_verify_compact_recover(spark, tmp_path,
                                               healthy_ivf_index, artifact):
    """Each artifact a crashed maintenance pass or manifest swap can
    leave, planted alone on a healthy IVF index: ann_index_verify names
    it, ann_index_compact refuses to run over exactly the tombstones,
    swap sentinels and a held lock (and runs over the rest), and after
    ann_index_recover the index verifies clean."""
    import shutil

    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_compact,
        ann_index_recover,
        ann_index_verify,
    )

    def visible(d):
        return sorted(n for n in os.listdir(d) if not n.endswith(".crc"))

    plant, refuses = _CRASH_ARTIFACTS[artifact]
    idx = str(tmp_path / "idx")
    shutil.copytree(healthy_ivf_index, idx)
    assert ann_index_verify(spark, idx)["ok"]
    name = plant(idx)
    rep = ann_index_verify(spark, idx)
    assert not rep["ok"], rep
    assert any(name in p for p in rep["problems"]), rep
    if refuses:
        with pytest.raises(RuntimeError, match="ann_index_recover"):
            ann_index_compact(spark, idx)
    else:
        assert ann_index_compact(spark, idx)["epoch"] == 1
    ann_index_recover(spark, idx)
    rep = ann_index_verify(spark, idx)
    assert rep["ok"], rep
    if refuses:  # nothing ran: recover put the root back as it was
        assert visible(idx) == visible(healthy_ivf_index)
    assert not any(n.startswith("idx__") for n in os.listdir(tmp_path))


@pytest.mark.parametrize("op", ["compact", "rebuild"])
def test_append_landing_at_the_marker_snapshot_is_folded(
        spark, tmp_path, monkeypatch, healthy_ivf_index, op):
    """An append completes (data, then marker) just before the pass
    snapshots the append markers. Its marker joins the snapshot, so the
    pass consumes it; the pass must then also rewrite its data dir
    (or abort), never leave it beside the new layout unmarked."""
    import shutil

    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators import similarity
    from dask_hivemetastore_spark.operators.similarity import (
        ann_index_compact,
        ann_index_rebuild,
        ann_index_verify,
        ivf_append,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "idx")
    shutil.copytree(healthy_ivf_index, idx)
    n_rows = spark.read.parquet(idx).count()
    batch = emb.where(F.col("vec_id") % 5 == 0)
    n_batch = batch.count()

    # a pass's _list_append_markers calls are (1) the stale-marker
    # pre-flight, (2) the snapshot, then the pre- and post-swap re-lists
    real = similarity._list_append_markers
    calls = {"n": 0, "appending": False}

    def appending(spark_, root):
        if not calls["appending"]:
            calls["n"] += 1
            if calls["n"] == 2:
                calls["appending"] = True  # the append lists markers too
                ivf_append(batch, f"{idx}/ingest_batch=7", mode="overwrite")
                calls["appending"] = False
        return real(spark_, root)

    monkeypatch.setattr(similarity, "_list_append_markers", appending)
    maintain = ann_index_compact if op == "compact" else ann_index_rebuild
    stats = maintain(spark, idx)
    monkeypatch.setattr(similarity, "_list_append_markers", real)

    assert stats["n_batch_dirs_folded"] == 1
    assert not any(n.startswith("ingest_batch=") for n in os.listdir(idx))
    assert not os.listdir(f"{idx}/{similarity._APPEND_LOG_DIR}")
    assert spark.read.parquet(idx).count() == n_rows + n_batch
    assert ann_index_verify(spark, idx)["ok"]


def test_residual_codebooks_follow_the_coarse_quantizer(spark, tmp_path):
    """Residual IVF-PQ codebooks train on residuals against the build's
    own centroids, so a residual build must not reuse books another
    residual build trained against other centroids under the same
    cache key: an 8-cell then a 4-cell build under one key give the
    4-cell build the books a fresh uncached 4-cell training gives."""
    import numpy as np

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ivfpq_build_index,
    )
    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    key = SF_SMOKE + "_res_books"

    def build(name, n_cells, cache_key):
        return ivfpq_build_index(
            emb, str(tmp_path / name), n_cells=n_cells, m=16, ksub=32,
            dim=64, cache_key=cache_key, drift_reference=False,
            residual=True)

    _, books8 = build("c8", 8, key)
    _, books4 = build("c4", 4, key)
    _, fresh4 = build("fresh4", 4, None)
    assert not np.array_equal(books8, fresh4)
    assert np.array_equal(books4, fresh4)
