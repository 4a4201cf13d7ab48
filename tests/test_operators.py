"""Unit tests for operator internals: planted fixtures, type mapping,
multimodal stubs, as-of semantics."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def test_planted_near_dup_pairs(spark, sf_dir):
    """FIXTURES.md: 25 near-dup pairs (word-3-gram Jaccard >= 0.9) at sf0.01,
    including (8,245) and doc 45 twice."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text").collect()
    pairset = {(r.doc_a, r.doc_b) for r in pairs}
    assert len(pairs) == 25
    assert (8, 245) in pairset
    assert (45, 267) in pairset and (45, 413) in pairset


def test_connected_components_chain(spark):
    """A chain a-b, b-c (no a-c edge) must collapse to one component."""
    from dask_hivemetastore_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(1, 5), (5, 9)], "doc_a long, doc_b long")
    ids = spark.createDataFrame([(i,) for i in [1, 5, 9, 7]], "doc_id long")
    comps = {r.doc_id: r.component for r in connected_components(pairs, ids, "doc_id").collect()}
    assert comps == {1: 1, 5: 1, 9: 1, 7: 7}


def test_minhash_equals_exact(spark, sf_dir):
    """MinHash+LSH with verification returns the same pairs as the exact
    inverted-index operator on the fixture corpus."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    exact = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs, "doc_id", "text").collect()}
    mh = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()}
    assert mh == exact


def test_simhash_finds_planted_pairs(spark, sf_dir):
    """SimHash banding should recover most planted near-dup pairs."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.dedup import ngram_jaccard_pairs, simhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    truth = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs, "doc_id", "text").collect()}
    sh = {(r.doc_a, r.doc_b) for r in simhash_pairs(docs, "doc_id", "text").collect()}
    assert len(sh & truth) >= len(truth) * 0.6, f"recall too low: {len(sh & truth)}/{len(truth)}"


def test_exact_dedup_no_false_positives(spark, sf_dir):
    """Zero exact duplicates planted → exact dedup must keep every doc."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    surv = exact_dedup(docs, "doc_id")
    assert surv.count() == n
    assert surv.agg(F.max("n_copies")).first()[0] == 1


def test_knn_self_similarity(spark, sf_dir):
    """Unit-norm vectors: cosine(v, v) ≈ 1; top hit of vec 0 has cosine < 1."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import dot_f64

    emb = load_table(spark, sf_dir, "embeddings")
    self_dot = (
        emb.where(F.col("vec_id") == 0)
        .select(dot_f64(F.col("embedding"), F.col("embedding")).alias("d"))
        .first()
        .d
    )
    assert self_dot == pytest.approx(1.0, abs=1e-5)


def test_lsh_topk_subset_of_brute(spark, sf_dir):
    """ANN results must be a subset of the corpus with valid cosines (sanity,
    not recall — recall is tunable)."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import knn_topk, lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    brute = {r.vec_id: r.cosine for r in knn_topk(emb, 0, k=10).collect()}
    ann = lsh_topk(emb, 0, k=10, bits=8, dim=64).collect()
    assert len(ann) >= 1
    for r in ann:
        assert -1.001 <= r.cosine <= 1.001
    # the ANN scores of shared ids must agree with brute force
    for r in ann:
        if r.vec_id in brute:
            assert r.cosine == pytest.approx(brute[r.vec_id], abs=1e-9)


def test_lsh_multitable_recall_floor(spark, sf_dir):
    """r12 multi-table upgrade: 16 tables must clear the recall floor the
    graduated ``knn_lsh_topk`` oracle pins (overlap >= 5 of the exact
    top-10) on the fixture where a single table measures ~0 — and adding
    tables must never lose the recall a single table had (table 0's
    planes are a prefix of the multi-table draw, so its candidates are a
    subset of the union's). Deterministic: seeded planes, fixed data."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import knn_topk, lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {r.vec_id for r in knn_topk(emb, 0, k=10, dim=64).collect()}
    one = {r.vec_id for r in
           lsh_topk(emb, 0, k=10, bits=8, dim=64, n_tables=1).collect()}
    many = {r.vec_id for r in
            lsh_topk(emb, 0, k=10, bits=8, dim=64, n_tables=16).collect()}
    assert len(many & exact) >= 5, sorted(many & exact)
    assert len(many & exact) >= len(one & exact)


def test_lsh_indexed_probe_matches_inline(spark, sf_dir, tmp_path):
    """The materialized postings layout must return row-for-row what the
    inline multi-table path returns at the same config (same seeded
    planes → same candidate set → same exact JVM-fold scores), and the
    layout must actually be partitioned by table."""
    import os

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        lsh_build_index,
        lsh_probe_indexed,
        lsh_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "postings")
    lsh_build_index(emb, idx, dim=64, bits=8, n_tables=16)
    dirs = {d for d in os.listdir(idx) if d.startswith("table=")}
    assert dirs == {f"table={t}" for t in range(16)}
    inline = [(r.vec_id, r.cosine) for r in
              lsh_topk(emb, 0, k=10, bits=8, dim=64, n_tables=16).collect()]
    indexed = [(r.vec_id, r.cosine) for r in
               lsh_probe_indexed(emb, idx, query_id=0, dim=64, bits=8,
                                 n_tables=16, k=10).collect()]
    assert indexed == inline and len(indexed) == 10


def test_lsh_append_grown_index_identical_and_probe_oblivious(
        spark, sf_dir, tmp_path):
    """lsh_append is ivf_append's exact sibling: postings grown by
    batch appends against the same seeded planes must be
    CONTENT-IDENTICAL to a one-shot build over the union, and the probe
    must be oblivious to ingest history."""
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        lsh_append,
        lsh_build_index,
        lsh_probe_indexed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    oneshot = str(tmp_path / "oneshot")
    grown = str(tmp_path / "grown")
    lsh_build_index(emb, oneshot, dim=64, bits=8, n_tables=16)
    lsh_build_index(emb.where(F.col("vec_id") % 2 == 0), grown,
                    dim=64, bits=8, n_tables=16)
    for parity in (1, 3):
        lsh_append(emb.where(F.col("vec_id") % 4 == parity), grown,
                   dim=64, bits=8, n_tables=16)
    g = spark.read.parquet(grown)
    o = spark.read.parquet(oneshot)
    assert g.count() == o.count()
    assert g.exceptAll(o).count() == 0 and o.exceptAll(g).count() == 0
    pg = [tuple(r) for r in lsh_probe_indexed(
        emb, grown, query_id=0, dim=64, bits=8, n_tables=16).collect()]
    po = [tuple(r) for r in lsh_probe_indexed(
        emb, oneshot, query_id=0, dim=64, bits=8, n_tables=16).collect()]
    assert pg == po and len(pg) == 10


def test_lsh_indexed_probe_corrupt_query_empty_with_corpus_types(
        spark, sf_dir, tmp_path):
    """A corrupt/absent query vector yields an EMPTY result (no-answer,
    never wrong-answer — the standing ANN contract), and the empty
    frame's id type derives from the corpus schema so schema-sensitive
    callers (unions, compares) see the same shape as the non-empty
    path."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        lsh_build_index,
        lsh_probe_indexed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "postings")
    lsh_build_index(emb, idx, dim=64, bits=8, n_tables=4)
    empty = lsh_probe_indexed(emb, idx, query_id=-999, dim=64, bits=8,
                              n_tables=4, k=10)
    assert empty.count() == 0
    nonempty = lsh_probe_indexed(emb, idx, query_id=0, dim=64, bits=8,
                                 n_tables=4, k=10)
    assert [(f.name, f.dataType) for f in empty.schema.fields] == \
           [(f.name, f.dataType) for f in nonempty.schema.fields]
    # and the two shapes actually union (the schema-sensitive caller)
    assert nonempty.unionByName(empty).count() == nonempty.count()


def test_ivf_drift_flag_triggers_retrain_that_clears(spark, sf_dir):
    """Close the drift loop (r12): the documented response to a flagged
    batch is retrain+rebuild. After retraining the coarse quantizer on
    resident+shifted data, the SAME shifted batch must no longer flag —
    the new quantizer owns the new mode — and the detector keeps
    flagging against the STALE centroids (it isn't trivially quiet)."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ivf_drift_flag,
        ivf_drift_stats,
        ivf_train_centroids,
        shift_vectors,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    C_old = ivf_train_centroids(emb, n_cells=16, cache_key=sf_dir, dim=64)
    shifted = shift_vectors(
        emb.where(F.col("vec_id") % 10 == 0), alpha=2.0, dim=64
    )
    ref_old = ivf_drift_stats(emb, C_old, dim=64)
    assert ivf_drift_flag(ivf_drift_stats(shifted, C_old, dim=64), ref_old)

    retrain_corpus = emb.unionByName(shifted.withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    ))
    C_new = ivf_train_centroids(retrain_corpus, n_cells=16, dim=64)
    ref_new = ivf_drift_stats(retrain_corpus, C_new, dim=64)
    assert not ivf_drift_flag(
        ivf_drift_stats(shifted, C_new, dim=64), ref_new
    )


def test_ivf_drift_flag_policy():
    """Pure-function pins for the r12 retrain trigger: fires on a
    quantizer-fit drop (mean assignment cosine), NOT on batch occupancy
    concentration — a topically-coherent batch legitimately lands in one
    cell (the retrain-clears test above found exactly that: share 1.0 at
    cosine 0.90 post-retrain); an empty batch judges nothing."""
    from dask_hivemetastore_spark.operators.similarity import ivf_drift_flag

    ref = (0.35, 0.10, 1000)
    assert not ivf_drift_flag((0.36, 0.12, 100), ref)   # in-distribution
    assert ivf_drift_flag((0.25, 0.12, 100), ref)       # fit rule fires
    assert not ivf_drift_flag((0.36, 1.00, 100), ref)   # coherence alone: no
    assert not ivf_drift_flag((float("nan"), float("nan"), 0), ref)  # empty
    # r13 per-index sigma rule: threshold = 3 sigma, not the global delta
    assert not ivf_drift_flag((0.30, 0.12, 100), ref, sigma=0.02)  # 2.5 sig
    assert ivf_drift_flag((0.28, 0.12, 100), ref, sigma=0.02)      # 3.5 sig
    # sigma absent/NaN/0 -> documented global-delta fallback
    assert ivf_drift_flag((0.30, 0.12, 100), ref, sigma=float("nan"))
    assert ivf_drift_flag((0.30, 0.12, 100), ref, sigma=0.0)
    # r13 advisor: a NaN/empty REFERENCE must fail loudly, never
    # silently disable the detector (NaN compares are always False)
    with pytest.raises(ValueError):
        ivf_drift_flag((0.30, 0.12, 100), (float("nan"), float("nan"), 0))
    with pytest.raises(ValueError):
        ivf_drift_flag((0.30, 0.12, 100), (float("nan"), 0.1, 50))


def test_shift_vectors_zero_norm_passthrough(spark):
    """r13 advisor pin: a vector equal to -alpha*u lands exactly on the
    origin after the shift offset; the old code divided by its zero
    norm and emitted a fabricated NaN row under the schema-equals-input
    contract. Such rows now pass through UNSHIFTED — same row count,
    all-finite output, and the adversarial row keeps its original
    value while normal rows still shift."""
    import numpy as np

    from dask_hivemetastore_spark.operators.similarity import shift_vectors

    # dim=4 makes u = 1/2 exactly representable in binary, so the f32
    # poison row cancels the f64 offset EXACTLY (at other dims the f32
    # round-trip leaves a ~1e-9 residual and the row legitimately
    # renormalizes to the residual direction instead)
    dim, alpha = 4, 2.0
    u = np.ones(dim) / np.sqrt(dim)
    poison = (-alpha * u).astype(np.float32)  # -> exact zero post-offset
    normal = np.zeros(dim, dtype=np.float32)
    normal[0] = 1.0
    emb = spark.createDataFrame(
        [(0, poison.tolist()), (1, normal.tolist())],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
           for r in shift_vectors(emb, alpha=alpha, dim=dim).collect()}
    assert set(out) == {0, 1}  # no row lost
    assert all(np.isfinite(v).all() for v in out.values())
    assert np.allclose(out[0], poison, atol=1e-6)  # passed through
    expect = (normal.astype(np.float64) + alpha * u)
    expect /= np.linalg.norm(expect)
    assert np.allclose(out[1], expect, atol=1e-6)  # normal row shifted


def test_hive_type_parsing():
    from pyspark.sql import types as T

    from dask_hivemetastore_spark.types import hive_schema_to_struct, parse_hive_type, spark_type_to_hive

    assert parse_hive_type("bigint") == T.LongType()
    assert parse_hive_type("VARCHAR(10)") == T.StringType()
    assert parse_hive_type("decimal(12, 3)") == T.DecimalType(12, 3)
    assert parse_hive_type("array<float>") == T.ArrayType(T.FloatType())
    assert parse_hive_type("map<string, bigint>") == T.MapType(T.StringType(), T.LongType())
    nested = parse_hive_type("struct<a:int, b:array<struct<c:double>>>")
    assert nested == T.StructType([
        T.StructField("a", T.IntegerType()),
        T.StructField("b", T.ArrayType(T.StructType([T.StructField("c", T.DoubleType())]))),
    ])
    st = hive_schema_to_struct([("id", "bigint"), ("emb", "array<float>")])
    assert [f.name for f in st.fields] == ["id", "emb"]
    # round trip
    assert spark_type_to_hive(nested) == "struct<a:int,b:array<struct<c:double>>>"
    with pytest.raises(Exception):
        parse_hive_type("array<")


def test_multimodal_stubs_and_fake_decode():
    from dask_hivemetastore_spark.operators.multimodal import decode_image, fake_decode_meta

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")
    assert fake_decode_meta(b"ab") == (ord("a") + 1, ord("b") + 1)
    assert fake_decode_meta(b"") == (1, 1)


def test_asof_join_semantics(spark):
    """Backward-inclusive: tie timestamps match; no prior right row → NULL."""
    from dask_hivemetastore_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "u"), (2, 20, "u"), (3, 5, "u")], "event_id long, ts long, user_id string"
    )
    right = spark.createDataFrame(
        [(100, 10, "u", 1.5), (101, 15, "u", 2.5)],
        "event_id long, ts long, user_id string, value double",
    )
    out = {
        r.event_id: (r.asof_ts, r.asof_value)
        for r in asof_join(
            left, right, ts="ts", by="user_id", value_cols=["value"]
        ).collect()
    }
    assert out[1] == (10, 1.5)   # inclusive tie
    assert out[2] == (15, 2.5)   # latest prior
    assert out[3] == (None, None)  # nothing prior


def test_salted_join_equals_plain_join(spark):
    """salted_join must be result-identical to the plain join, including
    left-join rows with no match (they appear exactly once, not S times)."""
    from dask_hivemetastore_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(100)], "rid long, k long, v double"
    )
    # small side misses k=2 so some big rows are unmatched
    small = spark.createDataFrame([(0, "a"), (1, "b")], "k long, name string")

    for how in ["inner", "left"]:
        plain = big.join(small, ["k"], how)
        salted = salted_join(
            big, small, ["k"], unique_expr=F.col("rid"), buckets=4, how=how
        )
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, salted.collect())
        ), how


def test_ivf_topk_recall(spark, sf_dir):
    """IVF top-10 must recover most of the brute-force top-10 (recall >= 0.7
    on the fixture with 16 cells / 4 probes)."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import ivf_topk, knn_topk

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {r.vec_id for r in knn_topk(emb, 0, k=10).collect()}
    approx = {r.vec_id for r in ivf_topk(emb, 0, k=10).collect()}
    assert len(approx) == 10
    assert len(exact & approx) >= 7


def test_ivf_topk_honours_vec_col(spark, sf_dir):
    """ivf_topk trains, assigns and scores on ``vec_col``: a corpus whose
    vector column is not named ``embedding`` returns the same rows as
    the default name."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    want = [tuple(r) for r in ivf_topk(emb, 0, k=5, n_cells=4, nprobe=2,
                                       dim=64).collect()]
    got = [tuple(r) for r in ivf_topk(
        emb.withColumnRenamed("embedding", "emb"), 0, k=5, n_cells=4,
        nprobe=2, vec_col="emb", dim=64).collect()]
    assert got == want and len(got) == 5


@pytest.mark.slow
def test_ivf_multiprobe_recall_curve(spark, sf_dir):
    """Recall-vs-cells-probed contract (VERDICT r5 #5): mean recall@10
    over several queries must rise monotonically with nprobe, clear
    measured floors at each point, and hit EXACTLY 1.0 at nprobe=n_cells
    (probing every cell IS the brute-force scan). Floors sit below the
    scripts/ivf_recall_curve.py measurements on this fixture (sf0.01
    means: 0.60 @ 4, 0.81 @ 8, 0.93 @ 12) — the fixture's
    near-orthogonal noise is ANN's worst case, so these are lower bounds
    any clustered real corpus beats; full curve in PERF.md."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import ivf_topk, knn_topk

    emb = load_table(spark, sf_dir, "embeddings").cache()
    qids = [r.vec_id for r in
            emb.select("vec_id").orderBy("vec_id").limit(6).collect()]
    floors = {4: 0.45, 8: 0.65, 12: 0.85, 16: 1.0}
    means = {}
    for nprobe in floors:
        rs = []
        for qid in qids:
            truth = {r.vec_id for r in knn_topk(emb, qid, k=10).collect()}
            got = {
                r.vec_id
                for r in ivf_topk(
                    emb, qid, k=10, n_cells=16, nprobe=nprobe,
                    cache_key=str(sf_dir),
                ).collect()
            }
            rs.append(len(got & truth) / len(truth))
        means[nprobe] = sum(rs) / len(rs)
        assert means[nprobe] >= floors[nprobe], (nprobe, means)
    curve = [means[p] for p in sorted(means)]
    assert curve == sorted(curve), means  # monotone in nprobe
    assert means[16] == 1.0, means       # full probe == brute force


@pytest.mark.slow
def test_state_mutating_queries_are_rerunnable(spark):
    """Queries that register views/UDTFs or start named streaming queries
    must be callable twice in one session (the driver may invoke entry()
    and the sweep against the same SparkSession)."""
    from dask_hivemetastore_spark import plans

    sf = "/root/testdata/sf0.001"
    for key in ["sql_entrypoint", "udtf_bigrams", "stream_tumbling_1h",
                "stream_sessionize"]:
        n1 = plans.QUERIES[key](spark, sf).count()
        n2 = plans.QUERIES[key](spark, sf).count()
        assert n1 == n2 and n1 > 0, key


def test_similar_pairs_no_driver_materialization(spark, sf_dir):
    """The tiled screen must never pull the corpus to the driver: building
    AND executing similar_pairs with DataFrame.toPandas poisoned must
    succeed (VERDICT r1 "What's wrong #1" regression lock)."""
    from unittest import mock

    from pyspark.sql import DataFrame

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import similar_pairs

    emb = load_table(spark, sf_dir, "embeddings")

    def boom(self):  # pragma: no cover - called only on regression
        raise AssertionError("driver-side toPandas() in similar_pairs path")

    with mock.patch.object(DataFrame, "toPandas", boom):
        pairs = similar_pairs(emb, threshold=0.45).collect()
    assert len(pairs) >= 1


def test_similar_pairs_tiling_invariant(spark, sf_dir):
    """Tiling is a physical choice, not a semantic one: any n_blocks must
    produce the identical pair set (locks the off-diagonal min/max
    canonicalization — a naive id_a < id_b filter drops cross-block pairs)."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import similar_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    base = {(r.id_a, r.id_b) for r in similar_pairs(emb, 0.45, n_blocks=1).collect()}
    assert base, "fixture must contain near-dup embedding pairs"
    for nb in (3, 8):
        tiled = {
            (r.id_a, r.id_b) for r in similar_pairs(emb, 0.45, n_blocks=nb).collect()
        }
        assert tiled == base, f"n_blocks={nb} changed the result set"


def test_similar_pairs_autosize_and_skew_warning(spark, sf_dir):
    """n_blocks=None derives the block count from a corpus scan (tiny
    corpus → 1 block, same pair set), and a lopsided id distribution —
    every id ≡ 0 (mod n_blocks), so one block swallows the whole corpus —
    raises the oversize RuntimeWarning instead of silently packing a
    task-OOM-sized row."""
    import warnings

    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import similar_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    base = {(r.id_a, r.id_b) for r in similar_pairs(emb, 0.45, n_blocks=1).collect()}
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        auto = {(r.id_a, r.id_b) for r in similar_pairs(emb, 0.45).collect()}
    assert auto == base
    assert not [w for w in caught if "skewed" in str(w.message)]

    lopsided = emb.select(
        (F.col("vec_id") * 4).alias("vec_id"), "embedding"
    )
    with pytest.warns(RuntimeWarning, match="skewed"):
        # auto path with a tiny target: ids ≡ 0 (mod 4) occupy only every
        # 4th derived block, so realized blocks run ~4× the target and
        # the 2× oversize cut trips at fixture scale
        similar_pairs(lopsided, 0.45, target_block_bytes=256)

    # explicit n_blocks = caller-owned sizing: plan construction must be
    # fully lazy — zero Spark jobs — even for the skewed distribution
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    similar_pairs(lopsided, 0.45, n_blocks=4)
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert len(after) == len(before), "explicit-n_blocks path ran eager jobs"


def test_resize_stub_raises():
    """resize_image is an environment-gated stub with a clear contract."""
    from dask_hivemetastore_spark.operators.multimodal import resize_image

    with pytest.raises(NotImplementedError):
        resize_image(b"\x00" * 10, 32, 32)


def test_frame_sample_expansion(spark, sf_dir):
    """Every sampled frame index is a stride multiple below its doc's
    frame count, and frame bytes reassemble to the payload prefix."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.multimodal import (
        attach_binary_payload,
        frame_sample,
    )

    docs = load_table(spark, sf_dir, "documents").where("doc_id % 29 = 0")
    sampled = frame_sample(attach_binary_payload(docs), "doc_id").collect()
    assert sampled, "fixture slice must produce frames"
    for r in sampled:
        assert r.frame_idx % 4 == 0
        assert r.frame_idx < r.n_frames
        assert 1 <= len(r.frame) <= 64


def test_ivf_probe_indexed_full_probe_equals_brute(spark, sf_dir, tmp_path):
    """Probing ALL cells of the materialized index must reproduce the
    brute-force top-k exactly (the approximation lives solely in probing
    fewer cells)."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ivf_build_index,
        ivf_probe_indexed,
        knn_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_full")
    C = ivf_build_index(emb, path, n_cells=8, cache_key=path)
    qv = emb.where("vec_id = 0").select("embedding").first()[0]
    brute = [(r.vec_id, r.cosine) for r in knn_topk(emb, 0, k=10).collect()]
    probed = [
        (r.vec_id, r.cosine)
        for r in ivf_probe_indexed(
            spark, path, C, qv, k=10, nprobe=8, exclude_id=0
        ).collect()
    ]
    assert probed == brute


def test_hll_sketch_estimates_near_exact(spark, sf_dir):
    """The persisted-and-merged HLL estimates must agree with exact
    distinct counts to within sketch error (<2% at lgK=12; at this
    cardinality, ~exact)."""
    from dask_hivemetastore_spark import plans
    from dask_hivemetastore_spark.catalog import load_table

    rows = {
        r["event_type"]: r
        for r in plans.QUERIES["hll_sketch_merge"](spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(rows) == set(exact)
    for k, r in rows.items():
        # r10 derived-oracle contract: exact count rides in the output,
        # the sketch-vs-exact tolerance check is the within_tol column
        assert r["n_exact"] == exact[k], (k, r)
        assert r["within_tol"] == 1, (k, r)


def test_quality_check_single_pass_and_rules(spark, sf_dir):
    """All declared rules evaluate in ONE pass (a single table scan in the
    plan) and report exact violation counts with pass/fail flags."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators import quality as Q

    li = load_table(spark, sf_dir, "lineitem")
    report = Q.check(
        li,
        [
            Q.not_null("l_orderkey"),
            Q.unique("l_orderkey", "l_linenumber"),
            Q.in_range("l_quantity", 1, 25),
            Q.min_rows(10**9),
        ],
    )
    plan = report._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan

    rows = {r.rule: r for r in report.collect()}
    n = li.count()
    assert rows["not_null(l_orderkey)"].violations == 0
    assert rows["not_null(l_orderkey)"].passed == 1
    # the synthetic lineitem's composite key is genuinely non-unique —
    # the rule must report the exact duplicate count, not 0
    dup = n - li.select("l_orderkey", "l_linenumber").distinct().count()
    assert rows["unique(l_orderkey, l_linenumber)"].violations == dup > 0
    assert rows["unique(l_orderkey, l_linenumber)"].passed == 0
    over = li.where((F.col("l_quantity") < 1) | (F.col("l_quantity") > 25)).count()
    assert rows["in_range(l_quantity, 1, 25)"].violations == over > 0
    assert rows["in_range(l_quantity, 1, 25)"].passed == 0
    assert rows["min_rows(1000000000)"].violations == 10**9 - n
    assert rows["min_rows(1000000000)"].passed == 0

    # planted nulls + dup keys are counted exactly
    df = spark.createDataFrame(
        [(1, 1), (1, 1), (2, None), (3, 2)], "k long, v long"
    )
    got = {
        r.rule: r.violations
        for r in Q.check(df, [Q.not_null("v"), Q.unique("k", "v")]).collect()
    }
    assert got["not_null(v)"] == 1
    assert got["unique(k, v)"] == 1


def test_cms_bounds_and_determinism(spark, sf_dir):
    """Count-Min guarantees against exact counts: estimate >= true count
    for EVERY queried word (collisions only add), estimate <= true +
    eps*N for the top words (w.p. >= confidence; deterministic here for
    the fixed seed, so a violation is a real bug not bad luck), and the
    sketch is bit-identical across rebuilds (mergeable state must be
    reproducible)."""
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators import text as T

    docs = load_table(spark, sf_dir, "documents")
    eps = 0.0001
    words = docs.select(F.explode(F.split("text", " ")).alias("w"))
    n_total = words.count()
    exact = dict(
        words.groupBy("w").count()
        .orderBy(F.desc("count"), F.asc("w")).limit(20).collect()
    )
    sk = T.cms_word_sketch(docs, eps=eps, confidence=0.99)
    assert sk == T.cms_word_sketch(docs, eps=eps, confidence=0.99)
    est = T.cms_estimate_counts(spark, sk, list(exact) + ["__absent_word__"])
    for w, n in exact.items():
        assert est[w] >= n, (w, est[w], n)
        assert est[w] <= n + eps * n_total, (w, est[w], n, n_total)
    assert est["__absent_word__"] <= eps * n_total


def test_quantize_int8_bounds_and_recall(spark, sf_dir, tmp_path):
    """INT8 quantization contract: every quantized value fits [-127, 127],
    per-dim reconstruction error <= scale/2 (+1 ULP slack), the quantized
    parquet is substantially smaller than the float32 original, and
    brute-force top-10 over DEQUANTIZED vectors recovers >= 8/10 of the
    original top-10 (storage compression must not wreck retrieval)."""
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        dequantize_expr,
        knn_topk,
        quantize_int8,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_int8(emb)
    bad = q.where(
        F.exists("qvec", lambda v: (v < -127) | (v > 127))
        | (
            F.array_max(
                F.zip_with(
                    F.transform("embedding", lambda x: x.cast("double")),
                    dequantize_expr(),
                    lambda x, d: F.abs(x - d),
                )
            )
            > F.col("scale") / 2 * 1.0000001
        )
    ).count()
    assert bad == 0

    qpath, opath = str(tmp_path / "q"), str(tmp_path / "o")
    q.select("vec_id", "scale", "qvec").write.parquet(qpath)
    emb.select("vec_id", "embedding").write.parquet(opath)
    import os

    def disk(p):
        return sum(
            os.path.getsize(os.path.join(p, f))
            for f in os.listdir(p) if f.endswith(".parquet")
        )

    assert disk(qpath) < 0.5 * disk(opath), (disk(qpath), disk(opath))

    deq = q.select(
        "vec_id", dequantize_expr().alias("embedding"), "label"
    )
    truth = {r.vec_id for r in knn_topk(emb, 0, k=10).collect()}
    approx = {r.vec_id for r in knn_topk(deq, 0, k=10).collect()}
    assert len(truth & approx) >= 8, (truth, approx)


def test_ngram_probe_equals_symmetric_cross_pairs(spark, sf_dir):
    """The asymmetric prefix probe (incremental-ingest path) must be
    LOSSLESS: probing `new` against `old` yields exactly the cross-set
    subset of the symmetric all-pairs operator over old ∪ new — same
    pairs, same exact Jaccards. (The probe may never do old×old work,
    but it must not MISS a cross pair either.)"""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_probe,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.where(F.col("doc_id") % 3 != 0)
    new = docs.where(F.col("doc_id") % 3 == 0)
    old_ids = {r.doc_id for r in old.select("doc_id").collect()}
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}

    sym = {
        (frozenset((r.doc_a, r.doc_b)), r.jaccard)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text").collect()
        if (r.doc_a in new_ids) != (r.doc_b in new_ids)  # cross-set only
    }
    probe = {
        (frozenset((r.probe_id, r.corpus_id)), r.jaccard)
        for r in ngram_jaccard_probe(new, old, "doc_id", "text").collect()
    }
    assert probe == sym and probe  # non-empty: planted pairs straddle


def test_dedup_incremental_short_doc_edges(spark):
    """Boundary semantics of the incremental dedup: a batch doc too short
    to form an n-gram can still be an EXACT duplicate of a corpus doc
    (hash stage must drop it) but can never be a NEAR duplicate (no gram
    rows — it must survive the probe); within-batch exact dups keep the
    min id; an untouched unique doc passes all three stages."""
    from dask_hivemetastore_spark.operators.dedup import dedup_incremental

    old = spark.createDataFrame(
        [(1, "tiny doc"), (2, "a longer corpus document with many words here")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "tiny doc"),          # exact dup of old 1 (sub-n-gram) -> drop
            (11, "other tiny"),         # unique sub-n-gram -> keep
            (12, "other tiny"),         # within-batch exact dup -> drop (11 kept)
            (13, "a longer corpus document with many words here padded"),
            # ^ near-dup of old 2 at J = 7/9 < 0.9 -> keep
            (14, "a longer corpus document with many words here"),  # exact dup
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id
        for r in dedup_incremental(new, old, "doc_id", "text", n=3,
                                   threshold=0.9).collect()
    )
    assert kept == [11, 13]

    # lower the threshold so 13 becomes a near-dup and is dropped too
    kept2 = sorted(
        r.doc_id
        for r in dedup_incremental(new, old, "doc_id", "text", n=3,
                                   threshold=0.7).collect()
    )
    assert kept2 == [11]


def test_ngram_probe_exact_boundary_pair(spark):
    """Regression for the FP-ceil hazard: with |A|=10 grams, |B|=9 grams,
    9 shared → J = 9/10 exactly at threshold 0.9. Double arithmetic makes
    0.9·10 = 9.000000000000002, and an unguarded ceil() turns the length
    bound into |B| >= 10 (dropping the pair) and the prefix length into 1
    (missing candidates). The epsilon-guarded operator must find it."""
    from dask_hivemetastore_spark.operators.dedup import ngram_jaccard_probe

    words = [f"w{i}" for i in range(12)]          # 12 words → 10 3-grams
    a_text = " ".join(words)
    b_text = " ".join(words[:11])                  # 11 words → 9 3-grams
    corpus = spark.createDataFrame([(1, a_text)], "doc_id long, text string")
    probe = spark.createDataFrame([(2, b_text)], "doc_id long, text string")
    got = ngram_jaccard_probe(
        probe, corpus, "doc_id", "text", n=3, threshold=0.9
    ).collect()
    assert [(r.probe_id, r.corpus_id, r.jaccard) for r in got] == [(2, 1, 0.9)]


def test_knn_join_matches_single_query_brute(spark, sf_dir):
    """The batched knn join must return, for every query in the batch,
    exactly the rows the certified single-query brute-force path returns —
    the BLAS prune may only prune, never change the answer."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import knn_join, knn_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 7, 123, 499]
    got = knn_join(emb, qids, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append((r.vec_id, r.cosine))
    assert sorted(by_q) == sorted(qids)
    for q in qids:
        brute = [(r.vec_id, r.cosine) for r in knn_topk(emb, q, k=5).collect()]
        assert sorted(by_q[q]) == sorted(brute), f"query {q} diverged"


def test_knn_join_survives_tiny_overfetch(spark, sf_dir):
    """overfetch=0 keeps exactly k per batch — still lossless on the fixture
    (sims are well-separated), pinning that the prune keeps enough."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import knn_join, knn_topk

    emb = load_table(spark, sf_dir, "embeddings")
    got = {r.vec_id for r in knn_join(emb, [42], k=10, overfetch=0).collect()}
    brute = {r.vec_id for r in knn_topk(emb, 42, k=10).collect()}
    assert got == brute


def test_pq_reranked_recall_floor(spark, sf_dir):
    """PQ ADC shortlist (50) + exact rerank must recover >= 0.9 of the true
    top-10 on the fixtures (measured 1.0 across queries); ADC alone without
    rerank stays a coarse screen (>= 0.5 measured 0.8)."""
    import numpy as np

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        knn_topk,
        pq_adc_topk,
        pq_encode,
        pq_topk_reranked,
        pq_train_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    hits = total = 0
    for qid in [0, 42, 499]:
        exact = {r.vec_id for r in knn_topk(emb, qid, k=10).collect()}
        pq = {r.vec_id for r in pq_topk_reranked(emb, qid, k=10).collect()}
        hits += len(exact & pq)
        total += 10
    assert hits / total >= 0.9

    books = pq_train_codebooks(emb)
    codes = pq_encode(emb, books)
    qv = np.asarray(
        emb.where("vec_id = 0").select("embedding").collect()[0][0]
    )
    adc = {
        r.vec_id
        for r in pq_adc_topk(codes, books, qv, k=11).collect()
        if r.vec_id != 0
    }
    exact0 = {r.vec_id for r in knn_topk(emb, 0, k=10).collect()}
    assert len(adc & exact0) / 10 >= 0.5


def test_pq_encoding_is_deterministic_and_bounded(spark, sf_dir):
    """Codebook training is a pure function of (sample, seed): two runs
    encode identically, and every code id is in [0, ksub)."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        pq_encode,
        pq_train_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    b1 = pq_train_codebooks(emb, m=8, ksub=16)
    b2 = pq_train_codebooks(emb, m=8, ksub=16)
    assert (b1 == b2).all()
    rows = pq_encode(emb, b1).orderBy("vec_id").limit(20).collect()
    again = pq_encode(emb, b2).orderBy("vec_id").limit(20).collect()
    assert [r.pq_code for r in rows] == [r.pq_code for r in again]
    assert all(0 <= c < 16 for r in rows for c in r.pq_code)


def test_signature_stages_partitioning_invariant(spark, sf_dir):
    """The r7 vectorized signature stages (minimum/add.reduceat over
    whole Arrow batches with per-doc offsets) must produce per-doc
    results that do not depend on how docs are batched into partitions —
    an offsets bug would corrupt exactly the docs at batch boundaries.
    Pin band buckets and simhash values identical across two very
    different partitionings."""
    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.dedup import (
        minhash_band_buckets,
        simhash_pairs,
        with_word_ngrams,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def bucket_set(df):
        grams = with_word_ngrams(df, "text", 3)
        return {
            (r.doc_id, r.band, r.band_hash)
            for r in minhash_band_buckets(grams, "doc_id").collect()
        }

    assert bucket_set(docs.repartition(1)) == bucket_set(docs.repartition(13))

    def pair_set(df):
        return {
            (r.doc_a, r.doc_b)
            for r in simhash_pairs(df, "doc_id", "text").collect()
        }

    assert pair_set(docs.repartition(1)) == pair_set(docs.repartition(13))


def test_simhash_tolerates_null_text(spark):
    """A NULL text row must not kill the job (r7 review: split(NULL)
    yielded a NULL hash array and the numpy stage threw). The null doc
    gets the empty-text fingerprint; real docs are unaffected."""
    from dask_hivemetastore_spark.operators.dedup import simhash_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, None)],
        "doc_id long, text string",
    )
    pairs = {(r.doc_a, r.doc_b) for r in simhash_pairs(docs, "doc_id", "text").collect()}
    assert (1, 2) in pairs


def test_asof_join_null_value_column(spark):
    """The latest right row must attach ATOMICALLY: when its value column
    is NULL, the output must show that NULL — not a value spliced in from
    an older right row (r7 review; matches DuckDB ASOF / merge_asof)."""
    from dask_hivemetastore_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 30, "u")], "event_id long, ts long, user_id string"
    )
    right = spark.createDataFrame(
        [(100, 10, "u", 5.0), (101, 20, "u", None)],
        "event_id long, ts long, user_id string, value double",
    )
    row = asof_join(
        left, right, ts="ts", by="user_id", value_cols=["value"]
    ).collect()[0]
    assert row.asof_ts == 20
    assert row.asof_value is None  # NOT 5.0 from the ts=10 row


def test_pii_counts_match_actual_redaction(spark):
    """Hit counts must reflect what the replacement chain actually masked:
    an SSN-shaped substring INSIDE an email is swallowed by the email rule,
    so it must not count as an SSN (r7 review)."""
    from dask_hivemetastore_spark.operators.text import pii_redact

    df = spark.createDataFrame(
        [(1, "reach bob123-45-6789@x.com or 123-45-6789 now")],
        "doc_id long, text string",
    )
    row = pii_redact(df).collect()[0]
    assert row.n_email == 1
    assert row.n_ssn == 1          # only the standalone SSN
    assert "<EMAIL>" in row.redacted and row.redacted.count("<SSN>") == 1


def test_check_grouped_reports_missing_expected_groups(spark):
    """A wholly absent partition must still produce failed report rows
    when expected_groups names it (r7 review: groupBy alone cannot see a
    missing group, the worst completeness failure)."""
    from dask_hivemetastore_spark.operators.quality import (
        check_grouped,
        min_rows,
        not_null,
    )

    df = spark.createDataFrame([("a", 1), ("a", 2)], "g string, v long")
    report = check_grouped(
        df, "g", [not_null("v"), min_rows(2)], expected_groups=["a", "b"]
    ).collect()
    rows = {(r.g, r.rule): (r.violations, r.passed) for r in report}
    assert rows[("a", "min_rows(2)")] == (0, 1)
    assert rows[("b", "min_rows(2)")] == (2, 0)     # shortfall = threshold
    # failed with NULL violations: no count exists for an absent group,
    # and a -1 sentinel would skew downstream SUMs (r8 review)
    assert rows[("b", "not_null(v)")] == (None, 0)


def test_topk_ranking_ignores_nan_poisoned_vectors(spark):
    """Spark sorts NaN above every number, so a single corrupt vector
    would otherwise TOP every top-k ranking (r8 probe). All ranking paths
    must drop non-finite scores: corrupt rows never rank; a corrupt QUERY
    vector yields an empty result, not a wrong one."""
    import math

    from dask_hivemetastore_spark.operators import similarity as S

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 1),
        (2, [float("nan"), 0.5, 0.5, 0.5], 0),
        (3, [0.8, 0.2, 0.0, 0.0], 1),
        (4, [float("inf"), 0.0, 0.0, 0.0], 0),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    top = S.knn_topk(emb, 0, k=2).collect()
    assert [r.vec_id for r in top] == [1, 3]
    assert all(math.isfinite(r.cosine) for r in top)
    # NaN query vector -> empty result
    assert S.knn_topk(emb, 2, k=2).count() == 0
    # batched knn join: neither poisoned candidate ranks for any query
    batch = S.knn_join(emb, [0, 1], k=3).collect()
    assert all(r.vec_id not in (2, 4) for r in batch)
    # similar_pairs: the Inf vector would pass a bare >= threshold; the
    # 1+eps rescore cap must keep corrupt rows out of the pair set
    pairs = S.similar_pairs(emb, threshold=0.5, n_blocks=1).collect()
    assert all(r.id_a not in (2, 4) and r.id_b not in (2, 4) for r in pairs)
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1), (0, 3), (1, 3)}


def test_quantize_int8_nulls_corrupt_vectors(spark):
    """A NaN component previously THREW CAST_OVERFLOW under ANSI (one
    corrupt embedding killing the whole quantization job) and ±Inf would
    silently saturate; both now yield NULL scale + NULL qvec, marking the
    row corrupt without losing it (r8 probe)."""
    from dask_hivemetastore_spark.operators.similarity import quantize_int8

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [float("nan"), 0.5, 0.5, 0.5]),
        (2, [float("inf"), 0.1, 0.1, 0.1]),
        (3, [0.0, 0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: (r.scale, r.qvec) for r in quantize_int8(emb).collect()}
    assert out[0][1] == [127, 0, 0, 0]
    assert out[1] == (None, None)
    assert out[2] == (None, None)
    assert out[3] == (1e-12, [0, 0, 0, 0])  # all-zero guard unchanged


def test_ivf_pq_training_excludes_corrupt_vectors(spark):
    """pyspark.ml KMeans crashes outright on a NaN/Inf vector ("Vector
    values MUST NOT be NaN or Infinity") and numpy k-means means would be
    poisoned — IVF training/assignment and PQ codebook sampling must
    exclude corrupt vectors at the door (r8 probe)."""
    import random

    import numpy as np

    from dask_hivemetastore_spark.operators import similarity as S

    random.seed(7)
    rows = [(i, [random.random() for _ in range(4)], i % 2)
            for i in range(40)]
    rows.append((40, [float("nan"), 0.5, 0.5, 0.5], 0))
    rows.append((41, [float("inf"), 0.5, 0.5, 0.5], 1))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    cents = S.ivf_train_centroids(emb, n_cells=4)
    assert np.isfinite(cents).all()
    top = S.ivf_topk(emb, 0, k=3, n_cells=4, nprobe=4).collect()
    assert top and all(r.vec_id not in (40, 41) for r in top)
    books = S.pq_train_codebooks(emb, m=2, ksub=4)
    assert np.isfinite(books).all()
    # the corrupt rows never enter an index
    assigned = S.ivf_assign(emb, cents).collect()
    assert all(r.vec_id not in (40, 41) for r in assigned)


def test_simhash_pairs_exact_contract_vs_scalar_reimpl(spark):
    """Exact pin of `simhash_pairs` (r10 — the docstring's claimed brute
    twin, now real): an independent SCALAR reimplementation of the
    signature (per-word xxhash64 from the JVM, then a plain Python ±1
    bit-vote per position) plus a brute all-pairs hamming scan must
    reproduce the operator's pair set EXACTLY under its contract —
    a pair is emitted iff hamming <= 6 AND the two signatures agree on
    at least one 16-bit band. Pins the numpy reduceat vectorization, the
    signed-long storage convention, and the band-candidate semantics in
    one compare."""
    from dask_hivemetastore_spark.operators.dedup import simhash_pairs

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .where(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text")
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in simhash_pairs(docs, "doc_id", "text").collect()
    }

    # independent signature: JVM word hashes, scalar Python bit votes
    wh = (
        docs.select(
            "doc_id",
            F.transform(
                F.split(F.coalesce(F.col("text"), F.lit("")), " "),
                lambda w: F.xxhash64(w),
            ).alias("wh"),
        )
        .collect()
    )
    sigs = {}
    for r in wh:
        votes = [0] * 64
        for h in r.wh:
            u = h & 0xFFFFFFFFFFFFFFFF  # two's-complement -> uint64
            for b in range(64):
                votes[b] += 1 if (u >> b) & 1 else -1
        sigs[r.doc_id] = sum(1 << b for b in range(64) if votes[b] > 0)

    ids = sorted(sigs)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            x = sigs[a] ^ sigs[b]
            if bin(x).count("1") > 6:
                continue
            if any(
                ((sigs[a] >> (16 * j)) & 0xFFFF) == ((sigs[b] >> (16 * j)) & 0xFFFF)
                for j in range(4)
            ):
                want.add((a, b))
    assert got == want, (len(got), len(want), sorted(got ^ want)[:5])

def test_lsh_bucket_ids_match_numpy_twin(spark, sf_dir):
    """The multi-table bucketize kernel pinned against an independent
    driver-side numpy twin for every corpus row, across configs — the
    engine's (vecs @ planes.T > 0) sign-pattern must be bit-exact (same
    planes, float32→float64 widening is exact), so any future kernel
    refactor that perturbs table order, weights, or the shared rng
    stream shows up here, not in a silent recall shift."""
    import numpy as np

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        _hyperplanes,
        lsh_bucket_ids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pdf = emb.select("vec_id", "embedding").toPandas()
    V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    for bits, n_tables, seed in ((8, 1, 42), (8, 16, 42), (6, 4, 7)):
        planes = _hyperplanes(64, bits, seed=seed, n_tables=n_tables)
        w = 1 << np.arange(bits)
        twin = {
            int(vid): [int((((V[i] @ planes[t].T) > 0) * w).sum())
                       for t in range(n_tables)]
            for i, vid in enumerate(pdf["vec_id"])
        }
        got = {
            r.vec_id: list(r.buckets)
            for r in lsh_bucket_ids(emb, dim=64, bits=bits,
                                    n_tables=n_tables, seed=seed).collect()
        }
        assert got == twin, (bits, n_tables, seed)


def test_ivf_drift_dial_monotonic_in_shift_magnitude(spark, sf_dir):
    """The drift dial pinned across shift magnitudes at sf0.01 against
    the DERIVED per-index threshold (r13, VERDICT r12 next #3 done
    condition): the reference comes from ivf_drift_reference (mean +
    per-slice σ, the manifest payload) and the flag fires at
    ref_mean − 3σ. alpha=0 (identity up to renormalization) and the
    small alpha=0.5 nudge stay under the threshold (measured drops
    −0.017 / 0.018 vs 3σ = 0.047); alpha>=1 flags (0.063 / 0.115).
    Deterministic (seeded quantizer, fixed data); pins the derived
    threshold's working range, not just the two registered endpoints.
    (The hostile-corpus û-cell case — shifted batch correctly NOT
    flagged — stays a property pin in test_hostile_embeddings.py.)"""
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import (
        ivf_drift_flag,
        ivf_drift_reference,
        ivf_drift_stats,
        ivf_train_centroids,
        shift_vectors,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    C = ivf_train_centroids(emb, n_cells=16, cache_key=sf_dir, dim=64)
    refd = ivf_drift_reference(emb, C, dim=64)
    ref = (refd["ref_mean"], refd["ref_max_share"], refd["n"])
    assert refd["ref_sigma"] > 0  # 10 slices -> a real spread estimate
    # a batch's statistics are the one-slice reduction of the same
    # aggregate: over the corpus they are the reference's
    st = ivf_drift_stats(emb, C, dim=64)
    assert st[2] == ref[2]
    assert st[:2] == pytest.approx(ref[:2], rel=1e-12, abs=0)
    ctrl = emb.where(F.col("vec_id") % 10 == 0)
    flags = {
        alpha: ivf_drift_flag(
            ivf_drift_stats(shift_vectors(ctrl, alpha=alpha, dim=64),
                            C, dim=64),
            ref, sigma=refd["ref_sigma"],
        )
        for alpha in (0.0, 0.5, 1.0, 2.0)
    }
    assert flags == {0.0: False, 0.5: False, 1.0: True, 2.0: True}, flags


def test_mmr_rerank_skips_planted_duplicate_and_reduces_at_lambda1(spark):
    """mmr_rerank (r13): on a corpus with a planted near-duplicate of
    the best hit, λ=0.5 must SKIP the duplicate at pick 2 (the
    redundancy penalty) while λ=1 keeps it (pure relevance — and must
    equal knn_topk exactly, the registered key's contract)."""
    import math

    from dask_hivemetastore_spark.operators.similarity import (
        knn_topk,
        mmr_rerank,
    )

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    # query 0 = e1. id 1 and id 2 are near-identical top hits; id 3 is
    # a distinct direction with slightly lower relevance.
    rows = [
        (0, unit([1.0, 0.0, 0.0, 0.0]), 0),
        (1, unit([0.9, 0.1, 0.0, 0.0]), 1),     # best hit
        (2, unit([0.9, 0.11, 0.0, 0.0]), 2),    # its near-duplicate
        (3, unit([0.7, 0.0, 0.6, 0.0]), 3),     # diverse runner-up
        (4, unit([0.1, 0.0, 0.0, 1.0]), 4),     # low relevance
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")

    relevance = mmr_rerank(emb, query_id=0, k=3, lam=1.0, shortlist=4,
                           dim=4)
    rel_ids = [r.vec_id for r in relevance.collect()]
    exact_ids = [r.vec_id for r in knn_topk(emb, 0, k=3, dim=4).collect()]
    assert rel_ids == exact_ids  # λ=1 ≡ relevance ranking
    assert rel_ids[:2] in ([1, 2], [2, 1])  # the duplicate pair leads

    diversified = mmr_rerank(emb, query_id=0, k=3, lam=0.5, shortlist=4,
                             dim=4)
    div = [r.vec_id for r in diversified.collect()]
    assert div[0] == rel_ids[0]      # first pick is the relevance argmax
    assert div[1] == 3               # duplicate penalized, diverse row wins
    assert set(div) == {rel_ids[0], 3, 4} or set(div) == {1, 2, 3} and div[1] == 3


def test_centroid_nullspace_axis_properties():
    """r16: the scale-robust drift axis must be unit-norm and have dot
    EXACTLY ~0 with every trained centroid — for any centroid matrix
    with n_centroids < dim (the property that makes the shifted batch
    unownable by the quantizer at any corpus scale) — and must reject
    a full-rank centroid set loudly (no null direction exists)."""
    import numpy as np
    import pytest

    from dask_hivemetastore_spark.operators.similarity import (
        centroid_nullspace_axis,
    )

    rng = np.random.default_rng(7)
    for n, d in ((16, 64), (1, 8), (63, 64), (4, 1536)):
        C = rng.normal(size=(n, d))
        u = centroid_nullspace_axis(C)
        assert u.shape == (d,)
        assert abs(np.linalg.norm(u) - 1.0) < 1e-9, (n, d)
        assert np.max(np.abs(C @ u)) < 1e-8, (n, d)
    # deterministic given the centroids
    C = rng.normal(size=(16, 64))
    assert np.array_equal(centroid_nullspace_axis(C),
                          centroid_nullspace_axis(C))
    with pytest.raises(ValueError, match="no null direction"):
        centroid_nullspace_axis(rng.normal(size=(64, 64)))
    with pytest.raises(ValueError, match="no null direction"):
        centroid_nullspace_axis(rng.normal(size=(65, 64)))
