#!/usr/bin/env python3
"""Scale checks for the corpus shapes the open ROADMAP items need.

Usage (from anywhere):

    python scripts/scale.py --op ivf --x 10 --seed 1
    python scripts/scale.py --op maintenance --x 100 --seed 1
    python scripts/scale.py --op stream_dedup --x 10 --seed 1

``--x`` multiplies the base corpus: 2,000 vectors (the sf0.1
embeddings row count) for ``ivf`` and ``maintenance``, 1,000 documents
for ``stream_dedup``. Every input comes from ``perfbench/datagen.py``
and every answer is checked against numpy brute force, ``perfbench/
oracle.py``'s float-tolerant row compare, or the batch stage the
streaming path must agree with. Spark comes from the package's
``session.get_spark``: ``local[SPARK_GRAFT_CPUS]``, no heap pin.

- ``ivf``: a flat corpus with a 1% NaN/Inf block. The IVF build must
  exclude exactly the corrupt rows, no ranking (brute-force
  ``knn_join`` or any probe) may rank a corrupt id, and the full
  fan-out probe must return the brute-force top-k.
- ``maintenance``: for the IVF and residual IVF-PQ families, many
  ``ingest_batch=<i>`` appends then a compaction (same probe rows,
  fewer files); a compaction crashed at its ``_tomb_swapped.json``
  write then ``ann_index_recover`` (same probe rows, clean
  ``ann_index_verify``); a rebuild (clean verify, exact full fan-out
  probe). For a quantized LSH index, batch-keyed
  ``subdir="ingest_batch=<i>"`` appends then a compaction (same probe
  rows, clean deep verify with no postings id missing from the INT8
  store).
- ``stream_dedup``: a resident corpus, then small arrival batches,
  through the grouped band-bucket state of ``stream_dedup_near_docs``
  with a small membership cap and a boilerplate cluster past it.
  The final state is read back and checked against the batch
  ``minhash_band_buckets``: (A) exact enrollment accounting, (B) the
  cap bound, (C) no pair lost below the cap, (D) overflow happened.

Prints one JSON record, then one ``VERDICT`` line. Exit 0 iff every
invariant holds.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from perfbench import datagen  # noqa: E402
from perfbench.oracle import answer_diff, canonical_rows  # noqa: E402

DEFAULT_X = {"ivf": 10, "maintenance": 100, "stream_dedup": 10}
BASE_VECTORS = 2_000
BASE_DOCS = 1_000
DIM = 64
N_CELLS = 16
K = 10
N_QUERIES = 8


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--op", required=True, choices=sorted(DEFAULT_X))
    ap.add_argument("--x", type=int, default=None,
                    help="corpus factor (default: ivf 10, maintenance "
                         "100, stream_dedup 10)")
    ap.add_argument("--seed", type=int, default=1)
    return ap.parse_args(argv)


# ------------------------------------------------------------ shared


def brute_topk(vecs: np.ndarray, qids: list[int], k: int = K) -> pd.DataFrame:
    """``(q_id, vec_id, cosine)`` of each query's k best rows, its own
    row masked: the engine's sequential f64 dot, rounded to 6 places,
    ties broken by id. Row ``i`` of ``vecs`` has id ``i``."""
    v = vecs.astype(np.float64)
    out = []
    for q in qids:
        dot = np.zeros(len(v))
        for j in range(v.shape[1]):
            dot += v[:, j] * v[q, j]
        cos = np.round(dot, 6)
        cos[q] = -np.inf
        best = np.lexsort((np.arange(len(v)), -cos))[:k]
        out += [(q, int(i), float(cos[i])) for i in best]
    return pd.DataFrame(out, columns=["q_id", "vec_id", "cosine"])


def exact(got: list, want: pd.DataFrame) -> str | None:
    """None when the collected rows ``got`` hold ``want``'s
    ``(q_id, vec_id, cosine)`` rows, else the first difference."""
    cols = list(want.columns)
    return answer_diff(pd.DataFrame([[r[c] for c in cols] for r in got],
                                    columns=cols), canonical_rows(want))


def rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, round(time.perf_counter() - t0, 2)


def corpus(seed: int, n: int) -> tuple[np.ndarray, list[int], pd.DataFrame]:
    """``n`` clustered unit vectors, ``N_QUERIES`` query ids among them
    and the queries' brute-force top-k."""
    vecs = datagen.clustered_vectors(seed, n, DIM)
    rng = np.random.default_rng([seed, 9])
    qids = sorted(int(q) for q in rng.choice(n, N_QUERIES, replace=False))
    return vecs, qids, brute_topk(vecs, qids)


# ------------------------------------------------------------ ivf


def op_ivf(spark, work: str, x: int, seed: int) -> dict:
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.operators.similarity import (
        finite_vectors,
        ivf_build_index,
        ivf_probe_indexed_batch,
        knn_join,
    )

    n = BASE_VECTORS * x
    vecs, qids, want = corpus(seed, n)
    # the corrupt block: ids after the clean ones, one NaN, +Inf or -Inf
    # component each
    n_bad = max(3, n // 100)
    rng = np.random.default_rng([seed, 10])
    bad = rng.standard_normal((n_bad, DIM)).astype(np.float32)
    bad[np.arange(n_bad), np.arange(n_bad) % DIM] = np.resize(
        [np.nan, np.inf, -np.inf], n_bad)
    flat_path = f"{work}/flat.parquet"
    pq.write_table(pa.concat_tables([datagen.embeddings_table(vecs),
                                     datagen.embeddings_table(bad, n)]),
                   flat_path)
    flat = spark.read.parquet(flat_path)
    out: dict = {"n_vectors": n, "n_corrupt": n_bad, "queries": len(qids)}
    fails: list[str] = []

    n_flat = flat.count()
    n_finite = finite_vectors(flat, "embedding", DIM).count()
    if n_finite + n_bad != n_flat:
        fails.append(f"finite_vectors kept {n_finite} of {n_flat} rows "
                     f"with {n_bad} corrupt")

    brute, out["knn_join_s"] = timed(
        lambda: knn_join(flat, qids, k=K, dim=DIM).collect())
    ranked = {r.vec_id for r in brute}
    diff = exact(brute, want)
    if diff:
        fails.append(f"knn_join != numpy brute force: {diff}")

    index = f"{work}/ivf"
    C, out["build_s"] = timed(lambda: ivf_build_index(
        flat, index, n_cells=N_CELLS, dim=DIM))
    indexed = spark.read.parquet(index)
    cell_rows = {r.cell: r["count"] for r in
                 indexed.groupBy("cell").count().collect()}
    n_index = out["index_rows"] = sum(cell_rows.values())
    if n_index + n_bad != n_flat:
        fails.append(f"index rows {n_index} + corrupt {n_bad} != flat "
                     f"rows {n_flat}")
    if indexed.where(F.col("vec_id") >= n).count():
        fails.append("a corrupt row was indexed")

    for nprobe in (4, 8, N_CELLS):
        probe = ivf_probe_indexed_batch(flat, index, qids, k=K,
                                        nprobe=nprobe, dim=DIM)
        got, sec = timed(probe.collect)
        ranked |= {r.vec_id for r in got}
        out[f"probe_nprobe{nprobe}_s"] = sec
        if nprobe == N_CELLS:
            diff = exact(got, want)
            if diff:
                fails.append(f"full fan-out probe != brute force: {diff}")
    # the share of the corpus a query's 4 best cells hold, averaged
    top = np.argsort(-(vecs[qids] @ C.T), axis=1)[:, :4]
    out["scan_frac_nprobe4"] = round(float(np.mean(
        [sum(cell_rows.get(int(c), 0) for c in t) for t in top])) / n_index, 3)
    n_ranked_bad = sum(1 for i in ranked if i >= n)
    if n_ranked_bad:
        fails.append(f"{n_ranked_bad} corrupt ids ranked")
    out["verdict"] = (
        f"{n} vectors + {n_bad} corrupt: index rows + corrupt = flat rows, "
        f"{n_ranked_bad} corrupt ids ranked, knn_join and full fan-out "
        f"probe = brute-force top-{K} over {len(qids)} queries")
    return out | {"failures": fails}


# ------------------------------------------------------------ maintenance

#: ``ingest_batch=<i>`` appends per family
N_BATCHES = 20


def _family(fam: str, flat, idx: str, n: int, qids: list[int]):
    """``(build, append, probe)`` for one index family at ``idx``."""
    from dask_hivemetastore_spark.operators import similarity as S

    if fam == "ivf":
        return (
            lambda emb: S.ivf_build_index(emb, idx, n_cells=N_CELLS, dim=DIM),
            lambda emb, path: S.ivf_append(emb, path, mode="overwrite"),
            lambda nprobe: S.ivf_probe_indexed_batch(
                flat, idx, qids, k=K, nprobe=nprobe, dim=DIM),
        )
    # at full fan-out the ADC screen keeps 5% of the corpus per query for
    # the exact rescore; the shortlist travels as a literal id list, so a
    # corpus-sized one does not fit a default driver heap at 100x
    return (
        lambda emb: S.ivfpq_build_index(emb, idx, n_cells=N_CELLS, dim=DIM,
                                        residual=True),
        lambda emb, path: S.ivfpq_append(emb, path, mode="overwrite"),
        lambda nprobe: S.ivfpq_probe_indexed_batch(
            flat, idx, qids, k=K, nprobe=nprobe,
            shortlist=max(500, n // 20) if nprobe == N_CELLS else None),
    )


def _maintain(spark, fam: str, work: str, flat, n: int, qids: list[int],
              want: pd.DataFrame) -> tuple[dict, list[str]]:
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.operators import similarity as S

    idx = f"{work}/{fam}"
    build, append, probe = _family(fam, flat, idx, n, qids)
    part = lambda b: flat.where(F.col("vec_id") % N_BATCHES == b)  # noqa: E731
    out: dict = {}
    fails: list[str] = []

    # built on slice 0, then one batch-keyed append per slice, the way
    # the streaming ingest sinks grow an index
    _, out["build_s"] = timed(lambda: build(part(0)))
    _, out["ingest_s"] = timed(lambda: [
        append(part(b), f"{idx}/ingest_batch={b}")
        for b in range(1, N_BATCHES - 1)])
    before = rows(probe(8))
    stats, out["compact_s"] = timed(lambda: S.ann_index_compact(spark, idx))
    out["files_in"], out["files_out"] = stats["n_files_in"], stats["n_files_out"]
    if rows(probe(8)) != before:
        fails.append(f"{fam}: probe rows changed across compaction")
    if not stats["n_files_out"] < stats["n_files_in"]:
        fails.append(f"{fam}: compaction left {stats['n_files_out']} of "
                     f"{stats['n_files_in']} files")
    if stats["n_batch_dirs_folded"] != N_BATCHES - 2:
        fails.append(f"{fam}: folded {stats['n_batch_dirs_folded']} of "
                     f"{N_BATCHES - 2} batch dirs")

    # one more append, then a compaction that dies writing
    # _tomb_swapped.json: after its commit, so recover rolls it forward
    append(part(N_BATCHES - 1), f"{idx}/ingest_batch={N_BATCHES - 1}")
    before = rows(probe(8))
    real = S._fs_write_bytes

    def crash(spark_, path, data):
        if path.endswith(S._TOMB_SWAPPED_SENTINEL):
            raise RuntimeError("injected crash at the swapped sentinel")
        return real(spark_, path, data)

    S._fs_write_bytes = crash
    try:
        S.ann_index_compact(spark, idx)
        fails.append(f"{fam}: the injected crash did not fire")
    except RuntimeError as e:
        if "injected crash" not in str(e):
            raise
    finally:
        S._fs_write_bytes = real
    rec, out["recover_s"] = timed(lambda: S.ann_index_recover(spark, idx))
    out["rolled_forward"] = rec["rolled_forward"]
    if not rec["rolled_forward"]:
        fails.append(f"{fam}: recover did not roll the committed pass forward")
    if rows(probe(8)) != before:
        fails.append(f"{fam}: probe rows changed across crash + recover")
    if not S.ann_index_verify(spark, idx)["ok"]:
        fails.append(f"{fam}: verify not clean after recover")

    _, out["rebuild_s"] = timed(lambda: S.ann_index_rebuild(spark, idx))
    if not S.ann_index_verify(spark, idx)["ok"]:
        fails.append(f"{fam}: verify not clean after rebuild")
    diff = exact(probe(N_CELLS).collect(), want)
    if diff:
        fails.append(f"{fam}: full fan-out probe after rebuild != brute "
                     f"force: {diff}")
    return out, fails


def _maintain_lsh(spark, work: str, flat,
                  qids: list[int]) -> tuple[dict, list[str]]:
    """Batch-keyed appends into a quantized LSH index, then a compaction
    that folds them: the probe rows stay and a deep verify is clean."""
    from pyspark.sql import functions as F

    from dask_hivemetastore_spark.operators import similarity as S

    idx = f"{work}/lsh"
    part = lambda b: flat.where(F.col("vec_id") % N_BATCHES == b)  # noqa: E731
    out: dict = {}
    fails: list[str] = []
    _, out["build_s"] = timed(lambda: S.lsh_build_index(
        part(0), idx, dim=DIM, bits=8, n_tables=16))
    _, out["ingest_s"] = timed(lambda: [
        S.lsh_append(part(b), idx, subdir=f"ingest_batch={b}",
                     mode="overwrite")
        for b in range(1, N_BATCHES)])
    probe = lambda: rows(S.lsh_probe_indexed_batch(flat, idx, qids, k=K))  # noqa: E731
    before = probe()
    stats, out["compact_s"] = timed(lambda: S.ann_index_compact(spark, idx))
    out["files_in"], out["files_out"] = stats["n_files_in"], stats["n_files_out"]
    if not before:
        fails.append("lsh: the probe returned no rows")
    if probe() != before:
        fails.append("lsh: probe rows changed across compaction")
    if not stats["n_files_out"] < stats["n_files_in"]:
        fails.append(f"lsh: compaction left {stats['n_files_out']} of "
                     f"{stats['n_files_in']} files")
    if stats["n_batch_dirs_folded"] != N_BATCHES - 1:
        fails.append(f"lsh: folded {stats['n_batch_dirs_folded']} of "
                     f"{N_BATCHES - 1} batch dirs")
    ver = S.ann_index_verify(spark, idx, deep=True)
    out["ids_missing_from_int8_store"] = missing = ver["checks"].get(
        "ids_missing_from_int8_store")
    if not ver["ok"] or missing != 0:
        fails.append(f"lsh: deep verify after compaction: {ver['problems']}, "
                     f"{missing} ids missing from the INT8 store")
    return out, fails


def op_maintenance(spark, work: str, x: int, seed: int) -> dict:
    n = BASE_VECTORS * x
    vecs, qids, want = corpus(seed, n)
    pq.write_table(datagen.embeddings_table(vecs), f"{work}/flat.parquet")
    flat = spark.read.parquet(f"{work}/flat.parquet")
    out: dict = {"n_vectors": n, "batches": N_BATCHES}
    fails: list[str] = []
    for fam in ("ivf", "ivfpq_residual"):
        out[fam], f = _maintain(spark, fam, work, flat, n, qids, want)
        fails += f
    out["lsh"], f = _maintain_lsh(spark, work, flat, qids)
    fails += f
    out["verdict"] = (
        f"{n} vectors, IVF and residual IVF-PQ: {N_BATCHES - 2} batch "
        f"appends + compaction keep the probe rows "
        f"(files {out['ivf']['files_in']} -> {out['ivf']['files_out']}, "
        f"{out['ivfpq_residual']['files_in']} -> "
        f"{out['ivfpq_residual']['files_out']}), crash at the swapped "
        f"sentinel + recover keeps them and verifies clean, rebuild "
        f"verifies clean with an exact full fan-out probe; quantized LSH: "
        f"{N_BATCHES - 1} batch-keyed appends + compaction keep the probe "
        f"rows (files {out['lsh']['files_in']} -> "
        f"{out['lsh']['files_out']}), deep verify clean, 0 ids missing "
        f"from the INT8 store")
    return out | {"failures": fails}


# ------------------------------------------------------------ stream_dedup

#: the membership cap the run enrolls under, and the identical
#: documents that drive their 32 band buckets past it
CAP = 64
BOILERPLATE = 200
ARRIVALS = 4
_BOILER_TEXT = ("standard boilerplate license header text repeated verbatim "
                "across every scraped page of the mirrored site corpus")


def _arrival_files(src: str, seed: int, n: int) -> int:
    """Batch 0 holds the resident originals and half the boilerplate;
    ``ARRIVALS`` small batches bring the near-duplicate copies and the
    rest of it. Files get increasing mtimes, so a one-file-per-trigger
    stream reads them in order. Returns the first boilerplate id."""
    docs = datagen.documents_table(seed, n, n // 12).select(["doc_id", "text"])
    first = docs.num_rows
    ids = np.arange(first, first + BOILERPLATE)
    boiler = pa.table({"doc_id": pa.array(ids, pa.int64()),
                       "text": [_BOILER_TEXT] * BOILERPLATE})
    half = BOILERPLATE // 2
    batches = [pa.concat_tables([docs.slice(0, n), boiler.slice(0, half)])]
    copies = np.array_split(np.arange(n, first), ARRIVALS)
    rest = np.array_split(np.arange(half, BOILERPLATE), ARRIVALS)
    batches += [pa.concat_tables([docs.take(c), boiler.take(r)])
                for c, r in zip(copies, rest)]
    for i, t in enumerate(batches):
        path = f"{src}/batch_{i:03d}.parquet"
        pq.write_table(t, path)
        os.utime(path, (1_000_000_000 + 60 * i,) * 2)
    return first


def op_stream_dedup(spark, work: str, x: int, seed: int) -> dict:
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from dask_hivemetastore_spark.operators.dedup import (
        minhash_band_buckets,
        with_word_ngrams,
    )
    from dask_hivemetastore_spark.streaming.pipeline import (
        _GROUPED_BAND_STATE,
        _PAIR_OUT,
        band_state_groups,
        make_grouped_band_collisions,
        stream_python_state_partitions,
    )

    src, ckpt = f"{work}/src", f"{work}/ckpt"
    os.makedirs(src)
    boiler0 = _arrival_files(src, seed, BASE_DOCS * x)
    nparts = stream_python_state_partitions(spark, src)
    groups = band_state_groups(spark)

    def keyed(buckets):
        return buckets.withColumn("state_group", F.pmod(
            F.xxhash64("band", "band_hash"), F.lit(groups)))

    # the production grouped-state path of stream_dedup_near_docs, capped
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    grams = with_word_ngrams(stream, "text", 3, nparts=nparts).drop("text")
    pair_log = (
        keyed(minhash_band_buckets(grams, "doc_id"))
        .groupBy("state_group")
        .applyInPandasWithState(
            make_grouped_band_collisions(CAP),
            outputStructType=_PAIR_OUT,
            stateStructType=_GROUPED_BAND_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    t0 = time.perf_counter()
    q = (pair_log.writeStream.format("memory").queryName("scale_pairs")
         .outputMode("update").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    drain_s = round(time.perf_counter() - t0, 2)
    progress = q.recentProgress
    q.stop()
    batch_ms = [p["durationMs"]["triggerExecution"] for p in progress
                if p["numInputRows"]]
    state_op = progress[-1]["stateOperators"][0] if progress else {}

    # ground truth: the batch band buckets of the same files
    docs = spark.read.parquet(src)
    truth = (
        keyed(minhash_band_buckets(
            with_word_ngrams(docs, "text", 3, nparts=nparts).drop("text"),
            "doc_id"))
        .groupBy("state_group", "band", "band_hash")
        .agg(F.collect_set("doc_id").alias("ids"))
        .withColumn("occ", F.size("ids"))
        .persist()
    )
    state = spark.read.format("statestore").load(ckpt).select(
        F.col("key.state_group").alias("state_group"),
        F.col("value.groupState.overflow").alias("overflow"),
        F.explode(F.arrays_zip(
            F.col("value.groupState.bands").alias("band"),
            F.col("value.groupState.hashes").alias("band_hash"),
            F.col("value.groupState.members").alias("members"),
        )).alias("b"),
    ).select("state_group", "overflow", "b.band", "b.band_hash",
             F.col("b.members").alias("members")).persist()
    fails: list[str] = []

    # (A) every bucket enrolls min(occupancy, cap) ids, and each group's
    # members plus its overflow count equal its occupancy
    acct = state.join(truth, ["state_group", "band", "band_hash"], "full")
    bad = acct.where(F.coalesce(F.size("members"), F.lit(0))
                     != F.least(F.coalesce("occ", F.lit(0)), F.lit(CAP))
                     ).count()
    if bad:
        fails.append(f"A: {bad} buckets enroll other than min(occupancy, cap)")
    per_group = acct.groupBy("state_group").agg(
        F.sum(F.coalesce(F.size("members"), F.lit(0))).alias("m"),
        F.max(F.coalesce("overflow", F.lit(0))).alias("o"),
        F.sum(F.coalesce("occ", F.lit(0))).alias("occ"))
    bad = per_group.where(F.col("m") + F.col("o") != F.col("occ")).count()
    if bad:
        fails.append(f"A: {bad} groups with members + overflow != occupancy")

    # (B) the cap bound, and pairs out of a capped bucket only among the
    # ids it enrolled
    top = state.agg(F.max(F.size("members"))).first()[0] or 0
    if top > CAP:
        fails.append(f"B: a bucket holds {top} members, cap {CAP}")
    pairs = spark.table("scale_pairs").distinct().persist()
    boiler = (F.col("doc_a") >= boiler0) & (F.col("doc_b") >= boiler0)
    enrolled = {
        (a, b)
        for r in state.join(truth.where(F.col("occ") > CAP),
                            ["state_group", "band", "band_hash"])
        .select("members").collect()
        for a in r.members for b in r.members if a < b
    }
    capped_pairs = {(r.doc_a, r.doc_b) for r in pairs.where(boiler).collect()}
    if not capped_pairs <= enrolled:
        fails.append(f"B: {len(capped_pairs - enrolled)} boilerplate pairs "
                     "outside the enrolled members")

    # (C) below the cap the stream's pairs are the batch self-join's
    small = truth.where(F.col("occ") <= CAP).select(
        "band", "band_hash", F.explode("ids").alias("doc_id"))
    a, b = small.alias("a"), small.alias("b")
    batch_pairs = a.join(b, (F.col("a.band") == F.col("b.band"))
                         & (F.col("a.band_hash") == F.col("b.band_hash"))
                         & (F.col("a.doc_id") < F.col("b.doc_id"))).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b")).distinct()
    below = pairs.where(~boiler)
    lost = batch_pairs.join(below, ["doc_a", "doc_b"], "left_anti").count()
    invented = below.join(batch_pairs, ["doc_a", "doc_b"], "left_anti").count()
    if lost or invented:
        fails.append(f"C: {lost} pairs lost, {invented} invented below cap")

    # (D) the boilerplate buckets really overflowed
    n_over, total_over = state.select("state_group", "overflow").distinct() \
        .agg(F.count(F.when(F.col("overflow") > 0, 1)),
             F.sum("overflow")).first()
    total_over = int(total_over or 0)
    if not total_over:
        fails.append("D: no enrollment overflowed the cap")

    n_docs = docs.count()
    n_below = batch_pairs.count()
    out = {
        "n_docs": n_docs, "pairs_below_cap": n_below, "resident_docs": BASE_DOCS * x, "arrivals": ARRIVALS,
        "cap": CAP, "state_groups": groups, "buckets": truth.count(),
        "pairs": pairs.count(), "groups_overflowed": n_over,
        "total_overflow": total_over, "drain_s": drain_s,
        "batch_ms": batch_ms,
        "state_rows": state_op.get("numRowsTotal"),
        "state_bytes": state_op.get("memoryUsedBytes"),
    }
    out["verdict"] = (
        f"{n_docs} docs ({BASE_DOCS * x} resident, {ARRIVALS} arrival "
        f"batches) over {groups} state groups, cap {CAP}: (A) enrollment "
        f"accounting exact, (B) cap bound holds, (C) {n_below} pairs below "
        f"the cap, none lost, (D) {total_over} enrollments overflowed")
    return out | {"failures": fails}


# ------------------------------------------------------------ main

OPS = {"ivf": op_ivf, "maintenance": op_maintenance,
       "stream_dedup": op_stream_dedup}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    x = args.x or DEFAULT_X[args.op]
    from dask_hivemetastore_spark.session import default_parallelism, get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"scale-{args.op}", extra_confs={
        "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix=f"scale_{args.op}_")
    try:
        out = OPS[args.op](spark, work, x, args.seed)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    fails = out.pop("failures")
    verdict = out.pop("verdict")
    out = {"op": args.op, "x": x, "seed": args.seed,
           "cpus": default_parallelism(),
           "wall_s": round(time.perf_counter() - t0, 1), **out,
           "failures": fails, "ok": not fails}
    print(json.dumps(out))
    print(f"VERDICT {args.op} x={x}: "
          + (f"ok: {verdict}" if not fails else "FAIL: " + "; ".join(fails)))
    return 0 if not fails else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
