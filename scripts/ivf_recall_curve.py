#!/usr/bin/env python
"""IVF multi-probe recall@10 curve (VERDICT r5 #5).

Mean recall@10 of ivf_topk vs the brute-force knn_topk ground truth at
n_cells=16 and nprobe in {1, 2, 4, 8, 12, 16}, averaged over the first
N query vectors of the embeddings fixture. nprobe=16/16 probes every
cell, so its recall is 1.0 by construction — the curve's fixed point.

The fixture is near-orthogonal noise (true neighbors at cosine ~0.5), the
WORST case for any space-partitioning ANN: neighbors scatter across cells
almost uniformly, so recall ~ nprobe/n_cells until the probe set covers
most cells. Real clustered embeddings sit far above this curve; the
numbers here are the honest lower bound, recorded in PERF.md.

Usage: python scripts/ivf_recall_curve.py [--sf-dir DIR] [--queries 20]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", type=int, default=20)
    ap.add_argument("--n-cells", type=int, default=16)
    args = ap.parse_args()

    from dask_hivemetastore_spark.catalog import load_table
    from dask_hivemetastore_spark.operators.similarity import ivf_topk, knn_topk
    from dask_hivemetastore_spark.session import (
        default_parallelism,
        ensure_runtime_confs,
    )

    cpus = default_parallelism()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    ensure_runtime_confs(spark)
    emb = load_table(spark, args.sf_dir, "embeddings").cache()
    qids = [r.vec_id for r in
            emb.select("vec_id").orderBy("vec_id").limit(args.queries).collect()]

    nprobes = [1, 2, 4, 8, 12, args.n_cells]
    recalls: dict[int, list[float]] = {p: [] for p in nprobes}
    for qid in qids:
        truth = {r.vec_id for r in knn_topk(emb, qid, k=10).collect()}
        for p in nprobes:
            got = {
                r.vec_id
                for r in ivf_topk(
                    emb, qid, k=10, n_cells=args.n_cells, nprobe=p,
                    cache_key=args.sf_dir,
                ).collect()
            }
            recalls[p].append(len(got & truth) / len(truth))

    out = {
        "sf_dir": args.sf_dir,
        "n_queries": len(qids),
        "n_cells": args.n_cells,
        "mean_recall_at_10": {
            str(p): round(sum(v) / len(v), 3) for p, v in recalls.items()
        },
        "min_recall_at_10": {
            str(p): round(min(v), 3) for p, v in recalls.items()
        },
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
