#!/usr/bin/env python
"""Registry-wide physical-plan audit: no scale-killers anywhere.

Compiles EVERY registered batch query at $SPARK_GRAFT_SF_DIR (default
sf0.01) and greps the executed plan for the operators that do not survive
a 100 TB input:

- BroadcastNestedLoopJoin / CartesianProduct — O(n·m) comparison joins;
- row-at-a-time PythonUDF in a Filter/Project hot path (BatchEvalPython);

Exemptions must be EXPLICIT: a query appears in ALLOW with a reason or
the audit fails. Intentional uses here are the tiny-dimension crossJoin
demo and the broadcast-1-row query-vector crossJoins (knn/similarity) —
broadcast of a bounded side is the design, not an accident.

Streaming queries EXECUTE (their plans only exist per micro-batch), as do
state-mutating ones; the audit only compiles `.queryExecution.executedPlan`
via a LIMIT-0-free explain, so it is cheap (~0.1 s/query).

Exit code 1 on any unexplained hit; prints a JSON summary. Run by
tests/test_plans.py::test_registry_plan_audit for the batch subset.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# queries whose plans legitimately contain a flagged operator — every
# entry is a BOUNDED build side (a keyless/1-row aggregate broadcast, a
# constant-size demo dim, or a screened tile), verified by reading the
# plan: the BuildRight input is a HashAggregate with no keys or a
# literal-bounded relation, so the "nested loop" is n x 1, not n x m
ALLOW: dict[str, str] = {
    "cross_join_region_status": "intentional 5x3 cross-join demo (C5)",
    "knn_cosine_topk": "crossJoin of a broadcast 1-row query vector",
    "knn_lsh_topk": "crossJoin of a broadcast 1-row query vector"
    " (since the r12 graduation the key RETURNS the exact-top-10 audit"
    " twin — the LSH path is collected eagerly inside the function —"
    " same shape as knn_cosine_topk)",
    "knn_lsh_indexed": "crossJoin of a broadcast 1-row query vector"
    " (the exact-top-10 audit twin, same shape as knn_cosine_topk)",
    "knn_ivfpq_topk": "crossJoin of a broadcast 1-row query vector"
    " (the exact-top-10 audit twin, same shape as knn_lsh_indexed; the"
    " IVFPQ probe itself is collected eagerly inside the function)",
    "knn_ivf_topk": "crossJoin of a broadcast 1-row query vector",
    "embedding_near_pairs": "block x block tiling joins on range predicates"
    " after a BLAS screen; candidate volume bounded by tile size",
    "interleave_sources_rr": "broadcast 1-row per-source counts",
    "sample_fraction": "r10 derived-oracle verdict: crossJoin of three"
    " 1-row aggregates (population count, sample count, orphan count)",
    "corpus_rebalance_sources": "broadcast per-source count row",
    "corpus_rebalance_temperature": "broadcast per-source count row",
    "bm25_rank_docs": "broadcast 1-row corpus stats (N, avgdl)",
    "q11_important_stock": "HAVING vs scalar subquery: BuildRight is a"
    " keyless 1-row SUM aggregate (n x 1)",
    "q22_global_sales_opportunity": "acctbal vs scalar AVG subquery:"
    " BuildRight is a keyless 1-row aggregate (n x 1)",
    "tfidf_top_terms": "IDF denominator: broadcast 1-row corpus doc count",
    "lm_quality_score_docs": "broadcast 1-row (N, V) LM totals, same shape"
    " as bm25's corpus-stats row",
    "knn_pq_topk": "crossJoin of a broadcast 1-row query vector over the"
    " 50-row reranked shortlist",
    "knn_lsh_compact_probe": "crossJoin of a broadcast 1-row query vector"
    " (the exact-top-10 audit twin, same shape as knn_lsh_indexed; the"
    " compaction itself runs eagerly inside the function)",
    "hybrid_rank_rrf": "dense arm = knn_topk's broadcast 1-row query"
    " vector; the fusion input is two bounded top-50 lists",
    "hybrid_rank_weighted": "dense arm = knn_topk's broadcast 1-row query"
    " vector; per-arm min/max are broadcast 1-row aggregates over the"
    " bounded top-50 lists",
    "knn_filtered_topk": "crossJoin of a broadcast 1-row query vector"
    " (knn_topk over the predicate-restricted corpus — the semi-join"
    " restriction happens before the broadcast)",
    "knn_mmr_rerank": "crossJoin of a broadcast 1-row query vector"
    " (the exact-top-10 audit twin + the bounded 50-row shortlist scan;"
    " the greedy rerank runs driver-side on collected rows)",
    "knn_ivf_rebuild_probe": "crossJoin of a broadcast 1-row query vector"
    " (the exact-top-10 audit twin, same shape as knn_ivf_compact_probe;"
    " the drift checks, rebuild, and identity audit all run eagerly"
    " inside the function)",
}

# streaming / state-heavy keys: executing them here would start queries,
# and their batch plan is not the artifact that runs
SKIP_PREFIXES = ("stream_", "statestore_")

# regexes, not substrings: BatchEvalPython\b is the row-at-a-time scalar
# Python UDF node (the docstring's second scale-killer — r7 review found
# the audit never actually grepped for it); the \b keeps it from matching
# BatchEvalPythonUDTF, which is Spark's UDTF operator itself (J5's whole
# surface is row-based by the UDTF API contract, not an accident).
BAD_TOKENS = (r"BroadcastNestedLoopJoin", r"CartesianProduct",
              r"BatchEvalPython\b")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from pyspark.sql import SparkSession

    from dask_hivemetastore_spark import plans
    from dask_hivemetastore_spark.session import (
        default_parallelism,
        ensure_runtime_confs,
    )

    spark = (
        SparkSession.builder.master(f"local[{default_parallelism()}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    ensure_runtime_confs(spark)

    flagged: dict[str, list[str]] = {}
    allowed_hits: dict[str, str] = {}
    n_checked = 0
    for key, fn in plans.QUERIES.items():
        if key.startswith(SKIP_PREFIXES):
            continue
        try:
            plan = (
                fn(spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString()
            )
        except Exception as ex:  # compile failure is itself a finding
            flagged[key] = [f"PLAN-ERROR: {ex}"]
            continue
        n_checked += 1
        hits = [tok for tok in BAD_TOKENS if re.search(tok, plan)]
        if hits:
            if key in ALLOW:
                allowed_hits[key] = ALLOW[key]
            else:
                flagged[key] = hits
    print(
        json.dumps(
            {
                "checked": n_checked,
                "flagged": flagged,
                "allowed": allowed_hits,
                "unused_allow_entries": sorted(
                    set(ALLOW) - set(allowed_hits)
                ),
            },
            indent=1,
        )
    )
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
