"""Driver-checkable query registry.

Importing this package registers every implemented query (SURVEY.md §2's
inventory) into :mod:`.registry`. ``__spark_entry__.py`` re-exports the
result as the driver contract.
"""

from . import registry  # noqa: F401

# Import order is load order; each module registers its queries on import.
from . import tpch  # noqa: F401,E402
from . import relational  # noqa: F401,E402
from . import windows  # noqa: F401,E402
from . import events  # noqa: F401,E402
from . import udf_surface  # noqa: F401,E402
from . import llm  # noqa: F401,E402
from .. import streaming  # noqa: F401,E402

# ---------------------------------------------------------------------------
# Certification window ordering — STANDING ROTATION POLICY (round 5+).
#
# The driver's CORRECTNESS gate checks the first 50 registry keys in
# iteration order. The local parity suite (tests/test_oracle_parity.py)
# runs the IDENTICAL rows+schema+hash compare against DuckDB for all
# registered full-oracle keys, but the brief's bar is a hard driver row
# per operator — so the window is a rotating certification budget, not a
# fixed showcase. Policy, applied every round:
#
#   1. Any key certified green in ≥1 prior round's CORRECTNESS_r*.json is
#      eligible to rotate OUT (its certification is on record; the local
#      suite keeps guarding it).
#   2. Every NEW query lands in the window the round it is added.
#   3. Remaining slots go to never-certified full-oracle keys, oldest
#      first, spread across SURVEY §2 families.
#   4. Rows-only keys stay outside — the driver's rows-only check adds
#      nothing over the local suite.
#   5. Pre-flight before committing a reorder: the full parity suite at
#      sf0.01 plus the local driver-sim pre-flight script so oracle
#      dialect bugs surface locally, never in the driver.
#
# History: r1 certified keys 1–50 of module order (TPC-H + relational);
# r2–r4 certified the 50 family representatives listed in git history of
# this file. Union after r4: 100 of 184 keys (see VERDICT.md r4); r5
# rotated all 50 slots to never-certified keys → union 150 of 185.
# Round 6 held the FINAL 38 never-certified full-oracle keys + the 7
# queries new in r6 (policy #2) + re-certifications of keys whose
# implementation changed that round — after r6 the r1–r6 union covers
# every full-oracle key (195/196 green; embedding_group_centroid was
# the one red row, a driver-canonicalizer array-column failure).
# Round 7 certified the 12 new/changed keys of that round plus drift
# re-certification of the r1 window — CORRECTNESS_r07: 50/50 green.
# Round 8 certified the 15 keys r7 flagged as driver-stale + 7
# hostile-corpus-fix keys + drift re-certification of most of the r2
# window — CORRECTNESS_r08: 50/50 green (see git history of this file
# for the full r8 list).
# Round 9 certified the post-r8-freeze changed keys, the 8 deferred r2
# keys, the r1 window, and the first r5 drift block — CORRECTNESS_r09:
# 50/50 green (see git history of this file for the full list).
# Round 10: blocks 1/1b = the 21 keys whose contracts changed that
# round (8 newly-derived full oracles, 8 hostile-FORMAT/extended-
# NUMERIC gate fixes, 5 hostile-EMBEDDINGS declared-dim eligibility
# keys); block 2 = the ENTIRE remaining r5-vintage drift tail (23
# keys); block 3 = the 6 oldest r6-vintage keys — CORRECTNESS_r10:
# 50/50 green. After r10, no driver row predates r6.
# Round 11: block 1 = the 9 changed keys (hll_sketch_merge NULL-ts
# oracle, xml_parse_orders \x00 class, stream_sessionize component-set
# state, six verify_enabled()-gated sketch/sample keys, knn_pq_topk
# encode path) + the 2 new IVF-ingest keys; block 2 = the ENTIRE
# r6-vintage drift tail (25 keys); block 3 = the 14 alphabetically-
# first r7-vintage keys — CORRECTNESS_r11: 50/50 green (see git
# history of this file for the full list). After r11 no driver row
# predates r7.
# Round 12 (this window): block 1 = the round's TWO new keys
# (ivf_drift_check — the measured IVF retrain trigger — and
# knn_lsh_indexed — the materialized LSH postings layout) + the 3 keys
# whose contract or engine changed this round (knn_lsh_topk GRADUATED
# from rows-only to the derived recall-verdict oracle on the
# multi-table LSH upgrade; stream_ivf_ingest's sink became batch-id-
# keyed idempotent; stream_sessionize's change detection became
# NaN-aware); block 2 = the ENTIRE r7-vintage drift tail (the 30 keys
# VERDICT r11 next #1 named), led by split_leakage_audit and
# stream_dedup_near_docs whose physical plans changed in the r11
# persist swap without re-certification — after r12 no driver row
# predates r8; block 3 = the 15 alphabetically-first r8-vintage keys
# (27 r8 stragglers remain for r13: jsonl_roundtrip_agg —
# displaced by knn_lsh_indexed — lag_lead_events,
# lateral_top_lineitems, map_funcs_props, map_partitions_net_price,
# merge_upsert_orders, multimodal_extract, multimodal_frame_sample,
# nations_per_region_csv, orc_roundtrip_agg, pandas_udf_scalar,
# pii_redact_docs, python_datasource_scan, quality_report_by_status,
# range_join_banded, range_join_events, rolling_avg_value,
# sessionize_dynamic_gap, span_dedup_docs, stratified_sample_docs,
# stream_click_attribution, text_stats_docs, thin_metastore_scan,
# topn_parts_per_brand, udtf_bigrams, variant_extract_props,
# window_rank_orders).
# Round 13 (this window): block 1 = the round's TEN new keys
# (stream_lsh_ingest — streaming LSH postings ingest, the
# stream_ivf_ingest sibling; knn_lsh_join — the batched postings
# probe, one scan for a whole query batch, derived recall-verdict
# oracle; knn_ivf_compact_probe + knn_lsh_compact_probe — the
# ann_index_compact maintenance pass, ingest-batch dirs folded +
# ordering contract restored, identity/files verdicts; knn_ivf_join —
# the batched IVF probe, one partition-pruned scan per query batch;
# knn_filtered_topk — metadata-PRE-filtered vector search;
# quality_calibrate_by_source — per-source quality-percentile
# calibration for mixture curation;
# knn_mmr_rerank — MMR diversification of the certified shortlist,
# λ=1-identity + picks-validity verdicts; hybrid_rank_rrf +
# hybrid_rank_weighted
# — BM25 + dense fusion, rank-based and min-max-weighted) + the 3 keys
# whose engine
# changed this
# round (ivf_drift_check moved to the per-index 3σ threshold derived
# from ivf_drift_reference; knn_lsh_indexed gained the manifest +
# INT8-screened rescore path and the explicit (table,bucket) writer
# sort; stream_ivf_ingest went manifest-first — appends and the probe
# resolve centroids from the path alone); block 2 = the ENTIRE
# r8-vintage drift tail (the 27 keys VERDICT r12 missing #2 named,
# list re-verified by script against the r1–r12 union); block 3 = the
# 10 alphabetically-first r9-vintage keys (grouped_arrow_minmax was
# displaced by knn_lsh_join, and events_date_parts /
# events_hourly_gapfill / funnel_signup_purchase / domain_cap_docs /
# doc_fingerprint / describe_lineitem / decontaminate_docs /
# decontaminate_digest_docs by
# the eight newest
# keys, all under policy #2) — after r13 no driver row
# predates r9 (the full r13 window is in git history of this file).
# Round 14 (this window): block 1 = the round's FIVE new keys
# (quality_calibrate_prefiltered — the hot-source skew path for the
# per-source calibration, the domain_cap_prefiltered recipe ahead of
# the exact window; knn_ivfpq_topk — the materialized IVF+PQ layout,
# cell partition pruning × 16-byte ADC codes × pushed-In exact
# rescore, recall-verdict oracle; knn_ivfpq_join — its batched probe,
# per-query ADC LUTs shipped as a broadcast column;
# stream_ivfpq_ingest — the IVFPQ index maintained by a stream,
# manifest-first batch-keyed idempotent appends, ingest parity across
# all three families; decontaminate_fuzzy_docs — near-duplicate
# Jaccard decontamination, the paraphrased-contamination case, exact
# prefix-filtered candidates + brute pairwise oracle) + the 10 keys
# whose ENGINE changed
# this round
# (every key that builds/appends/compacts/probes a MATERIALIZED ANN
# index traverses the r14 epoch/append-marker race protocol and the
# manifest centroid sidecar: knn_lsh_join, knn_ivf_join,
# knn_ivf_compact_probe, knn_lsh_compact_probe, stream_ivf_ingest,
# stream_lsh_ingest, knn_lsh_indexed, ivf_drift_check,
# knn_ivf_append_probe; plus knn_mmr_rerank, whose output schema is
# now derived from the corpus schema on the non-empty path); block 2 =
# the ENTIRE r9-vintage drift tail (the 33 keys VERDICT r13 missing #3
# / next #1 named — after r14 no driver row predates r10); block 3 =
# the 2 alphabetically-first r10-vintage keys (array_set_ops,
# cdc_apply_changes); the r10 stragglers for r15 (39 below +
# cohort_retention_weekly = 40):
# compact_partition_scoped, crosstab_status_segment, csv_roundtrip_agg,
# dedup_embedding_components, dedup_exact_selfunion,
# domain_cap_prefiltered, embedding_near_pairs,
# embedding_quantize_roundtrip, explode_words_top, fuzzy_match_nations,
# interpolate_hourly_events, interval_order_span_ym, interval_user_span,
# knn_cosine_topk, knn_ivf_topk, knn_join_batch, lang_id_docs,
# lm_quality_score_docs, map_arrow_net_price, observed_write_metrics,
# paginate_orders, pandas_api_groupby, parameterized_sql_orders,
# parquet_partitioned_roundtrip, parquet_schema_evolution,
# persist_cache_agg, q13_customer_distribution, q21_suppliers_waiting,
# q2_min_cost_supplier, q8_market_share, q9_product_profit,
# recursive_month_spine, stream_foreach_batch_snapshot,
# stream_observe_metrics, stream_static_enrich, table_diff_snapshots,
# try_arithmetic_safety, udtf_polymorphic_firstwords, window_rank_kinds
# (39 + r15's new/changed keys fit one 50-key window with room for
# r11 stragglers).
# Round 15 (this window): block 1 = the 12 keys whose ENGINE changed
# this round — every key that builds/appends/compacts/probes a
# MATERIALIZED ANN index traverses the r15 atomic-manifest-swap
# protocol (write_index_manifest staged rename + read_index_manifest
# backup fallback; VERDICT r14 missing #3), the batch-fold-aware
# recovery sentinels in ann_index_compact (r14 advisor #1), and the
# defaultFS-aware sidecar reads (r14 advisor #2): knn_ivfpq_topk,
# knn_ivfpq_join, stream_ivfpq_ingest, knn_lsh_join, knn_ivf_join,
# knn_ivf_compact_probe, knn_lsh_compact_probe, stream_ivf_ingest,
# stream_lsh_ingest, knn_lsh_indexed, ivf_drift_check,
# knn_ivf_append_probe (knn_ivf_topk also probes IVF but assigns cells
# in-flight — no manifest, no materialized layout — and sits in block
# 2 regardless; knn_mmr_rerank reranks the brute shortlist and touches
# none of the changed code); block 2 = 38 of the 40 r10-vintage drift
# keys VERDICT r14 next #1 named (the 39 listed above minus the two
# displaced + cohort_retention_weekly). Displaced to r16 by the 12
# changed keys under the standing changed-keys-re-cert rule:
# udtf_polymorphic_firstwords, window_rank_kinds — after r15 those two
# are the ONLY keys whose newest driver row predates r11 (both green
# in every local parity run; r16's block).
# STANDING OUTPUT DISCIPLINE: no registered query may return a
# top-level array/map/struct column — the driver's canonicalizer
# sort_values over raw columns and cannot sort list cells (r6's only
# red row). Explode to scalar rows or cast to a canonical string.
# ---------------------------------------------------------------------------
# Round 16 (this window): block 1 = the round's TWO new/graduated keys
# (knn_ivf_rebuild_probe — ann_index_rebuild, the drift trigger's
# consequence: retrain + rewrite + staged-sentinel swap with the
# manifest write as commit point, drift-clears + identity + recall
# verdicts; dedup_simhash — GRADUATED from rows-only to the
# knn_lsh_topk-style derived recall-verdict oracle against the exact
# Jaccard twin, leaving semdedup_survivors the ONLY rows-only key);
# block 2 = the 12 keys whose ENGINE changed this round — every key
# that builds/appends/compacts/probes a MATERIALIZED ANN index
# traverses the r16 maintenance lock (taken in _maintenance for
# compact/rebuild), the checked-rename manifest swap (r15 advisor #2),
# the root-anchored lsh_append INT8 store, and (ivf_drift_check) the
# scale-robust null-space drift axis: knn_ivfpq_topk, knn_ivfpq_join,
# stream_ivfpq_ingest, knn_lsh_join, knn_ivf_join,
# knn_ivf_compact_probe, knn_lsh_compact_probe, stream_ivf_ingest,
# stream_lsh_ingest, knn_lsh_indexed, ivf_drift_check,
# knn_ivf_append_probe; block 3 = the two r10 stragglers VERDICT r15
# next #1 named (udtf_polymorphic_firstwords, window_rank_kinds —
# after r16 no driver row predates r11); block 4 = the 34
# alphabetically-first r11-vintage drift keys. Displaced to r17 by
# blocks 1–2 under the standing changed-keys-first rule (driver-simmed
# standalone ALL-MATCH this round, see PERF.md r16): sample_fraction,
# sample_k_per_group, sample_stratified, sorted_layout_roundtrip,
# statestore_event_counts, tfidf_top_terms, timestamp_parse_roundtrip,
# token_count_docs, union_mismatched_schemas, weighted_sample_docs,
# window_price_band, xml_parse_orders, zorder_layout_roundtrip
# (13 keys — r17's block, fits one window with room for r12 drift).
# Round 17 (this window): block 1 = the 13 keys whose ENGINE changed
# this round — every key that builds/appends/compacts/rebuilds/probes
# a MATERIALIZED ANN index traverses the r17 crash-safety work (all
# three r16 advisor findings): write_index_manifest's sidecar
# generations became CONTENT-DIGEST-NAMED with two-generation GC (the
# fixed-name sidecar was clobbered BEFORE the manifest rename
# committed — a rebuild crashing in that window rolled back to an old
# manifest lazily serving the NEW quantizer, silent wrong answers);
# ann_index_recover's roll-forward finishing is gated on the
# sentinel's epoch record (an empty marker snapshot no longer skips
# the epoch bump), its manifest-heal renames are exception-normalized
# (_rename_ok — ChecksumFileSystem/object-store renames THROW), and
# it collects rolled-back orphan sidecar generations:
# knn_ivf_rebuild_probe, knn_ivfpq_topk, knn_ivfpq_join,
# stream_ivfpq_ingest, knn_lsh_join, knn_ivf_join,
# knn_ivf_compact_probe, knn_lsh_compact_probe, stream_ivf_ingest,
# stream_lsh_ingest, knn_lsh_indexed, ivf_drift_check,
# knn_ivf_append_probe; block 2 = the 13 displaced r11-vintage keys
# VERDICT r16 next #1 named (the freshness tail — after r17 no driver
# row predates r12); block 3 = the 24 alphabetically-first r12-vintage
# drift keys (47 exist, recomputed by script from the r1–r16 union).
# The 23 r12 stragglers for r18: q14_promo_revenue, q15_top_supplier,
# q17_small_quantity, q18_large_orders, q19_disjunctive,
# q1_pricing_summary, q22_global_sales_opportunity, q3_top_orders,
# q4_order_priority, q5_local_supplier, q6_revenue_delta,
# q7_volume_shipping, rollup_nation_region, scan_project_filter,
# semi_join_customers, split_leakage_audit, stream_dedup_near_docs,
# stream_sessionize, string_funcs_docs, training_corpus_pipeline,
# union_all_events_split, union_distinct, value_counts_events.
# Round 18 (this window — the second optimization round): block 1 =
# the 23 declared r12-vintage stragglers (VERDICT r17 next #2: every
# headline bench key plus stream_dedup_near_docs — whose state keying
# also changed this round — after r18 no driver row predates r13);
# block 2 = the 14 keys whose ENGINE path changed this round:
# knn_ivf_topk and the 13 ANN maintenance/ingest keys traverse the r18
# KMeans training-frame persist in ivf_train_centroids
# (centroid-preserving by construction — same rows, partitions and
# seed — but re-certified under the changed-keys-first rule), and
# three of them (knn_ivf_compact_probe, knn_lsh_compact_probe,
# knn_ivf_rebuild_probe) additionally carry the r17-advisor
# unionByName audit fix; block 3 = the 13 alphabetically-first
# r13-vintage drift keys (41 exist, recomputed by script from the
# r1-r17 union). The 28 r13 stragglers for r19: knn_filtered_topk,
# lag_lead_events, lateral_top_lineitems, map_funcs_props,
# map_partitions_net_price, merge_upsert_orders, multimodal_extract,
# multimodal_frame_sample, nations_per_region_csv, orc_roundtrip_agg,
# pandas_udf_scalar, pii_redact_docs, python_datasource_scan,
# quality_calibrate_by_source, quality_report_by_status,
# range_join_banded, range_join_events, rolling_avg_value,
# sessionize_dynamic_gap, span_dedup_docs, stratified_sample_docs,
# stream_click_attribution, text_stats_docs, thin_metastore_scan,
# topn_parts_per_brand, udtf_bigrams, variant_extract_props,
# window_rank_orders.
_CERTIFICATION_PRIORITY = [
    # --- r18 block 1: the 23 declared r12-vintage stragglers (VERDICT
    # --- r17 next #2 — includes every headline bench cell, and
    # --- stream_dedup_near_docs whose state keying changed this round).
    "q14_promo_revenue",
    "q15_top_supplier",
    "q17_small_quantity",
    "q18_large_orders",
    "q19_disjunctive",
    "q1_pricing_summary",
    "q22_global_sales_opportunity",
    "q3_top_orders",
    "q4_order_priority",
    "q5_local_supplier",
    "q6_revenue_delta",
    "q7_volume_shipping",
    "rollup_nation_region",
    "scan_project_filter",
    "semi_join_customers",
    "split_leakage_audit",
    "stream_dedup_near_docs",
    "stream_sessionize",
    "string_funcs_docs",
    "training_corpus_pipeline",
    "union_all_events_split",
    "union_distinct",
    "value_counts_events",
    # --- r18 block 2: the 14 keys whose engine path changed this round
    # --- (KMeans training-frame persist in ivf_train_centroids; three
    # --- also carry the unionByName audit fix — see history note). ---
    "knn_ivf_topk",
    "knn_ivf_rebuild_probe",
    "knn_ivfpq_topk",
    "knn_ivfpq_join",
    "stream_ivfpq_ingest",
    "knn_lsh_join",
    "knn_ivf_join",
    "knn_ivf_compact_probe",
    "knn_lsh_compact_probe",
    "stream_ivf_ingest",
    "stream_lsh_ingest",
    "knn_lsh_indexed",
    "ivf_drift_check",
    "knn_ivf_append_probe",
    # --- r18 block 3: the 13 alphabetically-first r13-vintage drift
    # --- keys (the remaining 28 are r19's declared block). ---
    "agg_misc",
    "argmin_argmax_orders",
    "bm25_rank_docs",
    "cogrouped_map_ratio",
    "compact_small_files",
    "corpus_shuffle_shards",
    "corr_price_qty",
    "cumsum_orders",
    "custom_agg_geomean",
    "data_quality_report",
    "hybrid_rank_rrf",
    "hybrid_rank_weighted",
    "jsonl_roundtrip_agg",
]

# The r5 window (see git history of this file) was fully certified in
# CORRECTNESS_r05.json. After the r6 window runs, NO full-oracle key
# remains never-certified (the rows-only keys stay outside by policy #4).


def _reorder_for_certification() -> None:
    """Rebuild the registry dicts with priority keys first, rest in order."""
    for table in (registry.QUERIES, registry.ORACLES):
        prioritized = {
            k: table[k] for k in _CERTIFICATION_PRIORITY if k in table
        }
        prioritized.update(
            (k, v) for k, v in table.items() if k not in prioritized
        )
        table.clear()
        table.update(prioritized)


_reorder_for_certification()

QUERIES = registry.QUERIES
ORACLES = registry.ORACLES
