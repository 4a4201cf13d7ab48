"""LLM-data-pipeline queries (SURVEY.md §2-K): dedup, similarity search,
text analysis, multimodal — the north-star extensions, wired to the planted
fixtures (25 near-dup pairs >= 0.9 Jaccard at sf0.01; unit-norm embeddings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import curation, dedup, multimodal, similarity, text

#: Declared embedding dimension of the corpus (TESTDATA.md: embeddings is
#: 64-dim unit-normalized array<float>). The model dim is table metadata;
#: every vector operator call and every oracle below states eligibility
#: with it explicitly (r10 hostile-embeddings gate): a vector enters
#: similarity/ANN math iff non-NULL, fully finite, and exactly this dim.
EMB_DIM = 64

#: DuckDB predicate of that same eligibility rule — derived from the one
#: source of truth next to finite_vectors itself.
_ELIG = similarity.ORACLE_FINITE.format(v="embedding", d=EMB_DIM)

from .registry import audit_persist, query, scratch_dir, verify_enabled

# ---------------------------------------------------------------- K1: exact


@query(
    "dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 exact dedup via content hash. The fixture plants ZERO exact dups,
    so a correct operator keeps all rows with n_copies = 1."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, "doc_id")


@query(
    "dedup_exact_selfunion",
    oracle="""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
    FROM (SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000, text FROM documents)
    GROUP BY text
    """,
)
def dedup_exact_selfunion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 positive control: union the corpus with a shifted copy of itself →
    every text has exactly 2 copies and the smaller id survives."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    return dedup.exact_dedup(doubled, "doc_id")


# ------------------------------------------------------- K2: near-duplicate

_JACCARD_ORACLE = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(ws)-1),
                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gs
      FROM w WHERE len(ws) >= 3)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
             / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))), 6) AS jaccard
FROM g a JOIN g b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
      / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.9
"""


@query("dedup_near", oracle=_JACCARD_ORACLE)
def dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 exact near-dedup: inverted-index word-3-gram Jaccard >= 0.9.
    Must recover all 25 planted pairs at sf0.01 (FIXTURES.md)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.9)


@query("dedup_near_minhash", oracle=_JACCARD_ORACLE)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 scale path: MinHash(128)+LSH(32×4) candidates, exactly verified.
    Shares the exact oracle — the banding miss rate at J>=0.9 is ~1e-15."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, "doc_id", "text", n=3, threshold=0.9)


@query(
    "dedup_near_survivors",
    oracle="""
    WITH RECURSIVE
    w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(ws)-1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gs
          FROM w WHERE len(ws) >= 3),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM g a JOIN g b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
                / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.9),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM p
              UNION ALL SELECT doc_b, doc_a FROM p),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a
    )
    SELECT doc_id FROM documents
    WHERE NOT EXISTS (SELECT 1 FROM reach WHERE reach.a = doc_id AND reach.b < doc_id)
    """,
)
def dedup_near_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 canonicalization: connected components over the dup-pair graph
    (iterative min-label propagation), keep each component's min id. The
    oracle computes the same via a recursive transitive closure — doc 45 has
    TWO near-duplicates, so components (not just pairs) are exercised.

    Pairs come from the MinHash+LSH path (the 100 TB design — banding miss
    rate ~1e-15 at J>=0.9, candidates exactly verified), so this query is
    the full production pipeline end-to-end: sign → band → verify →
    components → canonical ids, all checked against the exact-Jaccard
    recursive-closure oracle."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text", n=3, threshold=0.9)
    comps = dedup.connected_components(pairs, docs.select("doc_id"), "doc_id")
    return (
        comps.where(F.col("doc_id") == F.col("component"))
        .select("doc_id")
    )


@query(
    "dedup_simhash",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(ws)-1),
                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gs
      FROM w WHERE len(ws) >= 3)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
             / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))), 6) AS jaccard,
       1 AS simhash_recall_floor_met
FROM g a JOIN g b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
      / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.9
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 SimHash variant (64-bit, 4×16 bands, hamming <= 6), served as
    a RECALL AUDIT against the exact word-3-gram Jaccard >= 0.9 pair
    set.

    GRADUATED from rows-only to a DERIVED full oracle (r16, VERDICT r15
    missing #4 / next #4 — the ``knn_lsh_topk`` pattern): the simhash
    pair SET itself stays SQL-irreducible (hamming over xxhash64
    fingerprints — DuckDB 1.0 has no xxhash64, and a SQL
    reimplementation would be the same code, not an oracle), but its
    ground truth for the near-dup TASK is oracle-computable — the exact
    Jaccard pairs the ``dedup_near`` key already certifies. The key
    runs the simhash path, measures planted-pair recall =
    |simhash ∩ exact| / |exact| engine-side, and returns the exact pair
    set annotated with ``simhash_recall_floor_met`` = (recall >= 0.8);
    the oracle recomputes the exact pairs with the same DuckDB list SQL
    as ``dedup_near`` and pins the verdict to 1. Deterministic: seeded
    word hashing + fixed data give recall 0.963/0.92/0.896 at
    sf0.001/0.01/0.1 (margin 12–20% over the floor at every scale). A
    fingerprint/banding regression that drops planted near-dups below
    the floor turns the driver row red.

    The raw simhash pair set stays one call away
    (:func:`..operators.dedup.simhash_pairs`) and keeps its EXACT
    contract pins in tests/test_operators.py: determinism across
    partitionings, NULL-text tolerance, and the scalar-reimpl brute
    twin reproducing the pair set verbatim
    (test_simhash_pairs_exact_contract_vs_scalar_reimpl, r10). Both
    collects here are bounded pair sets (hundreds at the driver sfs;
    the simhash side is band-bounded, never all-pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    # collected for the recall audit AND materialized again by the
    # consumer: persist so the AllPairs pipeline computes once (r17
    # optimization; plan audits walk the InMemoryRelation build plan)
    exact = audit_persist(dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.9))
    exact_pairs = {(r.doc_a, r.doc_b) for r in exact.collect()}
    sim_pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.simhash_pairs(docs, "doc_id", "text").collect()
    }
    recall_met = int(
        not exact_pairs
        or len(sim_pairs & exact_pairs) >= 0.8 * len(exact_pairs)
    )
    return exact.withColumn("simhash_recall_floor_met", F.lit(recall_met))


@query(
    "embedding_near_pairs",
    oracle=f"""
    WITH e AS (SELECT * FROM embeddings WHERE {_ELIG})
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) >= 0.45
    """,
)
def embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 embedding-cosine near-dup: all pairs with cosine >= 0.45 (the
    fixture's max pairwise cosine is ~0.51 — no planted dups, so the
    threshold is set where real pairs exist to certify the math)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.similar_pairs(emb, threshold=0.45, dim=EMB_DIM)


# ------------------------------------------------------- K3: similarity search


@query(
    "knn_cosine_topk",
    oracle=f"""
    WITH e AS (SELECT * FROM embeddings WHERE {_ELIG}),
    q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id, label,
           ROUND(list_sum(list_transform(list_zip(embedding, qv),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) AS cosine
    FROM e, q
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
)
def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 brute-force cosine top-10 for query vector vec_id=0 (unit-norm ⇒
    cosine = dot). Map-side dot + TakeOrderedAndProject — no corpus shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_topk(emb, query_id=0, k=10, dim=EMB_DIM)


@query(
    "knn_join_batch",
    oracle=f"""
    WITH el AS (SELECT * FROM embeddings WHERE {_ELIG}),
    q AS (SELECT vec_id AS q_id, embedding AS qv
               FROM el WHERE vec_id < 16),
    s AS (SELECT q.q_id, e.vec_id, e.label,
            ROUND(list_sum(list_transform(list_zip(e.embedding, q.qv),
                  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6)
              AS cosine
          FROM el e, q WHERE e.vec_id <> q.q_id),
    r AS (SELECT *, row_number() OVER
            (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rn FROM s)
    SELECT q_id, vec_id, label, cosine FROM r WHERE rn <= 5
    """,
)
def knn_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 batched exact knn JOIN: top-5 cosine neighbors for each of 16
    query vectors in ONE corpus scan — BLAS GEMM prune per Arrow batch
    (bounded k+overfetch candidates per query per batch, corpus never
    shuffles, no N×Q row blowup), then the certified sequential-fold JVM
    dot re-scores the tiny candidate set and a Window keeps k per query.
    The oracle brute-forces all Q×N pairs and must agree on every one of
    the 80 returned rows. See :func:`..operators.similarity.knn_join`."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_join(emb, list(range(16)), k=5, dim=EMB_DIM)


@query(
    "knn_pq_topk",
    oracle=f"""
    WITH e AS (SELECT * FROM embeddings WHERE {_ELIG}),
    q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id, label,
           ROUND(list_sum(list_transform(list_zip(embedding, qv),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) AS cosine
    FROM e, q
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
)
def knn_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 memory-bound ANN path: product quantization (Jégou et al. 2011).
    16 subspaces × 32 centroids compress each 256-byte vector to a 16-byte
    code; the ADC scan reads ONLY the code column (pure JVM literal-LUT
    aggregate, no Python, no join) to shortlist 50, then the certified
    exact dot re-ranks just those rows; the code table is 16× smaller
    than the float column — the scan that still fits in memory at 100 TB.
    See :func:`..operators.similarity.pq_topk_reranked`.

    DERIVED full oracle (r10, VERDICT r9 #2 — previously rows-only): the
    ADC screen only PRUNES; the exact JVM-fold dot decides the final
    ranking, and on this fixture the 10%-of-corpus shortlist recovers the
    full brute-force top-10 deterministically (codebooks k-means with a
    fixed seed over the ≤2048-row sample = the whole 500-row corpus;
    verified stable across fresh processes). So the brute-force DuckDB
    oracle applies verbatim — a recall slip at sf0.01 now turns the
    driver row red instead of hiding behind rows-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_topk_reranked(
        emb, query_id=0, k=10, shortlist=50, cache_key=sf_dir, dim=EMB_DIM
    )


@query(
    "knn_lsh_topk",
    oracle=f"""
    WITH e AS (SELECT * FROM embeddings WHERE {_ELIG}),
    q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id, label,
           ROUND(list_sum(list_transform(list_zip(embedding, qv),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) AS cosine,
           1 AS lsh_recall_floor_met
    FROM e, q
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
)
def knn_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 scale path: multi-table random-hyperplane LSH (16 tables × 8
    bits, hamming-1 multiprobe) restricting the dot-product scan, served
    as a RECALL AUDIT against the exact top-10.

    GRADUATED from rows-only to a DERIVED full oracle (r12, VERDICT r11
    missing #3 / next #3): unlike simhash (engine-side xxhash64) and
    semdedup (cell boundaries), LSH's ground truth IS oracle-computable
    — the exact brute-force top-10. The key runs the LSH path, measures
    recall@10 = |LSH∩exact| engine-side, and returns the exact top-10
    annotated with ``lsh_recall_floor_met`` = (recall@10 ≥ 0.5); the
    oracle recomputes the exact top-10 with the same DuckDB list SQL the
    IVF/PQ oracles use and pins the verdict to 1. Deterministic: seeded
    hyperplanes + fixed data give exact overlaps 7/9/10 at
    sf0.01/0.001/0.1 for this config at a measured ~45% candidate scan
    fraction (the fixture is near-orthogonal noise — the adversarial
    shape for sign-LSH; the r11 single-table config measured recall ~0
    here, which is why the operator grew ``n_tables``). A recall slip
    below the floor turns the driver row red.

    The raw LSH serving path stays one call away
    (:func:`..operators.similarity.lsh_topk`); at 100 TB the audit runs
    on a sampled query set next to the serving path, exactly like the
    sketch keys' ``verify_enabled()`` twins. Both collects are bounded
    (10 rows each)."""
    emb = load_table(spark, sf_dir, "embeddings")
    lsh_ids = {
        r.vec_id
        for r in similarity.lsh_topk(
            emb, query_id=0, k=10, bits=8, dim=EMB_DIM, n_tables=16
        ).collect()
    }
    # collected for the audit AND materialized again by the consumer:
    # persist so the exact arm computes once (r17 optimization; plan
    # audits still reach the cache's build plan via InMemoryRelation)
    exact = audit_persist(similarity.knn_topk(emb, query_id=0, k=10, dim=EMB_DIM))
    exact_ids = {r.vec_id for r in exact.collect()}
    floor_met = int(len(lsh_ids & exact_ids) >= 5)
    return exact.withColumn("lsh_recall_floor_met", F.lit(floor_met))


@query(
    "knn_lsh_indexed",
    oracle=f"""
    WITH e AS (SELECT * FROM embeddings WHERE {_ELIG}),
    q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id, label,
           ROUND(list_sum(list_transform(list_zip(embedding, qv),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) AS cosine,
           1 AS lsh_recall_floor_met
    FROM e, q
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
)
def knn_lsh_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 materialized-LSH layout (r12): the postings index
    (:func:`..operators.similarity.lsh_build_index` — one
    ``(table, bucket, id)`` row per table per vector, hive-partitioned
    by table, bucket-sorted inside) written once, then probed
    (:func:`..operators.similarity.lsh_probe_indexed` — every disjunct
    of the probe condition carries the ``table`` partition key, so only
    probed directories are listed; the sorted ``bucket`` column lets
    parquet min/max skip non-probed buckets). This is the layout that
    makes multi-table LSH serve at 100 TB: hashes computed at ingest,
    never per query — the sibling of the IVF cell layout
    (``knn_ivf_topk``).

    Same derived recall-verdict oracle as ``knn_lsh_topk``, and the
    probe is pinned result-identical to the inline path in
    tests/test_operators.py (same seeded planes → same candidate set →
    same exact scores).

    r13: the build also writes the index MANIFEST (config validated on
    every probe/append, path-only API) and the INT8 sidecar; the probe
    runs the default INT8-screened rescore — candidates screened
    against 4×-narrower codes, exact float rerank limited to the
    bounded shortlist via a PUSHED ``In(vec_id, …)`` literal filter
    (plan-pinned) — identical rows, measured faster wall AND ~2000×
    fewer scanned float bytes at the 100× stress
    (scripts/stress_lsh_scale.py, PERF.md r13)."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = scratch_dir("lshidx_") + "/postings"
    similarity.lsh_build_index(
        emb, idx, dim=EMB_DIM, bits=8, n_tables=16
    )
    lsh_ids = {
        r.vec_id
        for r in similarity.lsh_probe_indexed(
            emb, idx, query_id=0, dim=EMB_DIM, bits=8, n_tables=16, k=10
        ).collect()
    }
    # collected for the audit AND materialized again by the consumer:
    # persist so the exact arm computes once (r17 optimization; plan
    # audits still reach the cache's build plan via InMemoryRelation)
    exact = audit_persist(similarity.knn_topk(emb, query_id=0, k=10, dim=EMB_DIM))
    exact_ids = {r.vec_id for r in exact.collect()}
    floor_met = int(len(lsh_ids & exact_ids) >= 5)
    return exact.withColumn("lsh_recall_floor_met", F.lit(floor_met))


@query(
    "knn_ivfpq_topk",
    oracle=f"""
    WITH e AS (SELECT * FROM embeddings WHERE {_ELIG}),
    q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id, label,
           ROUND(list_sum(list_transform(list_zip(embedding, qv),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) AS cosine,
           1 AS ivfpq_recall_floor_met
    FROM e, q
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
)
def knn_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 materialized IVF+PQ layout — the composition FAISS
    calls IVFPQ, the canonical planet-scale serving shape: rows
    hive-partitioned by coarse k-means ``cell`` AND carrying the
    16-byte PQ code next to the float vector
    (:func:`..operators.similarity.ivfpq_build_index`). The probe
    (:func:`..operators.similarity.ivfpq_probe_indexed`, path-only —
    centroids and codebooks resolve from the manifest's lazy parquet
    sidecars) composes the two prunings MULTIPLICATIVELY: partition
    pruning reads nprobe/n_cells of the directories, the ADC screen
    inside them reads ONLY the 16 B/row code column (a pure-JVM LUT
    aggregate — 16× fewer bytes than the float column), and the exact
    JVM-fold rescore decodes float pages for just the bounded
    shortlist via a pushed ``In(vec_id, …)`` literal filter. Appends
    (:func:`..operators.similarity.ivfpq_append`), compaction
    (``ann_index_compact``, kind ``ivfpq``), the drift monitor and the
    epoch/marker race protocol all apply unchanged — pinned in
    tests/test_layouts.py.

    Same derived RECALL-VERDICT full oracle as ``knn_lsh_topk`` /
    ``knn_lsh_indexed``: the key returns the exact top-10 annotated
    with ``ivfpq_recall_floor_met`` = (probe recall@10 ≥ 0.5 at the
    serving config nprobe=8/16, shortlist=50), which the oracle pins
    to 1 — measured 1.0 at sf0.01 and 0.8 at sf0.001 (cell pruning,
    not ADC, costs the tail; nprobe=12 recovers 1.0 — the standard
    IVF recall/nprobe trade, stated not hidden). Both collects are
    bounded (10 rows)."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = scratch_dir("ivfpq_") + "/index"
    similarity.ivfpq_build_index(
        emb, idx, n_cells=16, m=16, ksub=32, cache_key=sf_dir,
        dim=EMB_DIM, drift_reference=False,
    )
    qrow = (
        similarity.finite_vectors(emb, "embedding", EMB_DIM)
        .where(F.col("vec_id") == 0)
        .select("embedding")
        .first()  # bounded: 1 row
    )
    import numpy as np

    qv = np.asarray(qrow[0], dtype=np.float64)
    got = {
        r.vec_id
        for r in similarity.ivfpq_probe_indexed(
            spark, idx, qv, k=10, nprobe=8, shortlist=50, exclude_id=0
        ).collect()  # bounded: k rows
    }
    # collected for the audit AND materialized again by the consumer:
    # persist so the exact arm computes once (r17 optimization; plan
    # audits still reach the cache's build plan via InMemoryRelation)
    exact = audit_persist(similarity.knn_topk(emb, query_id=0, k=10, dim=EMB_DIM))
    exact_ids = {r.vec_id for r in exact.collect()}  # bounded: k rows
    floor_met = int(len(got & exact_ids) >= 5)
    return exact.withColumn("ivfpq_recall_floor_met", F.lit(floor_met))


@query(
    "knn_lsh_join",
    oracle=f"""
    WITH el AS (SELECT * FROM embeddings WHERE {_ELIG}),
    q AS (SELECT vec_id AS q_id, embedding AS qv
               FROM el WHERE vec_id < 8),
    s AS (SELECT q.q_id, e.vec_id, e.label,
            ROUND(list_sum(list_transform(list_zip(e.embedding, q.qv),
                  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6)
              AS cosine
          FROM el e, q WHERE e.vec_id <> q.q_id),
    r AS (SELECT *, row_number() OVER
            (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rn FROM s)
    SELECT q_id, vec_id, label, cosine, 1 AS lsh_recall_floor_met
    FROM r WHERE rn <= 5
    """,
)
def knn_lsh_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 batched ANN serving: the LSH postings index probed for
    a WHOLE query batch in ONE postings scan —
    :func:`..operators.similarity.lsh_probe_indexed_batch`. A
    production retriever answers batches, and a single-probe loop
    pays Q postings scans + Q shortlist jobs; the batch probe pays one
    of each (measured 1.7× faster than the loop at Q=8/sf0.1 — the
    amortization grows with Q). The pushed coarse disjunction is
    ``table = t AND bucket IN (…)`` with per-table unions, and precise
    (query, bucket) membership is a broadcast join against the
    Q·L·(bits+1)-row probe-set relation. The single
    ``lsh_probe_indexed`` is this same probe over one query.

    Same derived recall-verdict oracle family as ``knn_lsh_topk``: the
    key runs the batch probe for the 8 queries, measures mean
    recall@5 against the exact batch knn
    (:func:`..operators.similarity.knn_join` — the certified GEMM
    prune + JVM rescore), and returns the EXACT top-5 per query
    annotated with ``lsh_recall_floor_met`` = (mean recall ≥ 0.6),
    which the brute-force DuckDB oracle pins to 1. Measured mean
    recall@5 (seeded planes, fixed data — deterministic): 0.875 /
    0.9 / 1.0 at sf0.001/0.01/0.1, so the 0.6 floor holds ≥1.45×
    margin at every SF. Bounded collects only (Q·k exact rows +
    Q·shortlist screened pairs)."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = scratch_dir("lshjoin_") + "/postings"
    similarity.lsh_build_index(emb, idx, dim=EMB_DIM, bits=8, n_tables=16)
    qids = list(range(8))
    got: dict[int, set] = {}
    for r in similarity.lsh_probe_indexed_batch(
        emb, idx, qids, k=5
    ).collect():  # bounded: <= Q*k rows
        got.setdefault(r.q_id, set()).add(r.vec_id)
    # same persist-the-audited-arm pattern as knn_lsh_topk (r17)
    exact = audit_persist(similarity.knn_join(emb, qids, k=5, dim=EMB_DIM))
    ex_rows = exact.collect()  # bounded: Q*k rows
    ex: dict[int, set] = {}
    for r in ex_rows:
        ex.setdefault(r.q_id, set()).add(r.vec_id)
    mean_recall = sum(
        len(ex[q] & got.get(q, set())) / len(ex[q]) for q in ex
    ) / len(ex)
    return exact.withColumn(
        "lsh_recall_floor_met", F.lit(int(mean_recall >= 0.6))
    )


@query(
    "knn_ivf_join",
    oracle=f"""
    WITH el AS (SELECT * FROM embeddings WHERE {_ELIG}),
    q AS (SELECT vec_id AS q_id, embedding AS qv
               FROM el WHERE vec_id < 8),
    s AS (SELECT q.q_id, e.vec_id, e.label,
            ROUND(list_sum(list_transform(list_zip(e.embedding, q.qv),
                  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6)
              AS cosine
          FROM el e, q WHERE e.vec_id <> q.q_id),
    r AS (SELECT *, row_number() OVER
            (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rn FROM s)
    SELECT q_id, vec_id, label, cosine, 1 AS ivf_recall_floor_met
    FROM r WHERE rn <= 5
    """,
)
def knn_ivf_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 batched ANN serving, IVF layout: the cell-partitioned
    index probed for a WHOLE query batch in ONE partition-pruned scan —
    :func:`..operators.similarity.ivf_probe_indexed_batch`, the IVF
    sibling of ``knn_lsh_join``. A single-probe loop pays Q pruned
    scans; the batch probe pays one (the ``cell IN (…)`` union is just
    wider — still a partition-key predicate, so only probed
    directories are listed), with precise (query, cell) membership a
    broadcast join against the Q·nprobe-row probe relation and one
    exact-fold rescore + per-query Window top-k. The single
    ``ivf_probe_indexed`` is this same probe over one query.

    Same derived recall-verdict oracle family as ``knn_lsh_join``: the
    key runs the batch probe for the 8 queries against a one-shot
    index, measures mean recall@5 against the exact batch knn
    (:func:`..operators.similarity.knn_join`), and returns the EXACT
    top-5 per query annotated with ``ivf_recall_floor_met`` =
    (mean recall ≥ 0.6), pinned to 1 by the brute-force oracle.
    Measured mean recall@5 across the 8 queries at nprobe=8 of 16
    cells: 0.775 at sf0.001/sf0.01, 0.925 at sf0.1 — the floor holds
    ≥1.29× margin everywhere. Bounded collects only
    (Q query vectors + Q·k rows per arm)."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = scratch_dir("ivfjoin_") + "/index"
    similarity.ivf_build_index(
        emb, idx, n_cells=16, cache_key=sf_dir, dim=EMB_DIM,
        drift_reference=False,
    )
    qids = list(range(8))
    got: dict[int, set] = {}
    for r in similarity.ivf_probe_indexed_batch(
        emb, idx, qids, k=5, nprobe=8, dim=EMB_DIM
    ).collect():  # bounded: <= Q*k rows
        got.setdefault(r.q_id, set()).add(r.vec_id)
    # same persist-the-audited-arm pattern as knn_lsh_topk (r17)
    exact = audit_persist(similarity.knn_join(emb, qids, k=5, dim=EMB_DIM))
    ex_rows = exact.collect()  # bounded: Q*k rows
    ex: dict[int, set] = {}
    for r in ex_rows:
        ex.setdefault(r.q_id, set()).add(r.vec_id)
    mean_recall = sum(
        len(ex[q] & got.get(q, set())) / len(ex[q]) for q in ex
    ) / len(ex)
    return exact.withColumn(
        "ivf_recall_floor_met", F.lit(int(mean_recall >= 0.6))
    )


@query(
    "knn_ivfpq_join",
    oracle=f"""
    WITH el AS (SELECT * FROM embeddings WHERE {_ELIG}),
    q AS (SELECT vec_id AS q_id, embedding AS qv
               FROM el WHERE vec_id < 8),
    s AS (SELECT q.q_id, e.vec_id, e.label,
            ROUND(list_sum(list_transform(list_zip(e.embedding, q.qv),
                  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6)
              AS cosine
          FROM el e, q WHERE e.vec_id <> q.q_id),
    r AS (SELECT *, row_number() OVER
            (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rn FROM s)
    SELECT q_id, vec_id, label, cosine, 1 AS ivfpq_recall_floor_met
    FROM r WHERE rn <= 5
    """,
)
def knn_ivfpq_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 batched ANN serving, IVF+PQ layout — batch parity
    across all three materialized families: a whole query batch served
    by ONE ``cell IN (union)`` partition-pruned scan of the IVFPQ index
    (:func:`..operators.similarity.ivfpq_probe_indexed_batch`). The ADC
    screen batches by shipping each query's (m × ksub) LUT as a COLUMN
    of the broadcast query relation — still a pure-JVM aggregate over
    ONLY the 16-byte code column — then one pushed ``In(id, …)`` exact
    float rescore of the per-query shortlists and a per-query Window
    top-k. The single ``ivfpq_probe_indexed`` is this same probe over
    one query.

    Same derived recall-verdict oracle family as ``knn_ivf_join``: the
    key returns the exact batch top-5 (:func:`..operators.similarity.
    knn_join`) annotated with ``ivfpq_recall_floor_met`` = (mean
    recall@5 ≥ 0.6), pinned to 1. Measured mean recall@5 at nprobe=8
    of 16 cells, shortlist=40: 0.775 at sf0.001/sf0.01 (identical to
    the plain-IVF batch — at these sfs the loss is cell pruning, the
    ADC screen costs nothing), 0.85 at sf0.1 (vs IVF 0.925 — the
    screen's trade appears at scale, still 1.4× over the floor).
    Bounded collects only (Q query vectors + Q·shortlist pairs +
    Q·k rows per arm)."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = scratch_dir("ivfpqjoin_") + "/index"
    similarity.ivfpq_build_index(
        emb, idx, n_cells=16, m=16, ksub=32, cache_key=sf_dir,
        dim=EMB_DIM, drift_reference=False,
    )
    qids = list(range(8))
    got: dict[int, set] = {}
    for r in similarity.ivfpq_probe_indexed_batch(
        emb, idx, qids, k=5, nprobe=8, shortlist=40
    ).collect():  # bounded: <= Q*k rows
        got.setdefault(r.q_id, set()).add(r.vec_id)
    # same persist-the-audited-arm pattern as knn_lsh_topk (r17)
    exact = audit_persist(similarity.knn_join(emb, qids, k=5, dim=EMB_DIM))
    ex_rows = exact.collect()  # bounded: Q*k rows
    ex: dict[int, set] = {}
    for r in ex_rows:
        ex.setdefault(r.q_id, set()).add(r.vec_id)
    mean_recall = sum(
        len(ex[q] & got.get(q, set())) / len(ex[q]) for q in ex
    ) / len(ex)
    return exact.withColumn(
        "ivfpq_recall_floor_met", F.lit(int(mean_recall >= 0.6))
    )


@query(
    "knn_ivf_compact_probe",
    oracle=f"""
    WITH e AS (SELECT * FROM embeddings WHERE {_ELIG}),
    q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id, label,
           ROUND(list_sum(list_transform(list_zip(embedding, qv),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) AS cosine,
           1 AS compact_identity_ok, 1 AS files_reduced
    FROM e, q
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
)
def knn_ivf_compact_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 index maintenance (r13): COMPACTION of an IVF index grown by
    batch-keyed streaming-style appends
    (:func:`..operators.similarity.ann_index_compact`). The assembly
    mimics the at-least-once ingest sink exactly: manifest written
    first (no one-shot build), then three ``ingest_batch=<i>`` appends
    resolved from the manifest alone. After N such batches a probe
    lists N× the directories and reads N× the parquet footers — the
    small-files tax that kills 100 TB scans — so compaction folds the
    ``ingest_batch`` bookkeeping dimension away and rewrites the layout
    partitioned by ``cell`` alone, byte-shaped as if one-shot built,
    with the manifest untouched (the post-compaction probe below runs
    MANIFEST-ONLY: ``centroids=None``).

    Driver-checkable verdicts, both pinned to 1 by the oracle:
    ``compact_identity_ok`` — the compacted index's ``(cell, vec_id)``
    content equals a fresh full-corpus assignment (exceptAll both ways,
    plus all 3 batch dirs folded); ``files_reduced`` — strictly fewer
    data files after the rewrite. The top-10 itself is the same FULL
    brute-force oracle as ``knn_ivf_topk`` (same cached quantizer →
    fixture recall 1.0, deterministic). The identity audit's extra
    assignment pass is certification-side, same as the recall audits."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    idx = scratch_dir("ivfcompact_") + "/index"
    C = similarity.ivf_train_centroids(
        emb, n_cells=16, cache_key=sf_dir, dim=EMB_DIM
    )
    similarity.write_index_manifest(
        spark, idx,
        similarity.ivf_manifest(emb, C, dim=EMB_DIM, n_cells=16, seed=42,
                                drift_reference=False),
    )
    for b in range(3):
        similarity.ivf_append(
            emb.where(F.col("vec_id") % 3 == b),
            f"{idx}/ingest_batch={b}", mode="overwrite",
        )
    stats = similarity.ann_index_compact(spark, idx)
    # each side of the exceptAll-both-ways audit is executed twice;
    # persist so the index read and the assignment pass run once (r17)
    got = audit_persist(spark.read.parquet(idx).select("cell", "vec_id"))
    expected = audit_persist(similarity.ivf_assign_full(
        emb, C, "embedding", dim=EMB_DIM
    ).select("cell", "vec_id"))
    identity = int(
        stats["n_batch_dirs_folded"] == 3
        # both exceptAll sides counted in ONE action (union is empty iff
        # both differences are — counts are non-negative): one result
        # stage instead of two over the persisted frames (r17); unionByName so column-order drift in a future select edit raises instead of comparing misaligned columns (r17 advisor)
        and got.exceptAll(expected)
               .unionByName(expected.exceptAll(got)).count() == 0
    )
    files_reduced = int(stats["n_files_out"] < stats["n_files_in"])
    qrow = (
        similarity.finite_vectors(emb, "embedding", EMB_DIM)
        .where(F.col("vec_id") == 0)
        .select("embedding")
        .first()  # bounded: 1 row
    )
    qv = np.asarray(qrow[0], dtype=np.float64)
    return (
        similarity.ivf_probe_indexed(
            spark, idx, None, qv, k=10, nprobe=8, exclude_id=0
        )
        .withColumn("compact_identity_ok", F.lit(identity))
        .withColumn("files_reduced", F.lit(files_reduced))
    )


@query(
    "knn_lsh_compact_probe",
    oracle=f"""
    WITH e AS (SELECT * FROM embeddings WHERE {_ELIG}),
    q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id, label,
           ROUND(list_sum(list_transform(list_zip(embedding, qv),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) AS cosine,
           1 AS lsh_recall_floor_met,
           1 AS compact_identity_ok, 1 AS files_reduced
    FROM e, q
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
)
def knn_lsh_compact_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 index maintenance (r13), the LSH sibling of
    ``knn_ivf_compact_probe``: a postings index built over half the
    corpus then grown by :func:`..operators.similarity.lsh_append` is
    compacted (:func:`..operators.similarity.ann_index_compact`) — the
    per-table directories rewritten to right-sized files with the
    ``(table, bucket)`` within-file sort RESTORED as a contract (the
    probe's parquet min/max row-group skipping rides on it; a generic
    content-preserving rewrite would silently lose it), the INT8
    sidecar's accumulated ``qbatch`` labels folded into one, and the
    manifest untouched. The post-compaction probe resolves its config
    from the path alone and runs the default INT8-screened rescore.

    Verdicts pinned to 1 by the oracle: ``compact_identity_ok`` — the
    compacted postings' ``(table, bucket, vec_id)`` content equals the
    seeded-plane postings of the full corpus (exceptAll both ways;
    planes are a pure seeded function, so the expected content is
    recomputable without a reference build); ``files_reduced`` —
    strictly fewer postings data files; ``lsh_recall_floor_met`` — the
    probe's recall@10 against the exact top-10 stays ≥ 0.5 (same
    derived floor as ``knn_lsh_topk``). The returned rows are the exact
    brute-force top-10, same oracle family."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = scratch_dir("lshcompact_") + "/postings"
    similarity.lsh_build_index(
        emb.where(F.col("vec_id") % 2 == 0), idx,
        dim=EMB_DIM, bits=8, n_tables=16,
    )
    similarity.lsh_append(emb.where(F.col("vec_id") % 2 == 1), idx)
    stats = similarity.ann_index_compact(spark, idx)
    # exceptAll-both-ways audit: persist both sides so each computes
    # once instead of twice (r17)
    got = audit_persist(spark.read.parquet(idx).select("table", "bucket", "vec_id"))
    expected = audit_persist(similarity._lsh_postings(
        emb, dim=EMB_DIM, bits=8, n_tables=16,
        id_col="vec_id", vec_col="embedding", seed=42,
    ).select("table", "bucket", "vec_id"))
    identity = int(
        # both exceptAll sides counted in ONE action (union is empty iff
        # both differences are — counts are non-negative): one result
        # stage instead of two over the persisted frames (r17); unionByName so column-order drift in a future select edit raises instead of comparing misaligned columns (r17 advisor)
        got.exceptAll(expected)
           .unionByName(expected.exceptAll(got)).count() == 0
    )
    files_reduced = int(stats["n_files_out"] < stats["n_files_in"])
    lsh_ids = {
        r.vec_id
        for r in similarity.lsh_probe_indexed(
            emb, idx, query_id=0, k=10
        ).collect()  # bounded: k rows
    }
    # collected for the audit AND materialized again by the consumer:
    # persist so the exact arm computes once (r17 optimization; plan
    # audits still reach the cache's build plan via InMemoryRelation)
    exact = audit_persist(similarity.knn_topk(emb, query_id=0, k=10, dim=EMB_DIM))
    exact_ids = {r.vec_id for r in exact.collect()}  # bounded: k rows
    floor_met = int(len(lsh_ids & exact_ids) >= 5)
    return (
        exact.withColumn("lsh_recall_floor_met", F.lit(floor_met))
        .withColumn("compact_identity_ok", F.lit(identity))
        .withColumn("files_reduced", F.lit(files_reduced))
    )


@query(
    "quality_calibrate_by_source",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, {text.QUALITY_SCORE_ORACLE_EXPR} AS q
      FROM documents WHERE text IS NOT NULL
    ),
    ranked AS (
      SELECT source, q, PERCENT_RANK() OVER
        (PARTITION BY source ORDER BY q, doc_id) AS pct
      FROM scored
    )
    SELECT source,
           COUNT(*) FILTER (WHERE pct >= 0.8) AS n_kept,
           COUNT(*) AS n_docs,
           ROUND(MIN(q) FILTER (WHERE pct >= 0.8), 6) AS cutoff_score
    FROM ranked GROUP BY source
    """,
)
def quality_calibrate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 curation: PER-SOURCE quality calibration — keep each source's
    top quality quintile by WITHIN-SOURCE percent rank instead of one
    global score threshold. The mixing problem this solves is standard:
    heterogeneous sources put their quality mass on different scales
    (a forum's 90th percentile may score below an encyclopedia's
    median), so a global cutoff silently drops whole sources from the
    mixture while a per-source percentile keeps the best fraction of
    EACH — the returned ``cutoff_score`` column makes the per-source
    thresholds (what a global constant cannot be) directly visible.

    Plan: one scan computes the deterministic quality score
    (:func:`..operators.text.quality_features` — the repo's single
    score definition, exact rational arithmetic both engines), one
    window per source partition assigns ``percent_rank`` (ties broken
    by doc_id identically in both engines; the rank is
    (rank−1)/(n−1), an exact integer-ratio double), one groupBy
    aggregates per source. At 100 TB: the window shuffles by
    ``source`` — a bounded-cardinality key; a skewed mega-source is
    the known salting/AQE case and the rank within it is exactly the
    per-group-top-N shape E6 already serves. NULL texts are excluded
    explicitly on BOTH sides (Spark sorts NULLS FIRST ascending,
    DuckDB NULLS LAST — the r9 cumsum lesson applied preemptively)."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    scored = text.quality_features(docs).select(
        "doc_id", "source", F.col("quality_score").alias("q")
    )
    w = Window.partitionBy("source").orderBy("q", "doc_id")
    ranked = scored.withColumn("pct", F.percent_rank().over(w))
    return ranked.groupBy("source").agg(
        F.count(F.when(F.col("pct") >= 0.8, 1)).alias("n_kept"),
        F.count("*").alias("n_docs"),
        F.round(
            F.min(F.when(F.col("pct") >= 0.8, F.col("q"))), 6
        ).alias("cutoff_score"),
    )


@query(
    "quality_calibrate_prefiltered",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, {text.QUALITY_SCORE_ORACLE_EXPR} AS q
      FROM documents WHERE text IS NOT NULL
    ),
    ranked AS (
      SELECT source, q, PERCENT_RANK() OVER
        (PARTITION BY source ORDER BY q, doc_id) AS pct
      FROM scored
    )
    SELECT source,
           COUNT(*) FILTER (WHERE pct >= 0.8) AS n_kept,
           COUNT(*) AS n_docs,
           ROUND(MIN(q) FILTER (WHERE pct >= 0.8), 6) AS cutoff_score
    FROM ranked GROUP BY source
    """,
)
def quality_calibrate_prefiltered(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """K7 per-source quality calibration, HOT-SOURCE path (r14, VERDICT
    r13 missing #5): identical semantics and oracle to
    ``quality_calibrate_by_source`` — per-source top-quintile cutoffs by
    within-source percent rank — but with the
    ``domain_cap_prefiltered`` recipe engaged ahead of the window:
    sources larger than the threshold are cut map-side by an
    approximate per-source ``percentile_approx`` bound BEFORE the exact
    per-source sort, then the true percent rank is reconstructed from
    the per-source total count (every dropped row is provably below the
    0.8 cutoff — see :func:`..operators.curation.
    percent_rank_top_prefiltered` for the rank-error argument). The
    per-source ``n_docs`` still counts EVERY document (it comes from
    the same broadcast stats pass, not the filtered set).

    At 100 TB this is what keeps one skewed mega-source (the docstring
    caveat the plain key carries) from sorting its whole partition on
    one task: the windowed set shrinks to ≈ 20 % of the hot source +
    approximation slack. Output identity with the plain window is
    pinned in tests/test_curation.py; the measured skew datapoint is
    scripts/stress_calibrate_skew.py (PERF.md r14)."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    scored = text.quality_features(docs).select(
        "doc_id", "source", F.col("quality_score").alias("q")
    )
    n_docs = scored.groupBy("source").agg(F.count("*").alias("n_docs"))
    ranked = curation.percent_rank_top_prefiltered(
        scored, "q", "source", "doc_id", 0.8, hot_group_threshold=50
    )
    kept = ranked.where(F.col("pct") >= 0.8).groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.round(F.min("q"), 6).alias("cutoff_score"),
    )
    return (
        F.broadcast(n_docs)
        .join(kept, "source", "left")
        .select(
            "source",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            "n_docs",
            "cutoff_score",
        )
    )


@query(
    "knn_filtered_topk",
    oracle=f"""
    WITH e AS (SELECT * FROM embeddings WHERE {_ELIG}),
    q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0),
    elig AS (SELECT e.* FROM e
             JOIN documents d ON d.doc_id = e.vec_id
             WHERE d.lang = 'en')
    SELECT vec_id, label,
           ROUND(list_sum(list_transform(list_zip(embedding, qv),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) AS cosine
    FROM elig, q
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
)
def knn_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 metadata-FILTERED vector search (r13): top-10 cosine among
    only the vectors whose paired document satisfies a predicate
    (``documents.lang = 'en'`` over the id-aligned tables) — the
    everyday RAG shape ("retrieve only English / only this tenant /
    only after this date").

    Semantics matter more than mechanics here: this is a PRE-filter —
    the predicate restricts the CANDIDATE SET and the top-k ranks
    inside it, always returning k rows when k eligible rows exist. The
    tempting post-filter (rank first, filter the top-k after) silently
    returns FEWER than k whenever the unfiltered neighborhood is
    predicate-sparse — at an 'en' share of ~44% a post-filtered top-10
    averages ~4 rows. Plan shape: the predicate pushes into the
    documents scan (PushedFilters on ``lang``), the id-aligned
    left-semi join restricts the embeddings scan BEFORE any vector
    math, and the ranking is the same broadcast-1-row
    TakeOrderedAndProject as ``knn_cosine_topk`` — no shuffle of
    either corpus. On a materialized layout the same pre-filter drops
    into the probe's rescore stage (filter the index rows in the
    probed cells before ranking).

    FULL brute-force oracle — the filter is plain SQL, so no verdict
    derivation is needed.

    The query row rides OUTSIDE the predicate (``doc_id = 0`` is kept
    regardless of its lang): the filter scopes the CANDIDATES, not the
    query — dropping the query row with it would silently turn a
    non-'en' query into an empty answer while the oracle still ranks
    (the filter-membership of the query is irrelevant to the result:
    ``knn_topk`` excludes ``query_id`` from candidates either way)."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    keep = docs.where(
        (F.col("lang") == "en") | (F.col("doc_id") == 0)
    ).select(F.col("doc_id").alias("vec_id"))
    filtered = emb.join(keep, "vec_id", "left_semi")
    return similarity.knn_topk(filtered, query_id=0, k=10, dim=EMB_DIM)


@query(
    "knn_mmr_rerank",
    oracle=f"""
    WITH e AS (SELECT * FROM embeddings WHERE {_ELIG}),
    q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id, label,
           ROUND(list_sum(list_transform(list_zip(embedding, qv),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) AS cosine,
           1 AS mmr_lambda1_identity, 1 AS mmr_picks_valid
    FROM e, q
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
)
def knn_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 retrieval post-processing (r13): Maximal Marginal Relevance
    diversification (:func:`..operators.similarity.mmr_rerank`,
    Carbonell & Goldstein 1998) — rerank the certified exact top-50
    shortlist so a RAG context window is not k near-copies of the best
    hit. The corpus-scale work stays in the shortlist scan (broadcast
    1-row + TakeOrderedAndProject); the greedy loop runs driver-side
    over the bounded 50-row shortlist — the contract that makes MMR
    affordable at 100 TB.

    The greedy selection itself is not SQL-expressible (pick i depends
    on picks 1..i−1), so the key certifies it by its algebraic
    contracts, both pinned to 1 by the brute-force oracle:
    ``mmr_lambda1_identity`` — at λ=1 the redundancy term vanishes and
    MMR must return EXACTLY the relevance top-10 (ids, labels, cosines,
    order); ``mmr_picks_valid`` — the λ=0.5 picks are 10 distinct
    shortlist members led by the relevance argmax, whose first pick's
    ``mmr_score`` equals λ·cosine exactly (no redundancy term exists
    for pick 1; later picks are NOT inequality-pinned — on this
    near-orthogonal fixture redundancy dots go NEGATIVE, so the
    penalty can raise a score, which a naive ≤ λ·cosine pin would
    wrongly flag). The diversification BEHAVIOR (λ=0.5 skips a planted
    near-duplicate that λ=1 keeps) is pinned in
    tests/test_operators.py, where the fixture can plant the
    duplicate. Returned rows are the exact top-10 (same oracle family
    as every knn key). Bounded collects only (50-row shortlist + k-row
    pick lists)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # collected for the audit AND materialized again by the consumer:
    # persist so the exact arm computes once (r17 optimization; plan
    # audits still reach the cache's build plan via InMemoryRelation)
    exact = audit_persist(similarity.knn_topk(emb, query_id=0, k=10, dim=EMB_DIM))
    exact_rows = [
        (r.vec_id, r.label, r.cosine) for r in exact.collect()
    ]  # bounded: k rows
    lam1 = [
        (r.vec_id, r.label, r.cosine)
        for r in similarity.mmr_rerank(
            emb, query_id=0, k=10, lam=1.0, shortlist=50, dim=EMB_DIM
        ).collect()  # bounded: k rows, pick-ordered
    ]
    lambda1_identity = int(lam1 == exact_rows)
    short_ids = {
        r.vec_id
        for r in similarity.knn_topk(
            emb, query_id=0, k=50, dim=EMB_DIM
        ).collect()  # bounded: 50 rows
    }
    picks = similarity.mmr_rerank(
        emb, query_id=0, k=10, lam=0.5, shortlist=50, dim=EMB_DIM
    ).collect()  # bounded: k rows
    picks_valid = int(
        len(picks) == 10
        and len({r.vec_id for r in picks}) == 10
        and all(r.vec_id in short_ids for r in picks)
        and picks[0].vec_id == exact_rows[0][0]
        and abs(picks[0].mmr_score - round(0.5 * picks[0].cosine, 6))
        <= 1e-9
    )
    return (
        exact.withColumn("mmr_lambda1_identity", F.lit(lambda1_identity))
        .withColumn("mmr_picks_valid", F.lit(picks_valid))
    )


@query(
    "hybrid_rank_rrf",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
               FROM documents),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                     AVG(len(ws)) AS avgdl FROM w),
    tf AS (SELECT doc_id, len(ws) AS dl, t.x AS term,
                  CAST(COUNT(*) AS DOUBLE) AS tf
           FROM w, unnest(ws) AS t(x)
           WHERE t.x IN ('spark', 'hash', 'window')
           GROUP BY 1, 2, 3),
    dft AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS dft
            FROM tf GROUP BY 1),
    bm AS (SELECT tf.doc_id,
             ROUND(SUM(ln(1.0 + (stats.n - dft.dft + 0.5) / (dft.dft + 0.5))
                     * tf.tf * 2.2
                     / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))),
                 6) AS bm25
           FROM tf JOIN dft USING (term) CROSS JOIN stats
           GROUP BY tf.doc_id),
    sr AS (SELECT doc_id, row_number() OVER
             (ORDER BY bm25 DESC, doc_id) AS r FROM bm),
    e AS (SELECT * FROM embeddings WHERE {_ELIG}),
    q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0),
    dn AS (SELECT vec_id AS doc_id,
             ROUND(list_sum(list_transform(list_zip(embedding, qv),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6)
               AS cosine
           FROM e, q WHERE vec_id <> 0),
    dr AS (SELECT doc_id, row_number() OVER
             (ORDER BY cosine DESC, doc_id) AS r FROM dn),
    u AS (SELECT doc_id, 1.0 / (60 + r) AS c FROM sr WHERE r <= 50
          UNION ALL
          SELECT doc_id, 1.0 / (60 + r) AS c FROM dr WHERE r <= 50),
    f AS (SELECT doc_id, SUM(c) AS rrf_raw, COUNT(*) AS n_arms
          FROM u GROUP BY doc_id)
    SELECT doc_id, ROUND(rrf_raw, 6) AS rrf, n_arms
    FROM f ORDER BY rrf_raw DESC, doc_id LIMIT 10
    """,
)
def hybrid_rank_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3/K4 hybrid retrieval: reciprocal-rank fusion of the
    sparse (Okapi BM25, query bag ['spark','hash','window'] — the
    ``bm25_rank_docs`` scorer verbatim) and dense (embedding-cosine vs
    the vec_id-0 query over the id-aligned ``embeddings`` table — the
    ``knn_cosine_topk`` scorer) retrievers,
    :func:`..operators.similarity.rrf_fuse` with the standard k0=60.
    RAG-style serving needs both arms — BM25 wins exact-term lookups,
    dense wins paraphrase — and RRF is the no-training fusion that
    needs no score calibration between them.

    Scale shape: each arm ends in its own TakeOrderedAndProject top-50
    (the corpus-sized work stays inside the arms: BM25's explode is
    filtered to query-term hits pre-shuffle, the dense arm is the
    broadcast-1-row map-side scan), ranks come from a 50-row window
    AFTER the limit, and the fusion is a union + groupBy over ≤100
    rows. Determinism across engines: ranks derive from the same
    6dp-ROUNDed scores both sides (the two arms' existing hash-parity),
    the fused sum is ≤2 IEEE additions of rank-determined doubles, and
    the final order uses the UNROUNDED sum with a doc_id tiebreak.

    Serving composition: the dense arm is interchangeable with the
    MATERIALIZED probes — ``lsh_probe_indexed`` (a batch of one) and
    ``ivf_probe_indexed_batch`` return the same
    ``(vec_id, cosine)`` shape, so the fusion is oblivious to how the
    arm was served; fusion over the indexed arm is pinned identical to
    this brute-arm fusion at a recall-1.0 index config in
    tests/test_layouts.py
    (test_hybrid_fusion_identical_over_indexed_dense_arm)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    sparse50 = (
        text.bm25_scores(docs, ["spark", "hash", "window"])
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(50)
    )
    sparse_rank = sparse50.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("rank"),
    )
    dense50 = similarity.knn_topk(emb, query_id=0, k=50, dim=EMB_DIM)
    dense_rank = dense50.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("cosine"), F.asc("vec_id")))
        .alias("rank"),
    )
    fused = similarity.rrf_fuse([sparse_rank, dense_rank], "doc_id", k0=60)
    return (
        fused.orderBy(F.desc("rrf_raw"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", F.round("rrf_raw", 6).alias("rrf"), "n_arms")
    )


@query(
    "hybrid_rank_weighted",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
               FROM documents),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                     AVG(len(ws)) AS avgdl FROM w),
    tf AS (SELECT doc_id, len(ws) AS dl, t.x AS term,
                  CAST(COUNT(*) AS DOUBLE) AS tf
           FROM w, unnest(ws) AS t(x)
           WHERE t.x IN ('spark', 'hash', 'window')
           GROUP BY 1, 2, 3),
    dft AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS dft
            FROM tf GROUP BY 1),
    bm AS (SELECT tf.doc_id,
             ROUND(SUM(ln(1.0 + (stats.n - dft.dft + 0.5) / (dft.dft + 0.5))
                     * tf.tf * 2.2
                     / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))),
                 6) AS bm25
           FROM tf JOIN dft USING (term) CROSS JOIN stats
           GROUP BY tf.doc_id),
    sr AS (SELECT doc_id, bm25, row_number() OVER
             (ORDER BY bm25 DESC, doc_id) AS r FROM bm),
    s50 AS (SELECT doc_id, bm25 FROM sr WHERE r <= 50),
    sn AS (SELECT doc_id,
             CASE WHEN mx = mn THEN 0.0
                  ELSE (bm25 - mn) / (mx - mn) END AS nrm
           FROM s50 CROSS JOIN
             (SELECT MIN(bm25) AS mn, MAX(bm25) AS mx FROM s50)),
    e AS (SELECT * FROM embeddings WHERE {_ELIG}),
    q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0),
    dn AS (SELECT vec_id AS doc_id,
             ROUND(list_sum(list_transform(list_zip(embedding, qv),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6)
               AS cosine
           FROM e, q WHERE vec_id <> 0),
    dr AS (SELECT doc_id, cosine, row_number() OVER
             (ORDER BY cosine DESC, doc_id) AS r FROM dn),
    d50 AS (SELECT doc_id, cosine FROM dr WHERE r <= 50),
    dnn AS (SELECT doc_id,
             CASE WHEN mx = mn THEN 0.0
                  ELSE (cosine - mn) / (mx - mn) END AS nrm
           FROM d50 CROSS JOIN
             (SELECT MIN(cosine) AS mn, MAX(cosine) AS mx FROM d50)),
    u AS (SELECT doc_id, 0.5 * nrm AS c FROM sn
          UNION ALL
          SELECT doc_id, 0.5 * nrm AS c FROM dnn),
    f AS (SELECT doc_id, SUM(c) AS score_raw, COUNT(*) AS n_arms
          FROM u GROUP BY doc_id)
    SELECT doc_id, ROUND(score_raw, 6) AS score, n_arms
    FROM f ORDER BY score_raw DESC, doc_id LIMIT 10
    """,
)
def hybrid_rank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3/K4 hybrid retrieval, the convex-combination twin of
    ``hybrid_rank_rrf``: each arm's top-50 scores are MIN-MAX
    NORMALIZED to [0,1] within the retrieved list, then fused as
    ``0.5·sparse + 0.5·dense`` (CombSUM with normalization — the other
    standard no-training fusion; weighted score fusion preserves score
    MAGNITUDE information that rank-based RRF deliberately discards,
    which wins when one arm's confidence spread is meaningful).

    Same scale shape as the RRF key: the corpus-sized work ends at each
    arm's TakeOrderedAndProject top-50; the min/max are 1-row
    aggregates over 50-row lists crossJoin-broadcast back; the fusion
    is a union + groupBy over ≤100 rows. Determinism: normalization is
    an affine map of the arms' 6dp-ROUNDed scores (identical doubles
    both engines, degenerate max=min guarded to 0 identically), the
    fused sum is ≤2 IEEE additions, final order uses the UNROUNDED sum
    with a doc_id tiebreak. The dense arm is probe-interchangeable
    exactly as in ``hybrid_rank_rrf`` (r14 composition pin:
    tests/test_layouts.py)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    def _minmax_norm(df50: DataFrame, score_col: str) -> DataFrame:
        stats = df50.agg(
            F.min(score_col).alias("__mn"), F.max(score_col).alias("__mx")
        )
        return df50.crossJoin(F.broadcast(stats)).select(
            "doc_id",
            F.when(F.col("__mx") == F.col("__mn"), F.lit(0.0))
            .otherwise(
                (F.col(score_col) - F.col("__mn"))
                / (F.col("__mx") - F.col("__mn"))
            )
            .alias("nrm"),
        )

    sparse50 = (
        text.bm25_scores(docs, ["spark", "hash", "window"])
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(50)
    )
    dense50 = (
        similarity.knn_topk(emb, query_id=0, k=50, dim=EMB_DIM)
        .select(F.col("vec_id").alias("doc_id"), "cosine")
    )
    fused = (
        _minmax_norm(sparse50, "bm25")
        .select("doc_id", (F.lit(0.5) * F.col("nrm")).alias("__c"))
        .unionByName(
            _minmax_norm(dense50, "cosine")
            .select("doc_id", (F.lit(0.5) * F.col("nrm")).alias("__c"))
        )
        .groupBy("doc_id")
        .agg(F.sum("__c").alias("score_raw"), F.count("*").alias("n_arms"))
    )
    return (
        fused.orderBy(F.desc("score_raw"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", F.round("score_raw", 6).alias("score"), "n_arms")
    )


# ----------------------------------------------------------- K4: text analysis


@query(
    "dedup_incremental_batch",
    oracle="""
    WITH old AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
    newb AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
      WHERE doc_id % 3 = 1 AND doc_id % 5 = 0
    ),
    inb AS (SELECT MIN(doc_id) AS doc_id, text FROM newb GROUP BY text),
    ek AS (SELECT * FROM inb i WHERE NOT EXISTS
             (SELECT 1 FROM old o WHERE o.text = i.text)),
    go AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gs
           FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM old)
           WHERE len(ws) >= 3),
    gn AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gs
           FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM ek)
           WHERE len(ws) >= 3),
    cand AS (SELECT DISTINCT a.doc_id AS n_id, b.doc_id AS o_id
             FROM (SELECT doc_id, UNNEST(gs) AS g FROM gn) a
             JOIN (SELECT doc_id, UNNEST(gs) AS g FROM go) b USING (g)),
    nb AS (SELECT DISTINCT c.n_id AS doc_id
           FROM cand c JOIN gn ON gn.doc_id = c.n_id
                       JOIN go ON go.doc_id = c.o_id
           WHERE CAST(len(list_intersect(gn.gs, go.gs)) AS DOUBLE)
                 / (len(gn.gs) + len(go.gs)
                    - len(list_intersect(gn.gs, go.gs))) >= 0.9)
    SELECT doc_id, substr(sha256(text), 1, 16) AS text_sig FROM ek
    WHERE doc_id NOT IN (SELECT doc_id FROM nb)
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 INCREMENTAL ingest dedup — the production shape the one-shot
    operators don't cover: a new crawl batch arrives and must dedup
    against the already-deduped corpus WITHOUT any old×old work. The
    batch here is every third document plus planted exact copies of old
    docs (id-shifted), so all three stages provably fire: within-batch
    exact dedup, exact anti-join on the text hash vs the corpus (old side
    reduces to a distinct 32-byte hash set), and the asymmetric
    prefix-filtered near-dup probe (``operators/dedup.
    ngram_jaccard_probe`` — probe-side prefixes only, corpus side full
    postings; lossless by pigeonhole, |probe|-proportional cost). The
    oracle replays all three stages naively in SQL, so the hash match
    certifies each boundary decision, including the fixture's planted
    near-dup pairs that straddle the old/new split."""

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.where(F.col("doc_id") % 3 != 0)
    new = docs.where(F.col("doc_id") % 3 == 0).unionByName(
        docs.where(
            (F.col("doc_id") % 3 == 1) & (F.col("doc_id") % 5 == 0)
        ).select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    kept = dedup.dedup_incremental(new, old, "doc_id", "text", n=3,
                                   threshold=0.9)
    return kept.select(
        "doc_id", F.substring(F.sha2("text", 256), 1, 16).alias("text_sig")
    )


@query(
    "embedding_quantize_roundtrip",
    oracle="""
    WITH s AS (
      SELECT vec_id,
             CASE WHEN embedding IS NULL
                       OR len(list_filter(embedding, x -> x IS NULL
                              OR isnan(CAST(x AS DOUBLE))
                              OR isinf(CAST(x AS DOUBLE)))) > 0
                  THEN NULL
                  ELSE list_transform(embedding, x -> CAST(x AS DOUBLE))
             END AS v
      FROM embeddings),
    sc AS (
      SELECT vec_id, v,
             CASE WHEN v IS NULL THEN NULL
                  ELSE GREATEST(list_max(list_transform(v,
                       x -> abs(x))) / 127.0, 1e-12)
             END AS scale
      FROM s)
    SELECT vec_id,
           ROUND(scale, 9) AS scale_r,
           CAST(CASE WHEN v IS NULL THEN NULL
                ELSE COALESCE(list_sum(list_transform(v,
                     x -> CAST(round(x / scale) AS BIGINT))), 0)
           END AS BIGINT) AS q_checksum,
           ROUND(list_max(list_transform(v,
               x -> abs(x - round(x / scale) * scale))), 6) AS max_abs_err
    FROM sc
    """,
)
def embedding_quantize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 storage path: symmetric per-vector INT8 quantization of the
    embedding column (``operators/similarity.quantize_int8`` — FAISS-SQ8
    style, pure JVM expressions), written to parquet as
    ``array<tinyint>`` + scale (4× narrower than float32 — at 100 TB the
    embedding column IS the table, so this is 4× less scan I/O for every
    downstream ANN probe), read back, and certified: the oracle re-derives
    every vector's scale, the full integer checksum of all quantized
    values, and the max reconstruction error (≤ scale/2 by construction)
    from the ORIGINAL table — so the hash match proves the quantized
    storage state is exactly right, not just approximately. All
    arithmetic is IEEE double ops + half-away-from-zero rounding,
    identical in Spark and DuckDB."""

    from ..operators.similarity import dequantize_expr, quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    out = scratch_dir("qemb_") + "/q"
    quantize_int8(emb).select("vec_id", "scale", "qvec").write.mode(
        "overwrite"
    ).parquet(out)
    back = spark.read.parquet(out)
    orig = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    deq = dequantize_expr("qvec", "scale")
    return back.join(orig, "vec_id").select(
        "vec_id",
        F.round("scale", 9).alias("scale_r"),
        F.aggregate(
            F.transform("qvec", lambda q: q.cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("q_checksum"),
        F.round(
            F.array_max(
                F.zip_with(F.col("v"), deq, lambda x, d: F.abs(x - d))
            ),
            6,
        ).alias("max_abs_err"),
    )


@query(
    "cms_heavy_hitters",
    oracle="""
    WITH w AS (SELECT UNNEST(string_split(text, ' ')) AS word
               FROM documents WHERE text IS NOT NULL)
    SELECT word, COUNT(*) AS n_exact, 1 AS cms_ok
    FROM w GROUP BY word
    ORDER BY n_exact DESC, word ASC
    LIMIT 10
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H-sketch sibling of ``hll_sketch_merge``: Count-Min-sketch word
    frequencies (heavy hitters without a per-key shuffle). One
    ``count_min_sketch`` AGGREGATE builds fixed-size (w×d) counter grids
    map-side and merges them cell-wise — bytes shuffle, never the exploded
    word multiset — then the exact top-10 words (computed by groupBy for
    ground truth) are point-queried against the sketch.

    DERIVED full oracle (r10, VERDICT r9 #2 — previously rows-only): the
    raw CMS estimate is engine-specific, but the CMS GUARANTEES are not —
    est ≥ exact always, and est ≤ exact + eps·N (N = total word count)
    with the fixed seed making the outcome deterministic. The query emits
    the exact top-10 (word, count) — which DuckDB reproduces — plus the
    guarantee verdict as an INT the oracle pins to 1. Cell-wise merge is
    commutative integer addition, so the verdict cannot flap across
    partitionings.

    At 100 TB: per-shard sketches persist like the HLL sketches and any
    rollup is a cell-wise merge with no rescan; eps sizes the memory
    (w = ⌈e/eps⌉ counters/row) independent of corpus size.

    The eps·N bound verdict (and its N-total scan) is gated by
    ``registry.verify_enabled()`` (default ON — the driver contract;
    ``SPARK_GRAFT_VERIFY=0`` serves sketch point-queries only; r11 #7)."""

    docs = load_table(spark, sf_dir, "documents")
    words = docs.where(F.col("text").isNotNull()).select(
        F.explode(F.split("text", " ")).alias("word")
    )
    top = (
        words.groupBy("word")
        .agg(F.count("*").alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("word"))
        .limit(10)
    )
    top_rows = top.collect()  # 10 rows — bounded driver work
    eps = 0.0001
    sketch = text.cms_word_sketch(docs, eps=eps, confidence=0.99)
    est = text.cms_estimate_counts(spark, sketch, [r.word for r in top_rows])
    if not verify_enabled():
        # serving path (r11 #7): candidate list + sketch point-queries
        # only — the N-total scan exists solely for the eps·N bound
        # verdict; cms_ok NULL, schema unchanged
        return spark.createDataFrame(
            [(r.word, r.n_exact, None) for r in top_rows],
            "word string, n_exact bigint, cms_ok int",
        )
    n_total = words.count()
    bound = eps * n_total
    return spark.createDataFrame(
        [
            (
                r.word,
                r.n_exact,
                int(r.n_exact <= est[r.word] <= r.n_exact + bound),
            )
            for r in top_rows
        ],
        "word string, n_exact bigint, cms_ok int",
    )


@query(
    "text_stats_docs",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(AVG(n_chars), 6) AS avg_chars,
           ROUND(AVG(len(string_split(text, ' '))), 6) AS avg_tokens,
           ROUND(AVG(CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
                     / len(string_split(lower(text), ' '))), 6) AS avg_distinct_ratio
    FROM documents GROUP BY lang
    """,
)
def text_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 corpus statistics per language label."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.col("text")), " ")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.avg(F.size(F.split(F.col("text"), " "))), 6).alias("avg_tokens"),
        F.round(
            F.avg(F.size(F.array_distinct(ws)).cast("double") / F.size(ws)), 6
        ).alias("avg_distinct_ratio"),
    )


@query(
    "lang_id_docs",
    oracle=f"""
    SELECT {text.lang_id_oracle_expr("text")} AS lang_pred,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN {text.lang_id_oracle_expr("text")} = lang
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_label_match
    FROM documents
    GROUP BY 1
    """,
)
def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 language-ID heuristic (fixed-lexicon voting; deterministic, so the
    oracle runs the identical rule in SQL). The fixture's text is synthetic
    pseudo-English for every label, which the honest heuristic exposes."""
    docs = load_table(spark, sf_dir, "documents")
    pred = text.lang_id(docs)
    return pred.groupBy("lang_pred").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("lang_pred") == F.col("lang"), 1).otherwise(0)).alias("n_label_match"),
    )


@query(
    "quality_score_docs",
    oracle=f"SELECT doc_id, {text.QUALITY_ORACLE_COLS} FROM documents",
)
def quality_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 per-document quality features + composite score (exact rational
    arithmetic — raw doubles, no rounding needed)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.quality_features(docs).select(
        "doc_id", "n_tokens", "stopword_ratio", "avg_word_len",
        "distinct_ratio", "quality_score",
    )


@query(
    "token_count_docs",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '{text.TOKEN_REGEX}')) AS BIGINT) AS n_re_tokens
    FROM documents
    """,
)
def token_count_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 token counting: whitespace + BPE-ish regex tokenizer."""
    docs = load_table(spark, sf_dir, "documents")
    return text.token_counts(docs).select("doc_id", "n_ws_tokens", "n_re_tokens")


@query(
    "doc_fingerprint",
    oracle="SELECT doc_id, md5(lower(text)) AS fp FROM documents",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 content fingerprint (md5 of normalized text — engine-portable)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.fingerprint(docs).select("doc_id", "fp")


# ------------------------------------------------------------ K5: multimodal


@query(
    "multimodal_extract",
    oracle="""
    SELECT doc_id,
           CAST(COALESCE(octet_length(encode(text)), 0) AS BIGINT) AS n_bytes,
           sha256(text)                                 AS sha_hex,
           CAST(COALESCE(CAST('0x' || NULLIF(substr(hex(encode(text)), 1, 2),
                                             '') AS INT) + 1, 1) AS INT)
               AS fake_w,
           CAST(COALESCE(CAST('0x' || NULLIF(substr(hex(encode(text)), 3, 2),
                                             '') AS INT) + 1, 1) AS INT)
               AS fake_h
    FROM documents
    """,
)
def multimodal_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 multimodal plumbing: attach a binary payload + metadata struct,
    then mapInPandas feature extraction (bytes → length/sha/pseudo-decode).
    The oracle recomputes the same features from the text the payload
    encodes — reading payload BYTES via hex(encode(text)), not codepoints
    (identical on ASCII, divergent on CJK/emoji — r8 hostile-corpus find),
    with the NULL-payload degrade contract (n_bytes 0, dims 1×1, NULL sha)
    spelled out in COALESCEs. Real decoders are stubbed
    (operators/multimodal.py)."""
    docs = load_table(spark, sf_dir, "documents")
    with_payload = multimodal.attach_binary_payload(docs)
    return multimodal.extract_features(with_payload, "doc_id")


@query(
    "tfidf_top_terms",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS words
               FROM documents WHERE doc_id % 7 = 0),
    n AS (SELECT COUNT(*) AS n_docs FROM d),
    tf AS (SELECT doc_id, t.w AS term, COUNT(*) AS tf
           FROM d, UNNEST(words) AS t(w) GROUP BY 1, 2),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1)
    SELECT tf.term,
           ROUND(SUM(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df)), 4) AS tfidf_sum,
           CAST(MAX(df.df) AS BIGINT) AS doc_freq
    FROM tf JOIN df USING (term) CROSS JOIN n
    GROUP BY tf.term
    ORDER BY tfidf_sum DESC, tf.term
    LIMIT 20
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 TF-IDF, hand-rolled with JVM builtins (explode + two hash aggs +
    one broadcast join) instead of pyspark.ml's HashingTF — hashing-based TF
    is not term-exact, so it can't be oracle-checked; this formulation is,
    and it is also what you want at 100 TB: the df (document-frequency)
    side aggregates down to |vocabulary| rows and broadcasts, so the big
    per-(doc,term) side never reshuffles after its own agg.

    Formula: tfidf(term) = Σ_docs tf(term,doc) · ln(N / df(term)).

    N rides along as a broadcast 1-row crossJoin instead of a driver
    ``count()`` — a separate count would re-scan the filtered corpus as an
    extra blocking job per call.
    """
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 7 == 0)
    terms = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").cast("double").alias("__n"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("w", F.col("tf") * F.log(F.col("__n") / F.col("df")))
    )
    return (
        scored.groupBy("term")
        .agg(
            F.round(F.sum("w"), 4).alias("tfidf_sum"),
            F.max("df").alias("doc_freq"),
        )
        .orderBy(F.desc("tfidf_sum"), "term")
        .limit(20)
    )


@query(
    "knn_ivf_topk",
    oracle=f"""
    WITH e AS (SELECT * FROM embeddings WHERE {_ELIG}),
    q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id, label,
           ROUND(list_sum(list_transform(list_zip(embedding, qv),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) AS cosine
    FROM e, q
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
)
def knn_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 IVF variant: k-means coarse quantizer (16 cells), probe the 8
    nearest cells, exact cosine inside — the training-based sibling of the
    LSH path (`knn_lsh_topk`). Centroids train once per corpus on a bounded
    sample and are cached across calls (cache_key=sf_dir); the materialized
    cell-partitioned index layout is plan-asserted in tests/test_plans.py.

    DERIVED full oracle (r10, VERDICT r9 #2 — previously rows-only): IVF
    prunes to the 8 probed cells, the exact dot decides — and on this
    fixture nprobe=8/16 recovers the full brute-force top-10
    deterministically (seeded KMeans over the full 500-row corpus;
    verified stable across fresh processes, rank-10→11 cosine gap 0.02).
    The brute-force DuckDB oracle therefore applies verbatim; a recall
    slip at sf0.01 turns the driver row red instead of hiding behind
    rows-only. (`knn_lsh_topk` carries a derived RECALL-VERDICT oracle
    since r12: sign-LSH recall on this near-orthogonal fixture is
    genuinely < 1, so its key audits recall against the exact top-10
    instead of claiming it.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, query_id=0, k=10, cache_key=sf_dir, dim=EMB_DIM
    )


@query(
    "knn_ivf_append_probe",
    oracle=f"""
    WITH e AS (SELECT * FROM embeddings WHERE {_ELIG}),
    q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id, label,
           ROUND(list_sum(list_transform(list_zip(embedding, qv),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) AS cosine
    FROM e, q
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
)
def knn_ivf_append_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 ingestion path (r11): the MATERIALIZED IVF index grown
    INCREMENTALLY — initial load (even vec_ids) written hive-partitioned
    by cell, then two arriving batches (odd vec_ids split by %4)
    appended via :func:`..operators.similarity.ivf_append` with NO
    retrain — assignment against the fixed coarse quantizer is a pure
    function, so the grown index is content-identical to a one-shot
    build (pinned in tests/test_layouts.py) and the probe is oblivious
    to ingest history. The probe itself is the at-scale shape: ``cell IN
    (probes)`` is a partition-key predicate, so only the 8 probed
    directories are listed (plan-asserted).

    FULL brute-force oracle, same argument as ``knn_ivf_topk``: the
    centroids are THE SAME cached model (identical cache key:
    n_cells=16, seed 42, full-corpus sample), so the probed candidate
    set is identical and the exact dot decides — fixture recall 1.0,
    deterministic. At 100 TB this key is the one that matters: a daily
    embedding batch costs one |batch| assignment pass + an append,
    never a corpus rewrite; drift is handled by periodic retrain, small
    files by per-cell compaction (``compact_partition_scoped``)."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    idx = scratch_dir("ivfappend_") + "/index"
    C = similarity.ivf_train_centroids(
        emb, n_cells=16, cache_key=sf_dir, dim=EMB_DIM
    )
    base = emb.where(F.col("vec_id") % 2 == 0)
    similarity.ivf_assign_full(base, C, dim=EMB_DIM).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(idx)
    for parity in (1, 3):
        similarity.ivf_append(
            emb.where(F.col("vec_id") % 4 == parity), idx, C, dim=EMB_DIM
        )
    qrow = (
        similarity.finite_vectors(emb, "embedding", EMB_DIM)
        .where(F.col("vec_id") == 0)
        .select("embedding")
        .first()
    )
    qv = np.asarray(qrow[0], dtype=np.float64)  # 1-row fetch, bounded
    return similarity.ivf_probe_indexed(
        spark, idx, C, qv, k=10, nprobe=8, exclude_id=0
    )


@query(
    "ivf_drift_check",
    oracle=f"""
    WITH e AS (SELECT * FROM embeddings WHERE {_ELIG}
               AND list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0)
    SELECT 'control' AS batch, COUNT(*) AS n_vectors, 0 AS retrain_flag
    FROM e WHERE vec_id % 10 = 0
    UNION ALL
    SELECT 'shifted' AS batch, COUNT(*) AS n_vectors, 1 AS retrain_flag
    FROM e WHERE vec_id % 10 = 0
    ORDER BY batch
    """,
)
def ivf_drift_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 operational arm (r12, VERDICT r11 missing #1 / next #2): the
    IVF retrain trigger as a registered, oracle-pinned key — centroid
    drift MEASURED per arriving batch, not advised in a docstring.

    Two batches are scored against the training-corpus reference with
    :func:`..operators.similarity.ivf_drift_stats` (mean assignment dot
    + max cell share, one |batch| GEMM pass each — the same cost
    ``ivf_append`` already pays):

    - ``control`` = an in-distribution 10% slice (vec_id % 10 = 0) —
      must NOT flag;
    - ``shifted`` = the SAME slice deterministically shifted
      (:func:`..operators.similarity.shift_vectors`: + 2·û offset,
      renormalized — an embedding-model update in miniature) — MUST
      flag via :func:`..operators.similarity.ivf_drift_flag`
      (quantizer-FIT rule; batch occupancy is reported but never
      flags — a coherent batch legitimately concentrates, pinned in
      tests/test_operators.py; margins measured in
      scripts/stress_ivf_scale.py's drift arm and pinned in
      tests/test_hostile_embeddings.py).

    Threshold (r13, VERDICT r12 next #3): PER-INDEX, not the global
    constant — the reference is
    :func:`..operators.similarity.ivf_drift_reference` (training-time
    mean assignment cosine + the σ of per-slice means over 10
    deterministic corpus slices, the manifest payload), and the flag
    fires at ``ref_mean − 3σ`` (the control-chart limit). Measured
    margins at the driver's sf0.01: 3σ = 0.047, control drop −0.017
    (fits better — far from flagging), shifted drop 0.115 = 2.4× the
    threshold; at sf0.001 3σ = 0.039 vs shifted drop 0.105 (2.7×); the
    full dial (α = 0/0.5/1/2 → no/no/yes/yes) is re-pinned against the
    derived threshold in tests/test_operators.py. ``DRIFT_DOT_DELTA``
    stays as the documented fallback for references without a σ
    estimate.

    DERIVED full oracle (the r10 verdict-column pattern): the flag is a
    deterministic function of (fixture, seeded KMeans, fixed
    thresholds), so the oracle pins it as an INT verdict — control 0,
    shifted 1 — and recomputes ``n_vectors`` as the eligible
    POSITIVE-NORM row count of the slice (the statistic is the mean
    cosine to the assigned centroid, so zero-norm vectors — direction-
    free — are outside it on both sides; the shift preserves
    eligibility: offset+renormalize of a finite dim-64 vector is a
    finite dim-64 vector). A quantizer or threshold regression that
    lets a shifted batch pass unflagged turns the driver row red.

    The shifted=1 pin is a CLEAN-FIXTURE contract: on the hostile
    corpus a legal norm-8000 all-ones vector hands KMeans a centroid on
    the shift axis û, the shifted batch then fits at cosine ~0.89, and
    the FIT rule correctly declines to flag a mode the quantizer
    already owns — pinned as a property test
    (tests/test_hostile_embeddings.py) instead of the oracle replay.

    r16 scale-robustness fix: the shift axis is now
    :func:`..operators.similarity.centroid_nullspace_axis` — a unit
    direction ORTHOGONAL to every trained centroid — instead of the
    fixed all-ones û. The fixed axis turned out to be owned by a
    centroid at sf0.1 (2000 training rows: the shifted batch fit at
    mean dot 0.358 vs ref 0.275 and the FIT rule — correctly — did not
    flag), so the shifted=1 pin held only at the sfs the driver
    happens to compare. The null-space axis has dot exactly 0 with
    every centroid, making the pin hold at EVERY corpus scale by
    construction (verified 0.001/0.01/0.1); the same axis drives the
    ``knn_ivf_rebuild_probe`` lifecycle key, whose rebuild retrains
    the quantizer to own the mode and clear the flag."""
    emb = load_table(spark, sf_dir, "embeddings")
    C = similarity.ivf_train_centroids(
        emb, n_cells=16, cache_key=sf_dir, dim=EMB_DIM
    )
    # the TRAINING-TIME reference (mean + per-slice σ) — in production
    # this dict is computed once by ivf_build_index and read back from
    # the index manifest (ivf_drift_check_batch); here the key derives
    # it inline because it owns no materialized index
    refd = similarity.ivf_drift_reference(emb, C, dim=EMB_DIM)
    ref = (refd["ref_mean"], refd["ref_max_share"], refd["n"])
    # positive-norm base for BOTH arms: a zero vector is outside the
    # directional statistic, and shifting one would fabricate a vector
    # lying exactly on the drift axis — the arms must share base rows
    sq_norm = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda a, x: a + x.cast("double") * x.cast("double"),
    )
    ctrl = emb.where(F.col("vec_id") % 10 == 0).where(sq_norm > 0)
    rows = []
    for name, batch in (
        ("control", ctrl),
        # null-space drift axis (r16): orthogonal to EVERY trained
        # centroid, so the shifted mode is unowned by this quantizer at
        # ANY corpus scale — the fixed all-ones axis was owned by a
        # centroid at sf0.1 (2000 training rows), where the FIT rule
        # correctly declined to flag and the shifted=1 pin held only at
        # the smaller fixtures
        ("shifted", similarity.shift_vectors(
            ctrl, alpha=2.0, dim=EMB_DIM,
            axis=similarity.centroid_nullspace_axis(C))),
    ):
        st = similarity.ivf_drift_stats(batch, C, dim=EMB_DIM)
        rows.append((name, st[2], int(similarity.ivf_drift_flag(
            st, ref, sigma=refd["ref_sigma"]
        ))))
    return spark.createDataFrame(  # 2 driver-side rows, bounded
        rows, "batch string, n_vectors bigint, retrain_flag int"
    ).orderBy("batch")


@query(
    "knn_ivf_rebuild_probe",
    oracle=f"""
    WITH e AS (SELECT * FROM embeddings WHERE {_ELIG}),
    q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id, label,
           ROUND(list_sum(list_transform(list_zip(embedding, qv),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), 6) AS cosine,
           1 AS drift_flag_before, 0 AS drift_flag_after,
           1 AS rebuild_identity_ok, 1 AS rebuild_recall_floor_met
    FROM e, q
    WHERE vec_id <> 0
    ORDER BY cosine DESC, vec_id ASC
    LIMIT 10
    """,
)
def knn_ivf_rebuild_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 maintenance lifecycle CLOSED (r16, VERDICT r15 missing #2 /
    next #2): drift detect -> append -> REBUILD -> verify, end to end on
    a materialized IVF index. ``ivf_drift_check`` certified the retrain
    TRIGGER; this key certifies its CONSEQUENCE —
    :func:`..operators.similarity.ann_index_rebuild`, the verb that
    retrains the coarse quantizer on the post-drift corpus, reassigns
    every resident row, refreshes the manifest's 3-sigma drift
    reference, and swaps the rewritten layout in behind the same
    staged-tombstone-sentinel discipline as ``ann_index_compact`` (the
    new manifest's epoch bump is the commit point; crash states roll
    back/forward via ``ann_index_recover``, pinned in
    tests/test_layouts.py).

    Story, each step driver-checkable as an oracle-pinned INT verdict:
    a deterministically shifted 10% slice (the ``ivf_drift_check``
    drift-in-miniature, ids remapped clear of the corpus) MUST flag
    against the build-time reference (``drift_flag_before`` = 1), is
    appended, the index is rebuilt path-only, and the SAME batch must
    no longer flag (``drift_flag_after`` = 0 — the retrained quantizer
    owns the mode and the refreshed reference describes the post-drift
    corpus; without the reference refresh the very batches that
    triggered the rebuild would keep flagging forever).
    ``rebuild_identity_ok`` = the rebuilt layout equals a fresh
    full-union assignment against the NEW manifest's centroids
    (exceptAll both ways), the epoch moved to 1, and the append marker
    was consumed. ``rebuild_recall_floor_met`` = the path-only pruned
    probe (nprobe=8 of 16) over the rebuilt index recovers >= 60% of
    the exact union top-10 (measured 1.0 at sf0.001/0.01 — on this
    fixture the retrained quantizer reproduces full recall — floor set
    at the ivfpq keys' margin). The returned rows are the exact
    brute-force top-10 over the ORIGINAL corpus — the same DuckDB list
    SQL every K3 oracle replays — so a regression in any lifecycle leg
    turns the driver row red. Bounded collects only (1 query row +
    2x10 top-k rows); the identity audit's assignment pass is
    certification-side, same as the compact keys'."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    idx = scratch_dir("ivfrebuild_") + "/index"
    similarity.ivf_build_index(
        emb, idx, n_cells=16, cache_key=sf_dir, dim=EMB_DIM
    )
    sq_norm = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda a, x: a + x.cast("double") * x.cast("double"),
    )
    ctrl = emb.where(F.col("vec_id") % 10 == 0).where(sq_norm > 0)
    C_old = np.asarray(
        similarity.read_index_manifest(spark, idx)["centroids"],
        dtype=np.float64,
    )
    shifted = similarity.shift_vectors(
        ctrl, alpha=2.0, dim=EMB_DIM,
        axis=similarity.centroid_nullspace_axis(C_old),
    ).withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000))
    _, flag_before = similarity.ivf_drift_check_batch(shifted, idx)
    similarity.ivf_append(shifted, idx)
    stats = similarity.ann_index_rebuild(spark, idx)
    _, flag_after = similarity.ivf_drift_check_batch(shifted, idx)

    m = similarity.read_index_manifest(spark, idx)
    C_new = np.asarray(m["centroids"], dtype=np.float64)
    union = emb.unionByName(shifted)
    # each side of the exceptAll-both-ways audit is executed twice;
    # persist so the index read and the assignment pass run once (r17)
    got = audit_persist(spark.read.parquet(idx).select("cell", "vec_id"))
    expected = audit_persist(similarity.ivf_assign_full(
        union, C_new, "embedding", dim=EMB_DIM
    ).select("cell", "vec_id"))
    identity = int(
        stats["epoch"] == 1
        and int(m["epoch"]) == 1
        and not similarity._list_append_markers(spark, idx)
        # both exceptAll sides counted in ONE action (union is empty iff
        # both differences are — counts are non-negative): one result
        # stage instead of two over the persisted frames (r17); unionByName so column-order drift in a future select edit raises instead of comparing misaligned columns (r17 advisor)
        and got.exceptAll(expected)
               .unionByName(expected.exceptAll(got)).count() == 0
    )
    qrow = (
        similarity.finite_vectors(emb, "embedding", EMB_DIM)
        .where(F.col("vec_id") == 0)
        .select("embedding")
        .first()  # bounded: 1 row
    )
    qv = np.asarray(qrow[0], dtype=np.float64)
    probed = {
        r.vec_id
        for r in similarity.ivf_probe_indexed(
            spark, idx, None, qv, k=10, nprobe=8, exclude_id=0
        ).collect()  # bounded: k rows
    }
    exact_union = {
        r.vec_id
        for r in similarity.knn_topk(union, 0, k=10, dim=EMB_DIM).collect()
    }
    recall_met = int(len(probed & exact_union) >= 6)
    return (
        similarity.knn_topk(emb, query_id=0, k=10, dim=EMB_DIM)
        .withColumn("drift_flag_before", F.lit(int(flag_before)))
        .withColumn("drift_flag_after", F.lit(int(flag_after)))
        .withColumn("rebuild_identity_ok", F.lit(identity))
        .withColumn("rebuild_recall_floor_met", F.lit(recall_met))
    )


@query(
    "dedup_embedding_components",
    oracle=f"""
    WITH RECURSIVE
    el AS (SELECT * FROM embeddings WHERE {_ELIG}),
    p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM el a JOIN el b ON a.vec_id < b.vec_id
          WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
                x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) >= 0.45),
    edges AS (SELECT id_a AS a, id_b AS b FROM p
              UNION ALL SELECT id_b, id_a FROM p),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a
    ),
    comp AS (
        SELECT e.vec_id,
               LEAST(e.vec_id, COALESCE(MIN(r.b), e.vec_id)) AS component
        FROM embeddings e LEFT JOIN reach r ON r.a = e.vec_id
        GROUP BY e.vec_id
    )
    SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM comp GROUP BY component HAVING COUNT(*) > 1
    """,
)
def dedup_embedding_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 embedding-cosine dedup, canonicalized: cosine >= 0.45 pairs (BLAS
    screen + exact rescore) → connected components (iterative min-label
    propagation) → component sizes (non-singleton). Composes the semantic
    near-dup detector with the same canonicalization machinery the n-gram
    path uses; the oracle recomputes components via recursive transitive
    closure."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.similar_pairs(emb, threshold=0.45, dim=EMB_DIM).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    comps = dedup.connected_components(pairs, emb.select("vec_id"), "vec_id")
    return (
        comps.groupBy("component")
        .agg(F.count("*").alias("n_members"))
        .where(F.col("n_members") > 1)
    )


@query(
    "array_funcs_embeddings",
    oracle="""
    SELECT vec_id,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INT)   AS n_pos,
           ROUND(list_sum(list_transform(embedding[1:8],
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS head_energy,
           ROUND(CAST(list_max(embedding) AS DOUBLE), 6)          AS max_comp,
           ROUND(CAST(list_sort(embedding)[1] AS DOUBLE), 6)      AS min_comp
    FROM embeddings WHERE vec_id % 17 = 0
    """,
)
def array_funcs_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H-array family beyond the dot product: ``filter``/``size`` (predicate
    count), ``slice`` + ``aggregate`` (prefix energy), ``array_max``,
    ``array_sort`` + indexing. All JVM higher-order functions — zero Python,
    zero shuffle; this entire query is a single codegen'd projection over
    the scan."""
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") % 17 == 0)
    head = F.slice("embedding", 1, 8)
    energy = F.aggregate(
        F.transform(head, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.round(energy, 6).alias("head_energy"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_comp"),
        F.round(F.array_sort("embedding")[0].cast("double"), 6).alias("min_comp"),
    )


@query(
    "ngram_freq_top",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    b AS (SELECT ws[i] || ' ' || ws[i+1] AS bigram
          FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS t(i))
    SELECT bigram, COUNT(*) AS n
    FROM b GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 25
    """,
)
def ngram_freq_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 corpus n-gram frequency profile (top-25 bigrams) — the standard
    pre-training corpus diagnostic. JVM path: transform+sequence generates
    bigrams per doc (no Python), explode, one hash agg, TakeOrdered top-k.
    At 100 TB the agg's partial (map-side) combine collapses the heavy hitters
    before the shuffle; a count-min sketch is the streaming sibling.

    The split column materializes behind an exchange before the indexed
    lambda references it (CollapseProject would otherwise inline the split
    per array element — O(words²)/doc; measured 2.6 s → 0.6 s here)."""
    docs = load_table(spark, sf_dir, "documents")
    # core-count, not the batch shuffle conf (r17; see
    # dedup.with_word_ngrams — same barrier, same sizing rule)
    nparts = int(spark.sparkContext.defaultParallelism)
    ws = docs.select(F.split("text", " ").alias("ws")).repartition(nparts)
    bigrams = ws.select(
        F.explode(
            F.expr(
                "CASE WHEN size(ws) >= 2 THEN "
                "transform(sequence(0, size(ws) - 2), "
                "i -> concat_ws(' ', ws[i], ws[i+1])) "
                "ELSE array() END"
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(25)
    )


@query(
    "token_pack_docs",
    oracle="""
    WITH t AS (SELECT doc_id, lang,
                      len(string_split(text, ' ')) AS n_tokens
               FROM documents),
    c AS (SELECT doc_id, lang, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
          FROM t)
    SELECT doc_id, lang,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(FLOOR(CAST(cum - n_tokens AS DOUBLE) / 2048) AS BIGINT)
               AS pack_id
    FROM c
    """,
)
def token_pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data packing: assign every document a pack id such that
    each (lang, pack) holds ~2048 tokens of consecutive docs — the step
    that turns a filtered corpus into fixed-budget training examples.

    Packing is a running-sum window per language shard in a deterministic
    (doc_id) order: pack = floor((cumsum − own)/budget) — a doc whose
    tokens straddle the boundary starts the next pack. Sharding by lang
    matters at 100 TB: an UNPARTITIONED cumulative sum is a single-reducer
    bottleneck, while per-shard packing is embarrassingly parallel and is
    also what a curriculum (per-language mixing) wants. Pure window
    functions both sides → exact oracle."""

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = toks.withColumn("cum", F.sum("n_tokens").over(w))
    pack = F.floor(
        (F.col("cum") - F.col("n_tokens")).cast("double") / 2048
    ).cast("bigint")
    return cum.select(
        "doc_id", "lang",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        pack.alias("pack_id"),
    )


@query(
    "doc_chunk_windows",
    oracle="""
    WITH w AS (SELECT doc_id,
                      string_split(COALESCE(text, ''), ' ') AS words,
                      len(string_split(COALESCE(text, ''), ' ')) AS n
               FROM documents WHERE doc_id % 17 = 0),
    c AS (SELECT doc_id, words,
                 unnest(range(0, 1 + CAST(CEIL(GREATEST(n - 64, 0) / 48.0)
                                          AS BIGINT))) AS chunk_idx
          FROM w)
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           array_to_string(list_slice(words, chunk_idx * 48 + 1,
                                      chunk_idx * 48 + 64), ' ') AS chunk_text
    FROM c
    """,
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document into overlapping
    64-token windows with stride 48 (16-token overlap) — the standard
    prep for embedding/pretraining pipelines with a fixed context length.

    Per-doc arithmetic only (no shuffle): n_chunks = 1 + ceil(max(n−64,0)/48),
    explode the chunk indices, slice the word array per index. The split
    column materializes behind an exchange before the per-chunk slices
    reference it (the CollapseProject O(n²) inlining trap —
    see operators/dedup.py:with_word_ngrams)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 17 == 0)
    # core-count, not the batch shuffle conf (r17; see
    # dedup.with_word_ngrams — same barrier, same sizing rule)
    nparts = int(spark.sparkContext.defaultParallelism)
    # NULL text normalizes to '' on BOTH sides (oracle COALESCEs too):
    # Spark's size(NULL)=-1 / concat_ws-'' vs DuckDB's GREATEST-skips-NULL
    # otherwise produce ''-vs-NULL chunk_text (r8 hostile-corpus find), and
    # a chunker must not drop/null a doc because its text is NULL.
    words = (
        docs.select(
            "doc_id",
            F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("words"),
        )
        .repartition(nparts)
        .withColumn("n", F.size("words"))
    )
    n_chunks = 1 + F.ceil(
        F.greatest(F.col("n") - 64, F.lit(0)).cast("double") / 48.0
    ).cast("int")
    chunks = words.select(
        "doc_id",
        "words",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.concat_ws(
            " ", F.slice("words", F.col("chunk_idx") * 48 + 1, F.lit(64))
        ).alias("chunk_text"),
    )


@query(
    "training_corpus_pipeline",
    oracle=f"""
    WITH RECURSIVE
    feat AS (SELECT doc_id, source, text,
                    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
                    {text.QUALITY_SCORE_ORACLE_EXPR} AS q
             FROM documents WHERE lang = 'en'),
    kept AS (SELECT doc_id, source, text, n_tokens FROM feat
             WHERE q >= 0.5 AND n_tokens BETWEEN 20 AND 2000),
    w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM kept),
    g AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(ws)-1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gs
          FROM w WHERE len(ws) >= 3),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM g a JOIN g b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
                / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.9),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM p
              UNION ALL SELECT doc_b, doc_a FROM p),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a
    ),
    surv AS (SELECT doc_id FROM kept
             WHERE NOT EXISTS (SELECT 1 FROM reach
                               WHERE reach.a = doc_id AND reach.b < doc_id))
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM kept JOIN surv USING (doc_id)
    GROUP BY source
    """,
)
def training_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship LLM-data pipeline, end-to-end in one plan: language
    filter → quality scoring → token-length bounds → MinHash+LSH
    near-dedup → connected-component canonicalization → per-source corpus
    stats. This is the composition a 100 TB pretraining-data job actually
    runs; every stage is an operator certified individually elsewhere in
    this registry, and the whole chain is checked here against a single
    recursive-closure DuckDB oracle.

    Scale shape: the filter stages are scan-local (no shuffle); dedup
    shuffles hashes and band keys, never full texts; the final aggregate
    shuffles |survivors| rows. Dedup runs WITHIN the filtered set —
    filter-then-dedup is both cheaper (fewer signatures) and what quality
    pipelines want (a high-quality doc must not be deduped away in favor
    of a filtered-out twin)."""

    docs = load_table(spark, sf_dir, "documents").where(F.col("lang") == "en")
    feats = text.quality_features(docs)
    kept = feats.where(
        (F.col("quality_score") >= 0.5) & F.col("n_tokens").between(20, 2000)
    ).select("doc_id", "source", "text", "n_tokens")
    pairs = dedup.minhash_lsh_pairs(kept, "doc_id", "text", n=3, threshold=0.9)
    comps = dedup.connected_components(pairs, kept.select("doc_id"), "doc_id")
    surv = comps.where(F.col("doc_id") == F.col("component")).select("doc_id")
    return (
        kept.join(surv, "doc_id", "left_semi")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH d AS (SELECT doc_id, text, length(text) AS n
               FROM documents WHERE lang = 'en' AND doc_id % 11 = 0),
    f AS (SELECT doc_id, text,
                 CAST((n + 63) // 64 AS BIGINT) AS n_frames,
                 unnest(range(0, CAST((n + 63) // 64 AS BIGINT), 4)) AS frame_idx
          FROM d)
    SELECT doc_id,
           CAST(frame_idx AS BIGINT) AS frame_idx,
           substring(text, CAST(frame_idx * 64 + 1 AS BIGINT), 64) AS frame_text,
           n_frames
    FROM f
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 frame sampling: binary payloads chunked into 64-byte frames,
    every 4th kept — the video frame-sample plumbing (1→N Arrow
    expansion) with a deterministic stand-in decoder. English docs only so
    byte offsets equal character offsets and the oracle can use
    substring on the text."""
    docs = load_table(spark, sf_dir, "documents").where(
        (F.col("lang") == "en") & (F.col("doc_id") % 11 == 0)
    )
    with_payload = multimodal.attach_binary_payload(docs)
    sampled = multimodal.frame_sample(with_payload, "doc_id")
    return sampled.select(
        "doc_id", "frame_idx",
        F.decode("frame", "utf-8").alias("frame_text"),
        "n_frames",
    )


@query(
    "embedding_group_centroid",
    oracle="""
    WITH e AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim_i,
                      unnest(embedding) AS v
               FROM embeddings),
    m AS (SELECT label, dim_i, ROUND(AVG(CAST(v AS DOUBLE)), 6) AS mean_v
          FROM e GROUP BY 1, 2),
    n AS (SELECT label, COUNT(*) AS n_vecs FROM embeddings GROUP BY 1)
    SELECT m.label, n.n_vecs, CAST(m.dim_i AS INTEGER) AS dim_i, m.mean_v
    FROM m JOIN n USING (label)
    """,
)
def embedding_group_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroid (class prototypes / cluster means):
    dimension-wise mean over an array column per group, emitted as one
    row per (label, dimension) — scalar columns only.

    The scalable shape is posexplode → groupBy(label, dim) → avg: the
    shuffle carries scalars (label, dim, value), never whole vectors, and
    the per-dimension aggregate is partial+final like any hash agg. The
    alternative — collect_list of vectors then a driver/UDF fold —
    shuffles full vectors to one place per group and caps at executor
    memory. Means are ROUNDed on both sides (accumulation-order drift).

    Output discipline (r7): NO top-level array column. The driver's
    canonicalizer sorts raw result columns and cannot sort list cells
    (r6's only red row); exploded scalar rows certify cleanly and the
    caller can pivot back to a vector with collect_list if needed."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim_i", "v"
        ),
    )
    m = ex.groupBy("label", "dim_i").agg(
        F.round(F.avg("v"), 6).alias("mean_v")
    )
    n = emb.groupBy("label").agg(F.count("*").alias("n_vecs"))
    return m.join(n, "label").select("label", "n_vecs", "dim_i", "mean_v")


# ------------------------------------------------- K7: corpus curation ops


@query(
    "repetition_score_docs",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    s AS (SELECT doc_id,
                 CASE WHEN len(ws) >= 2 THEN
                     1.0 - CAST(len(list_distinct(list_transform(
                               range(1, len(ws)),
                               i -> ws[i] || ' ' || ws[i+1]))) AS DOUBLE)
                         / (len(ws) - 1)
                 ELSE 0.0 END AS f
          FROM w)
    SELECT doc_id, ROUND(f, 6) AS dup_ngram_frac FROM s
    """,
)
def repetition_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 repetition scoring: per-doc duplicate-bigram fraction, the
    Gopher/MassiveText boilerplate signal. All 500 docs score (short docs
    score 0), every value hash-checked against the DuckDB twin."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.with_repetition_score(docs, n=2).select(
        "doc_id", F.round("dup_ngram_frac", 6).alias("dup_ngram_frac")
    )


@query(
    "domain_cap_docs",
    oracle="""
    SELECT doc_id, source FROM documents
    QUALIFY ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) <= 10
    """,
)
def domain_cap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 per-domain capping: at most 10 docs per source, lowest doc_id
    first — the corpus-balancing move that bounds any single domain's
    share. Deterministic (doc_id is unique), so exact-row certified."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.cap_per_group(docs, "source", "doc_id", k=10).select(
        "doc_id", "source"
    )


@query(
    "domain_cap_prefiltered",
    oracle="""
    SELECT doc_id, source FROM documents
    QUALIFY ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) <= 10
    """,
)
def domain_cap_prefiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 per-domain capping, hot-group path: identical semantics to
    ``domain_cap_docs`` (same oracle — the pre-filter is provably exact)
    but with ``hot_group_threshold`` engaged, so groups larger than the
    threshold are cut map-side by an approximate per-group
    ``percentile_approx`` bound BEFORE the exact window sort. At 100 TB
    this is what keeps a pathologically hot domain from sorting on one
    task: the windowed set shrinks to ≈ n·k/T rows per hot group. See
    :func:`..operators.curation.cap_per_group` for the exactness argument;
    ``tests/test_curation.py`` pins output identity with the plain path
    and ``tests/test_plans.py`` pins the extra aggregate + broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.cap_per_group(
        docs, "source", "doc_id", k=10, hot_group_threshold=50
    ).select("doc_id", "source")


@query(
    "decontaminate_docs",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(ws) - 3),
                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                          || ' ' || ws[i+3] || ' ' || ws[i+4])) AS gs
          FROM w WHERE len(ws) >= 5),
    bg AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 97 = 0),
    tg AS (SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id % 97 <> 0),
    bad AS (SELECT DISTINCT tg.doc_id FROM tg JOIN bg USING (gram))
    SELECT doc_id FROM documents
    WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
    """,
)
def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 benchmark decontamination: treat every 97th doc as the eval set,
    drop training docs sharing any word-5-gram with it. The benchmark gram
    table broadcasts (plan-asserted in tests) so the corpus side never
    shuffles — the GPT-3-style overlap check at 100 TB is one corpus scan."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    return curation.decontaminate(train, bench, "doc_id", n=5).select("doc_id")


@query(
    "decontaminate_digest_docs",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(ws) - 3),
                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                          || ' ' || ws[i+3] || ' ' || ws[i+4])) AS gs
          FROM w WHERE len(ws) >= 5),
    bg AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 97 = 0),
    tg AS (SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id % 97 <> 0),
    bad AS (SELECT DISTINCT tg.doc_id FROM tg JOIN bg USING (gram))
    SELECT doc_id FROM documents
    WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
    """,
)
def decontaminate_digest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 decontamination, DIGEST scale path: identical semantics and
    oracle as ``decontaminate_docs`` (the exact semi-join removes digest
    collisions), but the broadcast side is the benchmark grams' 8-byte
    xxhash64 digests rather than the gram strings — the route for when
    the eval set's gram table strains the broadcast threshold. Plan test
    pins both semi-joins (digest prefilter + exact). See
    :func:`..operators.curation.contaminated_ids_digest`."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    return curation.decontaminate_digest(train, bench, "doc_id", n=5).select(
        "doc_id"
    )


@query(
    "decontaminate_fuzzy_docs",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(ws) - 1),
                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gs
          FROM w WHERE len(ws) >= 3),
    bg AS (SELECT * FROM g WHERE doc_id % 10 = 0),
    tg AS (SELECT * FROM g WHERE doc_id % 10 <> 0),
    pairs AS (SELECT tg.doc_id,
                CAST(len(list_intersect(tg.gs, bg.gs)) AS DOUBLE)
                  / (len(tg.gs) + len(bg.gs)
                     - len(list_intersect(tg.gs, bg.gs))) AS j
              FROM tg, bg),
    bad AS (SELECT DISTINCT doc_id FROM pairs WHERE j >= 0.8)
    SELECT doc_id FROM documents
    WHERE doc_id % 10 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
    """,
)
def decontaminate_fuzzy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 FUZZY decontamination (r14): drop training docs whose
    word-3-gram Jaccard against any eval doc reaches 0.8 — the
    paraphrased-contamination case exact n-gram overlap
    (``decontaminate_docs``) misses, and the whole-document resemblance
    measure that one shared idiom cannot trip. Every 10th doc plays the
    eval set (the fixture's planted near-dup pairs straddle this split,
    so the key actually drops documents at every sf — 6 at sf0.01, 46
    at sf0.1 — instead of vacuously keeping everything).

    Plan (:func:`..operators.curation.decontaminate_fuzzy` →
    :func:`..operators.dedup.ngram_jaccard_probe`): the tiny benchmark
    contributes its FULL hashed-gram inverted index; the corpus side is
    prefix-filtered (lossless by pigeonhole — only a (1−t) fraction of
    each train doc's grams shuffles), candidates pass a length filter
    and EXACT full-gram-set verification, so the survivor set is
    deterministic and the brute-force pairwise-Jaccard DuckDB oracle
    applies verbatim. At 100 TB: |train|-proportional, the benchmark
    index is the broadcast side, and the train corpus is read once."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 10 == 0)
    train = docs.where(F.col("doc_id") % 10 != 0)
    return curation.decontaminate_fuzzy(
        train, bench, "doc_id", n=3, threshold=0.8
    ).select("doc_id")


@query(
    "quality_percentile_gate",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents
    QUALIFY PERCENT_RANK() OVER (PARTITION BY lang ORDER BY n_chars) >= 0.8
    """,
)
def quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 percentile quality gating: keep the top quintile of docs by
    length *within each language* — per-group adaptive thresholds instead
    of one global cutoff. percent_rank ties agree across engines, so the
    survivor set is exact-row certified."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.percentile_keep(docs, "n_chars", "lang", 0.8).select(
        "doc_id", "lang", "n_chars"
    )


@query("semdedup_survivors", oracle=None)
def semdedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 SemDeDup (cluster-bounded embedding dedup): k-means cells bound
    the pair search to within-cell self-joins — the published recall trade
    for corpus²→Σ|cell|² cost.

    Irreducibly rows-only (r10 audit): the SURVIVOR SET depends on which
    pairs fall within one k-means cell — the method's defining recall
    trade — so unlike the ANN top-k keys there is no exact-rerank stage
    that converges to a brute-force answer an oracle could pin; a cell
    boundary legitimately changes the output. `tests/test_curation.py`
    pins the n_cells=1 degenerate case to the exact all-pairs oracle
    answer, plus determinism and containment invariants."""
    emb = load_table(spark, sf_dir, "embeddings")
    return curation.semdedup_survivors(
        emb, threshold=0.45, n_cells=8, cache_key=f"semdedup:{sf_dir}"
    ).select("vec_id", "label")


# ------------------------------------------- splits, redaction, retrieval


@query(
    "train_test_split_docs",
    oracle="""
    SELECT doc_id,
           CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             % 100 AS bucket,
           CASE WHEN CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             % 100 < 90 THEN 'train' ELSE 'test' END AS split
    FROM documents
    """,
)
def train_test_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/test split by md5 hash bucket of the doc
    key. Split membership is a pure function of the key — identical in any
    engine (the oracle recomputes it in DuckDB and must agree row-for-row),
    stable as the corpus grows, and computed map-side with zero shuffle.
    The per-row assignment is returned so the hash check certifies every
    single membership decision, not just the aggregate ratio."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.train_test_split(docs, "doc_id", test_frac=0.1).select(
        "doc_id",
        curation.hash_bucket("doc_id", 100).alias("bucket"),
        "split",
    )


@query(
    "weighted_sample_docs",
    oracle="""
    WITH d AS (SELECT doc_id, n_chars,
        (CAST(CONCAT('0x', substr(md5(CONCAT('wsample:',
              CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) + 0.5)
          / 4294967296.0 AS u
      FROM documents WHERE n_chars > 0)
    SELECT doc_id, n_chars
    FROM d ORDER BY round(ln(u) / n_chars, 12) DESC, doc_id LIMIT 50
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 deterministic weighted sampling: 50 docs drawn without
    replacement with inclusion probability ∝ n_chars (Efraimidis–Spirakis
    rank keys over the md5 uniform draw). The oracle re-derives every
    draw and the full selection, so the hash match certifies the exact
    sample — the property `df.sample()`/`rand()` can never give. Plan:
    map-side rank key + TakeOrderedAndProject (no corpus shuffle).
    See :func:`..operators.curation.weighted_sample_topk`."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.weighted_sample_topk(
        docs, "doc_id", "n_chars", k=50
    ).select("doc_id", "n_chars")


@query(
    "lm_quality_score_docs",
    oracle="""
    WITH rw AS (SELECT unnest(string_split(lower(text), ' ')) AS w
                FROM documents WHERE lang = 'en'),
    cnt AS (SELECT w, COUNT(*) AS c FROM rw GROUP BY w),
    tot AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM cnt),
    dw AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
           FROM documents),
    lp AS (SELECT doc_id,
                  ln((COALESCE(c, 0) + 1.0) / (n + v + 1.0)) AS lp
           FROM dw LEFT JOIN cnt USING (w) CROSS JOIN tot)
    SELECT doc_id, COUNT(*) AS n_words, ROUND(AVG(lp), 6) AS xent
    FROM lp GROUP BY doc_id
    """,
)
def lm_quality_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 model-based quality gate (CCNet, Wenzek et al. 2020): per-word
    cross-entropy of every document under an add-one-smoothed unigram LM
    trained on the 'en' reference slice — divergent docs score high and
    get filtered downstream. Train + score is one plan: reference groupBy,
    broadcast vocab join, broadcast 1-row (N, V) totals, per-doc re-agg;
    the corpus shuffles once (on doc_id, for the re-agg). The oracle
    retrains the same LM in DuckDB and must match all 500 scores at 6 dp.
    See :func:`..operators.text.lm_quality_scores`."""
    docs = load_table(spark, sf_dir, "documents")
    return text.lm_quality_scores(docs, docs.where(F.col("lang") == "en"))


@query(
    "stratified_sample_docs",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE (CAST(CONCAT('0x', substr(md5(CONCAT('strat:',
             CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 10000)
      < CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 10000
                  WHEN 'es' THEN 5000 WHEN 'de' THEN 0 ELSE -1 END
    """,
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 deterministic stratified sampling (``sampleBy`` semantics,
    engine-portable): keep 25% of 'en', 100% of 'zh', 50% of 'es', 0% of
    'de', drop strata absent from the map ('fr') — the caller-chosen
    mixture knob ("keep 10% of CommonCrawl, 100% of Wikipedia"). Every
    keep/drop decision is a pure function of (salt, doc_id) via the md5
    draw, so the oracle re-derives the exact sample row-for-row. Plan:
    one map-side CASE + integer compare folded into the scan — zero
    shuffle at any corpus size.
    See :func:`..operators.curation.stratified_sample`."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.stratified_sample(
        docs, "lang", "doc_id",
        {"en": 0.25, "zh": 1.0, "es": 0.5, "de": 0.0},
    ).select("doc_id", "lang", "source")


@query(
    "split_leakage_audit",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    g AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(ws)-1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gs
          FROM w WHERE len(ws) >= 3),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 ROUND(CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
                   / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))),
                   6) AS jaccard
          FROM g a JOIN g b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
            / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) >= 0.9),
    s AS (SELECT doc_a, doc_b,
                 CASE WHEN CAST(CONCAT('0x',
                        substr(md5(CAST(doc_a AS VARCHAR)), 1, 8)) AS BIGINT)
                        % 100 < 90 THEN 'train' ELSE 'test' END AS split_a,
                 CASE WHEN CAST(CONCAT('0x',
                        substr(md5(CAST(doc_b AS VARCHAR)), 1, 8)) AS BIGINT)
                        % 100 < 90 THEN 'train' ELSE 'test' END AS split_b,
                 jaccard
          FROM p)
    SELECT * FROM s WHERE split_a <> split_b
    """,
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 split hygiene: near-dup pairs STRADDLING the 90/10 train/test
    boundary — the leakage check a held-out split needs after any
    independent dedup pass (4 of the 25 planted near-dup pairs straddle at
    sf0.01). Pairs come from the prefix-filtered exact Jaccard join; each
    side's split membership is recomputed map-side from the pair ids (the
    split is a pure key function), so the audit costs nothing beyond the
    pair join. See :func:`..operators.curation.split_leakage_pairs`."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.split_leakage_pairs(
        docs, "doc_id", "text", test_frac=0.1, n=3, threshold=0.9
    )


@query(
    "corpus_rebalance_sources",
    oracle="""
    WITH c AS (SELECT source, COUNT(*) AS n,
                      MIN(COUNT(*)) OVER () AS min_n
               FROM documents GROUP BY source),
    kept AS (SELECT d.source, d.doc_id
             FROM documents d JOIN c USING (source)
             WHERE CAST(CONCAT('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 10000 < FLOOR(c.min_n * 10000 / c.n))
    SELECT c.source, c.n AS n_before, COUNT(kept.doc_id) AS n_kept
    FROM c LEFT JOIN kept USING (source)
    GROUP BY c.source, c.n
    """,
)
def corpus_rebalance_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform source-mixture rebalancing: every source downsampled to
    ≈ the smallest source's size by deterministic hash-thresholding
    (operators/curation.rebalance_to_min). The keep decision is a pure
    function of (doc_id, group sizes) — the oracle recomputes it and must
    select the exact same rows. One tiny count agg broadcasts back onto the
    scan; the corpus itself is filtered map-side, never shuffled."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_before"))
    kept = curation.rebalance_to_min(docs, "source", "doc_id").groupBy(
        "source"
    ).agg(F.count("*").alias("__k"))
    return (
        counts.join(kept, "source", "left")
        .select(
            "source", "n_before",
            F.coalesce(F.col("__k"), F.lit(0)).alias("n_kept"),
        )
    )


@query(
    "pii_redact_docs",
    oracle=r"""
    WITH synth AS (
      SELECT doc_id,
             CONCAT('contact user', doc_id, '@example.com or 555-',
                    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                    ' ssn 123-45-6789 ', substr(text, 1, 40)) AS text
      FROM documents),
    red AS (
      SELECT doc_id, text,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\d{3}-\d{2}-\d{4}', '<SSN>', 'g'),
               '\d{3}-\d{4}', '<PHONE>', 'g') AS redacted
      FROM synth)
    SELECT doc_id, redacted,
           len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g'),
               '\d{3}-\d{2}-\d{4}')) AS n_ssn,
           len(regexp_extract_all(
               regexp_replace(
                 regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
                 '\d{3}-\d{2}-\d{4}', '<SSN>', 'g'),
               '\d{3}-\d{4}')) AS n_phone
    FROM red
    """,
)
def pii_redact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 text hygiene: PII masking. The fixture corpus contains no PII, so
    the query PLANTS a deterministic email + phone + SSN per document
    (pure function of doc_id — the oracle synthesizes the identical text),
    then redacts with typed placeholders and per-rule hit counts. All
    chained regexp_replace/regexp_count: per-row codegen at scan speed,
    no shuffle, no Python (operators/text.pii_redact)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ssn 123-45-6789 "),
            # coalesce BEFORE concat: Spark's concat NULL-propagates while
            # DuckDB's CONCAT skips NULL args, so a NULL-text doc would
            # otherwise lose its entire planted row Spark-side only
            # (r8 hostile-corpus find)
            F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 40),
        ).alias("text"),
    )
    return text.pii_redact(docs).select(
        "doc_id", "redacted", "n_email", "n_ssn", "n_phone"
    )


@query(
    "bm25_rank_docs",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
               FROM documents),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                     AVG(len(ws)) AS avgdl FROM w),
    tf AS (SELECT doc_id, len(ws) AS dl, t.x AS term,
                  CAST(COUNT(*) AS DOUBLE) AS tf
           FROM w, unnest(ws) AS t(x)
           WHERE t.x IN ('spark', 'hash', 'window')
           GROUP BY 1, 2, 3),
    dft AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS dft
            FROM tf GROUP BY 1)
    SELECT tf.doc_id,
           ROUND(SUM(ln(1.0 + (stats.n - dft.dft + 0.5) / (dft.dft + 0.5))
                     * tf.tf * 2.2
                     / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))),
                 6) AS bm25
    FROM tf JOIN dft USING (term) CROSS JOIN stats
    GROUP BY tf.doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 10
    """,
)
def bm25_rank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 retrieval: Okapi BM25 top-10 for the query bag
    ['spark','hash','window'] (operators/text.bm25_scores). The explode is
    filtered to query-term hits BEFORE any shuffle, corpus stats reduce to
    one broadcast row, per-term dfs to |terms| broadcast rows — the corpus
    is scanned once and never shuffled at corpus size. Deterministic
    tiebreak (score desc, doc_id asc) keeps the top-10 exactly
    reproducible; scores round to 6 dp for cross-engine float parity."""
    docs = load_table(spark, sf_dir, "documents")
    scored = text.bm25_scores(docs, ["spark", "hash", "window"])
    return scored.orderBy(F.desc("bm25"), "doc_id").limit(10)


@query(
    "collated_distinct_words",
    oracle="""
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    SELECT COUNT(DISTINCT lower(word)) AS n_ci,
           COUNT(DISTINCT word)        AS n_cs
    FROM w WHERE word <> ''
    """,
)
def collated_distinct_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collation support: ``collate(col, 'UTF8_LCASE')`` makes
    case-insensitivity a property of the TYPE, so every downstream
    comparison/group/join/distinct on that column is case-insensitive
    JVM-side — no ``lower()`` wrapping at each use site, and the collation
    survives into shuffles and joins. Here: corpus vocabulary size under
    case-insensitive vs. binary collation (the fixture's words are ASCII,
    so the oracle's ``lower()`` is an exact stand-in for LCASE folding)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")
    return words.agg(
        F.count_distinct(F.collate("word", "UTF8_LCASE")).alias("n_ci"),
        F.count_distinct("word").alias("n_cs"),
    )


@query(
    "corpus_rebalance_temperature",
    oracle="""
    WITH c AS (SELECT source, COUNT(*) AS n,
                      MIN(COUNT(*)) OVER () AS min_n
               FROM documents GROUP BY source),
    kept AS (SELECT d.source, d.doc_id
             FROM documents d JOIN c USING (source)
             WHERE CAST(CONCAT('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 10000 < FLOOR(SQRT(CAST(c.min_n AS DOUBLE) / c.n) * 10000))
    SELECT c.source, c.n AS n_before, COUNT(kept.doc_id) AS n_kept
    FROM c LEFT JOIN kept USING (source)
    GROUP BY c.source, c.n
    """,
)
def corpus_rebalance_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8: temperature-smoothed mixture at α=0.5 — big sources damped to
    ∝√n, smallest source kept whole (operators/curation.
    rebalance_temperature). Every keep decision is a pure function of
    (doc_id, group sizes); the oracle recomputes the same md5 thresholding
    and must select the exact same rows."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_before"))
    kept = curation.rebalance_temperature(docs, "source", "doc_id", alpha=0.5)
    kept_n = kept.groupBy("source").agg(F.count("*").alias("__k"))
    return (
        counts.join(kept_n, "source", "left")
        .select(
            "source", "n_before",
            F.coalesce(F.col("__k"), F.lit(0)).alias("n_kept"),
        )
    )


@query(
    "interleave_sources_rr",
    oracle="""
    WITH s AS (SELECT source,
                      dense_rank() OVER (ORDER BY source) AS src_idx
               FROM (SELECT DISTINCT source FROM documents)),
         c AS (SELECT COUNT(*) AS n_src FROM s),
         d AS (SELECT doc_id, source,
                      row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
               FROM documents)
    SELECT CAST((d.rn - 1) AS BIGINT) * c.n_src + s.src_idx AS pos,
           d.doc_id, d.source
    FROM d JOIN s USING (source) CROSS JOIN c
    ORDER BY pos LIMIT 60
    """,
)
def interleave_sources_rr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8: deterministic round-robin source interleave — assign every doc a
    reproducible global training position cycling source₁, source₂, …,
    sourceₙ, source₁, … so a sequential reader sees a stable curriculum
    mix without any global sort.

    The trick that makes this 100 TB-safe: a naive global
    ``row_number() OVER (ORDER BY …)`` is a single-task window. Instead
    the position is CLOSED-FORM — ``pos = (rn-1)·n_src + src_idx`` where
    ``rn`` is the per-source row_number (shuffles only by source, n-way
    parallel) and ``src_idx``/``n_src`` come from a ~20-row dimension
    (broadcast; its dense_rank window runs on 20 rows, not the corpus).
    Writing ordered shards then needs only ``repartitionByRange(pos)`` +
    sortWithinPartitions — never a one-partition sort. The demo returns
    the first 60 positions (TakeOrderedAndProject)."""
    docs = load_table(spark, sf_dir, "documents")
    src = docs.select("source").distinct()
    src_idx = src.withColumn(
        "src_idx", F.dense_rank().over(Window.orderBy("source"))
    )
    n_src = src.agg(F.count("*").alias("n_src"))
    d = (
        docs.join(F.broadcast(src_idx), "source")
        .crossJoin(F.broadcast(n_src))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source").orderBy("doc_id")
            ),
        )
    )
    return (
        d.select(
            ((F.col("rn") - 1).cast("bigint") * F.col("n_src") + F.col("src_idx"))
            .alias("pos"),
            "doc_id",
            "source",
        )
        .orderBy("pos")
        .limit(60)
    )


# -------------------------------------------- K7: repeated-span removal (r4)


@query(
    "span_dedup_docs",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS ws
               FROM documents),
    chunks AS (
        SELECT doc_id, i AS ci, array_to_string(ws[i*8+1 : i*8+8], ' ') AS chunk
        FROM t, UNNEST(range(CAST(ceil(len(ws)/8.0) AS BIGINT))) AS u(i)
    ),
    freq AS (SELECT chunk, COUNT(*) AS n FROM chunks GROUP BY 1)
    SELECT c.doc_id,
           COALESCE(string_agg(c.chunk, ' ' ORDER BY c.ci)
                      FILTER (WHERE f.n <= 1), '') AS text_clean,
           COUNT(*)                                AS n_chunks,
           COUNT(*) FILTER (WHERE f.n > 1)         AS n_dropped
    FROM chunks c JOIN freq f USING (chunk)
    GROUP BY c.doc_id
    """,
)
def span_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 corpus-level repeated-span removal (RefinedWeb/C4 line-dedup
    recipe adapted to newline-free text): drop every 8-word span whose exact
    text occurs more than once across the corpus, reassemble the survivors
    in order. The oracle recomputes the whole pipeline — span extraction,
    corpus-wide frequency, filtered ordered reassembly — so the hash match
    certifies the cleaned TEXT byte-for-byte, not just counts.
    See :func:`..operators.curation.repeated_span_removal` for the scale
    notes (collapse barrier, fixed-width md5 count keys, single reassembly
    shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.repeated_span_removal(
        docs, id_col="doc_id", text_col="text", span_words=8, max_occurrences=1
    )


# ------------------------------------------- K8: deterministic shard shuffle


@query(
    "corpus_shuffle_shards",
    oracle="""
    WITH h AS (
        SELECT doc_id,
               CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 16 AS shard,
               CAST(CONCAT('0x', substr(md5(CONCAT('shuffle:',
                    CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) AS ord
        FROM documents
    )
    SELECT doc_id, shard,
           ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS pos
    FROM h
    """,
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 deterministic training-order shuffle: every doc gets a (shard,
    position) from two independent md5 draws of its key — reproducible on
    any engine (the oracle re-derives every row), stable under corpus
    appends, one window shuffle total. The per-row assignment is returned
    so the hash check certifies the full permutation.
    See :func:`..operators.curation.shuffle_shards`."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.shuffle_shards(docs, "doc_id", n_shards=16, salt="shuffle:")
