"""Keyword retrieval under the correctness gate: BM25-style ranked
search over the documents table.

Scoring is BM25 with the log replaced by its rational argument — the
idf odds ratio ``(N - df + 0.5) / (df + 0.5)`` used directly. The
variant is monotone in the same statistics (rank order per term is
identical to Robertson idf) and, unlike ``ln``, every operation in it is
an exactly-rounded IEEE op: transcendentals differ in the last ulp
between libm implementations, which would make a hash-compared oracle
flaky. Per-term scores are added in a FIXED explicit order on both
engines; document length normalization uses the corpus average length,
whose integer token-count sum is exact in doubles (< 2^53).

Scale: term stats are one tiny aggregate each (df per term via
conditional counts, one row broadcast); the scoring pass is a single
map-side projection over the corpus followed by a top-k — the same
shape as a production first-stage retriever (no inverted index needed
for a full-scan engine; at interactive latencies you'd build one, which
is exactly the ``vocab_top_tokens``-style posting shuffle)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from spark_data_engineering_spark.cacheutil import cached
from spark_data_engineering_spark.functions import numeric as NR
from spark_data_engineering_spark.registry import query
from spark_data_engineering_spark.sources import load_table

_TERMS = ("data", "model", "training")
_K1 = 1.2
_B = 0.75
_TOP = 20


def _sql_tf(term: str) -> str:
    return f"LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x = '{term}'))"


def _bm25_oracle(top: int = _TOP) -> str:
    tf_cols = ",\n               ".join(
        f"CAST({_sql_tf(t)} AS DOUBLE) AS tf{i}" for i, t in enumerate(_TERMS)
    )
    df_cols = ",\n               ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df{i}"
        for i in range(len(_TERMS))
    )
    per_term = [
        f"((n_docs - df{i} + 0.5) / (df{i} + 0.5))"
        f" * (tf{i} * ({_K1} + 1.0)"
        f" / (tf{i} + {_K1} * (1.0 - {_B} + {_B} * dl / avgdl)))"
        for i in range(len(_TERMS))
    ]
    # FIXED left-to-right addition order, mirrored in the Spark code
    score = " + ".join(per_term)
    return f"""
    WITH t AS (
        SELECT doc_id,
               CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) AS dl,
               {tf_cols}
        FROM documents
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               AVG(dl) AS avgdl,
               {df_cols}
        FROM t
    ),
    scored AS (
        SELECT doc_id,
               FLOOR(({score}) * 10000 + 0.5) / 10000 AS bm25
        FROM t, stats
        WHERE tf0 + tf1 + tf2 > 0
    )
    SELECT doc_id, bm25,
           CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= {top}
    """


@query("bm25_keyword_search", oracle=_bm25_oracle())
def bm25_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents for the query terms ('data', 'model',
    'training') under the log-free BM25 variant (module docstring) —
    deterministic ranking with doc_id tie-break, hash-matched against
    the full SQL replay of tf/df/avgdl and the fixed-order score
    sum."""
    d = load_table(spark, "documents", sf_dir)
    toks = F.split(F.col("text"), " ")

    def _tf(term):
        # factory, not a default arg: a two-parameter lambda would make
        # F.filter pass the element INDEX as the second argument
        return F.size(F.filter(toks, lambda x: x == F.lit(term))).cast("double")

    t = d.select(
        "doc_id",
        F.size(toks).cast("double").alias("dl"),
        *[_tf(term).alias(f"tf{i}") for i, term in enumerate(_TERMS)],
    )
    stats = t.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"df{i}")
            for i in range(len(_TERMS))
        ],
    )
    j = t.crossJoin(F.broadcast(stats)).filter(
        sum(F.col(f"tf{i}") for i in range(len(_TERMS))) > 0
    )
    per_term = [
        (
            (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5))
            / (F.col(f"df{i}") + F.lit(0.5))
        )
        * (
            F.col(f"tf{i}")
            * (_K1 + 1.0)
            / (
                F.col(f"tf{i}")
                + _K1 * (1.0 - _B + _B * F.col("dl") / F.col("avgdl"))
            )
        )
        for i in range(len(_TERMS))
    ]
    score = per_term[0]
    for p in per_term[1:]:
        score = score + p  # same left-to-right order as the oracle
    scored = j.select("doc_id", NR.round4(score).alias("bm25"))
    w = W.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP)
        .select("doc_id", "bm25", F.col("rank").cast("bigint").alias("rank"))
    )


def _built_index(spark: SparkSession, sf_dir: str):
    """The cached shared index build: ONE path for every consumer
    (queries + tests), so the root can never diverge between them."""
    from spark_data_engineering_spark.operators import text_index as _ti_mod
    from spark_data_engineering_spark.operators.text_index import TextIndex

    def build(tmp: str) -> None:
        TextIndex.build(load_table(spark, "documents", sf_dir), tmp)

    return TextIndex(
        cached(
            "textindex",
            "textindex",
            sf_dir,
            build,
            tables=("documents",),
            modules=(_ti_mod,),
        )
    )


@query("text_index_search", oracle=_bm25_oracle())
def text_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-index form of ``bm25_keyword_search``: build the
    inverted index once (term-clustered postings TxnTable + doc-lengths
    table, operators/text_index.py), reopen it with a fresh handle, and
    search the same terms — the result must hash-match the SAME
    full-scan SQL oracle bit for bit (identical log-free BM25, fixed
    addition order, exact 0.0 for absent terms). A search touches only
    the query terms' postings plus one skinny lengths aggregate — the
    interactive-latency path the full-scan docstring promises at
    scale."""
    return _built_index(spark, sf_dir).search(spark, _TERMS, k=_TOP)


_STAGE1_K = 50  # sparse candidates fed to the dense re-ranker
_RERANK_K = 10


def _hybrid_oracle() -> str:
    """Full SQL replay: BM25 top-{k1} candidates (same CTE as the
    keyword oracle) re-ranked by cosine to the query embedding
    (vec_id 0)."""
    base = _bm25_oracle(top=_STAGE1_K)
    return f"""
    WITH cand AS ({base})
    SELECT c.doc_id,
           c.bm25,
           FLOOR((LIST_COSINE_SIMILARITY(CAST(e.embedding AS DOUBLE[]),
                  CAST((SELECT embedding FROM embeddings WHERE vec_id = 0) AS DOUBLE[])))
                 * 10000 + 0.5) / 10000 AS cos_sim,
           CAST(ROW_NUMBER() OVER (
               ORDER BY FLOOR((LIST_COSINE_SIMILARITY(CAST(e.embedding AS DOUBLE[]),
                        CAST((SELECT embedding FROM embeddings WHERE vec_id = 0) AS DOUBLE[])))
                        * 10000 + 0.5) / 10000 DESC,
                        c.doc_id ASC) AS BIGINT) AS final_rank
    FROM cand c JOIN embeddings e ON c.doc_id = e.vec_id
    QUALIFY final_rank <= {_RERANK_K}
    """


@query("hybrid_search_rerank", oracle=_hybrid_oracle())
def hybrid_search_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage hybrid retrieval — the modern RAG-retriever shape:
    a SPARSE first stage (BM25 over the persisted inverted index,
    top-50 candidates at interactive cost) feeds a DENSE re-ranker
    (exact embedding cosine against the query vector, here vec_id 0's
    embedding standing in for an encoded query). The candidate cut
    bounds the expensive dense scoring to the candidate-cut size regardless of
    corpus size — first-stage recall is the knob, exactly how
    production retrieval stacks compose sparse and dense scores. Both
    stages are deterministic, so the whole pipeline hash-matches a full
    SQL replay (BM25 CTE + LIST_COSINE re-rank)."""
    from spark_data_engineering_spark.functions.vectors import cosine

    cand = _built_index(spark, sf_dir).search(spark, _TERMS, k=_STAGE1_K).select(
        "doc_id", "bm25"
    )
    emb = load_table(spark, "embeddings", sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("_qvec")
    )
    scored = (
        cand.join(emb, cand.doc_id == emb.vec_id)
        .crossJoin(F.broadcast(qvec))
        .withColumn("cos_sim", NR.round4(cosine(F.col("_qvec"), F.col("embedding"))))
    )
    w = W.orderBy(F.col("cos_sim").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("final_rank", F.row_number().over(w))
        .filter(F.col("final_rank") <= _RERANK_K)
        .select(
            "doc_id",
            "bm25",
            "cos_sim",
            F.col("final_rank").cast("bigint").alias("final_rank"),
        )
    )


# ---- reciprocal rank fusion (round 7) ----------------------------------
#
# The OTHER standard sparse+dense composition: where hybrid_search_rerank
# re-SCORES sparse candidates densely (cascade), RRF fuses the two
# systems' RANKINGS symmetrically — score = sum over systems of
# 1/(k0 + rank), k0 = 60 (Cormack & Clarke, SIGIR 2009) — which needs no
# score calibration between systems and is what search stacks run when
# the systems' score scales are incomparable. Rank arithmetic is
# integer, the two divisions and one addition are exactly-rounded IEEE
# ops, so the fused ordering is bit-stable cross-engine and the full
# pipeline hash-matches a SQL replay with no tolerance.

_RRF_K0 = 60.0
_RRF_TOP = 20


def _rrf_oracle() -> str:
    sparse = _bm25_oracle(top=_STAGE1_K)
    return f"""
    WITH sparse AS ({sparse}),
    dense AS (
        SELECT vec_id AS doc_id,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY FLOOR((LIST_COSINE_SIMILARITY(
                       CAST(embedding AS DOUBLE[]),
                       CAST((SELECT embedding FROM embeddings WHERE vec_id = 0)
                            AS DOUBLE[]))) * 10000 + 0.5) / 10000 DESC,
                   vec_id ASC) AS BIGINT) AS rank
        FROM embeddings
        QUALIFY rank <= {_STAGE1_K}
    ),
    fused AS (
        SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
               COALESCE(1.0 / ({_RRF_K0} + s.rank), 0.0)
                   + COALESCE(1.0 / ({_RRF_K0} + d.rank), 0.0) AS rrf
        FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
    )
    SELECT doc_id,
           FLOOR(rrf * 1000000 + 0.5) / 1000000 AS rrf_score,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id ASC) AS BIGINT)
               AS fused_rank
    FROM fused
    QUALIFY fused_rank <= {_RRF_TOP}
    """


@query("rrf_fusion_search", oracle=_rrf_oracle())
def rrf_fusion_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the persisted-index BM25 top-50 and the
    dense cosine top-50 (query = vec_id 0's embedding standing in for an
    encoded query; see block comment). The full outer join keeps docs
    either system found; a doc missed by one system contributes 0 from
    it — the standard RRF convention. Scale: both rankings are top-k
    cuts (the sparse side reads only the query terms' postings files;
    the dense side is one scan + top-k), and the fusion join is over
    2×k rows — constant work regardless of corpus size."""
    from spark_data_engineering_spark.functions.vectors import cosine

    sparse = _built_index(spark, sf_dir).search(spark, _TERMS, k=_STAGE1_K).select(
        "doc_id", F.col("rank").alias("rank_s")
    )
    emb = load_table(spark, "embeddings", sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("_qvec"))
    # Distributed top-k (orderBy+limit compiles to TakeOrderedAndProject
    # — per-partition heaps, no global-window single-partition shuffle);
    # the ranking window then runs over the 50-row cut only.
    topd = (
        emb.crossJoin(F.broadcast(qvec))
        .select(
            F.col("vec_id").alias("doc_id"),
            NR.round4(cosine(F.col("_qvec"), F.col("embedding"))).alias("_c"),
        )
        .orderBy(F.col("_c").desc(), F.col("doc_id").asc())
        .limit(_STAGE1_K)
    )
    wd = W.orderBy(F.col("_c").desc(), F.col("doc_id").asc())
    dense = topd.withColumn("rank_d", F.row_number().over(wd)).select(
        "doc_id", "rank_d"
    )
    fused = sparse.join(dense, "doc_id", "full_outer").withColumn(
        "rrf",
        F.coalesce(F.lit(1.0) / (F.lit(_RRF_K0) + F.col("rank_s")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K0) + F.col("rank_d")), F.lit(0.0)),
    )
    wf = W.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf))
        .filter(F.col("fused_rank") <= _RRF_TOP)
        .select(
            "doc_id",
            NR.round6(F.col("rrf")).alias("rrf_score"),
            F.col("fused_rank").cast("bigint").alias("fused_rank"),
        )
    )
