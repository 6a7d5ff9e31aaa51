"""Corpus-curation queries: the selection/packing stages that turn a raw
document table into training-ready data (no analog in the reference —
its ETL stops at reporting; SURVEY.md §2 extension surface).

All three queries are deterministic column arithmetic + window/group
shuffles — no UDFs, no driver state — so each has an exact DuckDB
oracle.

Scale notes:
- ``pack_sequences`` partitions the window by a shard key, so the
  cumulative-sum sort never sees more than one shard per task; shards
  are the unit of parallelism exactly as in a production packing job
  (one output file per shard). 8 shards here; at 100 TB you raise the
  shard count with the cluster, nothing else changes.
- ``corpus_curation_counts`` composes quality filter -> exact dedup ->
  split audit in one plan: the dedup window shuffles on the md5
  fingerprint (uniformly distributed — no skew by construction) and the
  final rollup is a partial-aggregated groupBy on (lang, split).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from spark_data_engineering_spark.cacheutil import scratch_dir
from spark_data_engineering_spark.functions import numeric as NR
from spark_data_engineering_spark.functions import text as TX
from spark_data_engineering_spark.queries.sampling import lcg_bucket
from spark_data_engineering_spark.registry import query
from spark_data_engineering_spark.sources import load_table

SEQ_BUDGET = 2048
N_SHARDS = 8


@query(
    "pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, doc_id % {N_SHARDS} AS shard,
             LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_tokens
      FROM documents
    ), o AS (
      SELECT doc_id, shard, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
      FROM t
    )
    SELECT doc_id,
           CAST(shard AS BIGINT) AS shard,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(tok_offset AS BIGINT) AS tok_offset,
           CAST(FLOOR(tok_offset / {SEQ_BUDGET}) AS BIGINT) AS seq_first,
           CAST(FLOOR((tok_offset + n_tokens - 1) / {SEQ_BUDGET}) AS BIGINT) AS seq_last
    FROM o
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing map (the GPT-style pretraining
    layout: concatenate every document's tokens within a shard, chunk
    into fixed {SEQ_BUDGET}-token windows). Emits, per document, the
    token offset inside its shard and the first/last sequence index it
    lands in — exactly the index a dataloader needs to materialize
    packed sequences without re-tokenizing.

    One shuffle (window partitioned by shard); cumulative sums are
    integer-exact, so the oracle replays them bit-for-bit.
    """
    d = load_table(spark, "documents", sf_dir)
    tokens = TX.token_count(F.col("text"))
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        d.select(
            "doc_id",
            (F.col("doc_id") % N_SHARDS).cast("bigint").alias("shard"),
            tokens.cast("bigint").alias("n_tokens"),
        )
        .withColumn("tok_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint"))
        .withColumn("seq_first", F.floor(F.col("tok_offset") / SEQ_BUDGET).cast("bigint"))
        .withColumn(
            "seq_last",
            F.floor((F.col("tok_offset") + F.col("n_tokens") - 1) / SEQ_BUDGET).cast("bigint"),
        )
    )


@query(
    "pack_documents_greedy",
    oracle=f"""
    WITH RECURSIVE t AS (
      SELECT doc_id,
             doc_id % {N_SHARDS} AS shard,
             LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_tokens,
             ROW_NUMBER() OVER (PARTITION BY doc_id % {N_SHARDS}
                                ORDER BY doc_id) AS rn
      FROM documents
    ), packed AS (
      SELECT shard, rn, doc_id, n_tokens, n_tokens AS fill, 0 AS pack_no
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.shard, t.rn, t.doc_id, t.n_tokens,
             CASE WHEN p.fill + t.n_tokens <= {SEQ_BUDGET}
                  THEN p.fill + t.n_tokens ELSE t.n_tokens END,
             CASE WHEN p.fill + t.n_tokens <= {SEQ_BUDGET}
                  THEN p.pack_no ELSE p.pack_no + 1 END
      FROM t JOIN packed p ON t.shard = p.shard AND t.rn = p.rn + 1
    )
    SELECT doc_id,
           CAST(shard AS BIGINT) AS shard,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(pack_no AS BIGINT) AS pack_no
    FROM packed
    """,
)
def pack_documents_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy NO-SPLIT packing (SFT layout: a document never straddles a
    window): per shard in doc_id order, a doc joins the current
    {SEQ_BUDGET}-token pack if it fits, else opens the next one. The
    decision chain is inherently sequential per shard — not a window
    cumsum — so the operator is an ``applyInPandas`` over the shard key
    (operators/packing.py::greedy_pack) shuffling only (doc_id, shard,
    n_tokens); the DuckDB oracle replays the identical recurrence with a
    recursive CTE. Shards are the parallelism unit, as in
    ``pack_sequences``."""
    from spark_data_engineering_spark.operators.packing import greedy_pack

    d = load_table(spark, "documents", sf_dir)
    slim = d.select(
        "doc_id",
        (F.col("doc_id") % N_SHARDS).cast("bigint").alias("shard"),
        TX.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
    )
    return greedy_pack(slim, budget=SEQ_BUDGET)


@query(
    "context_length_buckets",
    oracle="""
    WITH t AS (
      SELECT LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_tokens
      FROM documents
    )
    SELECT CAST(LENGTH(BIN(n_tokens)) AS BIGINT) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM t GROUP BY log2_bucket
    """,
)
def context_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram in power-of-two buckets (bucket k holds
    docs with 2^(k-1) <= n_tokens < 2^k) — the context-length profile
    that sizes packing budgets and truncation policy. The bucket index
    is ``length(bin(n))`` = floor(log2 n)+1: pure integer arithmetic,
    identical in both engines (float log2 would disagree at exact powers
    of two)."""
    d = load_table(spark, "documents", sf_dir)
    tokens = TX.token_count(F.col("text"))
    return (
        d.select(F.length(F.bin(tokens)).cast("bigint").alias("log2_bucket"),
                 tokens.cast("bigint").alias("n_tokens"))
        .groupBy("log2_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


@query(
    "corpus_curation_counts",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, text,
             LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_tok,
             LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                 x -> x IN ('the', 'a', 'and', 'of', 'to', 'in', 'is'))) AS n_stop,
             LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,;:!?]', '', 'g')) AS n_punct
      FROM documents
    ), q AS (
      SELECT doc_id, lang, text, n_tok,
             FLOOR(GREATEST(0.0, LEAST(1.0,
                 0.5 * LEAST(CAST(n_tok AS DOUBLE) / 100.0, 1.0)
               + 0.5 * (1.0 - CAST(n_punct AS DOUBLE)
                              / CAST(GREATEST(LENGTH(text), 1) AS DOUBLE))
               - 0.2 * (CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE))
             )) * 10000 + 0.5) / 10000 AS quality
      FROM t
    ), kept AS (
      SELECT doc_id, lang, n_tok,
             ROW_NUMBER() OVER (PARTITION BY MD5(text) ORDER BY doc_id) AS rn
      FROM q WHERE quality >= 0.5
    )
    SELECT lang,
           CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
    FROM (SELECT lang, n_tok,
                 ((doc_id % 100000007) * 1103515245 + 12345) % 100 AS b
          FROM kept WHERE rn = 1) s
    GROUP BY lang, split
    """,
)
def corpus_curation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation audit: quality-filter (score >= 0.5) -> exact
    dedup (md5 fingerprint, keep lowest doc_id) -> 80/10/10 split ->
    docs/tokens per (lang, split). The one-query composition of the
    pipeline's selection stages, with every stage replayed exactly by
    the oracle — quality heuristic from functions/text.py, split LCG
    from queries/sampling.py."""
    d = load_table(spark, "documents", sf_dir)
    tokens = TX.token_count(F.col("text"))
    scored = d.select(
        "doc_id",
        "lang",
        "text",
        tokens.cast("bigint").alias("n_tok"),
        TX.quality_score(F.col("text")).alias("quality"),
    ).filter(F.col("quality") >= 0.5)
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    kept = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    b = lcg_bucket(F.col("doc_id"))
    split = F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    return (
        kept.select("lang", "n_tok", split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
        )
    )


@query(
    "benchmark_contamination",
    oracle="""
    WITH sh AS (
        SELECT doc_id AS _id,
               UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
                   RANGE(LEN(STRING_SPLIT(text, ' ')) - 2),
                   i -> STRING_SPLIT(text, ' ')[i + 1] || ' ' ||
                        STRING_SPLIT(text, ' ')[i + 2] || ' ' ||
                        STRING_SPLIT(text, ' ')[i + 3]))) AS shingle
        FROM documents
    ),
    bench AS (SELECT _id, shingle FROM sh WHERE _id % 20 = 0),
    vocab AS (SELECT DISTINCT shingle FROM sh WHERE _id % 20 <> 0)
    SELECT b._id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN v.shingle IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_overlap,
           FLOOR((SUM(CASE WHEN v.shingle IS NOT NULL THEN 1 ELSE 0 END)
                  * 100.0 / COUNT(*)) * 100 + 0.5) / 100 AS contamination_pct
    FROM bench b LEFT JOIN vocab v USING (shingle)
    GROUP BY b._id
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: every 20th doc plays the role of
    a benchmark/eval document; its word-3-gram containment in the rest
    of the corpus is the contamination score (operators/dedup.py
    containment_scores). The corpus has planted near/exact duplicates,
    so some bench docs show ~100% containment — exactly what a
    decontamination pass would flag and strip before training."""
    from spark_data_engineering_spark.operators import dedup as D

    docs = load_table(spark, "documents", sf_dir)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return D.containment_scores(corpus, bench)


CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


@query(
    "chunk_documents",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
               CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               UNNEST(RANGE(0, CAST(CEIL(
                   GREATEST(CAST(n_tokens - {CHUNK_TOKENS} AS DOUBLE), 0)
                   / {CHUNK_STRIDE}) AS BIGINT) + 1)) AS chunk_idx
        FROM t
    )
    SELECT c.doc_id,
           CAST(c.chunk_idx AS BIGINT) AS chunk_idx,
           CAST(LEAST(CAST({CHUNK_TOKENS} AS BIGINT),
                      c.n_tokens - c.chunk_idx * {CHUNK_STRIDE}) AS BIGINT)
               AS n_chunk_tokens,
           md5(ARRAY_TO_STRING(
               LIST_SLICE(t.toks, c.chunk_idx * {CHUNK_STRIDE} + 1,
                          c.chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}),
               ' ')) AS chunk_fp
    FROM c JOIN t ON c.doc_id = t.doc_id
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document into {CHUNK_TOKENS}
    -token chunks with {CHUNK_TOKENS - CHUNK_STRIDE}-token overlap (the
    stride-chunking every pretraining tokenizer pipeline runs). Emits one
    row per chunk with its md5 fingerprint so downstream chunk-level
    dedup can key on it. Pure arithmetic + explode — one Generate, no
    shuffle at all until a consumer aggregates; chunk count per doc is
    ceil(max(n-{CHUNK_TOKENS},0)/{CHUNK_STRIDE})+1, so every token lands
    in ≥1 chunk and short docs yield exactly one."""
    docs = load_table(spark, "documents", sf_dir)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks).cast("bigint")
    n_chunks = (
        F.ceil(F.greatest(n - F.lit(CHUNK_TOKENS), F.lit(0)).cast("double") / CHUNK_STRIDE)
        .cast("bigint")
        + 1
    )
    d = docs.select(
        "doc_id", toks.alias("toks"), n.alias("n_tokens"), n_chunks.alias("n_chunks")
    )
    c = d.select(
        "doc_id",
        "toks",
        "n_tokens",
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("n_chunks") - 1)).alias(
            "chunk_idx"
        ),
    )
    start = F.col("chunk_idx") * CHUNK_STRIDE
    return c.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.least(F.lit(CHUNK_TOKENS).cast("bigint"), F.col("n_tokens") - start)
        .cast("bigint")
        .alias("n_chunk_tokens"),
        F.md5(
            F.concat_ws(" ", F.slice(F.col("toks"), (start + 1).cast("int"), CHUNK_TOKENS))
        ).alias("chunk_fp"),
    )


@query(
    "boilerplate_chunks",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
               CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               UNNEST(RANGE(0, CAST(CEIL(
                   GREATEST(CAST(n_tokens - {CHUNK_TOKENS} AS DOUBLE), 0)
                   / {CHUNK_STRIDE}) AS BIGINT) + 1)) AS chunk_idx
        FROM t
    ),
    fp AS (
        SELECT c.doc_id,
               md5(ARRAY_TO_STRING(
                   LIST_SLICE(t.toks, c.chunk_idx * {CHUNK_STRIDE} + 1,
                              c.chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}),
                   ' ')) AS chunk_fp
        FROM c JOIN t ON c.doc_id = t.doc_id
    )
    SELECT chunk_fp,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM fp
    GROUP BY chunk_fp
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level boilerplate detection: chunks whose fingerprint
    recurs in ≥2 DISTINCT documents (headers, licence blocks, templated
    spans — removable without dropping whole docs; the chunk-granular
    pass doc-level dedup can't do). One fingerprint shuffle with
    map-side partial agg over the zero-shuffle chunker."""
    chunks = chunk_documents(spark, sf_dir)
    return (
        chunks.groupBy("chunk_fp")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .select("chunk_fp", "n_occurrences", "n_docs", "first_doc")
    )


# classifier drop threshold for the precedence chain: the low tail of the
# learned score (22 of 500 docs at sf0.01 — the "worst ~5%" cut every
# classifier-gated pipeline runs). Compared on the ROUNDED score so both
# engines decide identically.
_CLF_DROP = 0.428


def _curation_oracle() -> str:
    from spark_data_engineering_spark.queries.quality import _CLF_SQL_CTES

    return f"""
    WITH {_CLF_SQL_CTES},
    t AS (
      SELECT doc_id, text,
             md5(text) AS fp,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
             LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS n_distinct,
             LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_tok,
             LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                 x -> x IN ('the', 'a', 'and', 'of', 'to', 'in', 'is'))) AS n_stop,
             LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,;:!?]', '', 'g')) AS n_punct
      FROM documents
    ),
    s AS (
      SELECT doc_id, n_tokens,
             CASE WHEN doc_id > MIN(doc_id) OVER (PARTITION BY fp) THEN 1 ELSE 0 END AS is_dup,
             FLOOR((1.0 - CAST(n_distinct AS DOUBLE) / n_tokens) * 10000 + 0.5) / 10000
                 AS dup_token_frac,
             FLOOR(GREATEST(0.0, LEAST(1.0,
                 0.5 * LEAST(CAST(n_tok AS DOUBLE) / 100.0, 1.0)
               + 0.5 * (1.0 - CAST(n_punct AS DOUBLE)
                              / CAST(GREATEST(LENGTH(text), 1) AS DOUBLE))
               - 0.2 * (CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE))
             )) * 10000 + 0.5) / 10000 AS quality
      FROM t
    )
    SELECT s.doc_id,
           s.n_tokens,
           s.dup_token_frac,
           s.quality,
           clf.clf_score,
           CASE WHEN s.is_dup = 1 THEN 'drop:duplicate'
                WHEN s.n_tokens < 20 THEN 'drop:too_short'
                WHEN s.dup_token_frac > 0.65 THEN 'drop:repetitive'
                WHEN s.quality < 0.5 THEN 'drop:low_quality'
                WHEN clf.clf_score < {_CLF_DROP} THEN 'drop:classifier'
                ELSE 'keep' END AS decision
    FROM s LEFT JOIN clf ON s.doc_id = clf.doc_id
    """


@query("curation_decisions", oracle=_curation_oracle())
def curation_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE end-to-end curation verdict: one row per document with a
    keep/drop decision and the reason, composing the oracle-proven
    signals — exact-dup canonicalization (min doc_id per md5), length
    floor, token-repetition ratio, the composite heuristic quality
    score, and (new in round 6, VERDICT r5 task 4) the LEARNED
    classifier tier (``doc_classifier_scores``) — under a fixed
    precedence (duplicate > too_short > repetitive > low_quality >
    classifier). Rules fire first because they are cheap and
    explainable; the classifier catches what rules can't, at the
    bottom of the chain — the production ordering. This is the table a
    training-data pipeline actually materializes; every signal is
    deterministic column arithmetic, so the full verdict hash-matches
    the SQL replay.

    Scale: one window shuffle on the 16-byte fingerprint (uniform) for
    canonicalization, one doc_id shuffle to join the classifier score,
    plus the classifier's own train+apply passes; everything else is
    map-side."""
    from spark_data_engineering_spark.queries.quality import classifier_scores

    d = load_table(spark, "documents", sf_dir)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks).cast("bigint")
    base = d.select(
        "doc_id",
        "text",
        F.md5("text").alias("fp"),
        n.alias("n_tokens"),
        NR.round4(
            1.0 - F.size(F.array_distinct(toks)).cast("double") / n
        ).alias("dup_token_frac"),
        TX.quality_score(F.col("text")).alias("quality"),
    )
    clf = classifier_scores(d).select("doc_id", "clf_score")
    base = base.join(clf, "doc_id", "left")
    is_dup = (
        F.col("doc_id") > F.min("doc_id").over(W.partitionBy("fp"))
    )
    decision = (
        F.when(is_dup, "drop:duplicate")
        .when(F.col("n_tokens") < 20, "drop:too_short")
        .when(F.col("dup_token_frac") > 0.65, "drop:repetitive")
        .when(F.col("quality") < 0.5, "drop:low_quality")
        .when(F.col("clf_score") < _CLF_DROP, "drop:classifier")
        .otherwise("keep")
    )
    return base.select(
        "doc_id",
        "n_tokens",
        "dup_token_frac",
        "quality",
        "clf_score",
        decision.alias("decision"),
    )


SEG_TOKENS = 16  # disjoint segments -> unambiguous reassembly


@query(
    "scrub_boilerplate_segments",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
               CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    s AS (
        SELECT doc_id, n_tokens,
               UNNEST(RANGE(0, CAST(CEIL(CAST(n_tokens AS DOUBLE)
                   / {SEG_TOKENS}) AS BIGINT))) AS seg_idx
        FROM t
    ),
    seg AS (
        SELECT s.doc_id, s.seg_idx,
               ARRAY_TO_STRING(LIST_SLICE(t.toks, s.seg_idx * {SEG_TOKENS} + 1,
                               s.seg_idx * {SEG_TOKENS} + {SEG_TOKENS}), ' ') AS seg_text
        FROM s JOIN t ON s.doc_id = t.doc_id
    ),
    dup AS (
        SELECT md5(seg_text) AS fp
        FROM seg GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    flagged AS (
        SELECT seg.doc_id, seg.seg_idx, seg.seg_text,
               (dup.fp IS NOT NULL) AS is_dup
        FROM seg LEFT JOIN dup ON md5(seg.seg_text) = dup.fp
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(LENGTH(COALESCE(
               STRING_AGG(seg_text, ' ' ORDER BY seg_idx)
                   FILTER (WHERE NOT is_dup), '')) AS BIGINT) AS clean_chars,
           md5(COALESCE(STRING_AGG(seg_text, ' ' ORDER BY seg_idx)
                   FILTER (WHERE NOT is_dup), '')) AS clean_fp
    FROM flagged
    GROUP BY doc_id
    """,
)
def scrub_boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup REWRITE (the step after detection): split
    every document into disjoint {SEG_TOKENS}-token segments, drop the
    segments whose fingerprint recurs in >=2 distinct documents
    (licence blocks, templated spans), and reassemble each document
    from its surviving segments in order — the corpus-scrubbing pass of
    Lee et al.'s "Deduplicating Training Data" applied with disjoint
    windows so reassembly is unambiguous. Emits per-doc segment counts
    plus the md5 of the cleaned text so the rewrite itself is
    hash-verified. Plan: zero-shuffle segmenting (explode over
    sequence), then is_dup via a WINDOW over the fingerprint — the
    segmentation runs ONCE and shuffles once on fp (the agg+self-join
    alternative re-tokenized the whole corpus a second time), then one
    doc-keyed reassembly agg. Two exchanges total, all JVM built-ins,
    no broadcast assumption on the dup set."""
    docs = load_table(spark, "documents", sf_dir)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks).cast("bigint")
    d = docs.select("doc_id", toks.alias("toks"), n.alias("n_tokens"))
    segs = (
        d.select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(
                    F.lit(0).cast("bigint"),
                    F.ceil(F.col("n_tokens").cast("double") / SEG_TOKENS).cast("bigint")
                    - 1,
                )
            ).alias("seg_idx"),
        )
        .select(
            "doc_id",
            "seg_idx",
            F.concat_ws(
                " ", F.slice(F.col("toks"), (F.col("seg_idx") * SEG_TOKENS + 1).cast("int"), SEG_TOKENS)
            ).alias("seg_text"),
        )
        .withColumn("fp", F.md5(F.col("seg_text")))
    )
    # boilerplate = fp seen in >=2 distinct docs; a window keeps the
    # segmentation single-pass (collect_set per fp stays small: it holds
    # distinct DOC ids of one fingerprint, and extreme fps are exactly
    # the boilerplate being dropped — cap-able via the same hot-bucket
    # guardrail pattern as lsh_candidate_pairs if ever needed)
    wfp = W.partitionBy("fp")
    flagged = segs.withColumn(
        "is_dup", F.size(F.collect_set("doc_id").over(wfp)) >= 2
    )
    kept_sorted = F.transform(
        F.filter(
            F.sort_array(F.collect_list(F.struct("seg_idx", "is_dup", "seg_text"))),
            lambda x: ~x["is_dup"],
        ),
        lambda x: x["seg_text"],
    )
    clean_text = F.array_join(kept_sorted, " ")
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("bigint").alias("n_dropped"),
        F.length(clean_text).cast("bigint").alias("clean_chars"),
        F.md5(clean_text).alias("clean_fp"),
    )


@query(
    "export_training_shards",
    oracle=f"""
    SELECT CAST(doc_id % {N_SHARDS} AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) AS BIGINT)
               AS n_tokens,
           CAST(SUM(CAST(('0x' || SUBSTR(MD5(text), 1, 8)) AS BIGINT)) AS BIGINT)
               AS content_crc,
           MIN(MD5(text)) AS min_md5,
           MAX(MD5(text)) AS max_md5
    FROM documents
    GROUP BY 1
    """,
)
def export_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data EXPORT sink under the oracle gate: documents
    are written to shard-partitioned parquet (deterministic
    ``doc_id % {N_SHARDS}`` assignment — the layout a dataloader
    consumes shard-by-shard), then the manifest is computed by reading
    the WRITTEN files back. The oracle aggregates the same manifest
    from the source table, so a row lost, duplicated, or corrupted
    anywhere in the write+read round-trip is a hash mismatch:
    ``content_crc`` is an order-independent sum of each doc's md5
    prefix (integer-exact), bracketed by min/max md5.

    Scale shape: one shuffle on the shard key for the write (at real
    scale use ``repartition(n, "shard")`` for multiple files per
    shard), one read-back aggregate scan for the manifest — the
    standard export-then-verify pattern for corpus delivery."""
    out = scratch_dir("export", prefix="shards-")
    d = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        "text",
        (F.col("doc_id") % N_SHARDS).cast("bigint").alias("shard"),
    )
    d.repartition("shard").write.partitionBy("shard").mode("overwrite").parquet(
        f"{out}/data"
    )
    back = spark.read.parquet(f"{out}/data")
    crc = F.conv(F.substring(F.md5(F.col("text").cast("binary")), 1, 8), 16, 10).cast(
        "bigint"
    )
    return back.groupBy(F.col("shard").cast("bigint").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TX.token_count(F.col("text"))).cast("bigint").alias("n_tokens"),
        F.sum(crc).alias("content_crc"),
        F.min(F.md5(F.col("text").cast("binary"))).alias("min_md5"),
        F.max(F.md5(F.col("text").cast("binary"))).alias("max_md5"),
    )


# ---- deterministic global training-order shuffle (VERDICT r5 task 5) --
#
# export_training_shards delivers shards whose READ order is storage
# order — fine for audit, wrong for training, where the dataloader wants
# one reproducible global shuffle of the corpus. The shuffle here is the
# mixture_sample_counts keyed-LCG trick promoted to an ORDER: each doc
# gets a seeded pseudorandom key, the global training order is
# (shuffle_key, doc_id), and shards are CONTIGUOUS RANGES OF KEY SPACE —
# shard k holds exactly the k-th block of the global order, so reading
# shards 0..N-1 in sequence replays the full shuffled corpus, and no
# global row_number ever materializes (per-shard rank offsets come from
# an N_SHARDS-row cumulative window over the manifest, not the data).
# Key-space sharding is also STABLE: a doc's shard and its relative
# order are pure functions of doc_id, unchanged when the corpus grows
# (an ntile/row_number shard would reshuffle everything on every
# append) — pytest-pinned in tests/test_export_shuffle.py.
_SHUF_MOD = 1000000007


def shuffle_key(key):
    """Seeded pseudorandom but deterministic order key (LCG over a prime
    modulus; same overflow-safety bound as ``lcg_bucket`` — the reduced
    key is < 1e8, times 1103515245 stays under 2^63)."""
    return ((key % 100000007) * 1103515245 + 12345) % _SHUF_MOD


@query(
    "export_shuffled_shards",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
             ((doc_id % 100000007) * 1103515245 + 12345) % {_SHUF_MOD} AS skey
      FROM documents
    ),
    s AS (
      SELECT doc_id, text, skey,
             CAST((skey * {N_SHARDS}) // {_SHUF_MOD} AS BIGINT) AS shard
      FROM t
    ),
    m AS (
      SELECT shard,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(MIN(skey) AS BIGINT) AS min_key,
             CAST(MAX(skey) AS BIGINT) AS max_key,
             CAST(SUM(skey) AS BIGINT) AS key_crc,
             CAST(SUM(CAST(('0x' || SUBSTR(MD5(text), 1, 8)) AS BIGINT)) AS BIGINT)
                 AS content_crc
      FROM s GROUP BY shard
    )
    SELECT shard, n_docs, min_key, max_key, key_crc, content_crc,
           CAST(COALESCE(SUM(n_docs) OVER (ORDER BY shard
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS rank_lo,
           CAST(COALESCE(SUM(n_docs) OVER (ORDER BY shard
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + n_docs - 1 AS BIGINT) AS rank_hi
    FROM m
    """,
)
def export_shuffled_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export with a reproducible GLOBAL training order (see the block
    comment above): docs are written shard-partitioned and sorted by
    (shuffle_key, doc_id) within each shard; the manifest — computed
    from the READ-BACK files, like ``export_training_shards`` — records
    per shard the doc count, the key range it owns, order-independent
    key/content checksums, and the global rank interval
    [rank_lo, rank_hi] each shard covers. Intervals are disjoint and
    consecutive BY CONSTRUCTION (cumulative sum over the shard summary),
    which the oracle re-derives from the source table — any write-side
    loss, duplication, or misassignment breaks the hash.

    Scale: one shuffle on the shard key for the write (key space is
    uniform, so shards balance), one read-back aggregate, and an
    N_SHARDS-row window — the corpus itself is never globally sorted or
    row-numbered on one machine."""
    out = scratch_dir("export", prefix="shuffled-")
    skey = shuffle_key(F.col("doc_id"))
    d = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        "text",
        skey.alias("skey"),
        ((skey * N_SHARDS) / F.lit(_SHUF_MOD)).cast("bigint").alias("shard"),
    )
    (
        d.repartition("shard")
        .sortWithinPartitions("skey", "doc_id")
        .write.partitionBy("shard")
        .mode("overwrite")
        .parquet(f"{out}/data")
    )
    back = spark.read.parquet(f"{out}/data")
    crc = F.conv(F.substring(F.md5(F.col("text").cast("binary")), 1, 8), 16, 10).cast(
        "bigint"
    )
    m = back.groupBy(F.col("shard").cast("bigint").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("skey").cast("bigint").alias("min_key"),
        F.max("skey").cast("bigint").alias("max_key"),
        F.sum("skey").cast("bigint").alias("key_crc"),
        F.sum(crc).alias("content_crc"),
    )
    # N_SHARDS-row frame: the single-partition window is over the
    # manifest summary, never the corpus
    cum = W.orderBy("shard").rowsBetween(W.unboundedPreceding, -1)
    rank_lo = F.coalesce(F.sum("n_docs").over(cum), F.lit(0)).cast("bigint")
    return m.select(
        "shard",
        "n_docs",
        "min_key",
        "max_key",
        "key_crc",
        "content_crc",
        rank_lo.alias("rank_lo"),
        (rank_lo + F.col("n_docs") - 1).cast("bigint").alias("rank_hi"),
    )


# ---- line-format (JSONL) export under the same manifest gate ----------
#
# Parquet shards audit well but trainers mostly consume LINE formats
# (JSONL / WebDataset). The hard part — the read-back manifest whose
# order-independent md5-prefix crc must equal the source-side aggregate
# — carries over unchanged; what's new under test is the JSON
# encode/decode round-trip itself (escaping, unicode, embedded
# newlines), which the manifest now covers end-to-end: the crc is
# computed from the PARSED text of the re-read lines, so any character
# the writer mangles or the reader mis-unescapes is a hash mismatch.
# Byte-level escaping edge cases (quotes, backslashes, \n, emoji,
# control chars) are additionally round-trip-pinned in
# tests/test_export_jsonl.py.


@query(
    "export_jsonl_shards",
    oracle=f"""
    SELECT CAST(doc_id % {N_SHARDS} AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) AS BIGINT)
               AS n_tokens,
           CAST(SUM(CAST(('0x' || SUBSTR(MD5(text), 1, 8)) AS BIGINT)) AS BIGINT)
               AS content_crc,
           MIN(MD5(text)) AS min_md5,
           MAX(MD5(text)) AS max_md5
    FROM documents
    GROUP BY 1
    """,
)
def export_jsonl_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data export as shard-partitioned JSONL (one JSON object
    per line — the format LLM dataloaders actually stream), gated by
    the same read-back manifest as ``export_training_shards``: the
    oracle aggregates doc counts, token counts and order-independent
    md5-prefix checksums from the SOURCE table, while this query
    computes them from the text PARSED OUT of the re-read JSONL files —
    a row lost in the write, a mis-escaped quote, or a unicode mangle
    anywhere in the encode/decode loop breaks the hash.

    Scale shape: identical to the parquet sink — one shuffle on the
    shard key for the write, one read-back scan for the manifest; the
    JSON codec is JVM-side (native ``json`` writer/reader), and the
    explicit read schema avoids an inference pass over the export."""
    out = scratch_dir("export", prefix="jsonl-")
    d = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        "text",
        (F.col("doc_id") % N_SHARDS).cast("bigint").alias("shard"),
    )
    d.repartition("shard").write.partitionBy("shard").mode("overwrite").json(
        f"{out}/data"
    )
    back = spark.read.schema("doc_id bigint, text string").json(f"{out}/data")
    crc = F.conv(F.substring(F.md5(F.col("text").cast("binary")), 1, 8), 16, 10).cast(
        "bigint"
    )
    return back.groupBy(F.col("shard").cast("bigint").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TX.token_count(F.col("text"))).cast("bigint").alias("n_tokens"),
        F.sum(crc).alias("content_crc"),
        F.min(F.md5(F.col("text").cast("binary"))).alias("min_md5"),
        F.max(F.md5(F.col("text").cast("binary"))).alias("max_md5"),
    )


# ---- WebDataset (tar) export under the same manifest gate -------------
#
# The second line format trainers consume: each shard is ONE tar whose
# members are per-sample files sharing a basename stem
# (`{doc_id:012d}.txt` + `.json` sidecar — the WebDataset layout
# webdataset/webdataset reads natively). Tar assembly is
# executor-side: one applyInPandas task per shard builds the archive
# in memory with pinned metadata (mtime=0, uid/gid=0) so shard bytes
# are deterministic, then writes it — exactly how WebDataset shards
# are produced on a real cluster (each task owns one shard file on
# shared storage). The manifest again comes from the READ-BACK tars
# (binaryFile source -> Arrow tar parse -> aggregate), so a truncated
# archive, a lost member, or a mangled payload is a hash mismatch.


def _tar_shard_bytes(ids, texts) -> bytes:
    """Deterministic WebDataset tar: members sorted by doc_id, pinned
    metadata, `.txt` payload + `.json` sidecar per sample."""
    import io
    import json as _json
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tar:
        for doc_id, text in sorted(zip(ids, texts)):
            for ext, payload in (
                ("txt", str(text).encode("utf-8")),
                ("json", _json.dumps({"doc_id": int(doc_id)}).encode()),
            ):
                info = tarfile.TarInfo(name=f"{int(doc_id):012d}.{ext}")
                info.size = len(payload)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                tar.addfile(info, io.BytesIO(payload))
    return buf.getvalue()


@query(
    "export_webdataset_shards",
    oracle=f"""
    SELECT CAST(doc_id % {N_SHARDS} AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) AS BIGINT)
               AS n_tokens,
           CAST(SUM(CAST(('0x' || SUBSTR(MD5(text), 1, 8)) AS BIGINT)) AS BIGINT)
               AS content_crc,
           MIN(MD5(text)) AS min_md5,
           MAX(MD5(text)) AS max_md5
    FROM documents
    GROUP BY 1
    """,
)
def export_webdataset_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data export as WebDataset tar shards (see block comment),
    verified end-to-end: the returned manifest is aggregated from text
    RE-PARSED OUT OF THE WRITTEN TAR BYTES (binaryFile read of each
    shard, Arrow-batched tarfile walk), while the oracle aggregates the
    same numbers from the source table. Everything between — shard
    assignment, tar member framing, utf-8 encode/decode — is inside the
    hash.

    Scale: one shuffle groups each shard's docs onto one task (shard
    count sized so a shard fits a task — the WebDataset norm of ~1 GB
    tars), tar assembly is streaming within the task, and the manifest
    pass reads each tar once, in parallel, member-walking without
    extraction."""
    import os as _os

    import pandas as _pd

    out = scratch_dir("export", prefix="wds-")

    def write_shard(pdf: _pd.DataFrame) -> _pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        data = _tar_shard_bytes(pdf["doc_id"], pdf["text"])
        path = f"{out}/shard-{shard:05d}.tar"
        with open(f"{path}.tmp", "wb") as f:
            f.write(data)
        _os.replace(f"{path}.tmp", path)  # atomic publish per shard
        return _pd.DataFrame({"shard": [shard], "n_written": [len(pdf)]})

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", (F.col("doc_id") % N_SHARDS).cast("bigint").alias("shard")
    )
    d.groupBy("shard").applyInPandas(
        write_shard, "shard bigint, n_written bigint"
    ).write.format("noop").mode("overwrite").save()

    def parse_tars(batches):
        import io
        import tarfile

        for pdf in batches:
            rows = {"shard": [], "doc_id": [], "text": []}
            for _, r in pdf.iterrows():
                shard = int(r["path"].rsplit("shard-", 1)[1][:5])
                with tarfile.open(fileobj=io.BytesIO(r["content"])) as tar:
                    for m in tar.getmembers():
                        if not m.name.endswith(".txt"):
                            continue
                        rows["shard"].append(shard)
                        rows["doc_id"].append(int(m.name[:12]))
                        rows["text"].append(
                            tar.extractfile(m).read().decode("utf-8")
                        )
            yield _pd.DataFrame(rows)

    back = (
        spark.read.format("binaryFile")
        .load(f"{out}/shard-*.tar")
        .select("path", "content")
        .mapInPandas(parse_tars, "shard bigint, doc_id bigint, text string")
    )
    crc = F.conv(F.substring(F.md5(F.col("text").cast("binary")), 1, 8), 16, 10).cast(
        "bigint"
    )
    return back.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TX.token_count(F.col("text"))).cast("bigint").alias("n_tokens"),
        F.sum(crc).alias("content_crc"),
        F.min(F.md5(F.col("text").cast("binary"))).alias("min_md5"),
        F.max(F.md5(F.col("text").cast("binary"))).alias("max_md5"),
    )


_BATCH_SIZE = 32
_BUCKET_BOUNDS = (16, 32, 64, 96)  # token-count bucket upper edges (corpus spans 10-99)


@query(
    "padding_efficiency_report",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_tokens
        FROM documents
    ),
    b AS (
        SELECT doc_id, n_tokens,
               CASE WHEN n_tokens <= 16 THEN 0
                    WHEN n_tokens <= 32 THEN 1
                    WHEN n_tokens <= 64 THEN 2
                    WHEN n_tokens <= 96 THEN 3
                    ELSE 4 END AS bucket
        FROM t
    ),
    batched AS (
        SELECT bucket, n_tokens,
               CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) - 1)
                          / {_BATCH_SIZE}) AS BIGINT) AS batch
        FROM b
    ),
    per_batch AS (
        SELECT bucket, batch, COUNT(*) AS bn, MAX(n_tokens) AS bmax, SUM(n_tokens) AS btok
        FROM batched GROUP BY bucket, batch
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(bn) AS BIGINT) AS n_docs,
           CAST(SUM(btok) AS BIGINT) AS total_tokens,
           CAST(SUM(bmax * bn) AS BIGINT) AS padded_tokens,
           FLOOR((CAST(SUM(btok) AS DOUBLE) / SUM(bmax * bn)) * 10000 + 0.5) / 10000
               AS efficiency
    FROM per_batch
    GROUP BY bucket
    """,
)
def padding_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit — the padding-waste accounting an
    inference/training dataloader runs before choosing bucket edges:
    docs are bucketed by token count ({_BUCKET_BOUNDS} edges), batched
    {_BATCH_SIZE} at a time within each bucket (deterministic doc_id
    order), and each batch pads every member to its max length. The
    report gives per-bucket padded-vs-real token volume and efficiency
    — integer-exact except the final round-4 ratio, so the SQL replay
    hash-matches. Plan: one window per bucket partition + two partial-
    agg-friendly aggregations; no joins."""
    d = load_table(spark, "documents", sf_dir)
    toks = TX.token_count(F.col("text")).cast("bigint")
    bucket = (
        F.when(toks <= _BUCKET_BOUNDS[0], 0)
        .when(toks <= _BUCKET_BOUNDS[1], 1)
        .when(toks <= _BUCKET_BOUNDS[2], 2)
        .when(toks <= _BUCKET_BOUNDS[3], 3)
        .otherwise(4)
    )
    t = d.select("doc_id", toks.alias("n_tokens"), bucket.alias("bucket"))
    w = W.partitionBy("bucket").orderBy("doc_id")
    batched = t.withColumn(
        "batch",
        F.floor((F.row_number().over(w) - 1) / _BATCH_SIZE).cast("bigint"),
    )
    per_batch = batched.groupBy("bucket", "batch").agg(
        F.count(F.lit(1)).alias("bn"),
        F.max("n_tokens").alias("bmax"),
        F.sum("n_tokens").alias("btok"),
    )
    return per_batch.groupBy(F.col("bucket").cast("bigint").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_batches"),
        F.sum("bn").alias("n_docs"),
        F.sum("btok").alias("total_tokens"),
        F.sum(F.col("bmax") * F.col("bn")).alias("padded_tokens"),
        NR.round4(
            F.sum("btok").cast("double") / F.sum(F.col("bmax") * F.col("bn"))
        ).alias("efficiency"),
    )


_CDC_W = 16  # rolling window the boundary decision hashes
_CDC_D = 64  # expected chunk length ~ one boundary per D positions


@query(
    "cdc_boilerplate_chunks",
    oracle=f"""
    WITH pos AS (
        SELECT doc_id, text, UNNEST(RANGE({_CDC_W}, LENGTH(text) + 1)) AS i
        FROM documents
    ),
    cuts0 AS (
        SELECT doc_id, text, i FROM pos
        WHERE CAST(('0x' || SUBSTR(MD5(SUBSTR(text, i - {_CDC_W} + 1, {_CDC_W})), 1, 4))
                   AS BIGINT) % {_CDC_D} = 0
        UNION
        SELECT doc_id, text, LENGTH(text) AS i FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               SUBSTR(text,
                      COALESCE(LAG(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1,
                      i - COALESCE(LAG(i) OVER (PARTITION BY doc_id ORDER BY i), 0))
                   AS chunk
        FROM cuts0
    )
    SELECT MD5(chunk) AS chunk_md5,
           CAST(LENGTH(MIN(chunk)) AS BIGINT) AS chunk_len,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM chunks
    WHERE LENGTH(chunk) >= {_CDC_W}
    GROUP BY MD5(chunk)
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def cdc_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED chunking (the rsync/LBFS/FastCDC idea, expressed
    declaratively): a chunk boundary falls wherever the hash of the
    trailing {_CDC_W}-byte window ≡ 0 mod {_CDC_D}, so boundaries move
    WITH the content — a byte inserted at the front of a doc shifts
    every fixed-stride chunk (``chunk_documents``) but leaves all CDC
    boundaries after the edit point intact, which is what makes
    cross-doc chunk dedup robust to shifted boilerplate. Entirely JVM
    expressions (explode positions → window-hash filter → lag spans →
    substring → md5 groupBy): no UDF, the full SQL replay is the
    oracle. Reports chunks ≥{_CDC_W} chars shared by ≥2 docs. Cost is
    the position explode (~doc length rows per doc), one doc-keyed
    window, one fingerprint shuffle."""
    # spread docs across the cluster BEFORE the position explode: the
    # per-char md5 stage otherwise runs at the parallelism of the
    # (small) input file list — measured 1 partition / 1 task doing all
    # ~1.4M window hashes at sf0.1 (guide §2.2). Explicit count so AQE's
    # byte-based coalescing can't re-serialize a stage whose row count
    # multiplies ~300x after this exchange.
    d = load_table(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    pos = d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(_CDC_W), F.length("text"))).alias("i"),
    )
    win = F.substring(F.col("text"), F.col("i") - _CDC_W + 1, _CDC_W)
    cut_hash = F.conv(
        F.substring(F.md5(win.cast("binary")), 1, 4), 16, 10
    ).cast("bigint")
    cuts = (
        pos.filter(cut_hash % _CDC_D == 0)
        .select("doc_id", "text", "i")
        .unionByName(d.select("doc_id", "text", F.length("text").alias("i")))
        .distinct()
    )
    w = W.partitionBy("doc_id").orderBy("i")
    prev = F.coalesce(F.lag("i").over(w), F.lit(0))
    chunks = cuts.select(
        "doc_id",
        F.substring(F.col("text"), prev + 1, F.col("i") - prev).alias("chunk"),
    )
    return (
        chunks.filter(F.length("chunk") >= _CDC_W)
        .groupBy(F.md5(F.col("chunk").cast("binary")).alias("chunk_md5"))
        .agg(
            F.length(F.min("chunk")).cast("bigint").alias("chunk_len"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@query(
    "preference_pairs",
    oracle="""
    WITH scored AS (
        SELECT lang, source, doc_id,
               LENGTH(text) - 2 * ABS(LENGTH(text) - 400) AS score
        FROM documents
    ),
    ranked AS (
        SELECT lang, source, doc_id, score,
               ROW_NUMBER() OVER (PARTITION BY lang, source
                                  ORDER BY score DESC, doc_id ASC) AS rc,
               ROW_NUMBER() OVER (PARTITION BY lang, source
                                  ORDER BY score ASC, doc_id DESC) AS rr,
               COUNT(*) OVER (PARTITION BY lang, source) AS n
        FROM scored
    )
    SELECT c.lang, c.source,
           CAST(c.doc_id AS BIGINT) AS chosen_id,
           CAST(r.doc_id AS BIGINT) AS rejected_id,
           CAST(c.score - r.score AS BIGINT) AS margin
    FROM ranked c
    JOIN ranked r ON c.lang = r.lang AND c.source = r.source
    WHERE c.rc = 1 AND r.rr = 1 AND c.n >= 2 AND c.doc_id <> r.doc_id
    """,
)
def preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction (round 11) — the RLHF/DPO data
    shape: within each (lang, source) cohort, emit ONE (chosen,
    rejected) document pair — the best- and worst-scoring docs under a
    deterministic integer quality proxy (closeness to a 400-char
    target: ``len - 2*|len - 400|``), ties broken by doc_id so the
    pair is engine-reproducible, plus the score margin (the DPO
    training weight). Pure window arithmetic — two ROW_NUMBERs over
    the cohort key, no UDFs, one shuffle on the cohort key — so the
    construction scales as a single pass and DuckDB replays it
    row-identically. Cohorts with fewer than two documents emit
    nothing (no self-pairs)."""
    d = load_table(spark, "documents", sf_dir)
    score = (
        F.length("text") - 2 * F.abs(F.length("text") - F.lit(400))
    ).alias("score")
    scored = d.select("lang", "source", "doc_id", score)
    kw = ["lang", "source"]
    wc = W.partitionBy(*kw).orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    wr = W.partitionBy(*kw).orderBy(
        F.col("score").asc(), F.col("doc_id").desc()
    )
    ranked = scored.select(
        *kw,
        "doc_id",
        "score",
        F.row_number().over(wc).alias("rc"),
        F.row_number().over(wr).alias("rr"),
        F.count(F.lit(1)).over(W.partitionBy(*kw)).alias("n"),
    )
    c = ranked.filter((F.col("rc") == 1) & (F.col("n") >= 2)).alias("c")
    r = ranked.filter(F.col("rr") == 1).alias("r")
    return (
        c.join(r, kw)
        .filter(F.col("c.doc_id") != F.col("r.doc_id"))
        .select(
            *kw,
            F.col("c.doc_id").cast("bigint").alias("chosen_id"),
            F.col("r.doc_id").cast("bigint").alias("rejected_id"),
            (F.col("c.score") - F.col("r.score"))
            .cast("bigint")
            .alias("margin"),
        )
    )
