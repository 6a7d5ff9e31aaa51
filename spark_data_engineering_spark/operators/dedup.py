"""Deduplication operators over a document corpus.

Exact (md5 hash-groupBy), n-gram Jaccard (exact pairwise over a shingle
inverted index), MinHash+LSH (banded signature join — the 100 TB scale
path), and SimHash (bit-signature hamming buckets). All pure DataFrame
compositions of JVM built-ins — no Python UDFs, fully deterministic
(md5 for cross-engine fingerprints, xxhash64 for internal keys).

The reference repo has no dedup operators at all — its README mentions
duplicate *checks* only, implemented as validation (SURVEY.md §2.6/§2.7).
This module is the training-data-pipeline extension surface.

Scale design:
- exact dedup: one shuffle on the fingerprint; map-side partial agg.
- shingle index: explode multiplies rows by ~tokens/doc; all joins key
  on xxhash64(shingle) so the shuffle key is fixed-width at any scale.
- MinHash LSH: candidate generation joins on (band_idx, band_signature) —
  shuffle volume is #docs × #bands rows, independent of pairwise count;
  this is the operator that survives 1000× scale where exact pairwise
  Jaccard explodes quadratically.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_data_engineering_spark.functions import numeric as NR
from spark_data_engineering_spark.materialize import materialize

_LOG = logging.getLogger(__name__)

# Mersenne prime 2^31-1; hash family h_j(x) = (a_j * x + b_j) mod P with
# deterministic odd coefficients (public textbook construction,
# Broder 1997 "On the resemblance and containment of documents").
_P = 2_147_483_647


def _minhash_coeffs(num_hashes: int) -> tuple[list[int], list[int]]:
    # Deterministic coefficients from a fixed linear-congruential walk.
    a, b, coeffs_a, coeffs_b = 1_103_515_245, 12_345, [], []
    x = 42
    for _ in range(num_hashes):
        x = (a * x + b) % _P
        coeffs_a.append(x | 1)  # odd, non-zero
        x = (a * x + b) % _P
        coeffs_b.append(x)
    return coeffs_a, coeffs_b


def tokenize(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("_tokens", F.split(F.col(text_col), " "))


# Pre-explode input bytes per spread partition, as the optimizer
# estimates them (for a parquet scan: compressed file bytes, see
# _spread_partitions). The posexplode multiplies rows ~tokens-per-doc×,
# so 64 KiB of input is tens of MB of token rows per task — a sensible task size at any scale. The
# r13 fixed defaultParallelism spread flooded the checkpointed index's
# downstream consumer stages with near-empty partitions on small
# corpora (measured sf0.1 sweep, tools/ab_shingle.py: k=8 beats k=32 on
# jaccard_prefix 1.67 vs 1.93, ngram 0.92 vs 1.07, minhash 2.25 vs
# 2.46, containment 0.97 vs 1.06, dedup_cluster_stats 1.44 vs 1.64;
# simhash alone preferred 32 by 0.16 — family net favors data-sizing).
_SPREAD_TARGET_BYTES = int(
    os.environ.get("SPARK_GRAFT_SHINGLE_SPREAD_BYTES", str(64 * 1024))
)


def _spread_partitions(df: DataFrame) -> int:
    """Partition count for the pre-explode spread in ``shingle_index``:
    one partition per ``_SPREAD_TARGET_BYTES`` of estimated pre-explode
    input, clamped to cluster parallelism — big corpora still saturate
    the cluster; tiny ones stop paying 32-task scheduling in every
    downstream stage of the materialized index. Uses the optimizer's
    size estimate (no job). For a parquet scan that estimate is the
    files' on-disk bytes, i.e. compressed parquet, not raw text, so
    below the parallelism clamp a corpus gets fewer partitions than its
    raw text size would give, by about the compression ratio."""
    sc = df.sparkSession.sparkContext
    try:
        est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:  # estimate unavailable — keep the scale-safe cap
        return sc.defaultParallelism
    return max(1, min(sc.defaultParallelism, -(-est // _SPREAD_TARGET_BYTES)))


def shingle_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(_id, _shingle) inverted index of DISTINCT word n-gram shingles.

    Plan: posexplode tokens -> window lead() x (n-1) per document ->
    concat -> dropDuplicates. Everything is whole-stage-codegen'd; the
    higher-order-function formulation (transform over an array column)
    runs interpreted and measured ~10x slower. One shuffle on the doc id
    (for the window), one for the dedup — both keyed and partial-agg
    friendly at 100 TB.

    Documents shorter than ``n`` tokens produce no shingles (mirrors the
    SQL-oracle semantics of RANGE(len - n + 1)).
    """
    from pyspark.sql import Window as W

    # one PRE-explode exchange on the doc id replaces the POST-explode
    # token exchange the window would otherwise insert: hashpartitioning
    # on _id satisfies both the window's and the dedup's clustered
    # distribution (subset rule), so the plan still has exactly ONE
    # Exchange — now carrying raw text bytes instead of exploded token
    # rows (guide §2.3), and the tokenize/explode stage runs at cluster
    # parallelism instead of input-file parallelism (measured: the whole
    # corpus in 1 scan partition at sf0.1; guide §2.2). Explicit count
    # because AQE sizes by pre-explode bytes.
    spread = df.repartition(_spread_partitions(df), id_col)
    toks = spread.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("_pos", "_tok"),
    )
    w = W.partitionBy("_id").orderBy("_pos")
    parts = [F.col("_tok")] + [F.lead("_tok", i).over(w) for i in range(1, n)]
    shingled = toks.select(
        "_id", F.concat_ws(" ", *parts).alias("_shingle"), parts[-1].alias("_last")
    ).filter(F.col("_last").isNotNull())
    return shingled.select("_id", "_shingle").dropDuplicates(["_id", "_shingle"])


def with_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct shingles as an array column (for API consumers that want
    the per-doc array shape; the exploded ``shingle_index`` is the fast
    path used internally)."""
    idx = shingle_index(df, text_col, id_col, n)
    arr = idx.groupBy("_id").agg(F.collect_list("_shingle").alias("shingles"))
    return df.join(arr, df[id_col] == arr._id, "left").drop("_id").withColumn(
        "shingles", F.coalesce("shingles", F.array())
    )


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group by md5 fingerprint; keep the minimum id as the canonical doc.

    Returns (fp, keep_id, n_copies). One shuffle on the 128-bit key;
    partial aggregation makes the shuffle ~#distinct-docs rows.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    Returns (id_a, id_b, jaccard) with id_a < id_b and round(jaccard,4)
    >= threshold. Quadratic in the worst case — the correctness baseline
    the LSH path is validated against.
    """
    # join on the 64-bit shingle hash: fixed-width shuffle key (the
    # string shingle would shuffle ~3 words per row); collision odds over
    # a corpus of S shingles ~ S^2/2^65 — negligible for intersection counts
    # three consumers (both join sides + sizes) and no exchange reuse
    # across them: materialize the hashed index once (at cluster scale
    # this is the persisted shingle-index table)
    idx = (
        shingle_index(df, text_col, id_col, n)
        .select("_id", F.xxhash64("_shingle").alias("_h"))
        .transform(materialize)
    )
    sizes = idx.groupBy("_id").agg(F.count("*").alias("_sz"))
    a = idx.alias("a")
    b = idx.alias("b")
    inter = (
        a.join(b, (F.col("a._h") == F.col("b._h")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count("*").alias("_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(F.broadcast(sa), F.col("id_a") == F.col("sa._id"))
        .join(F.broadcast(sb), F.col("id_b") == F.col("sb._id"))
        .withColumn(
            "jaccard",
            NR.round4(
                F.col("_inter").cast("double")
                / (F.col("sa._sz") + F.col("sb._sz") - F.col("_inter"))
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """MinHash signature per document as array<bigint>[num_hashes].

    Plan shape chosen for codegen: explode shingles to rows, xxhash64
    each shingle once, then ONE hash aggregation with k ``min()``
    aggregates (whole-stage codegen + map-side partial aggregation).
    The higher-order-function alternative (aggregate() over an array
    column) runs on the expression interpreter and measured ~10x slower.
    At 100 TB the exploded form shuffles only #docs x #partitions
    partial-agg rows, so it scales with corpus size, not shingle count.
    """
    ca, cb = _minhash_coeffs(num_hashes)
    hashed = shingle_index(df, text_col, id_col, n).select(
        "_id", F.pmod(F.xxhash64("_shingle"), F.lit(_P)).alias("_h")
    )
    mins = [
        F.min((F.lit(a_j) * F.col("_h") + F.lit(b_j)) % _P).alias(f"_mh{j}")
        for j, (a_j, b_j) in enumerate(zip(ca, cb))
    ]
    agg = hashed.groupBy("_id").agg(*mins)
    return agg.select(
        "_id", F.array(*[f"_mh{j}" for j in range(num_hashes)]).alias("signature")
    )


def band_rows(signatures: DataFrame, bands: int = 8, rows: int = 4) -> DataFrame:
    """Explode signatures to (_id, band, sig) rows — the joinable/storable
    LSH index form (a signature store persists THIS shape so later
    lookups join on (band, sig) without re-banding history).

    ``bands * rows`` must not exceed the signature length: an
    out-of-range slice would give every document the empty band
    signature and silently pair ALL documents (quadratic blowup).
    """
    # per-row guard compiled into the plan (no extra job): fails loudly at
    # execution instead of silently producing empty band signatures
    guard = F.assert_true(
        F.size("signature") >= bands * rows,
        F.lit(f"band_rows: bands*rows = {bands * rows} exceeds signature length"),
    )
    signatures = signatures.filter(guard.isNull())
    return signatures.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.struct(
                    i.alias("band"),
                    F.concat_ws("-", F.slice("signature", i * rows + 1, rows)).alias("sig"),
                ),
            )
        ).alias("b"),
    ).select("_id", F.col("b.band").alias("band"), F.col("b.sig").alias("sig"))


def drop_hot_buckets(banded: DataFrame, max_bucket: int) -> DataFrame:
    """Drop every (band, sig) bucket holding more than ``max_bucket``
    rows — the guardrail against the quadratic B(B-1)/2 pair blow-up a
    single low-entropy signature reintroduces (shared by the batch
    candidate join and the streaming near-dup probe side).

    Over-frequent signatures are few by definition (each holds >
    max_bucket members), so the hot set broadcast-anti-joins; the count
    is a partial-aggregated pass, never a per-row sort. The hot set is
    materialized (tiny by construction) so firing the guardrail is
    OBSERVABLE: silently dropping pairs from giant true-duplicate
    clusters is exactly the failure mode a caller on a
    boilerplate-heavy corpus needs to hear about."""
    hot = (
        banded.groupBy("band", "sig")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > max_bucket)
        .transform(materialize)
    )
    # one combined job for both observability stats (not two)
    n_hot, biggest = hot.agg(F.count(F.lit(1)), F.max("_n")).first()
    if n_hot:
        _LOG.warning(
            "drop_hot_buckets: max_bucket=%d guardrail dropped %d hot "
            "bucket(s) (largest: %d members). Pairs whose every band is "
            "hot are lost; on boilerplate-heavy corpora run exact/"
            "fingerprint dedup first or raise max_bucket.",
            max_bucket,
            n_hot,
            biggest,
        )
    return banded.join(F.broadcast(hot.drop("_n")), ["band", "sig"], "left_anti")


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 8,
    rows: int = 4,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Banded LSH: docs sharing any band signature become candidates.

    Shuffle key is (band_idx, band_sig) — volume #docs × #bands, not
    quadratic. Returns distinct (id_a, id_b).

    ``max_bucket`` is a guardrail, not a tuning knob: a bucket of size B
    contributes B(B-1)/2 candidate pairs, so one low-entropy signature
    shared by 1% of a 1e9-doc corpus is 5e13 pairs — the quadratic
    blow-up banding exists to avoid, reintroduced through the back door.
    The default (1000 -> <=500k pairs/bucket) never fires on a healthy
    corpus (sf0.1 max bucket is single-digit) and bounds the verify
    stage, which costs O(candidates x shingles/doc). Measured on a
    degenerate word-sorted 50k-doc corpus (shingle entropy collapsed,
    buckets to 897 members, 6.7M candidates, verify 98s): cap=100 cut
    verify to 16s at 8% pair recall loss — pairs lost are those whose
    EVERY band is hot. Corpora with giant TRUE duplicate clusters
    (boilerplate at web scale) should run exact/fingerprint dedup first
    and lower the cap only after; the count is one cheap partial-agg
    pass over the banded rows."""
    banded = band_rows(signatures, bands, rows)
    if max_bucket is not None:
        banded = drop_hot_buckets(banded, max_bucket)
    # the self-join consumes this frame on BOTH sides, and Spark does
    # not reuse the exchange across them (one side broadcasts), so the
    # whole shingle->minhash->band pipeline would execute twice —
    # measured at sf0.1: two FileScans of documents in one candidate
    # plan. Materialize once: #docs x bands small rows (~25 MB at
    # sf0.1), the bucket-join input a cluster run would persist anyway.
    banded = banded.transform(materialize)
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    rows: int = 4,
    threshold: float = 0.8,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded candidates
    → exact-Jaccard verification of candidates only.

    Returns (id_a, id_b, jaccard) — same shape as ``jaccard_pairs`` but
    with candidate generation that scales linearly in corpus size.
    ``max_bucket`` passes through to ``lsh_candidate_pairs`` (hot-bucket
    guardrail; ``None`` disables it — see its docstring for when).
    """
    sigs = minhash_signatures(df, text_col, id_col, n, num_hashes)
    # The candidate set is tiny (near-dup pairs) but its plan is the
    # whole signature pipeline; downstream references it three times
    # (semi-join, pair join, sizes). Materialize it once — at cluster
    # scale this would be a persisted table between stages. A/B at sf0.1
    # (fresh process, single shot): eager checkpoint 8.2s vs lazy
    # persist() 16.2s vs no materialization 23.3s — lazy caches can't be
    # shared by branches computed concurrently within one job, so the
    # eager cut is the right call at every scale.
    cands = lsh_candidate_pairs(sigs, bands, rows, max_bucket).transform(materialize)
    return verify_candidate_pairs(df, cands, text_col, id_col, n, threshold)


def verify_candidate_pairs(
    df: DataFrame,
    cands: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact-Jaccard verification ONLY for candidate pairs: restrict the
    shingle index to candidate docs (semi join), count shared shingles
    per candidate pair, then Jaccard from per-doc sizes. O(#candidates x
    shingles/doc) — never the full pairwise index join, which is
    quadratic and defeats the point of LSH. ``cands`` is (id_a, id_b);
    returns the verified subset as (id_a, id_b, jaccard >= threshold).

    The doc restriction happens BEFORE shingling: candidate docs are a
    tiny fraction of the corpus, so verification costs O(candidate
    docs), not a second full-corpus tokenization — at 100 TB the
    difference between re-scanning the corpus and fetching a few
    thousand rows by key.
    """
    cand_docs = cands.select(F.col("id_a").alias(id_col)).union(
        cands.select(F.col("id_b").alias(id_col))
    ).distinct()
    df_c = df.join(F.broadcast(cand_docs), id_col, "left_semi")
    idx_c = (
        shingle_index(df_c, text_col, id_col, n)
        .select("_id", F.xxhash64("_shingle").alias("_h"))
        .transform(materialize)
    )
    sizes = idx_c.groupBy("_id").agg(F.count("*").alias("_sz"))
    a, b = idx_c.alias("a"), idx_c.alias("b")
    inter = (
        cands.join(a, F.col("id_a") == F.col("a._id"))
        .join(b, (F.col("id_b") == F.col("b._id")) & (F.col("a._h") == F.col("b._h")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        inter.join(F.broadcast(sa), F.col("id_a") == F.col("sa._id"))
        .join(F.broadcast(sb), F.col("id_b") == F.col("sb._id"))
        .withColumn(
            "jaccard",
            NR.round4(
                F.col("_inter").cast("double")
                / (F.col("sa._sz") + F.col("sb._sz") - F.col("_inter"))
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _shingle_hash(col, bits: int, hash_fn: str):
    """48-bit-max feature hash for simhash voting. ``xxhash64`` is the
    fast JVM default; ``md5_48`` (first 12 hex chars of md5 as a bigint)
    is bit-reproducible in any engine with md5 — the cross-engine oracle
    path (DuckDB replays it digit-by-digit)."""
    if hash_fn == "xxhash64":
        return F.xxhash64(col)
    if hash_fn == "md5_48":
        return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("bigint")
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 48,
    n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash bit signature per document (Charikar 2002, "Similarity
    estimation techniques from rounding algorithms"): per bit, majority
    vote over feature-hash bits. Features are word n-gram shingles — on
    a small-vocabulary corpus unigram features make every document look
    alike (measured: random pairs reach hamming 0); shingles restore the
    feature-space diversity SimHash needs.

    Plan shape: exploded shingle index -> xxhash64 -> one codegen'd
    aggregation with ``bits`` sum() votes -> signature assembly.
    Returns (_id, simhash: bigint).
    """
    hashed = shingle_index(df, text_col, id_col, n).select(
        "_id", _shingle_hash(F.col("_shingle"), bits, hash_fn).alias("_h")
    )
    votes = [
        (F.sum(F.shiftrightunsigned("_h", i).bitwiseAND(F.lit(1)) * 2 - 1)).alias(f"_v{i}")
        for i in range(bits)
    ]
    agg = hashed.groupBy("_id").agg(*votes)
    sig = F.lit(0).cast("bigint")
    for i in range(bits):
        sig = sig + F.when(F.col(f"_v{i}") > 0, F.lit(1 << i).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return agg.select("_id", sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 48,
    band_bits: int = 12,
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs: band the signature (pigeonhole — any pair
    within hamming < #bands is guaranteed to share a band), join on band
    value, then exact hamming filter via bit_count(xor). With 48 bits /
    12-bit bands, recall is exact for hamming ≤ 3."""
    sigs = simhash(df, text_col, id_col, bits, hash_fn=hash_fn)
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    band_structs = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), i * band_bits)
            .bitwiseAND(F.lit(mask))
            .alias("key"),
        )
        for i in range(n_bands)
    ]
    banded = (
        sigs.select("_id", "simhash", F.explode(F.array(*band_structs)).alias("b"))
        .select(
            "_id", "simhash", F.col("b.band").alias("band"), F.col("b.key").alias("key")
        )
        # both self-join sides consume this: one signature pass, not two
        # (same no-exchange-reuse finding as the MinHash candidate join)
        .transform(materialize)
    )
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias("hamming"),
        )
        # hamming filter BEFORE the dedup: pairs sharing several bands
        # appear once per shared band, and filtering the (cheap, already
        # computed) hamming first shrinks the distinct's shuffle to the
        # final near-dup set instead of the full candidate multiset
        # (measured 12% faster at sf0.1, identical rows).
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# bounded driver collect cap for the union-find small path (tests
# patch this to 0 to force the distributed branch)
_DRIVER_CC_MAX_EDGES = 200_000


def dedup_clusters(
    pairs: DataFrame, all_ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Connected components over near-dup pairs: every document gets a
    cluster id = the minimum doc id reachable through pair edges
    (iterative min-label propagation — converges in O(log diameter)
    rounds; each round is one join + aggregate, checkpointed to keep
    lineage flat). Singletons cluster as themselves.

    The canonical "keep one per cluster" dedup post-step: near-dup pairs
    are pairwise, but duplicates are transitive.

    ``pairs`` should be a DISTINCT (id_a, id_b) set: union-find and
    min-label propagation are duplicate-edge-insensitive, so duplicates
    never change the RESULT, but since r13 the edge count that gates the
    driver-vs-distributed path measures the multiset — heavy duplication
    inflates the collect volume and can push a small graph onto the
    distributed path. Every in-repo producer (jaccard/LSH/simhash/cosine
    pair generators) already emits distinct pairs.

    Adaptive execution: edge sets at or under 200k rows (a bounded
    driver collect — two bigints per row, ~3 MB worst case, the same
    bounded-collect contract as query vectors and bloom bitmaps) run
    union-find on the driver and broadcast the resulting node->cluster
    map — identical output, none of the iterative join rounds whose
    fixed cost dominates small graphs. Larger edge sets take the
    distributed min-label propagation. Near-dup graphs are sparse by
    construction (a duplicate cluster has bounded size), so even
    billion-doc corpora often fit the small path; the big path is the
    guarantee, not the common case.

    Returns (doc_id, cluster_id).
    """
    id_type = dict(all_ids.dtypes)[id_col]
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        # cast('bigint') on e.g. string ids yields all-NULL labels and a
        # silently empty result — fail loudly instead
        raise TypeError(f"dedup_clusters needs an integral {id_col!r}, got {id_type}")
    # materialize the SINGLE-direction pair set first: the old
    # union(pairs, swap(pairs)).distinct() evaluated the (expensive)
    # pairs subtree twice inside one job and paid a full exchange for a
    # distinct that neither path needs — union-find and min-label
    # propagation are both duplicate-edge-insensitive, and the two
    # direction branches are disjoint by construction (id_a < id_b)
    pair_edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).transform(materialize)
    n_edges = 2 * pair_edges.count()
    if n_edges <= _DRIVER_CC_MAX_EDGES:
        # driver union-find; roots are always the component minimum
        # (attach larger root under smaller), so resolved labels equal
        # the min-label fixed point the distributed path converges to
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in pair_edges.collect():
            ra, rb = find(r["src"]), find(r["dst"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        mapping = [(int(n), int(find(n))) for n in parent]
        spark = all_ids.sparkSession
        mdf = spark.createDataFrame(mapping, schema="node bigint, label bigint")
        return (
            all_ids.select(id_col)
            .join(F.broadcast(mdf), F.col(id_col) == F.col("node"), "left")
            .select(
                id_col,
                F.coalesce(F.col("label"), F.col(id_col).cast("bigint")).alias(
                    "cluster_id"
                ),
            )
        )
    # the distributed path propagates along DIRECTED edges, so double
    # the checkpointed pairs here (reads the checkpoint twice — cheap)
    edges = pair_edges.union(
        pair_edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # size the iteration's partitioning to the graph: per-iteration fixed
    # cost is dominated by task count on small graphs (measured 33s -> 5s
    # on a 500-node corpus); big graphs get ~200k edges per partition
    n_parts = max(2, min(pair_edges.rdd.getNumPartitions(), int(n_edges / 200_000) + 2))
    edges = edges.repartition(n_parts, "dst").transform(materialize)
    labels = (
        all_ids.select(F.col(id_col).alias("node"), F.col(id_col).cast("bigint").alias("label"))
        .repartition(n_parts, "node")
        .transform(materialize)
    )
    while True:
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"),
            )
            .transform(materialize)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("node").alias(id_col), F.col("label").alias("cluster_id"))


def containment_scores(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-benchmark-doc n-gram containment in the corpus — the standard
    train/test contamination measure (Broder 1997 containment; the
    n-gram-overlap decontamination used for LLM training sets, e.g.
    GPT-3 appendix C / Dolma): for each bench doc, the fraction of its
    distinct word n-grams that occur anywhere in the corpus.

    Returns (doc_id, n_shingles, n_overlap, contamination_pct). Docs
    shorter than ``n`` tokens have no shingles and are absent.

    Plan: both sides reduce to DISTINCT shingle sets first (map-side
    partial agg), then one left join keyed on the shingle and a
    per-doc rollup. Shuffle volume is O(distinct shingles), not
    O(docs x tokens); the corpus side carries no doc ids at all, so at
    100 TB the join's build side is the corpus *vocabulary* — orders of
    magnitude smaller than the corpus, uniformly hash-distributed (no
    skew: shingles are near-unique). The bench side is tiny by nature
    (an eval suite), making this effectively one shuffle of the corpus
    vocabulary; Spark's AQE will broadcast the bench side when it fits.
    """
    corpus_vocab = (
        shingle_index(corpus, text_col, id_col, n)
        .select("_shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    bench_sh = shingle_index(bench, text_col, id_col, n)
    joined = bench_sh.join(corpus_vocab, "_shingle", "left")
    return (
        joined.groupBy("_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_overlap"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_shingles",
            "n_overlap",
            NR.round2(
                F.col("n_overlap").cast("double") * 100 / F.col("n_shingles")
            ).alias("contamination_pct"),
        )
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (Chaudhuri et al.
    2006 "A Primitive Operator for Similarity Joins"; PPJoin, Xiao et
    al. 2008) — identical results to ``jaccard_pairs``, different
    candidate generation. The principle: order every document's
    shingles by one global canonical order (ascending document
    frequency, ties by hash); if J(A,B) >= t then A and B must share a
    shingle among each one's first ``|X| - ceil(t*|X|) + 1`` shingles.
    So only PREFIX shingles enter the self-join — the rarest ~20% of
    each doc at t=0.8 — and every pair that meets the threshold is
    still generated (the filter is lossless; pytest asserts equality
    with the unfiltered operator).

    Why it's the exact-tier scale path: the inverted-index self-join's
    cost is sum over shingles of df^2, dominated by FREQUENT shingles —
    exactly the ones prefix filtering excludes (a frequent shingle is
    canonically late, so it lands in few prefixes). The canonical order
    needs no global rank table: each doc independently sorts its own
    shingles by the broadcast-free (df, h) key from one df-count pass,
    so the prefix cut is a per-doc window, shuffle-partitioned by doc.
    Verification then counts ALL shared shingles for candidate pairs
    only (candidate x doc-size work, not df^2), plus the standard
    length filter |B| >= t|A|."""
    from pyspark.sql import Window as W

    # the hashed index feeds SIX consumers here (df-count, sizes, both
    # prefix sides, both verify sides) — unmaterialized, the shingle
    # pipeline executed 10x (measured by FileScan count at sf0.1)
    idx = (
        shingle_index(df, text_col, id_col, n)
        .select("_id", F.xxhash64("_shingle").alias("_h"))
        .transform(materialize)
    )
    sizes = idx.groupBy("_id").agg(F.count("*").alias("_sz"))
    # one document-frequency pass; joined back on the shingle hash
    dfreq = idx.groupBy("_h").agg(F.count("*").alias("_df"))
    ranked = idx.join(dfreq, "_h").join(sizes, "_id")
    w = W.partitionBy("_id").orderBy("_df", "_h")
    prefix = (
        ranked.withColumn("_rn", F.row_number().over(w))
        # prefix length |X| - ceil(t|X|) + 1
        .filter(
            F.col("_rn")
            <= F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + F.lit(1)
        )
        .select("_id", "_h", "_sz")
        # both candidate sides consume it: one window pass, not two
        .transform(materialize)
    )
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    cand = (
        pa.join(
            pb,
            (F.col("pa._h") == F.col("pb._h"))
            & (F.col("pa._id") < F.col("pb._id"))
            # length filter: J >= t forces t <= |A|/|B| <= 1/t
            & (F.col("pb._sz") * F.lit(threshold) <= F.col("pa._sz"))
            & (F.col("pa._sz") * F.lit(threshold) <= F.col("pb._sz")),
        )
        .select(F.col("pa._id").alias("id_a"), F.col("pb._id").alias("id_b"))
        .distinct()
    )
    # exact verification: count ALL shared shingles per candidate pair
    ia = idx.select(F.col("_id").alias("id_a"), "_h")
    ib = idx.select(F.col("_id").alias("id_b"), "_h")
    inter = (
        cand.join(ia, "id_a")
        .join(ib, ["id_b", "_h"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        inter.join(F.broadcast(sa), F.col("id_a") == F.col("sa._id"))
        .join(F.broadcast(sb), F.col("id_b") == F.col("sb._id"))
        .withColumn(
            "jaccard",
            NR.round4(
                F.col("_inter").cast("double")
                / (F.col("sa._sz") + F.col("sb._sz") - F.col("_inter"))
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
