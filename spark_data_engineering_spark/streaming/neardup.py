"""Streaming NEAR-duplicate ingest: MinHash/LSH against all history.

``streaming/dedup.py`` drops exact re-deliveries with bounded state;
this module is the near-dup counterpart a crawl-ingest pipeline needs:
every micro-batch is LSH-checked against every previously-ingested
document before landing, so the corpus table never contains two
documents with Jaccard ≥ threshold.

Built from the batch primitives, run per micro-batch via foreachBatch:

  - the historical index is a :class:`TxnTable` of *banded* signature
    rows (_id, band, sig) — the joinable form, persisted so no batch
    ever re-bands history (operators/dedup.py ``band_rows``);
  - new docs band their signatures and join the history on (band, sig):
    shuffle volume is #new-docs × #bands plus the matched history rows,
    NOT the history size — the property that keeps per-batch cost flat
    as the corpus grows to 100 TB (the band join is selective: a
    history row only moves if its (band, sig) bucket is probed);
  - LSH candidates are verified by exact Jaccard
    (``verify_candidate_pairs``) over only the involved docs' texts —
    matched historical texts are fetched from the docs table with a
    footer-stats pruned scan bounded to the candidate id range;
  - drop rule, precisely: a new doc is dropped iff a verified near-match
    exists with (a) a smaller-id doc of the SAME batch — surviving or
    not — or (b) a SURVIVOR of an earlier batch. On the clique-shaped
    duplicate clusters crawls produce this equals greedy keep-first; on
    CHAIN-shaped clusters (A~B, B~C, A!~C) it is deliberately more
    aggressive than greedy (C drops because B — itself dropped —
    near-matched it): one distributed anti-join per batch instead of an
    iterative per-batch resolution, and never a false KEEP. The SQL
    oracle (queries/streaming_q.py) replays exactly this rule;
  - both appends (kept docs, kept bands) are exactly-once
    (``append_idempotent`` with per-table app ids and the micro-batch
    epoch): a replayed epoch re-derives byte-identical decisions and
    commits nothing.

Deterministic end state: the surviving set depends only on arrival
order, which availableNow file streaming fixes; the tests assert the
order-independent invariants instead — NO verified near-dup pair exists
among survivors, and every dropped doc near-matched an earlier-seen doc
(a surviving one, on clique-shaped corpora like the testdata).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_data_engineering_spark.operators.dedup import (
    band_rows,
    drop_hot_buckets,
    minhash_signatures,
    verify_candidate_pairs,
)
from spark_data_engineering_spark.sources.txn import TxnTable
from spark_data_engineering_spark.streaming.events import drain
from spark_data_engineering_spark.materialize import materialize


class NearDupIngest:
    def __init__(
        self,
        root: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        n: int = 3,
        num_hashes: int = 32,
        bands: int = 8,
        rows: int = 4,
        threshold: float = 0.8,
        max_bucket: int | None = 1000,
    ) -> None:
        self.docs = TxnTable(root, "docs")
        self.bands_table = TxnTable(root, "sig_bands")
        self.text_col, self.id_col, self.n = text_col, id_col, n
        self.num_hashes, self.bands, self.rows = num_hashes, bands, rows
        self.threshold = threshold
        self.max_bucket = max_bucket

    # -- helpers -----------------------------------------------------------

    def _bands_of(self, df: DataFrame) -> DataFrame:
        sigs = minhash_signatures(
            df, self.text_col, self.id_col, self.n, self.num_hashes
        )
        return band_rows(sigs, self.bands, self.rows)

    def _history_empty(self) -> bool:
        return not self.bands_table.live_files()

    # -- the foreachBatch body --------------------------------------------

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Drop batch docs that near-match history or a smaller-id batch
        doc, then append survivors + their bands, exactly once."""
        # only skip when BOTH appends landed: after a crash between the
        # two commits, the replay re-derives identical decisions (the
        # bands history is unchanged — docs alone never feed matching)
        # and append_idempotent skips the half that already committed
        if epoch_id <= self.docs.last_epoch("neardup:docs") and epoch_id <= self.bands_table.last_epoch("neardup:bands"):
            return
        spark = batch_df.sparkSession
        batch = batch_df.transform(materialize)  # pin: referenced many times
        new_bands = self._bands_of(batch).transform(materialize)
        # the PROBE side gets the hot-bucket guardrail (same cap as the
        # batch operator — a low-entropy signature in one crawl batch is
        # otherwise a quadratic intra-join); the full new_bands frame is
        # kept for the index append below, so persisted docs never lose
        # bands to the cap
        probe_bands = (
            drop_hot_buckets(new_bands, self.max_bucket)
            if self.max_bucket is not None
            else new_bands
        )

        # within-batch candidates (id_a < id_b)
        l, r = probe_bands.alias("l"), probe_bands.alias("r")
        intra = (
            l.join(
                r,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.sig") == F.col("r.sig"))
                & (F.col("l._id") < F.col("r._id")),
            )
            .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
            .distinct()
        )
        texts = batch.select(self.id_col, self.text_col)

        if not self._history_empty():
            hist = self.bands_table.read(spark).alias("h")
            # BROADCAST the new (small) side explicitly: only probed
            # history buckets move. Without the hint, a batch past the
            # auto-broadcast threshold falls back to sort-merge and
            # shuffles the ENTIRE bands history every micro-batch —
            # per-batch cost growing with corpus size, the exact property
            # this module exists to avoid.
            inter = (
                F.broadcast(probe_bands.alias("nb"))
                .join(
                    hist,
                    (F.col("nb.band") == F.col("h.band"))
                    & (F.col("nb.sig") == F.col("h.sig")),
                )
                # orient as (historical id_a, new id_b): history always wins
                .select(F.col("h._id").alias("id_a"), F.col("nb._id").alias("id_b"))
                .distinct()
                .transform(materialize)  # feeds cands + ids + bounds
            )
            bounds = inter.agg(
                F.min("id_a").alias("lo"), F.max("id_a").alias("hi")
            ).first()
            hist_ids = inter.select(F.col("id_a").alias(self.id_col)).distinct()
            # footer-stats pruned fetch: only files whose id range can
            # contain a matched candidate are scanned — a key-bounded
            # read, not a full corpus scan per micro-batch
            docs_scan = self.docs.read(
                spark,
                prune=(
                    {self.id_col: (bounds["lo"], bounds["hi"])}
                    if bounds["lo"] is not None
                    else None
                ),
            )
            hist_texts = docs_scan.join(
                F.broadcast(hist_ids), self.id_col, "left_semi"
            ).select(self.id_col, self.text_col)
            texts = texts.unionByName(hist_texts)
            cands = intra.unionByName(inter).distinct()
        else:
            cands = intra

        verified = verify_candidate_pairs(
            texts,
            cands.transform(materialize),
            self.text_col,
            self.id_col,
            self.n,
            self.threshold,
        )
        # id_b is always the larger/newer side (intra orients a<b, inter
        # puts history first), so dropping every verified id_b keeps the
        # first-seen representative of each duplicate group
        drop_ids = verified.select(F.col("id_b").alias(self.id_col)).distinct()
        kept = batch.join(F.broadcast(drop_ids), self.id_col, "left_anti")
        kept = kept.transform(materialize)

        self.docs.append_idempotent(kept, "neardup:docs", epoch_id)
        # banding is deterministic, so the kept docs' bands are exactly
        # the already-computed (and checkpointed) new_bands minus the
        # dropped ids — no second tokenize/shingle/min-agg pass
        kept_bands = new_bands.join(
            F.broadcast(drop_ids.withColumnRenamed(self.id_col, "_id")),
            "_id",
            "left_anti",
        )
        self.bands_table.append_idempotent(kept_bands, "neardup:bands", epoch_id)

    def run(self, stream: DataFrame, checkpoint_dir: str | None = None) -> None:
        """Drive a document stream through the ingest to completion
        (``events.drain``; a fresh checkpoint unless one is given)."""
        drain(stream.writeStream.foreachBatch(self.process_batch), checkpoint=checkpoint_dir)
