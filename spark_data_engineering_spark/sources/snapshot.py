"""Snapshot storage: batch-versioned parquet tables.

Reference semantics (etl/utils/base_table.py:198-220 + bronze/orders.py
121-182): every write is a full snapshot partitioned by the batch
timestamp ``etl_inserted``; a read discovers the latest batch and filters
to it, projecting explicit columns.

Differences by design:
- The reference discovers the latest partition with a full-scan
  ``selectExpr("max(etl_inserted)").collect()`` per read (SURVEY.md §2.1
  A4/S3). Here the partition value is discovered from the filesystem
  listing — O(#partitions), no data scan — and the filter on the
  partition column prunes to one directory.
- Delta isn't in this environment; plain parquet + partition dirs carry
  the same snapshot semantics (mergeSchema on read covers evolution).
  The write path is format-pluggable for a Delta/Iceberg deployment.

At 100 TB: one snapshot dir per batch means readers never see partial
writes (a batch is staged under the table and renamed into place
whole); old snapshots are dropped by deleting directories. Partition pruning guarantees a read touches only
the latest batch's files.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

PARTITION_COL = "etl_inserted"


def _fmt_ts(ts: _dt.datetime) -> str:
    # filesystem-safe (no spaces/colons — those get URL-encoded in
    # partition dir names); lexicographic order == chronological order
    return ts.strftime("%Y%m%dT%H%M%S.%f")


class SnapshotStore:
    def __init__(self, root: str) -> None:
        self.root = root

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write(
        self,
        name: str,
        df: DataFrame,
        batch_ts: _dt.datetime,
        partition_keys: tuple[str, ...] = (),
        audit: Callable[[], None] | None = None,
    ) -> None:
        """Write a full snapshot stamped with the run's single batch
        timestamp (reference stamps per-node ``datetime.now()`` — quirk
        Q5; one injected timestamp makes runs deterministic).

        Write → audit → publish: the batch is written into an
        underscore-prefixed staging dir under the table, which Spark's
        partition discovery and ``latest_batch`` both ignore; ``audit``
        (if given) runs once the files are durable; only then is the
        staging dir renamed to ``etl_inserted=<batch>``. If the write or
        the audit raises, the staging dir is removed, nothing is
        published and the error propagates."""
        batch_id = _fmt_ts(batch_ts)
        batch_dir = os.path.join(self.path(name), f"{PARTITION_COL}={batch_id}")
        if os.path.isdir(batch_dir):
            # batches are immutable: a second write with the same ts would
            # append files into the same partition and double its rows
            raise FileExistsError(
                f"snapshot batch {batch_id!r} already exists for table {name!r}"
            )
        staging = os.path.join(self.path(name), f"_staging-{batch_id}")
        keys = [k for k in partition_keys if k != PARTITION_COL]
        writer = df.drop(PARTITION_COL).write.mode("overwrite")
        try:
            (writer.partitionBy(*keys) if keys else writer).parquet(staging)
            if audit is not None:
                audit()
            os.rename(staging, batch_dir)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise

    def latest_batch(self, name: str) -> str | None:
        """Latest batch id from the directory listing — no data scan."""
        base = self.path(name)
        if not os.path.isdir(base):
            return None
        parts = [
            d.split("=", 1)[1]
            for d in os.listdir(base)
            if d.startswith(f"{PARTITION_COL}=")
        ]
        if not parts:
            return None
        # lexicographic max == chronological max for the fixed format
        return max(parts)

    def read_latest(
        self,
        spark: SparkSession,
        name: str,
        columns: list[str] | None = None,
        schema: StructType | None = None,
    ) -> DataFrame:
        """The latest batch, partition-pruned. ``schema`` is the schema the
        batch was written with (without ``etl_inserted``): given it, the
        read declares it instead of running a ``mergeSchema`` footer
        inference job, with the same resulting schema."""
        latest = self.latest_batch(name)
        if latest is None:
            raise FileNotFoundError(f"no snapshots for table {name!r} under {self.root}")
        if schema is None:
            reader = spark.read.option("mergeSchema", "true")
        else:
            fields = [f for f in schema.fields if f.name != PARTITION_COL]
            reader = spark.read.schema(
                StructType([*fields, StructField(PARTITION_COL, StringType())])
            )
        df = reader.parquet(self.path(name)).filter(F.col(PARTITION_COL) == latest)  # partition-pruned
        return df.select(*columns) if columns else df

    def read_batch(self, spark: SparkSession, name: str, batch: str) -> DataFrame:
        """Time travel to a specific snapshot (reference: explicit
        partition_values dict, bronze/orders.py:143-146)."""
        return (
            spark.read.option("mergeSchema", "true")
            .parquet(self.path(name))
            .filter(F.col(PARTITION_COL) == batch)
        )

    def batches(self, name: str) -> list[str]:
        base = self.path(name)
        if not os.path.isdir(base):
            return []
        return sorted(
            d.split("=", 1)[1] for d in os.listdir(base) if d.startswith(f"{PARTITION_COL}=")
        )

    # ---- mutation & change-data-capture on snapshots -------------------

    def upsert(
        self,
        spark: SparkSession,
        name: str,
        updates: DataFrame,
        keys: list[str],
        batch_ts: _dt.datetime,
    ) -> None:
        """MERGE-emulation without Delta (public pattern: anti-join +
        union): new snapshot = updates ∪ (previous ∖ matching keys).
        Writes a complete new batch partition — readers of the previous
        snapshot are unaffected (snapshot isolation by construction)."""
        try:
            current = self.read_latest(spark, name).drop(PARTITION_COL)
        except FileNotFoundError:
            merged = updates
        else:
            survivors = current.join(updates.select(*keys), keys, "left_anti")
            merged = survivors.unionByName(updates, allowMissingColumns=True)
        self.write(name, merged, batch_ts)

    # ---- table maintenance (Delta OPTIMIZE / VACUUM analogs) -----------

    def compact(
        self,
        spark: SparkSession,
        name: str,
        batch: str | None = None,
        target_file_bytes: int = 128 * 1024 * 1024,
        sort_by: list[str] | None = None,
    ) -> int:
        """OPTIMIZE-style small-file compaction of one snapshot batch.

        Incremental upserts leave each batch with however many files the
        shuffle produced; at 100 TB a hot table accumulates thousands of
        small files per batch and scan planning + task scheduling start to
        dominate. This rewrites the batch's files into
        ``ceil(bytes / target_file_bytes)`` files (Delta's OPTIMIZE bin-
        packing semantics, default 128 MiB targets like
        ``spark.sql.files.maxPartitionBytes``) and swaps the directory in.

        The swap is two directory renames — not transactional like
        Delta/Iceberg commit protocols; a production deployment would use
        a table format. Batch contents are bit-identical (same rows, same
        schema); only the file layout changes. Returns the new file count.
        """
        batch = batch or self.latest_batch(name)
        if batch is None:
            raise FileNotFoundError(f"no snapshots for table {name!r} under {self.root}")
        batch_dir = os.path.join(self.path(name), f"{PARTITION_COL}={batch}")
        if not os.path.isdir(batch_dir):
            raise FileNotFoundError(f"snapshot batch {batch!r} missing for table {name!r}")
        total_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(batch_dir)
            for f in fs
            if f.endswith(".parquet")
        )
        n_files = max(1, -(-total_bytes // target_file_bytes))  # ceil
        tmp_dir = os.path.join(self.path(name), f".compact_tmp.{batch}")
        trash_dir = os.path.join(self.path(name), f".compact_old.{batch}")
        shutil.rmtree(tmp_dir, ignore_errors=True)
        # read the one batch dir directly (no partition col in the files),
        # bin-pack with coalesce — a narrow dependency, no shuffle.
        # sort_by adds Z-order-style clustering on the chosen columns:
        # repartitionByRange co-locates key ranges per file and the
        # within-partition sort tightens parquet row-group min/max stats,
        # so later filtered scans skip whole files/row groups. That one
        # is a shuffle — pay it only on tables you filter by those keys.
        df = spark.read.parquet(batch_dir)
        if sort_by:
            df = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(*sort_by)
        else:
            df = df.coalesce(n_files)
        df.write.mode("overwrite").parquet(tmp_dir)
        os.rename(batch_dir, trash_dir)
        os.rename(tmp_dir, batch_dir)
        shutil.rmtree(trash_dir)
        return sum(1 for f in os.listdir(batch_dir) if f.endswith(".parquet"))

    def vacuum(self, name: str, keep_last: int = 1) -> list[str]:
        """Drop all but the newest ``keep_last`` snapshot batches
        (Delta VACUUM analog — bounded storage under daily batches).
        Returns the removed batch ids.

        Also removes what a crashed writer left behind: ``_staging-*``
        dirs (killed between its staged write and the rename) and
        ``.compact_tmp.*`` dirs. Vacuum must therefore not run beside a
        writer of the same table — it would delete the writer's
        in-flight staging."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        removed = []
        for b in self.batches(name)[:-keep_last]:
            shutil.rmtree(os.path.join(self.path(name), f"{PARTITION_COL}={b}"))
            removed.append(b)
        # repair/clean compact leftovers from a crashed compact():
        # .compact_old.<batch> with the batch dir MISSING means the crash
        # hit between the two renames — restore it (data-preserving);
        # otherwise (or for .compact_tmp.* and a crashed write's
        # _staging-*) the dir is garbage
        table_dir = self.path(name)
        if os.path.isdir(table_dir):
            for d in os.listdir(table_dir):
                full = os.path.join(table_dir, d)
                if d.startswith(".compact_old."):
                    batch_dir = os.path.join(
                        table_dir, f"{PARTITION_COL}={d[len('.compact_old.'):]}"
                    )
                    if not os.path.isdir(batch_dir):
                        os.rename(full, batch_dir)
                    else:
                        shutil.rmtree(full)
                elif d.startswith((".compact_tmp.", "_staging-")):
                    shutil.rmtree(full)
        return removed

    def changes_between(
        self, spark: SparkSession, name: str, batch_a: str, batch_b: str, keys: list[str]
    ) -> DataFrame:
        """CDC diff of two snapshots: one full-outer join on the keys
        classifying every row as inserted / deleted / updated / unchanged
        (hash compare over non-key columns). Returns key columns +
        ``change_type``."""
        a = self.read_batch(spark, name, batch_a).drop(PARTITION_COL)
        b = self.read_batch(spark, name, batch_b).drop(PARTITION_COL)
        value_cols = [c for c in b.columns if c not in keys]
        fp = lambda df: df.select(  # noqa: E731
            *keys, F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in value_cols]).alias("_fp")
        )
        fa = fp(a).withColumnRenamed("_fp", "_fp_a")
        fb = fp(b).withColumnRenamed("_fp", "_fp_b")
        joined = fa.join(fb, keys, "full_outer")
        return joined.select(
            *keys,
            F.when(F.col("_fp_a").isNull(), "inserted")
            .when(F.col("_fp_b").isNull(), "deleted")
            .when(F.col("_fp_a") != F.col("_fp_b"), "updated")
            .otherwise("unchanged")
            .alias("change_type"),
        )
