"""Metastore-catalog storage backend: pipeline layers as named tables.

The reference runs with Hive support enabled and serves its reports
through a metastore-visible catalog (run_etl.py:32-36 enableHiveSupport;
spark-defaults.conf warehouse config) — consumers address tables by
NAME via ``spark.sql``, not by storage path. The repo's other two
backends (``SnapshotStore`` partition dirs, ``TxnTable`` commit log) are
path-addressed; this one closes the catalog workflow gap:

  - every pipeline batch lands as a partition of a partitioned,
    catalog-registered table (``saveAsTable``/``insertInto`` semantics
    via a dynamic partition overwrite), so `spark.sql("SELECT … FROM
    db.daily_order_metrics")` works for any SQL consumer;
  - the latest-batch lookup is a metastore partition listing (``SHOW
    PARTITIONS``) — metadata-only, the same fix for the reference's
    full-scan ``max(etl_inserted)`` idiom (SURVEY.md A4) the snapshot
    store applies with directory listings;
  - time travel = partition-value filter, pruned by the catalog.

Works against the session's configured catalog: the default in-memory
catalog in tests (shared across ``SparkSession.newSession()`` — table
metadata outlives any one session object), or a real Hive metastore in
production (`SparkSession.builder.enableHiveSupport()`; the derby/hive
jars ship with pyspark). Nothing here is Hive-specific — it's the
``spark.catalog`` / ``saveAsTable`` API surface either way.

At 100 TB the catalog matters for a different reason than naming: the
metastore prunes partitions BEFORE planning, so a reader of one batch
never lists the other thousand partitions' files.
"""

from __future__ import annotations

import datetime as _dt
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_data_engineering_spark.sources.snapshot import PARTITION_COL, _fmt_ts


def _write_compatible(incoming, declared) -> bool:
    """ONE-directional nullability-aware type compatibility: an incoming
    batch whose array happens to be containsNull=false IS write-
    compatible with a declared containsNull=true column (stricter data
    into a laxer declaration), but the reverse is NOT — accepting a
    containsNull=true batch into a declared containsNull=false column
    would put nulls where the declared schema promises none (round-4
    review finding: the earlier symmetric normalization allowed it)."""
    from pyspark.sql import types as T

    if isinstance(incoming, T.ArrayType) and isinstance(declared, T.ArrayType):
        return (
            (not incoming.containsNull or declared.containsNull)
            and _write_compatible(incoming.elementType, declared.elementType)
        )
    if isinstance(incoming, T.MapType) and isinstance(declared, T.MapType):
        return (
            (not incoming.valueContainsNull or declared.valueContainsNull)
            and _write_compatible(incoming.keyType, declared.keyType)
            and _write_compatible(incoming.valueType, declared.valueType)
        )
    if isinstance(incoming, T.StructType) and isinstance(declared, T.StructType):
        if [f.name for f in incoming.fields] != [f.name for f in declared.fields]:
            return False
        return all(
            (not fi.nullable or fd.nullable)
            and _write_compatible(fi.dataType, fd.dataType)
            for fi, fd in zip(incoming.fields, declared.fields)
        )
    return incoming == declared


class CatalogStore:
    """SnapshotStore-compatible facade (``write / read_latest / path``)
    over catalog-managed partitioned tables, for ``plans.dag.Runner``."""

    def __init__(self, spark: SparkSession, database: str = "spark_de") -> None:
        self.spark = spark
        self.database = database
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")

    def _qualified(self, name: str) -> str:
        return f"{self.database}.{name}"

    def path(self, name: str) -> str:
        return self._qualified(name)

    # ---- writes ---------------------------------------------------------

    def write(
        self,
        name: str,
        df: DataFrame,
        batch_ts: _dt.datetime,
        partition_keys: tuple[str, ...] = (),
        audit: Callable[[], None] | None = None,
    ) -> None:
        """Append one batch as a new partition of the catalog table.
        Re-running the same batch replaces only that partition (dynamic
        partition overwrite), never the table — concurrent readers of
        older batches are unaffected.

        With ``audit``, the batch is first staged to a scratch parquet
        dir, ``audit`` runs over the durable staged batch, and only then
        is the partition inserted from it; if ``audit`` raises, the
        catalog is untouched and the error propagates."""
        batch_id = _fmt_ts(batch_ts)
        stamped = df.withColumn(PARTITION_COL, F.lit(batch_id))
        if audit is None:
            self._insert(name, stamped, partition_keys)
            return
        scratch = tempfile.mkdtemp(prefix="catalog-stage-")
        try:
            stamped.write.mode("overwrite").parquet(scratch)
            audit()
            staged = self.spark.read.schema(stamped.schema).parquet(scratch)
            self._insert(name, staged, partition_keys)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    def _insert(self, name: str, stamped: DataFrame, partition_keys: tuple[str, ...]) -> None:
        keys = [PARTITION_COL, *[k for k in partition_keys if k != PARTITION_COL]]
        table = self._qualified(name)
        writer = (
            stamped.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*keys)
        )
        if not self.spark.catalog.tableExists(table):
            writer.saveAsTable(table)
        else:
            # Schema evolution, the metastore way (reference writes with
            # mergeSchema=true, base_table.py:212): columns this batch
            # adds are declared to the catalog first — readers of old
            # batches see them as NULL — then the batch realigns to the
            # table's column order, NULL-filling columns it lacks.
            existing = self.spark.table(table).schema
            # schema ENFORCEMENT first (same contract as TxnTable):
            # insertInto resolves by position and would silently cast a
            # type-changed column into the declared type
            declared = {f.name: f.dataType for f in existing.fields}
            for f in stamped.schema.fields:
                if f.name in declared and not _write_compatible(
                    f.dataType, declared[f.name]
                ):
                    raise ValueError(
                        f"schema enforcement: column {f.name!r} is "
                        f"{declared[f.name].simpleString()} in table "
                        f"{table} but {f.dataType.simpleString()} in the "
                        "incoming batch; cast explicitly to change types"
                    )
            new_cols = [
                f for f in stamped.schema.fields if f.name not in existing.names
            ]
            if new_cols:
                spec = ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}" for f in new_cols
                )
                self.spark.sql(f"ALTER TABLE {table} ADD COLUMNS ({spec})")
                existing = self.spark.table(table).schema
            # dynamic mode: only the partitions present in `stamped` are
            # replaced; all other batches stay live. insertInto resolves
            # by POSITION — realign to the table's column order first.
            aligned = stamped.select(
                *[
                    F.col(f.name)
                    if f.name in stamped.columns
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in existing.fields
                ]
            )
            aligned.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).insertInto(table)

    # ---- reads ----------------------------------------------------------

    def batches(self, name: str) -> list[str]:
        """All batch ids, from the metastore partition listing (no file
        or data access)."""
        rows = self.spark.sql(f"SHOW PARTITIONS {self._qualified(name)}").collect()
        ids = set()
        for r in rows:
            for part in r[0].split("/"):
                k, _, v = part.partition("=")
                if k == PARTITION_COL:
                    ids.add(v)
        return sorted(ids)

    def latest_batch(self, name: str) -> str | None:
        ids = self.batches(name)
        return ids[-1] if ids else None

    def read_latest(
        self,
        spark: SparkSession,
        name: str,
        columns: tuple[str, ...] | None = None,
        schema=None,
    ) -> DataFrame:
        # ``schema`` is accepted for the store interface; the catalog
        # already holds the table's schema, so nothing is inferred
        latest = self.latest_batch(name)
        if latest is None:
            raise FileNotFoundError(f"no batches in table {self._qualified(name)}")
        df = spark.table(self._qualified(name)).filter(F.col(PARTITION_COL) == latest)
        return df.select(*columns) if columns else df

    def read_batch(self, spark: SparkSession, name: str, batch: str) -> DataFrame:
        return spark.table(self._qualified(name)).filter(F.col(PARTITION_COL) == batch)

    def drop(self, name: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self._qualified(name)}")
