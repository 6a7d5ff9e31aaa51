"""The workloads. Each has a fixed warm-up count, a pass (the unit that
gets timed, returning latency samples per kind of delivery unit), a
correctness check run outside the timed passes, and the per-layer metrics
of one traced pass.

- ``report_refresh``: the paper's deliverable, the daily refresh of both
  reports through bronze -> silver -> gold -> interface with the gold
  tables materialized through a snapshot store (``run_pipeline.py
  --store``).
- ``query_ingest``: the analyst path (read-only registered queries in a
  seed-shuffled order, each forced by a ``noop`` write), then writes beside
  reads on a transaction-logged table: a file stream ingested epoch by
  epoch, a CDF upsert stream, a delete, a compaction, then current,
  time-travel and change-feed reads.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time

import duckdb
import pandas as pd

from perfbench import trace as T

REPORT_ORACLES = {
    "daily_order_report": "pipeline_daily_order_report",
    "daily_category_report": "pipeline_daily_category_report",
}
GOLD = ("daily_order_metrics", "daily_category_metrics")

# Read-only registered queries with DuckDB oracles and no derived-state
# cache under /tmp: sessionized events (interval-overlap join, KMV sketches)
# and the Arrow (mapInPandas) block all-pairs over embeddings. Two queries,
# so that a pass fits the run budget (see README.md).
MIX = (
    "concurrent_sessions",
    "embedding_near_dup",
)

INGEST_FILES = 4
UPSERT_FILES = 1


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form, the same normalization as
    ``tools/check_correctness.py``: columns by name, datetimes as ISO
    strings, objects by repr, floats to 6 places, rows sorted."""
    import datetime

    def norm_obj(v):
        if isinstance(v, (datetime.date, datetime.datetime)):
            return v.isoformat()
        return repr(v)

    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").map(lambda v: v.isoformat())
        elif s.dtype == object:
            df[c] = s.map(norm_obj)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(6)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def oracle_mismatch(name: str, spark_pdf: pd.DataFrame, con, sql: str) -> str | None:
    got, want = normalize(spark_pdf), normalize(con.execute(sql).fetchdf())
    if list(got.columns) != list(want.columns):
        return f"{name}: columns {list(got.columns)} != oracle {list(want.columns)}"
    if len(got) != len(want):
        return f"{name}: {len(got)} rows != oracle {len(want)}"
    if not got.equals(want):
        return f"{name}: values differ from the oracle"
    return None


def oracle_connection(sf_dir: str):
    from spark_data_engineering_spark.sources import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Ctx:
    """What a workload needs: the session, the tracer, the pinned inputs,
    its own scratch directory and the seeded generator."""

    def __init__(self, spark, tracer: T.Tracer, sf_dir: str, run_dir: str, seed: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.sf_dir = sf_dir
        self.run_dir = run_dir
        self.seed = seed
        self.rng = random.Random(seed)


class ReportRefresh:
    name = "report_refresh"
    warmup_passes = 1
    nominal_pass_s = 6.5
    ops_per_pass = 2

    def setup(self, ctx: Ctx) -> None:
        if ctx.tracer.enabled:
            from spark_data_engineering_spark import checks

            checks.run_checks = ctx.tracer.wrap("checks.run_checks", checks.run_checks)
        self.last_store: str | None = None
        self.reports: dict = {}

    def run_pass(self, ctx: Ctx, i: int) -> dict[str, list[float]]:
        """One refresh; returns each report's latency in ms."""
        from spark_data_engineering_spark.pipeline import build_registry
        from spark_data_engineering_spark.plans import Runner
        from spark_data_engineering_spark.sources.snapshot import SnapshotStore

        tr = ctx.tracer
        with tr.span("pipeline.build_registry"):
            reg = build_registry(ctx.spark, ctx.sf_dir)
        for gold in GOLD:
            reg.node(gold).materialize = True
        root = os.path.join(ctx.run_dir, f"store-{i}")
        store = SnapshotStore(root)
        runner = Runner(ctx.spark, reg, store=T.snapshot_store_proxy(store, tr) if tr.enabled else store)
        op_ms = {}
        for report in REPORT_ORACLES:
            t0 = time.perf_counter()
            with tr.span("plans.run", job_group=report):
                df = runner.run(report)
            with tr.span("report.force", job_group=report):
                force(df)
            op_ms[report] = [1000 * (time.perf_counter() - t0)]
            self.reports[report] = df
        if self.last_store is not None:
            shutil.rmtree(self.last_store)
        self.last_store = root
        return op_ms

    def check(self, ctx: Ctx) -> list[str]:
        import spark_data_engineering_spark.queries.pipeline  # noqa: F401  registers the oracles
        from spark_data_engineering_spark.registry import ORACLES

        con = oracle_connection(ctx.sf_dir)
        out = []
        for report, oracle in REPORT_ORACLES.items():
            bad = oracle_mismatch(report, self.reports[report].toPandas(), con, ORACLES[oracle])
            if bad:
                out.append(bad)
        return out

    def layer_metrics(self, ctx: Ctx, pid: str) -> dict[str, float]:
        tr = ctx.tracer
        return {
            "pipeline.build_registry_s": tr.total(pid, "pipeline.build_registry"),
            "plans.run_s": tr.total(pid, "plans.run"),
            "plans.run_self_s": tr.self_time(pid, "plans.run"),
            "checks.run_checks_s": tr.total(pid, "checks.run_checks"),
            "checks.calls": len(tr.pass_spans(pid, "checks.run_checks")),
            "sources.snapshot.write_s": tr.total(pid, "sources.snapshot.write"),
            "sources.snapshot.read_latest_s": tr.total(pid, "sources.snapshot.read_latest"),
            "sources.snapshot.table_mb": T.dir_mb(self.last_store),
        }


class QueryMix:
    """The analyst half of ``query_ingest``."""

    ops_per_pass = len(MIX)

    def setup(self, ctx: Ctx) -> None:
        from spark_data_engineering_spark import registry

        registry.load_all()
        self.queries = {n: registry.QUERIES[n] for n in MIX}
        self.con = oracle_connection(ctx.sf_dir)
        self.failures: list[str] = []

    def run_pass(self, ctx: Ctx, i: int) -> dict[str, list[float]]:
        """One seed-ordered round of the queries; no latency samples."""
        tr = ctx.tracer
        order = list(MIX)
        ctx.rng.shuffle(order)
        for name in order:
            with tr.span(f"queries.{name}.build", job_group=name):
                df = self.queries[name](ctx.spark, ctx.sf_dir)
            with tr.span(f"queries.{name}.action", job_group=name):
                if i == 0:
                    # the first warm-up pass collects instead, for the check
                    self._check(ctx, name, df.toPandas())
                else:
                    force(df)
        return {}

    def _check(self, ctx: Ctx, name: str, pdf: pd.DataFrame) -> None:
        from spark_data_engineering_spark.registry import ORACLES

        bad = oracle_mismatch(name, pdf, self.con, ORACLES[name])
        if bad:
            self.failures.append(bad)

    def check(self, ctx: Ctx) -> list[str]:
        return self.failures

    def layer_metrics(self, ctx: Ctx, pid: str) -> dict[str, float]:
        tr = ctx.tracer
        out = {}
        for name in MIX:
            out[f"queries.{name}.build_s"] = tr.total(pid, f"queries.{name}.build")
            out[f"queries.{name}.action_s"] = tr.total(pid, f"queries.{name}.action")
        return out


class TxnIngest:
    """The ingest half of ``query_ingest``. Inputs: the events table split
    by seed into ``INGEST_FILES`` batch files of uneven size, plus
    ``UPSERT_FILES`` update files over seed-picked keys (changed values for
    existing events, and new events), and a seed-picked delete predicate."""

    ops_per_pass = 7

    def setup(self, ctx: Ctx) -> None:
        ev = duckdb.connect().execute(
            f"SELECT * FROM '{ctx.sf_dir}/events.parquet' ORDER BY event_id"
        ).fetchdf()
        ev["ts"] = ev["ts"].dt.tz_localize("UTC").astype("datetime64[us, UTC]")
        rng = ctx.rng
        n = len(ev)
        cuts = sorted(rng.sample(range(1, n), INGEST_FILES - 1))
        self.ingest_dir = os.path.join(ctx.run_dir, "ingest")
        self.upsert_dir = os.path.join(ctx.run_dir, "upsert")
        os.makedirs(self.ingest_dir)
        os.makedirs(self.upsert_dir)
        for k, (a, b) in enumerate(zip([0, *cuts], [*cuts, n])):
            ev.iloc[a:b].to_parquet(os.path.join(self.ingest_dir, f"part-{k:02d}.parquet"), index=False)
        updated = ev.iloc[sorted(rng.sample(range(n), n // 20))].copy()
        updated["value"] = (updated["value"] * 1.5 + 1).round(2)
        fresh = ev.iloc[sorted(rng.sample(range(n), n // 100))].copy()
        fresh["event_id"] = fresh["event_id"] + int(ev["event_id"].max()) + 1
        ups = pd.concat([updated, fresh]).sample(frac=1.0, random_state=rng.randrange(2**31))
        for k in range(UPSERT_FILES):
            ups.iloc[k::UPSERT_FILES].to_parquet(
                os.path.join(self.upsert_dir, f"part-{k:02d}.parquet"), index=False
            )
        self.delete_mod, self.delete_rem = 10, rng.randrange(10)
        self.expected = self._expected()
        self.last_table: str | None = None

    def _expected(self) -> dict:
        con = duckdb.connect()
        con.execute(f"CREATE VIEW e AS SELECT * FROM '{self.ingest_dir}/*.parquet'")
        con.execute(f"CREATE VIEW u AS SELECT * FROM '{self.upsert_dir}/*.parquet'")
        con.execute(
            "CREATE VIEW merged AS SELECT * FROM e WHERE event_id NOT IN (SELECT event_id FROM u) "
            "UNION ALL SELECT * FROM u"
        )
        hit = f"coalesce(user_id % {self.delete_mod} = {self.delete_rem}, false)"
        rows, total = con.execute(f"SELECT count(*), sum(value) FROM merged WHERE NOT {hit}").fetchone()
        matched, inserted = con.execute(
            "SELECT count(*) FILTER (WHERE event_id IN (SELECT event_id FROM e)), "
            "count(*) FILTER (WHERE event_id NOT IN (SELECT event_id FROM e)) FROM u"
        ).fetchone()
        deleted = con.execute(f"SELECT count(*) FROM merged WHERE {hit}").fetchone()[0]
        ingested = con.execute("SELECT count(*) FROM e").fetchone()[0]
        return {
            "rows": rows,
            "sum_value": total,
            "ingested_rows": ingested,
            "changes": {
                "update_preimage": matched,
                "update_postimage": matched,
                "insert": inserted,
                "delete": deleted,
            },
        }

    def _stream(self, ctx: Ctx, label: str, start) -> list[dict]:
        tr = ctx.tracer
        with tr.span(f"streaming.{label}", job_group=label):
            q = start()
            q.awaitTermination()
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        self.progress[label] = progress
        return progress

    def run_pass(self, ctx: Ctx, i: int) -> dict[str, list[float]]:
        from pyspark.sql import functions as F

        from spark_data_engineering_spark.sources.txn import TxnTable
        from spark_data_engineering_spark.streaming.events import (
            read_event_stream,
            stream_to_txn_table,
        )
        from spark_data_engineering_spark.streaming.upsert import stream_upsert_to_txn

        spark, tr = ctx.spark, ctx.tracer
        root = os.path.join(ctx.run_dir, f"txn-{i}")
        table = TxnTable(root, "events")
        t = T.txn_table_proxy(table, tr) if tr.enabled else table
        self.progress: dict[str, list] = {}
        ingest = self._stream(
            ctx,
            "ingest",
            lambda: stream_to_txn_table(read_event_stream(spark, self.ingest_dir), t, app_id="ingest"),
        )
        v_ingest = table.version()
        self._stream(
            ctx,
            "upsert",
            lambda: stream_upsert_to_txn(
                read_event_stream(spark, self.upsert_dir), t, app_id="upsert", on=["event_id"], cdf=True
            ),
        )
        with tr.span("txn.delete", job_group="delete"):
            t.delete_where(spark, (F.col("user_id") % self.delete_mod) == self.delete_rem, cdf=True)
        with tr.span("txn.compact", job_group="compact"):
            t.compact(spark)
        with tr.span("txn.read_current", job_group="read_current"):
            cur = t.read(spark).agg(F.count("*").alias("n"), F.sum("value").alias("s")).collect()[0]
        with tr.span("txn.read_version", job_group="read_version"):
            old = t.read(spark, at_version=v_ingest).count()
        with tr.span("txn.read_changes", job_group="read_changes"):
            changes = t.read_changes(spark, v_ingest).groupBy("_change_type").count().collect()
        self.result = {
            "rows": cur["n"],
            "sum_value": cur["s"],
            "ingested_rows": old,
            "changes": {r["_change_type"]: r["count"] for r in changes},
        }
        self.table = table
        if self.last_table is not None:
            shutil.rmtree(self.last_table)
        self.last_table = root
        return {"ingest": [p.durationMs["triggerExecution"] for p in ingest]}

    def check(self, ctx: Ctx) -> list[str]:
        got, want = self.result, self.expected
        out = []
        for key in ("rows", "ingested_rows", "changes"):
            if got[key] != want[key]:
                out.append(f"txn_ingest {key}: {got[key]} != expected {want[key]}")
        if not math.isclose(got["sum_value"], want["sum_value"], rel_tol=1e-9):
            out.append(f"txn_ingest sum(value): {got['sum_value']} != expected {want['sum_value']}")
        return out

    def layer_metrics(self, ctx: Ctx, pid: str) -> dict[str, float]:
        tr = ctx.tracer
        batches = [p for ps in self.progress.values() for p in ps]
        add_batch = sum(p.durationMs.get("addBatch", 0) for p in batches)
        stream_wall_ms = 1000 * (tr.total(pid, "streaming.ingest") + tr.total(pid, "streaming.upsert"))
        log_entries = [f for f in os.listdir(self.table.log_dir) if f.endswith(".json")]
        return {
            "streaming.batches": len(batches),
            "streaming.add_batch_ms": add_batch,
            "streaming.trigger_ms": sum(p.durationMs["triggerExecution"] for p in batches),
            "streaming.floor_ms": stream_wall_ms - add_batch,
            "sources.txn.commits": len(tr.pass_spans(pid, "sources.txn.commit")),
            "sources.txn.commit_s": tr.total(pid, "sources.txn.commit"),
            "sources.txn.read_s": tr.total(pid, "sources.txn.read"),
            "sources.txn.live_files": len(self.table.live_files()),
            "sources.txn.table_mb": T.dir_mb(self.table.table_dir),
            "sources.txn.log_entries": len(log_entries),
        }


class QueryIngest:
    """The rest of the day beside the refresh: the analyst queries in a
    seed-shuffled order, then the transactional ingest."""

    name = "query_ingest"
    warmup_passes = 1
    nominal_pass_s = 12.0

    def __init__(self) -> None:
        self.parts = (QueryMix(), TxnIngest())
        self.ops_per_pass = sum(p.ops_per_pass for p in self.parts)

    def setup(self, ctx: Ctx) -> None:
        for p in self.parts:
            p.setup(ctx)

    def run_pass(self, ctx: Ctx, i: int) -> dict[str, list[float]]:
        samples: dict[str, list[float]] = {}
        for p in self.parts:
            samples.update(p.run_pass(ctx, i))
        return samples

    def check(self, ctx: Ctx) -> list[str]:
        return [f for p in self.parts for f in p.check(ctx)]

    def layer_metrics(self, ctx: Ctx, pid: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for p in self.parts:
            out.update(p.layer_metrics(ctx, pid))
        return out


WORKLOADS = {w.name: w for w in (ReportRefresh, QueryIngest)}
