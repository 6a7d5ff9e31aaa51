"""Declarative pipeline DAG: nodes, registry, topological runner.

The reference's unit of work is ``TableETL`` — an abstract class per table
with ``extract_upstream → transform_upstream → validate → write → read``
orchestrated by ``run()`` (reference etl/utils/base_table.py:53-240).
Its control flow re-executes shared upstream subtrees once *per parent*
(reference run_etl.py:14-25 runs the whole bronze+silver tree twice —
SURVEY.md §3 E1.3) and materializes storage at every layer boundary,
cutting the Catalyst plan at each node (E1 step 4).

This module replaces that with:

- ``Node``: a named pure transform ``dict[dep_name, DataFrame] → DataFrame``
  plus metadata (primary keys, checks, partition keys) — same information
  as ``ETLDataSet`` + TableETL subclass, no per-table class.
- ``Registry``: name → Node, with cycle detection.
- ``Runner``: topological, memoized execution — each node computes ONCE
  per run regardless of fan-out, with a single batch timestamp shared by
  every node (the reference stamps ``datetime.now()`` per node, quirk Q5).
  Nodes are lazy DataFrames end-to-end: with no store attached the whole
  pipeline is ONE Catalyst plan (filters push across layer boundaries —
  the reference could never do this); with a store, only nodes marked
  ``materialize=True`` (typically gold) snapshot to storage and are
  re-read, preserving the reference's snapshot semantics where they
  matter.

At 100 TB: memoization removes redundant subtree scans; plan fusion lets
Catalyst push the gold-layer ``is_active`` filter down into the bronze
scan; materialization stays available per-node where checkpointing or
snapshot isolation is worth the write.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from spark_data_engineering_spark.checks import Check, CheckError


@dataclass
class Dataset:
    """Metadata wrapper for a produced table (≈ reference ``ETLDataSet``,
    etl/utils/base_table.py:29-50)."""

    name: str
    df: DataFrame
    primary_keys: tuple[str, ...] = ()
    partition_keys: tuple[str, ...] = ()
    storage_path: str | None = None
    data_format: str = "parquet"


TransformFn = Callable[[dict[str, DataFrame]], DataFrame]


@dataclass
class Node:
    name: str
    transform: TransformFn
    deps: tuple[str, ...] = ()
    primary_keys: tuple[str, ...] = ()
    checks: tuple[Check, ...] = ()
    partition_keys: tuple[str, ...] = ()
    materialize: bool = False


class Registry:
    def __init__(self) -> None:
        self._nodes: dict[str, Node] = {}

    def register(self, node: Node) -> Node:
        if node.name in self._nodes:
            raise ValueError(f"duplicate node {node.name!r}")
        self._nodes[node.name] = node
        return node

    def node(self, name: str) -> Node:
        try:
            return self._nodes[name]
        except KeyError:
            raise KeyError(
                f"unknown node {name!r}; registered nodes: {sorted(self._nodes)}"
            ) from None

    def names(self) -> list[str]:
        return list(self._nodes)

    def topo_order(self, target: str) -> list[str]:
        """Dependency-first order for ``target``; raises on cycles."""
        order: list[str] = []
        state: dict[str, int] = {}  # 1 = visiting, 2 = done

        def visit(name: str) -> None:
            st = state.get(name)
            if st == 2:
                return
            if st == 1:
                raise ValueError(f"cycle through {name!r}")
            state[name] = 1
            for dep in self.node(name).deps:
                visit(dep)
            state[name] = 2
            order.append(name)

        visit(target)
        return order


@dataclass
class Runner:
    """Memoized topological executor with one batch timestamp per run.

    ``validate`` modes:
    - ``"materialized"`` (default): checks gate writes only — the
      reference's semantics (validate → write, base_table.py:222-240).
      A failing batch is never visible: ``_publish`` proves what the plan
      can, runs what cannot ride the write before it, observes the rest
      during the write and lets the store publish only after the audit
      passes. With no store, nothing materializes, so the pipeline stays
      one fused lazy plan with zero validation jobs.
    - ``"all"``: also validate every unmaterialized node eagerly (one
      combined agg job per node that has checks the plan does not
      prove) — integration-test mode.
    - ``"none"``: skip checks.
    """

    spark: SparkSession
    registry: Registry
    store: object | None = None  # SnapshotStore, optional
    validate: str = "materialized"
    persist_shared: bool = False
    batch_ts: _dt.datetime = field(default_factory=lambda: _dt.datetime.now(tz=_dt.timezone.utc))
    _cache: dict[str, DataFrame] = field(default_factory=dict)
    _persisted: list[DataFrame] = field(default_factory=list)

    def run(self, target: str) -> DataFrame:
        order = self.registry.topo_order(target)
        # registry-wide out-degree: a node consumed by >1 parent (possibly
        # across separate run() calls) would otherwise recompute once per
        # downstream action
        fanout: dict[str, int] = {}
        for name in self.registry.names():
            for dep in self.registry.node(name).deps:
                fanout[dep] = fanout.get(dep, 0) + 1
        for name in order:
            if name in self._cache:
                continue
            node = self.registry.node(name)
            upstream = {dep: self._cache[dep] for dep in node.deps}
            df = node.transform(upstream)
            will_write = node.materialize and self.store is not None
            gate = self.validate == "all" or (self.validate == "materialized" and will_write)
            if will_write:
                df = self._publish(node, df, gate)
            else:
                if gate:
                    self._validate(node, df)
                if self.persist_shared and fanout.get(name, 0) > 1:
                    # cache-vs-recompute: a shared subtree computes once per
                    # downstream ACTION under pure laziness; persisting trades
                    # executor memory for that recomputation (Delta-less
                    # equivalent of the reference's materialize-every-layer,
                    # applied only where fan-out makes it pay)
                    df = df.persist()
                    self._persisted.append(df)
            self._cache[name] = df
        return self._cache[target]

    def unpersist_all(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def dataset(self, target: str) -> Dataset:
        node = self.registry.node(target)
        return Dataset(
            name=target,
            df=self.run(target),
            primary_keys=node.primary_keys,
            partition_keys=node.partition_keys,
            storage_path=(self.store.path(target) if self.store is not None and node.materialize else None),
        )

    def _publish(self, node: Node, df: DataFrame, gate: bool) -> DataFrame:
        """Write → audit → publish one materialized node and return its
        published batch, read back with the schema it was written with
        (no inference job). With ``gate``, uniqueness the plan proves is
        skipped, checks that cannot ride the write run first, and the rest
        are observed during the write; the store calls ``audit`` after the
        data is durable and before it is visible, so a failing batch is
        never published."""
        from spark_data_engineering_spark.checks import observe_checks, split_checks

        audit = None
        if gate:
            observable, pre_write = split_checks(df, node.checks)
            self._validate(node, df, pre_write)
            if observable:
                df, failures = observe_checks(df, observable)
                audit = lambda: self._raise_on(node, failures())  # noqa: E731
        self.store.write(
            node.name, df, self.batch_ts, partition_keys=node.partition_keys, audit=audit
        )
        return self.store.read_latest(self.spark, node.name, schema=df.schema)

    def _validate(self, node: Node, df: DataFrame, checks: tuple[Check, ...] | None = None) -> None:
        """Run ``checks`` (default: the node's checks the plan does not
        prove) as one aggregate job plus one job per standalone check;
        any failure raises (reference ``validate()`` gate,
        base_table.py:140-196 — Great Expectations replaced by plain
        DataFrame assertions)."""
        from spark_data_engineering_spark.checks import run_checks, split_checks

        if checks is None:
            observable, pre_write = split_checks(df, node.checks)
            checks = observable + pre_write
        if checks:
            self._raise_on(node, run_checks(df, checks))

    @staticmethod
    def _raise_on(node: Node, failures: list[str]) -> None:
        if failures:
            raise CheckError(f"node {node.name!r}: " + "; ".join(failures))
