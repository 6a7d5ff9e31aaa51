"""Data-quality checks as plain DataFrame assertions.

Replaces the reference's Great Expectations gate (reference
etl/utils/base_table.py:140-196 + etl/great_expectations/expectations/*).
The reference wired three suites: orders.order_id unique,
fact_orders.order_id unique, daily_order_metrics.order_date unique +
0 < max(total_price_mean) < 100000 (SURVEY.md §2.7 V2-V4). Its README
also *intended* wide-table uniqueness checks that were never wired
(§2.7 quirk) — those are implemented here as first-class checks.

Execution model, for a node about to be published (``plans.dag.Runner``):

- uniqueness the optimizer has already derived costs nothing:
  ``proven_unique`` reads the plan's ``distinctKeys`` (a ``groupBy`` or
  ``dropDuplicates`` output proves its own keys);
- the other aggregate checks (``bounds``, ``not_null``, ``row_count_min``,
  ``accepted_values``) ride the write itself as ``observe()`` metrics
  (``observe_checks``), so they cost no data pass of their own;
- what cannot be folded into the write (an unproved ``unique``, whose
  ``count_distinct`` ``observe()`` refuses, and ``standalone`` checks
  such as ``foreign_key``) runs before it through ``run_checks``: every
  foldable aggregate in ONE ``df.agg(...)`` job, plus one job per
  standalone check. The reference ran a separate Great Expectations
  Spark job per suite.

Each check interprets its aggregate row slice into ``None`` (pass) or a
message.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F


class CheckError(Exception):
    """Raised when a node's data-quality checks fail (blocks the write,
    like the reference's InvalidDataException, base_table.py:232-235)."""


@dataclass(frozen=True)
class Check:
    """A named set of aggregate expressions + an interpreter over their
    results. ``build(tag)`` must alias every column with the tag so
    multiple checks coexist in one agg."""

    name: str
    build: Callable[[str], list[Column]]
    interpret: Callable[[Row, str], "str | None"]
    # set instead of build/interpret when the check needs its own plan
    # (e.g. an anti-join) and can't fold into the shared aggregate
    standalone: "Callable[[DataFrame], str | None] | None" = None
    # set by unique(): the columns whose uniqueness the check asserts, so
    # a plan that already proves them (proven_unique) skips the check
    key: tuple[str, ...] = ()

    def __call__(self, df: DataFrame) -> "str | None":
        """Single-check evaluation (one job) — the runner prefers batching
        many checks into a single agg via build/interpret."""
        if self.standalone is not None:
            return self.standalone(df)
        row = df.agg(*self.build("c0")).collect()[0]
        return self.interpret(row, "c0")


def _aggregates(checks) -> list[Column]:
    aggs: list[Column] = []
    for i, c in enumerate(checks):
        aggs.extend(c.build(f"c{i}"))
    return aggs


def _interpret(row, checks) -> list[str]:
    return [msg for i, c in enumerate(checks) if (msg := c.interpret(row, f"c{i}")) is not None]


def run_checks(df: DataFrame, checks: tuple[Check, ...]) -> list[str]:
    """Evaluate all aggregate-foldable checks in ONE job; checks that
    need their own plan (e.g. foreign_key's anti-join) run standalone."""
    if not checks:
        return []
    failures: list[str] = []
    foldable = [c for c in checks if c.standalone is None]
    for c in checks:
        if c.standalone is not None and (msg := c.standalone(df)) is not None:
            failures.append(msg)
    if foldable:
        row = df.agg(*_aggregates(foldable)).collect()[0]
        failures.extend(_interpret(row, foldable))
    return failures


def _scala_iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def proven_unique(df: DataFrame, cols: tuple[str, ...]) -> bool:
    """True when the optimized plan already guarantees that ``cols`` is
    a key of ``df``: one of its ``distinctKeys`` is made only of output
    columns named in ``cols`` (an empty one means at most one row).
    Catalyst derives these from ``groupBy``, ``distinct``/
    ``dropDuplicates`` and key-preserving joins. Its distinct keys are
    null-safe (NULLs group together), so a proved key also has at most
    one NULL, which is what ``unique`` asserts. Metadata only: no job
    runs."""
    plan = df._jdf.queryExecution().optimizedPlan()
    output = plan.outputSet()
    return any(
        all(
            e.getClass().getSimpleName() == "AttributeReference"
            and output.contains(e)
            and e.name() in cols
            for e in _scala_iter(key)
        )
        for key in _scala_iter(plan.distinctKeys())
    )


def split_checks(
    df: DataFrame, checks: tuple[Check, ...]
) -> tuple[tuple[Check, ...], tuple[Check, ...]]:
    """(observable, pre_write) for a write of ``df``: ``unique`` checks
    the plan proves are dropped; an unproved ``unique`` (``count_distinct``
    cannot be observed) and every ``standalone`` check must run before
    the write; every other check can ride the write as an observation."""
    observable: list[Check] = []
    pre_write: list[Check] = []
    for c in checks:
        if c.key and proven_unique(df, c.key):
            continue
        (pre_write if c.key or c.standalone is not None else observable).append(c)
    return tuple(observable), tuple(pre_write)


def observe_checks(
    df: DataFrame, checks: tuple[Check, ...]
) -> tuple[DataFrame, Callable[[], list[str]]]:
    """Attach every check's aggregates to ``df`` as ONE ``Observation``.
    Returns the observed frame and a function that, after the frame's
    first action (the write), interprets the observed row into failure
    messages, like ``run_checks`` over the same checks."""
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(obs, *_aggregates(checks))
    return observed, lambda: _interpret(obs.get, checks)


def unique(*cols: str) -> Check:
    """Primary-key uniqueness: no duplicate non-null keys, at most one
    all-null key (count_distinct ignores NULLs, so NULL keys are counted
    separately instead of being misreported as duplicates)."""

    def build(tag: str) -> list[Column]:
        if len(cols) > 1:
            # a struct is non-null even when its fields are, so NULL
            # components group as ordinary values here
            key = F.struct(*[F.col(c) for c in cols])
        else:
            key = F.col(cols[0])
        return [
            F.count(F.lit(1)).alias(f"{tag}_total"),
            F.count(key).alias(f"{tag}_nonnull"),
            F.count_distinct(key).alias(f"{tag}_distinct"),
        ]

    def interpret(row: Row, tag: str) -> "str | None":
        total, nonnull, distinct = (
            row[f"{tag}_total"],
            row[f"{tag}_nonnull"],
            row[f"{tag}_distinct"],
        )
        dups = nonnull - distinct
        nulls = total - nonnull
        if dups:
            return f"duplicate keys on {cols}: {dups} extra rows"
        if nulls > 1:
            return f"{nulls} NULL keys on {cols}"
        return None

    return Check(name=f"unique{cols}", build=build, interpret=interpret, key=cols)


def not_null(*cols: str) -> Check:
    def build(tag: str) -> list[Column]:
        return [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{tag}_nn_{c}") for c in cols
        ]

    def interpret(row: Row, tag: str) -> "str | None":
        bad = {c: row[f"{tag}_nn_{c}"] for c in cols if row[f"{tag}_nn_{c}"]}
        return f"nulls in {bad}" if bad else None

    return Check(name=f"not_null{cols}", build=build, interpret=interpret)


def bounds(
    col: str, lo: float | None = None, hi: float | None = None, strict: bool = True
) -> Check:
    """Bound on max(col) — the reference's revenue sanity bound
    (expectations/daily_order_metrics.json:17-32: 0 < max < 100000)."""

    def build(tag: str) -> list[Column]:
        return [F.max(F.col(col)).alias(f"{tag}_max")]

    def interpret(row: Row, tag: str) -> "str | None":
        mx = row[f"{tag}_max"]
        if mx is None:
            return f"{col}: max is NULL (empty input?)"
        if lo is not None and not (mx > lo if strict else mx >= lo):
            return f"{col}: max {mx} not above {lo}"
        if hi is not None and not (mx < hi if strict else mx <= hi):
            return f"{col}: max {mx} not below {hi}"
        return None

    return Check(name=f"bounds({col})", build=build, interpret=interpret)


def row_count_min(n: int) -> Check:
    def build(tag: str) -> list[Column]:
        return [F.count(F.lit(1)).alias(f"{tag}_cnt")]

    def interpret(row: Row, tag: str) -> "str | None":
        cnt = row[f"{tag}_cnt"]
        return None if cnt >= n else f"row count {cnt} < required {n}"

    return Check(name=f"row_count_min({n})", build=build, interpret=interpret)


def accepted_values(col: str, values: tuple) -> Check:
    """Column domain check: every non-null value must be in ``values``."""

    def build(tag: str) -> list[Column]:
        bad = (~F.col(col).isin(*values)) & F.col(col).isNotNull()
        return [F.sum(bad.cast("long")).alias(f"{tag}_bad")]

    def interpret(row: Row, tag: str) -> "str | None":
        n = row[f"{tag}_bad"]
        return f"{col}: {n} rows outside accepted values {values}" if n else None

    return Check(name=f"accepted_values({col})", build=build, interpret=interpret)


def foreign_key(df_col: str, dim, dim_col: str) -> Check:
    """Referential integrity: every non-null ``df_col`` must exist in the
    dimension's ``dim_col``. One anti-join job (not foldable into the
    shared agg — needs the dim side). ``dim`` may be a DataFrame or a
    zero-arg callable returning one (resolved at validation time, so the
    check always sees the dimension as currently defined)."""

    def standalone(df: DataFrame) -> "str | None":
        dim_df = dim() if callable(dim) else dim
        orphans = (
            df.filter(F.col(df_col).isNotNull())
            .join(dim_df.select(F.col(dim_col).alias(df_col)), df_col, "left_anti")
            .limit(1)
            .count()
        )
        return f"{df_col}: values missing from dimension {dim_col}" if orphans else None

    return Check(
        name=f"foreign_key({df_col})", build=None, interpret=None, standalone=standalone
    )

