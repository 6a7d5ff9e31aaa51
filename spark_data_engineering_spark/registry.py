"""Query/oracle registry backing ``__spark_entry__.py``.

Each registered query is a callable ``(spark, sf_dir) -> DataFrame``; most
carry an equivalent ANSI-SQL oracle that DuckDB runs on the same parquet
tables (the driver's correctness gate). Queries whose semantics are not
SQL-expressible (LSH bucketing, streaming state) register without an
oracle and get a rows-only check.

Naming contract: every computed column is aliased identically in the Spark
code and the oracle SQL — the driver sorts columns by name before hashing.

Float policy: aggregates over ``double`` columns are rounded (ROUND(x, 2))
on BOTH sides so cross-engine float-summation order can't flip the hash.
Sums of doubles are first cast to DECIMAL where exactness matters.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query (and optional DuckDB oracle SQL) under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# The external correctness gate oracle-checks only the FIRST 50
# registered queries (dict order = driver check order), so CHECK_PRIORITY
# IS the evidence window. With ~190 oracled queries and 50 slots a full
# refresh takes >= 4 rounds, so the window is derived MECHANICALLY each
# round by the codified priority rule (VERDICT r7 task 4; implementation:
# tools/derive_window.py: --check diffs this tuple against the rule's
# output, --write rewrites it):
#
#   P1. NEVER-driver-checked oracled queries first (registration order) —
#       new surfaces enter the window the round they land.
#   P2. Then whole cohorts by newest-green driver round, OLDEST FIRST —
#       staleness is the only tiebreak across already-checked queries.
#   P3. A cohort that overflows the remaining slots keeps one query per
#       machinery family (the tool's FAMILIES map names representative ->
#       covered members); what still overflows is cut at registration
#       order and rotates in next round under P2 by construction.
CHECK_PRIORITY: tuple[str, ...] = (
    # Derived by tools/derive_window.py --write.
    "txn_datasource_revenue",
    "dv_delete_report",
    "bloom_index_point_lookup",
    "txn_add_column_default_revenue",
    "txn_analyze_histogram",
    "txn_show_partitions",
    "txn_analyze_stats",
    "txn_hive_convert_revenue",
    "media_resize_profile",
    "dp_source_counts",
    "brand_type_metrics",
    "tpch_q10_returned_items",
    "tpch_q12_priority_classes",
    "tpch_q13_customer_distribution",
    "tpch_q14_promo_effect",
    "tpch_q17_small_qty_revenue",
    "tpch_q18_volume_customers",
    "tpch_q19_disjunctive_revenue",
    "tpch_q21_sole_returned_supplier",
    "tpch_q22_dormant_customers",
    "tpch_q2_min_cost_supplier",
    "tpch_q7_nation_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_type_profit",
    "tpch_q11_important_stock",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_part_counts",
    "tpch_q20_part_promotion_suppliers",
    "pack_documents_greedy",
    "export_jsonl_shards",
    "preference_pairs",
    "jaccard_prefix_pairs",
    "simhash_near_pairs",
    "dedup_clusters",
    "concurrent_sessions",
    "kmv_distinct_users",
    "kmv_audience_overlap",
    "jsonl_events_hourly_stats",
    "orc_events_hourly_stats",
    "xml_events_hourly_stats",
    "neardup_triangle_stats",
    "incremental_scd2_tiers",
    "zorder_pruned_revenue",
    "txn_maintenance_report",
    "txn_set_drop_default_revenue",
    "txn_partition_evolution_revenue",
    "txn_merge_evolution_revenue",
    "txn_analyze_equiheight",
    "media_exact_dedup",
    "media_audio_segments",
)


def load_all() -> None:
    """Import every query module so registration side-effects run, then
    reorder the registry so ``CHECK_PRIORITY`` queries register first
    (dict order = driver check order)."""
    from spark_data_engineering_spark.queries import (  # noqa: F401
        curation,
        dedup,
        events_analytics,
        formats,
        graph_q,
        incremental_q,
        multimodal,
        pipeline,
        privacy,
        profiling,
        quality,
        relational,
        reports,
        retrieval,
        sampling,
        scd2,
        similarity,
        stats,
        streaming_q,
        text,
        text2,
        tpch,
        tpch2,
    )

    ordered: dict[str, QueryFn] = {}
    for name in CHECK_PRIORITY:
        if name in QUERIES:
            ordered[name] = QUERIES[name]
    for name, fn in QUERIES.items():
        if name not in ordered:
            ordered[name] = fn
    QUERIES.clear()
    QUERIES.update(ordered)
