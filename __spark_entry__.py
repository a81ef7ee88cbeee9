"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

The actual query surface lives in ``lakehouse_architecture_spark.queries``
(one module per operator family, each query registered with its oracle
twin); this file only adapts that registry to the driver's interface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on sf0.001."""
    from lakehouse_architecture_spark.queries.tpch import q1_pricing_summary

    return q1_pricing_summary(spark, SF0001_DIR)


# Queries are verified in dict-insertion order, the first N of them: the
# sentinels and the priority list fill that window, and every other
# query follows in registry order.
_SENTINELS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
]
_PRIORITY = [
    "docs_split_leakage_audit",
    "docs_sample_topk_per_source",
    "lineitem_winsorized_price_stats",
    "approx_distinct_and_quantile",
    "quantiles_exact",
    "parts_coorder_weighted_pagerank",
    "agg_cube_flags",
    "agg_grouping_sets",
    "agg_rollup_status_priority",
    "agg_stats_by_status",
    "case_when_conditional_agg",
    "correlated_min_per_group_join",
    "dedup_latest_order_per_customer",
    "distinct_segments",
    "docs_bpe_merge_qa",
    "docs_learned_filter_apply",
    "docs_rare_token_ratio",
    "emb_pq_quantization_qa",
    "events_daily_new_vs_returning",
    "events_signup_to_purchase_1h",
    "events_trailing_24h_volume",
    "events_value_quantile_rollup",
    "join_cross_region_pairs",
    "join_full_outer_nation_presence",
    "join_inner_orders_customer",
    "join_left_anti_inactive_customers",
    "join_left_outer_order_counts",
    "join_left_semi_active_customers",
    "join_right_outer_part_lineitems",
    "orders_incremental_rollup_state",
    "pivot_status_by_priority",
    "q22_dormant_customers",
    "scalar_date_funcs",
    "scalar_string_funcs",
    "scalar_subquery_above_avg",
    "setop_except_all_dup_aware",
    "setop_except_no_order_customers",
    "setop_intersect_keys",
    "setop_union_all_parties",
    "sql_bucketed_colocated_join",
    "sql_probe_orders",
    "sql_revenue_by_nation",
    "topk_orders",
    "window_lag_order_gaps",
    "window_lead_ntile",
    "window_moving_avg_frame",
    "window_rank_orders",
    "window_running_spend",
]


def _ordered_names() -> list[str]:
    from lakehouse_architecture_spark.queries import QUERIES

    names = [n for n in _SENTINELS + _PRIORITY if n in QUERIES]
    listed = set(names)
    return names + [n for n in QUERIES if n not in listed]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from lakehouse_architecture_spark.queries import QUERIES

    return {n: QUERIES[n] for n in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB twins for every oracle-expressible query."""
    from lakehouse_architecture_spark.queries import ORACLES

    return {n: ORACLES[n] for n in _ordered_names() if n in ORACLES}
