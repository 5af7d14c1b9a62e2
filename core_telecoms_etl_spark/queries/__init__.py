"""Declared query inventory (SURVEY.md §2) — the driver-facing registry.

Each query is a `(pyspark_fn, duckdb_oracle_sql)` pair registered via the
`@query` decorator. `queries()` / `oracle_sql()` in `/root/repo/
__spark_entry__.py` re-export this registry for the driver's correctness
harness (row-count + schema + order-insensitive value-hash at sf0.01).

Determinism rules used throughout (so Spark and DuckDB hash-match):
- Row-level arithmetic is left UNROUNDED: both engines run the same IEEE
  ops on the same parquet doubles, producing bit-identical results.
- Aggregated sums on the 2-decimal money grid ARE rounded at that grid:
  the accumulated float error from engine-specific summation order
  (≪ half a grid step, 0.005) is snapped away, and grid values never
  sit on a round-half boundary.
- Sums on the 4-DECIMAL grid (price × discount products) are computed
  EXACTLY — never float-summed-then-rounded: at coarse group grain the
  sums reach ~1e9, where double summation error crosses the 4-decimal
  half-grid (5e-5) and the snap flips — measured at sf0.1 (multi_join).
  Two engine-exact forms are used: Decimal128 accumulation (factors
  cast to their 2-decimal grids), or the faster unscaled-BIGINT grid
  sum (`relational._disc_price_grid`, r6: round(x·100) longs summed,
  one final correctly-rounded divide — bit-identical to the decimal
  path at every tested scale, ~40% cheaper).
- Derived ratios (avg = rounded-sum / count) are computed from the
  snapped sums so both engines divide bit-identical doubles.
- Integer-typed computed columns are cast to BIGINT on both sides.
- Window/top-k orderings always end in a unique tiebreaker key.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → driver's rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        REGISTRY[name] = QuerySpec(name, fn, oracle)
        return fn

    return deco


# Bounded slot-scoped caching for queries that pin a catalog-bounded
# relation (see core_telecoms_etl_spark/caching.py for the rationale);
# re-exported here so query modules and tools share one namespace.
from core_telecoms_etl_spark.caching import (  # noqa: E402,F401
    cache_scoped,
    release_caches,
)


# Declaration order presented to the driver. The driver's correctness
# harness checks a bounded prefix of the registry (historically the
# first 50), so the prefix is curated and EVERY registry entry is listed
# explicitly (no un-curated fallback tail). Policy: (1) any query whose
# bytes or whose operators changed this round goes first; (2) then
# queries that have never appeared in a driver window; (3) then strong
# cross-family representatives; the tail is exclusively queries green in
# a previous window and byte-stable since. Since r16 the policy is
# enforced MECHANICALLY, against the round-END state, by
# tests/test_entry.py::test_changed_plans_enter_the_window (normalized
# plan fingerprints vs plans/fingerprints_base.json — the r15 frozen-
# head lesson: 18 late-round operator rewrites silently missed the
# window).
_CHECK_ORDER: tuple[str, ...] = (
    # ---- r17 window: head is EXACTLY 50, in three claims. Slots 1-15
    # ---- are the 15 queries whose plans differ from
    # ---- plans/fingerprints_base.json (training_pipeline, psi_drift,
    # ---- sequence_pack and simhash_signatures were already in the r16
    # ---- head; the other 11 changed through shared operators outside
    # ---- it). Slots 16-24 are the nine r11 rows, last green five
    # ---- rounds ago, which the r16 head had no room for. Slots 25-50
    # ---- are the first 26 of the 34 r12 rows; the 8 left over
    # ---- (theta_sketch_setops through window_value_funcs) head the
    # ---- tail as the first claim on the next window. The tail runs
    # ---- stalest last-green first; the r16 head's rows close it. The
    # ---- "green rN" labels are tools/gen_inventory.last_green_rounds.
    "training_pipeline",  # green r16
    "psi_drift",  # green r16
    "sequence_pack",  # green r16
    "simhash_signatures",  # green r16
    "best_match_links",  # green r15
    "bootstrap_ci",  # green r13
    "bootstrap_ci_partials",  # green r13
    "copurchase_pairs",  # green r13
    "fuzzy_linkage_compound",  # green r15
    "lift_analysis",  # green r13
    "minhash_near_dup",  # green r15
    "node_jaccard_similarity",  # green r13
    "time_grid_fill",  # green r13
    "time_grid_interpolate",  # green r13
    "triangle_count",  # green r13
    "count_filter",  # green r11
    "csv_scan",  # green r11
    "cube_agg",  # green r11
    "dataset_split",  # green r11
    "distinct_agg",  # green r11
    "filter_predicate",  # green r11
    "promo_revenue",  # green r11
    "top_supplier_revenue",  # green r11
    "volume_shipping",  # green r11
    "bloom_prune_semi_join",  # green r12
    "bm25_retrieval",  # green r12
    "chi_square_independence",  # green r12
    "funnel",  # green r12
    "histogram_agg",  # green r12
    "important_stock",  # green r12
    "inner_join_dim",  # green r12
    "json_scan",  # green r12
    "key_skew_profile",  # green r12
    "left_outer_join",  # green r12
    "multimodal_meta",  # green r12
    "order_by",  # green r12
    "order_count_distribution",  # green r12
    "parquet_scan",  # green r12
    "pivot_agg",  # green r12
    "product_profit",  # green r12
    "quality_filter",  # green r12
    "rename_map",  # green r12
    "sales_opportunity",  # green r12
    "scd2_history",  # green r12
    "semi_join",  # green r12
    "shipmode_priority",  # green r12
    "snapshot_diff",  # green r12
    "stats_agg",  # green r12
    "string_agg",  # green r12
    "supplier_part_counts",  # green r12
    # ---- end of the 50-slot r17 window ----------------------------------
    "theta_sketch_setops",  # green r12
    "top_k",  # green r12
    "upsert",  # green r12
    "window_lag",  # green r12
    "window_rank",  # green r12
    "window_rank_extended",  # green r12
    "window_running_sum",  # green r12
    "window_value_funcs",  # green r12
    "approx_count_distinct",  # green r13
    "cusum_changepoint",  # green r13
    "dedup_clusters",  # green r13
    "duplicate_rate_by_source",  # green r13
    "entropy_by_group",  # green r13
    "erasure_cascade",  # green r13
    "ewma_control_chart",  # green r13
    "fulfillment_latency",  # green r13
    "functional_dependency",  # green r13
    "gini_concentration",  # green r13
    "grouped_correlation",  # green r13
    "grouped_trend",  # green r13
    "grouping_sets_agg",  # green r13
    "hll_sliding_distinct",  # green r13
    "interarrival_stats",  # green r13
    "keyword_pmi",  # green r13
    "lexical_diversity",  # green r13
    "mann_whitney_u",  # green r13
    "mutual_information",  # green r13
    "pagerank_copurchase",  # green r13
    "runs_test",  # green r13
    "scalar_subquery",  # green r13
    "session_window",  # green r13
    "star_fact_complaints",  # green r13
    "stream_sliding",  # green r13
    "token_topk",  # green r13
    "zipf_profile",  # green r13
    "ab_test_stats",  # green r14
    "activity_streaks",  # green r14
    "anti_join",  # green r14
    "asof_join",  # green r14
    "asof_join_forward",  # green r14
    "contamination",  # green r14
    "date_funcs",  # green r14
    "domain_cap",  # green r14
    "domain_mixture",  # green r14
    "dq_suite",  # green r14
    "exact_k_sample",  # green r14
    "filter_agg_scalar",  # green r14
    "gopher_quality",  # green r14
    "hll_rollup",  # green r14
    "json_funcs",  # green r14
    "local_supplier_volume",  # green r14
    "math_funcs",  # green r14
    "near_dedup",  # green r14
    "null_handling",  # green r14
    "null_safe_join",  # green r14
    "pandas_udf_scalar",  # green r14
    "pii_scrub",  # green r14
    "range_join",  # green r14
    "salted_groupby",  # green r14
    "scalar_subquery_filter",  # green r14
    "session_paths",  # green r14
    "set_ops",  # green r14
    "stream_cms_heavy_hitters",  # green r14
    "string_funcs",  # green r14
    "text_repetition",  # green r14
    "unpivot_metrics",  # green r14
    "window_range_frame",  # green r14
    "window_rank_funcs",  # green r14
    "array_funcs",  # green r15
    "auto_topk_route",  # green r15
    "benford_profile",  # green r15
    "cms_heavy_hitters",  # green r15
    "completeness_gaps",  # green r15
    "containment_near_dup",  # green r15
    "cosine_pairs",  # green r15
    "embedding_norms",  # green r15
    "events_tumbling",  # green r15
    "exists_subquery",  # green r15
    "feature_scaling",  # green r15
    "fuzzy_linkage",  # green r15
    "groupby_agg",  # green r15
    "incremental_rollup",  # green r15
    "iqr_outliers",  # green r15
    "knn_classify",  # green r15
    "knn_classify_ivf",  # green r15
    "ks_two_sample",  # green r15
    "large_volume_customers",  # green r15
    "mad_outliers",  # green r15
    "market_share",  # green r15
    "markov_transitions",  # green r15
    "mom_revenue_growth",  # green r15
    "multi_join",  # green r15
    "order_price_consistency",  # green r15
    "pareto_classes",  # green r15
    "point_in_time_join",  # green r15
    "prefix_filter_near_dup",  # green r15
    "returned_item_report",  # green r15
    "revenue_topk_shipping",  # green r15
    "salted_skew_join",  # green r15
    "semantic_dedup",  # green r15
    "sessionize",  # green r15
    "span_corruption",  # green r15
    "sql_api",  # green r15
    "stratified_sample",  # green r15
    "stream_stateful",  # green r15
    "stream_stream_join",  # green r15
    "string_funcs_extended",  # green r15
    "text_chunks",  # green r15
    "text_profile",  # green r15
    "vector_quantize",  # green r15
    "vector_topk",  # green r15
    "vector_topk_ivf",  # green r15
    "vector_topk_lsh",  # green r15
    "weighted_median",  # green r15
    "kll_sliding_quantile",  # green r16
    "near_dedup_layered",  # green r16
    "segment_boilerplate_dedup",  # green r16
    "min_cost_supplier",  # green r16
    "part_promotion_suppliers",  # green r16
    "waiting_orders_suppliers",  # green r16
    "bigram_surprisal",  # green r16
    "profile_table",  # green r16
    "approx_quantiles",  # green r16
    "percentile_agg",  # green r16
    "kll_quantile_rollup",  # green r16
    "feature_binning",  # green r16
    "winsorize_features",  # green r16
    "kaplan_meier",  # green r16
    "log_rank_test",  # green r16
    "seasonal_naive_forecast",  # green r16
    "deterministic_shuffle",  # green r16
    "rolling_anomaly",  # green r16
    "attribution_last_touch",  # green r16
    "cohort_ltv_curve",  # green r16
    "zorder_locality",  # green r16
    "moments_profile",  # green r16
    "grouped_map_zscore",  # green r16
    "partition_pruned_rollup",  # green r16
    "late_arrival_audit",  # green r16
    "corpus_incremental_dedup",  # green r16
    "cohort_retention",  # green r16
    "dedup_latest_by_key",  # green r16
    "dedup_rows",  # green r16
    "discounted_revenue_or",  # green r16
    "events_sliding",  # green r16
    "exists_group_agg",  # green r16
    "full_outer_join",  # green r16
    "heavy_hitters",  # green r16
    "recursive_hierarchy_walk",  # green r16
    "referential_integrity",  # green r16
    "rfm_segments",  # green r16
    "stream_dedup",  # green r16
    "stream_session",  # green r16
    "stream_static_join",  # green r16
    "stream_tumbling",  # green r16
    "text_exact_dedup",  # green r16
    "tf_idf",  # green r16
    "traffic_heatmap",  # green r16
    "weighted_sample",  # green r16
    "windowed_funnel",  # green r16
)


def _ordered() -> dict[str, QuerySpec]:
    _load_all()
    missing = [n for n in _CHECK_ORDER if n not in REGISTRY]
    if missing:
        raise KeyError(f"_CHECK_ORDER names not in registry: {missing}")
    out = {n: REGISTRY[n] for n in _CHECK_ORDER}
    out.update((n, s) for n, s in REGISTRY.items() if n not in out)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in _ordered().items()
        if spec.oracle is not None
    }


# --- poisoned-metric normalization (r15 float-specials corpus) ----------
# Nonfinite metric values (NaN/±Inf — ~0.5% of a realistic 100 TB feed)
# carry no magnitude information: left in, every cent-grid cast dies
# with ANSI CAST_OVERFLOW mid-job, NaN flows differ between pandas
# (NA-skipping) and SQL (propagating), and DuckDB's STDDEV overflows
# outright. The engine-wide contract: nonfinite values scope out
# EXACTLY like NULLs. Queries adopt it by loading events through
# `metric_events` and wrapping their oracle with `with_finite_events`
# — the pair keeps both engines on the identical (finite ∪ NULL)
# relation, and the already-pinned NULL contracts do the rest.

_FIN_EVENTS_CTE = (
    "__fin_events AS (SELECT * REPLACE ("
    "CASE WHEN isfinite(value) THEN value END AS value) FROM events)"
)


def with_finite_events(oracle: str) -> str:
    """Splice the finite-value events CTE into a DuckDB oracle and
    repoint its events references (DuckDB CASE/isfinite mirror of
    `operators/cleaning.finite_or_null`)."""
    body = oracle.replace("FROM events", "FROM __fin_events").replace(
        "JOIN events", "JOIN __fin_events"
    )
    stripped = body.lstrip()
    if stripped.startswith("WITH"):
        return body.replace("WITH", f"WITH {_FIN_EVENTS_CTE},", 1)
    return f"WITH {_FIN_EVENTS_CTE} {body}"


def metric_events(spark: SparkSession, sf_dir: str):
    """The events relation with `value` normalized through
    `finite_or_null` — the Spark half of the poisoned-metric
    contract (module comment above)."""
    from core_telecoms_etl_spark.operators.cleaning import finite_or_null
    from core_telecoms_etl_spark.sources.readers import load_table

    df = load_table(spark, sf_dir, "events")
    return df.withColumn("value", finite_or_null("value"))


_LOADED = False


def _load_all() -> None:
    global _LOADED
    if _LOADED:
        return
    from core_telecoms_etl_spark.queries import (  # noqa: F401
        analytics,
        inferential,
        relational,
        scalar_funcs,
        quality,
        star,
        temporal,
        text,
        vector,
        events,
    )

    _LOADED = True
