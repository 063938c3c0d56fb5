"""Query catalog: the engine's declared query surface.

Each entry pairs a Spark DataFrame builder with (where SQL-expressible)
an equivalent ANSI-SQL oracle string that DuckDB runs over the same
parquet tables. The driver's correctness gate compares row count +
schema + order-insensitive value hash between the two, so:

- every computed column is aliased identically on both sides;
- floating aggregates are `round()`ed identically on both sides
  (double summation order differs between engines in the low bits);
- timestamp-valued outputs are cast to strings (dtype-normalization
  differences between Spark NTZ and DuckDB TIMESTAMP_NS otherwise leak
  into hashing);
- every ORDER BY under a LIMIT carries a unique tie-break key so the
  selected row SET is deterministic.

Coverage maps to SURVEY.md §2: reference-derived operator shapes
(S/P/F/J/A/X ids cited per query) plus the Spark-native completions
(group-bys, windows, set ops, rollup/cube, JSON functions) and the
north-star extension operators (dedup / similarity / text analysis).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from reactionetl_etl_spark.operators import dedup as D
from reactionetl_etl_spark.operators import relational as R
from reactionetl_etl_spark.operators import similarity as S
from reactionetl_etl_spark.operators import text as TX
from reactionetl_etl_spark.plans.pinned import PINNED_ORACLES
from reactionetl_etl_spark.sources.tables import load_events, load_table

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""
    tags: tuple[str, ...] = ()
    bench: bool = False


_REGISTRY: dict[str, QuerySpec] = {}


def _q(name: str, oracle: str | None, tags: tuple[str, ...] = (), bench: bool = False):
    def deco(fn: Builder) -> Builder:
        # a duplicate name would SILENTLY shadow the earlier query (dict
        # overwrite) — the earlier builder/oracle would vanish from the
        # driver's catalog with every check still green (r8 near-miss:
        # a new retention query almost replaced the r2 cohort matrix)
        if name in _REGISTRY:
            raise ValueError(f"duplicate catalog query name: {name!r}")
        # None → look for a large pinned VALUES oracle (plans/pinned.py)
        # before falling back to a rows-only check
        o = oracle if oracle is not None else PINNED_ORACLES.get(name)
        _REGISTRY[name] = QuerySpec(name, fn, o, (fn.__doc__ or "").strip(), tags, bench)
        return fn

    return deco


# Queries listed first in `all_queries()` iteration order — the driver's
# ~50-query value-hash window samples from the head. Regenerated each
# round by `tools/verify_ledger.py` (r8 verdict item 1), which derives
# from the in-repo CORRECTNESS_r0*.json history + git:
#   rank 0  never driver-value-verified (new this round)
#   rank 1  own catalog block / pinned oracle / operator module changed
#           since the query's last green driver row (direct churn)
#   rank 2  shared infra (sources/tables.py, session.py) changed since
#           the last green row (indirect churn)
#   rank 3  no churn — oldest-verified first
# This is a committed, static list — ordering is deterministic and
# reads nothing from the environment. Regenerate + paste with:
#     python tools/verify_ledger.py --priority
_PRIORITY: tuple[str, ...] = (
    "image_neardup_phash",
    "incremental_neardup_probe",
    "minhash_neardup_pairs",
    "multimodal_resize_pixels",
    "multimodal_feature_extract",
    "minhash_eval_report",
    "canonical_doc_per_cluster",
    "contamination_report",
    "copurchase_label_propagation",
    "cross_doc_dup_rate",
    "cut_duplicated_spans",
    "duplicate_clusters",
    "image_neardup_dhash",
    "neardup_yield_curve",
    "part_triangle_clustering",
    "repeated_span_extents",
    "semdedup_incremental",
    "semdedup_prune",
    "dsir_importance_weights",
    "event_trigram_paths",
    "events_trimmed_mean_udaf",
    "events_variant_stats",
    "fuzzy_name_pairs",
    "gopher_repetition_signals",
    "html_text_extraction",
    "incremental_agg_rollup",
    "loo_target_encoding",
    "recursive_month_spine",
    "revenue_yoy_growth",
    "rollup_cdc_maintenance",
    "segment_overlap_hll",
    "sentence_stats",
    "snapshot_bloom_pruned_scan",
    "span_corruption_pairs",
    "tfidf_cosine_pairs",
    "top_docs_per_lang",
    "training_corpus_build",
    "unconverted_clicks_outer_join",
    "vocab_coverage_topk",
    "word_window_udtf",
    "zipf_slope_fit",
    "approx_distinct_users",
    "audio_spectral_profile",
    "bpe_encode_tokens",
    "catalog_columns",
    "copurchase_assortativity",
    "copurchase_bfs_hops",
    "copurchase_cheapest_path",
    "copurchase_kcore",
    "customer_top2_orders_lateral",
    "doc_readability_scores",
    "event_funnel_steps",
    "events_mad_anomalies",
    "events_xml_extract",
    "incremental_join_materialize",
    "jaccard_prefix_join_pairs",
    "lang_source_chi2",
    "lineitem_correlation_matrix",
    "mjpeg_avi_frame_sample",
    "nation_revenue_trend",
    "orders_benford_deviation",
    "part_neighbor_jaccard",
    "personalized_pagerank_parts",
    "purchase_hits_scores",
    "quality_auc_mannwhitney",
    "rm3_expanded_search",
    "simhash_neardup_pairs",
    "supplier_pareto_frontier",
    "video_frame_sample",
    "video_scene_cuts",
    "weekly_retention_triangle",
    "asof_click_to_purchase",
    "bigram_llr_collocations",
    "click_purchase_interval_join",
    "contamination_check_4gram",
    "copurchase_betweenness",
    "dedup_exact_documents",
    "dedup_fingerprint_md5",
    "disjunctive_brand_revenue",
    "doc_fingerprint_rolling",
    "doc_quality_scores",
    "dominant_part_suppliers",
    "embedding_l2_norm_pandas",
    "event_markov_stationary",
    "events_sessionization",
    "events_tumbling_windows",
    "grouping_sets_revenue",
    "incremental_cms_rollup",
    "km_reorder_survival",
    "ks_test_click_purchase",
    "lang_id_heuristic",
    "lang_mixture_weights",
    "markov_removal_attribution",
    "mixture_temperature_resample",
    "monthly_revenue_mase",
    "nation_theilsen_trend",
    "orders_above_customer_avg",
    "part_value_concentration",
    "pii_redaction_stats",
    "promo_did_estimate",
    "purchase_attribution_credit",
    "quality_lift_deciles",
    "rake_keyphrases",
    "retrieval_ndcg_eval",
    "stratified_sample_events",
    "supplier_attr_counts",
    "text_stats_by_lang",
    "token_cms_estimates",
    "train_val_test_split",
    "bpe_learned_merges",
    "conformal_event_value",
    "contamination_check_shuffle",
    "corpus_drift_kl",
    "customer_rank_kendall",
    "decontaminated_corpus",
    "dense_sequence_customer",
    "doc_chunking_overlap",
    "embedding_quantize_error",
    "event_value_welch_ttest",
    "events_cusum_alarms",
    "events_linear_interpolation",
    "incremental_quantile_rollup",
    "lang_id_confusion",
    "lang_unigram_entropy",
    "monthly_revenue_holt",
    "nation_revenue_gini",
    "ngram_containment_pairs",
    "orders_scd2_temporal_join",
    "part_copurchase_pagerank",
    "regex_token_totals",
    "revenue_by_nation_sql",
    "scd2_customer_history",
    "search_mrr_eval",
    "session_overlap_pairs",
    "snapshot_change_feed",
    "snapshot_cow_upsert",
    "snapshot_pruned_scan",
    "snapshot_time_travel",
    "trigram_perplexity_scores",
    "upsert_keyed_parity",
    "bpe_fertility_by_lang",
    "cosine_topk_batch_exact",
    "cosine_topk_bruteforce",
    "cross_lang_template_report",
    "customer_balance_extremes",
    "customer_order_distribution",
    "doc_length_band_filter",
    "embedding_neardup_lsh",
    "embedding_neardup_pairs",
    "embedding_outlier_mahalanobis",
    "event_value_bootstrap_ci",
    "event_value_cuped",
    "event_value_mde",
    "event_value_quantile_effects",
    "event_value_sequential_test",
    "events_ewma_features",
    "global_sales_opportunity",
    "hard_negatives_topk",
    "hybrid_search_rrf",
    "intra_doc_repetition",
    "ivf_cosine_topk",
    "ivf_cosine_topk_batch",
    "join_key_skew_profile",
    "knn_label_predict",
    "large_volume_customers",
    "latest_order_per_nation",
    "lsh_cosine_topk",
    "lsh_cosine_topk_batch",
    "matryoshka_truncation_profile",
    "min_cost_supplier_per_part",
    "mutual_nearest_pairs",
    "orders_moving_avg_range_frame",
    "pack_efficiency_report",
    "part_measures_unpivot",
    "pca_explained_variance",
    "pq_cosine_topk_batch",
    "quantity_band_range_join",
    "referential_integrity_report",
    "split_embedding_drift",
    "split_lang_balance_chi2",
    "split_length_psi",
    "webdataset_roundtrip",
    "weekly_ltv_cohorts",
    "agg_max_bounds",
    "classifier_calibration_bins",
    "conform_rename_part",
    "copurchase_kcore2",
    "corpus_deterministic_shuffle",
    "cube_status_priority",
    "custkey_except",
    "custkey_intersect",
    "custkey_union",
    "customers_with_orders",
    "embedding_centroid_by_label",
    "events_hourly_by_type",
    "events_json_extract",
    "events_json_struct",
    "events_zscore_grouped_pandas",
    "ivf_tuning_curve",
    "lineitem_stats_by_flag",
    "monthly_order_stats",
    "multimodal_corpus_build",
    "nation_acctbal_having",
    "ngram_coverage_curve",
    "ngram_jaccard_pairs",
    "order_gaps_lag_lead",
    "orders_pivot_priority",
    "pack_length_tradeoff_curve",
    "part_string_functions",
    "pca_doc_projection",
    "price_rank_ntile",
    "promo_revenue_pct",
    "quality_classifier_eval",
    "quality_classifier_scores",
    "quantity_percentiles",
    "returned_items_top_customers",
    "returnflag_priority_matrix",
    "rollup_returnflag_status",
    "salted_join_orders_customer",
    "small_quantity_revenue",
    "sole_late_supplier",
    "split_leakage_audit",
    "tfidf_top_terms",
    "top_parts_by_revenue_share",
    "top_revenue_supplier",
    "top_words_explode",
    "totalprice_buckets",
    "volume_between_nations",
    "customers_without_orders",
    "dedup_method_agreement",
    "distinct_segments",
    "doc_unicode_stats",
    "enrich_orders_customer",
    "events_approx_distinct_check",
    "events_dedup_earliest",
    "events_ewma_final",
    "events_funnel_3step",
    "events_hourly_gapfill",
    "events_sliding_window",
    "events_trailing_hour_sum",
    "events_value_histogram",
    "filter_scan_pushdown",
    "ingest_rowcount",
    "key_extract_regexp",
    "lineitem_regression_stats",
    "local_supplier_volume",
    "nation_acctbal_concat",
    "order_priority_check",
    "orders_approx_percentile_check",
    "orders_column_profile",
    "orders_count_if_share",
    "orders_date_arithmetic",
    "orders_lag_defaults",
    "part_bool_bit_aggs",
    "pricing_summary",
    "priority_mode_by_month",
    "quantity_band_range_join_binned",
    "revenue_forecast",
    "revenue_grouping_sets",
    "running_total_per_customer",
    "semantic_contamination_ann",
    "semantic_contamination_report",
    "shipping_priority_top10",
    "source_overlap_matrix",
    "top10_orders_global",
    "top_order_per_customer",
    "totalprice_percent_rank",
    "user_retention_cohorts",
    "ann_recall_report",
    "asof_cogroup_pandas",
    "bigram_logprob_scores",
    "bits_index_probe",
    "bm25_index_probe",
    "bm25_search_topk",
    "contamination_check_bloom",
    "corpus_cluster_map",
    "corpus_funnel_report",
    "corpus_profile",
    "curriculum_order",
    "customer_spend_balance_spearman",
    "dau_wau_mau",
    "doc_char_stats",
    "doc_compression_by_source",
    "domain_cap_sample",
    "event_transition_matrix",
    "events_seasonal_anomalies",
    "frequent_tokens_exact",
    "hamming_rerank_cosine",
    "hamming_topk_bits",
    "ivfpq_drift_report",
    "ivfpq_index_probe",
    "kmeans_elbow_curve",
    "leakage_safe_split",
    "mixture_resample_uniform",
    "nation_market_share",
    "orders_expectations_report",
    "orders_time_split_embargo",
    "part_pair_affinity",
    "pq_index_probe",
    "product_type_profit",
    "quality_filter_verdicts",
    "token_budget_packing",
    "token_pair_stats",
    "totalprice_winsorized_by_segment",
    "user_event_sequences",
    "weighted_sample_hash",
)


def all_queries() -> dict[str, QuerySpec]:
    ordered = [n for n in _PRIORITY if n in _REGISTRY]
    ordered += [n for n in _REGISTRY if n not in _PRIORITY]
    return {n: _REGISTRY[n] for n in ordered}


def get_query(name: str) -> QuerySpec:
    return _REGISTRY[name]


def bench_queries() -> dict[str, QuerySpec]:
    return {k: v for k, v in _REGISTRY.items() if v.bench}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _ntz_epoch_sec(col) -> Column:
    """Fractional epoch seconds computed FROM a TIMESTAMP_NTZ value
    itself (microsecond diff from an NTZ anchor) — never via a
    session-timezone round trip. An ntz→ltz cast makes differences
    spanning a DST transition shift by ±3600 s in DST session
    timezones, diverging from the oracle's naive arithmetic; the
    driver's session timezone is not ours to pin (ADVICE r6)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.timestamp_diff("MICROSECOND", F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'"), c)
        / F.lit(1e6)
    )


# ---------------------------------------------------------------------------
# Reference-derived shapes (SURVEY.md §2.1-§2.8)
# ---------------------------------------------------------------------------


@_q(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                    AS sum_qty,
           round(sum(l_extendedprice), 2)                               AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                    AS avg_qty,
           round(avg(l_extendedprice), 4)                               AS avg_price,
           round(avg(l_discount), 6)                                    AS avg_disc,
           count(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "flagship"),
    bench=True,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship TPC-H-Q1-style pricing summary. Filter pushes to the
    parquet scan; partial aggregation is map-side combined, so the
    shuffle carries only (flag,status) groups — constant size at any SF."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.expr("TIMESTAMP_NTZ '1998-09-02 00:00:00'")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(charge), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@_q(
    "filter_scan_pushdown",
    """
    SELECT l_orderkey, l_linenumber, l_quantity,
           round(l_extendedprice * (1 - l_discount), 4) AS revenue
    FROM lineitem
    WHERE l_quantity BETWEEN 30 AND 40
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    """,
    tags=("scan", "filter"),
)
def filter_scan_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/F2/P3: selective scan. Both predicates and the 6-column
    projection reach the parquet reader (PushedFilters/ReadSchema) —
    row groups outside the ranges are skipped via min/max stats."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            F.col("l_quantity").between(30, 40)
            & (F.col("l_shipdate") >= F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'"))
            & (F.col("l_shipdate") < F.expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            # round to 4: the true product of 2-decimal price × 2-decimal
            # (1-discount) has exactly 4 decimals, so no .5-boundary
            # ambiguity between Spark and DuckDB rounding rules.
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
        )
    )


@_q(
    "enrich_orders_customer",
    """
    SELECT o.o_orderkey, o.o_custkey, c.c_nationkey AS nationkey
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    tags=("join", "reference-J1"),
)
def enrich_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/F1: the reference's batched UPDATE-join
    (database_manager.py:200-240) re-expressed as ONE broadcast left
    join — no 50-key batching loop; the fact side never shuffles."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    enriched = R.enrich_with_dim(orders, customer, "o_custkey", ["c_nationkey"])
    return enriched.select("o_orderkey", "o_custkey", F.col("c_nationkey").alias("nationkey"))


@_q(
    "agg_max_bounds",
    """
    SELECT max(o_orderkey) AS max_orderkey,
           round(max(o_totalprice), 2) AS max_totalprice,
           CAST(max(o_orderdate) AS VARCHAR) AS max_orderdate
    FROM orders
    """,
    tags=("agg", "reference-A1"),
)
def agg_max_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: scalar max() aggregates (the reference's join-loop bounds,
    database_manager.py:207,212). Parquet aggregate pushdown can answer
    these from footer stats without scanning rows."""
    return _t(spark, sf_dir, "orders").agg(
        F.max("o_orderkey").alias("max_orderkey"),
        F.round(F.max("o_totalprice"), 2).alias("max_totalprice"),
        F.max("o_orderdate").cast("string").alias("max_orderdate"),
    )


@_q(
    "ingest_rowcount",
    "SELECT count(*) AS records_inserted FROM lineitem",
    tags=("agg", "reference-A2"),
)
def ingest_rowcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: load row count (the reference's cur.rowcount after COPY)."""
    return _t(spark, sf_dir, "lineitem").agg(F.count("*").alias("records_inserted"))


@_q(
    "dense_sequence_customer",
    """
    SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) AS seq_num
    FROM customer
    """,
    tags=("window", "reference-X4"),
)
def dense_sequence_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: dense surrogate-key assignment (the reference's PostgreSQL
    sequence, create_tables.sql:32-35) — row_number over a deterministic
    order, computed distributed (rank.global_order_ranks prefix-sum, no
    single-partition window) so the same operator holds on fact tables."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    return R.dense_sequence(cust, ["c_custkey"], out_col="seq_num")


@_q(
    "key_extract_regexp",
    """
    SELECT c_custkey,
           CAST(regexp_extract(c_name, '#([0-9]+)', 1) AS BIGINT) AS name_num
    FROM customer
    """,
    tags=("scalar", "reference-P5"),
)
def key_extract_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/X5: key extraction from a formatted string — the engine's
    version of the reference's filename slicing (main.py:23,36), done
    with regexp_extract instead of positional slicing."""
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.regexp_extract("c_name", r"#([0-9]+)", 1).cast("bigint").alias("name_num"),
    )


@_q(
    "conform_rename_part",
    """
    SELECT p_partkey AS part_key, upper(p_brand) AS brand,
           p_type AS part_type, p_size AS size_mm,
           round(p_retailprice, 2) AS retail_price
    FROM part
    """,
    tags=("project", "reference-P1"),
)
def conform_rename_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2/P3: map-driven rename + conforming projection (the
    reference's column_map.json rename, file_manager.py:50-53)."""
    rename = {
        "p_partkey": "part_key",
        "p_type": "part_type",
        "p_size": "size_mm",
    }
    return (
        _t(spark, sf_dir, "part")
        .withColumnsRenamed(rename)
        .select(
            "part_key",
            F.upper("p_brand").alias("brand"),
            "part_type",
            "size_mm",
            F.round("p_retailprice", 2).alias("retail_price"),
        )
    )


# ---------------------------------------------------------------------------
# Spark-native completions: joins, aggregation, windows, set ops (§2.4-§2.7)
# ---------------------------------------------------------------------------


@_q(
    "shipping_priority_top10",
    """
    SELECT o.o_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(o.o_orderdate AS VARCHAR) AS orderdate
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderkey ASC
    LIMIT 10
    """,
    tags=("join", "agg", "topk"),
    bench=True,
)
def shipping_priority_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-style: selective dim filter → join → agg → top-k.
    customer filter broadcast onto orders; top-k runs as
    TakeOrderedAndProject (no global sort)."""
    cutoff = F.expr("TIMESTAMP_NTZ '1998-03-15 00:00:00'")
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    joined = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).join(
        li, li.l_orderkey == orders.o_orderkey
    )
    agg = joined.groupBy("o_orderkey", "o_orderdate").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )
    return R.topk(
        agg.select("o_orderkey", "revenue", F.col("o_orderdate").cast("string").alias("orderdate")),
        [F.col("revenue").desc(), F.col("o_orderkey").asc()],
        10,
    )


@_q(
    "order_priority_check",
    """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
    )
    GROUP BY o_orderpriority
    """,
    tags=("join", "semi", "agg"),
)
def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-style EXISTS → left-semi join. The semi join shuffles
    only the join key from the big side; no payload duplication."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R").select("l_orderkey")
    hit = orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
    return hit.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


@_q(
    "local_supplier_volume",
    """
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
    tags=("join", "agg"),
    bench=True,
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-style 6-table join. region/nation/supplier broadcast;
    Catalyst + AQE order the remaining shuffles. The s_nationkey =
    c_nationkey equi-condition rides on the supplier join."""
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'"))
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    joined = (
        c.join(F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)), c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), (s.s_suppkey == l.l_suppkey) & (s.s_nationkey == c.c_nationkey))
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


@_q(
    "revenue_forecast",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS promo_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("scan", "agg"),
    bench=True,
)
def revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-style selective scalar aggregate: every predicate pushes
    to parquet; the whole query is scan → partial agg → 1-row exchange."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
            & (F.col("l_shipdate") < F.expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("promo_revenue"))
    )


@_q("distinct_segments", "SELECT DISTINCT c_mktsegment FROM customer", tags=("distinct",))
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT as hash aggregate (map-side combined)."""
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@_q(
    "customers_with_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("semi",),
)
def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@_q(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("anti",),
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@_q(
    "running_total_per_customer",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
    tags=("window",),
    bench=True,
)
def running_total_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate window: one shuffle on the partition key, then
    a per-partition sort — the canonical Spark window pattern."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@_q(
    "top_order_per_customer",
    """
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders
    ) WHERE rn = 1
    """,
    tags=("window", "topk"),
)
def top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1-per-group via ranked window (deterministic tie-break)."""
    top = R.topk_per_group(
        _t(spark, sf_dir, "orders"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        1,
    )
    return top.select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))


@_q(
    "top10_orders_global",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
    tags=("topk", "sort"),
)
def top10_orders_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: TakeOrderedAndProject, not a full sort."""
    top = R.topk(
        _t(spark, sf_dir, "orders"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        10,
    )
    return top.select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))


@_q(
    "custkey_union",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 250000
    UNION
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
    """,
    tags=("setop",),
)
def custkey_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (dedup) = union + hash distinct."""
    a = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 250000).select(
        F.col("o_custkey").alias("custkey")
    )
    b = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("custkey")
    )
    return a.union(b).distinct()


@_q(
    "custkey_except",
    """
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders
    """,
    tags=("setop",),
)
def custkey_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set difference, dedup semantics)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return c.subtract(o)


@_q(
    "rollup_returnflag_status",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg", "rollup"),
)
def rollup_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (subtotals + grand total)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


@_q(
    "cube_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "cube"),
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all subtotal combinations)."""
    return _t(spark, sf_dir, "orders").cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n")
    )


@_q(
    "monthly_order_stats",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS VARCHAR) AS order_month,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total,
           round(avg(o_totalprice), 2) AS avg_price
    FROM orders GROUP BY 1
    """,
    tags=("scalar", "date", "agg"),
)
def monthly_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X2 family: date_trunc bucketing + aggregates."""
    o = _t(spark, sf_dir, "orders")
    return (
        # cast to date first: DuckDB's date_trunc('month') yields DATE,
        # Spark's yields timestamp — normalize both to 'yyyy-MM-dd'.
        o.groupBy(F.date_trunc("month", F.col("o_orderdate")).cast("date").cast("string").alias("order_month"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
    )


@_q(
    "part_string_functions",
    """
    SELECT p_partkey,
           p_brand || ':' || p_type AS brand_type,
           string_split(p_name, ' ')[1] AS first_word,
           length(p_name) AS name_len,
           CAST(regexp_extract(p_brand, '#([0-9]+)', 1) AS INTEGER) AS brand_num
    FROM part
    """,
    tags=("scalar", "string"),
)
def part_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar-function surface: concat/split/length/regexp."""
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.split("p_name", " ").getItem(0).alias("first_word"),
        F.length("p_name").alias("name_len"),
        F.regexp_extract("p_brand", r"#([0-9]+)", 1).cast("int").alias("brand_num"),
    )


@_q(
    "events_json_extract",
    """
    SELECT event_type,
           count(*) AS n,
           round(avg(CAST(props->>'$.k' AS INTEGER)), 4) AS avg_k,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
    tags=("scalar", "json", "agg"),
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction (get_json_object) + aggregation over the
    events table's `props` JSON column."""
    ev = load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg(k), 4).alias("avg_k"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@_q(
    "totalprice_buckets",
    """
    SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                ELSE 'large' END AS bucket,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY 1
    """,
    tags=("scalar", "case"),
)
def totalprice_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/WHEN bucketing + aggregation."""
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
        .alias("bucket")
    )
    return _t(spark, sf_dir, "orders").groupBy(bucket).agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


@_q(
    "nation_acctbal_having",
    """
    SELECT c_nationkey, count(*) AS n_cust,
           floor(sum(CAST(round(c_acctbal * 100) AS BIGINT)) / count(*)) / 100.0 AS avg_bal
    FROM customer GROUP BY c_nationkey HAVING count(*) >= 5
    """,
    tags=("agg", "having"),
)
def nation_acctbal_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter).

    avg computed in exact integer cents (per-row round → bigint sum →
    floor of the double quotient) so the result is bit-identical across
    engines — `round(avg(double), 2)` sits on a .xx5 boundary for some
    groups and Spark/DuckDB round it in opposite directions, and integer
    division differs on negatives (floor vs truncate)."""
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("bigint")
    return (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_cust"), F.sum(cents).alias("_sum_cents"))
        .where(F.col("n_cust") >= 5)
        .withColumn("avg_bal", F.floor(F.col("_sum_cents") / F.col("n_cust")) / 100.0)
        .drop("_sum_cents")
    )


@_q(
    "small_quantity_revenue",
    """
    SELECT round(sum(l.l_extendedprice), 2) AS total_revenue
    FROM lineitem l
    JOIN (SELECT l_partkey, avg(l_quantity) AS avg_qty FROM lineitem GROUP BY l_partkey) p
      ON l.l_partkey = p.l_partkey
    WHERE l.l_quantity < 0.5 * p.avg_qty
    """,
    tags=("join", "agg", "subquery"),
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-style correlated aggregate, decorrelated into an
    aggregate + self-join (what Catalyst does to the subquery form)."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    return (
        li.join(per_part, "l_partkey")
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("total_revenue"))
    )


@_q(
    "events_hourly_by_type",
    """
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour_start,
           event_type, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    tags=("events", "time", "agg"),
    bench=True,
)
def events_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation in batch form (the streaming module
    runs the same plan over readStream with a watermark)."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts_ntz")).cast("string").alias("hour_start"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@_q(
    "order_gaps_lag_lead",
    """
    SELECT o_custkey, o_orderkey,
           CAST(lag(o_orderdate)  OVER w AS VARCHAR) AS prev_orderdate,
           CAST(lead(o_orderdate) OVER w AS VARCHAR) AS next_orderdate
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("window",),
)
def order_gaps_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead offset windows (previous/next order per customer)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderdate").over(w).cast("string").alias("prev_orderdate"),
        F.lead("o_orderdate").over(w).cast("string").alias("next_orderdate"),
    )


@_q(
    "price_rank_ntile",
    """
    SELECT o_orderkey,
           rank()       OVER w AS price_rank,
           dense_rank() OVER w AS price_dense_rank,
           ntile(4)     OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS quartile
    FROM orders
    WINDOW w AS (ORDER BY round(o_totalprice, 0) DESC)
    """,
    tags=("window", "rank"),
)
def price_rank_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank (with real ties, via rounded price) + ntile
    quartiles under a total order — via the two-pass distributed global
    rank (operators/rank.py), NOT a single-partition Window.orderBy.

    One range partitioning serves both orderings: round(price) is
    monotone in price, so (round desc, price desc, key asc) is the
    same total order as the oracle's ntile ordering (price desc, key
    asc), and round-price ties never span partition boundaries.
    """
    from reactionetl_etl_spark.operators.rank import global_order_ranks

    ranked = global_order_ranks(
        _t(spark, sf_dir, "orders"),
        rank_exprs=[F.round("o_totalprice", 0)],
        rank_desc=[True],
        tie_exprs=[F.col("o_totalprice"), F.col("o_orderkey")],
        tie_desc=[True, False],
        ntile_n=4,
    )
    return ranked.select(
        "o_orderkey",
        F.col("global_rank").cast("int").alias("price_rank"),
        F.col("global_dense_rank").cast("int").alias("price_dense_rank"),
        F.col("global_ntile").cast("int").alias("quartile"),
    )


@_q(
    "custkey_intersect",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000
    INTERSECT
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0
    """,
    tags=("setop",),
)
def custkey_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics)."""
    a = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 200000).select(
        F.col("o_custkey").alias("custkey")
    )
    b = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 0).select(
        F.col("c_custkey").alias("custkey")
    )
    return a.intersect(b)


@_q(
    "lineitem_stats_by_flag",
    """
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4)               AS sd_qty,
           round(var_samp(l_discount), 6)                  AS var_disc,
           round(corr(l_quantity, l_extendedprice), 4)     AS corr_qty_price,
           round(median(l_quantity), 1)                    AS median_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def lineitem_stats_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/correlation/median."""
    return _t(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.median("l_quantity"), 1).alias("median_qty"),
    )


@_q(
    "orders_pivot_priority",
    """
    SELECT o_orderstatus,
           count(*) FILTER (o_orderpriority = '1-URGENT')        AS urgent,
           count(*) FILTER (o_orderpriority = '2-HIGH')          AS high,
           count(*) FILTER (o_orderpriority = '3-MEDIUM')        AS medium,
           count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS not_specified,
           count(*) FILTER (o_orderpriority = '5-LOW')           AS low
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg", "pivot"),
)
def orders_pivot_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (explicit value list → no extra distinct pass); oracle is
    the equivalent FILTERed conditional aggregation."""
    pivoted = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .pivot(
            "o_orderpriority",
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        )
        .count()
    )
    renamed = pivoted.toDF("o_orderstatus", "urgent", "high", "medium", "not_specified", "low")
    return renamed.na.fill(0, ["urgent", "high", "medium", "not_specified", "low"])


@_q(
    "events_json_struct",
    """
    SELECT event_id, event_type,
           CAST(props->>'$.k' AS INTEGER) AS prop_k,
           CASE WHEN CAST(props->>'$.k' AS INTEGER) >= 50 THEN 'hi' ELSE 'lo' END AS k_band
    FROM events
    """,
    tags=("scalar", "json"),
)
def events_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with an explicit struct schema (typed extraction, not
    per-path string getters) + derived banding."""
    ev = load_events(spark, sf_dir)
    parsed = ev.withColumn("p", F.from_json("props", "k INT"))
    return parsed.select(
        "event_id",
        "event_type",
        F.col("p.k").alias("prop_k"),
        F.when(F.col("p.k") >= 50, "hi").otherwise("lo").alias("k_band"),
    )


@_q(
    "top_words_explode",
    """
    SELECT word, count(*) AS n FROM (
        SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
        FROM documents
    ) WHERE length(word) >= 3
    GROUP BY word ORDER BY n DESC, word ASC LIMIT 20
    """,
    tags=("text", "explode", "topk"),
)
def top_words_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode (lateral unnest) + count + deterministic top-k: the
    canonical word-count. Map-side partial aggregation keeps the
    shuffle at distinct-word cardinality, not token count."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(D.normalize_text("text"), " ")).alias("word")
    ).filter(F.length("word") >= 3)
    counts = words.groupBy("word").agg(F.count("*").alias("n"))
    return R.topk(counts, [F.col("n").desc(), F.col("word").asc()], 20)


@_q(
    "ngram_jaccard_pairs",
    """
    WITH t0 AS (
        SELECT doc_id,
               list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS toks,
               substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 32) AS pfx
        FROM documents
    ), t AS (
        SELECT * FROM t0 QUALIFY count(*) OVER (PARTITION BY pfx) <= 64
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           floor(CAST(len(list_filter(a.toks, t -> list_contains(b.toks, t))) AS DOUBLE)
                 / (len(a.toks) + len(b.toks)
                    - len(list_filter(a.toks, t -> list_contains(b.toks, t))))
                 * 1e4 + 0.5) / 1e4 AS jaccard
    FROM t a JOIN t b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
    """,
    tags=("dedup", "text"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard over prefix-blocked candidate pairs —
    the verification stage that follows MinHash candidate generation
    (MinHash estimates, this confirms). Blocking keys the self-join on
    a 32-char normalized prefix so the pair count stays near-linear;
    prefix buckets over 64 members are dropped before the join (the
    same boilerplate defense as minhash_lsh_candidates — a shared
    32-char prefix across a million docs is boilerplate, and the
    quadratic bucket it would create belongs to fingerprint dedup)."""
    docs = _t(spark, sf_dir, "documents")
    norm = D.normalize_text("text")
    t = docs.select(
        "doc_id",
        F.array_distinct(F.split(norm, " ")).alias("toks"),
        F.substring(norm, 1, 32).alias("pfx"),
    )
    bw = Window.partitionBy("pfx")
    t = (
        t.withColumn("__bsize", F.count("*").over(bw))
        .filter(F.col("__bsize") <= 64)
        .drop("__bsize")
    )
    a, b = t.alias("a"), t.alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.col("a.toks")) + F.size(F.col("b.toks")) - inter
    return (
        a.join(b, on="pfx")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            # floor(x*1e4+0.5)/1e4, not round(): jaccard is a ratio of
            # small ints (k/32 etc. land exactly on .5 decimal
            # boundaries where Spark and DuckDB round() diverge)
            (F.floor(inter.cast("double") / union * 1e4 + 0.5) / 1e4).alias("jaccard"),
        )
    )


@_q(
    "events_zscore_grouped_pandas",
    """
    SELECT event_id,
           round((value - avg(value) OVER w) / stddev_samp(value) OVER w, 4) AS zscore
    FROM events
    WINDOW w AS (PARTITION BY event_type)
    """,
    tags=("udf", "grouped-map"),
)
def events_zscore_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map (per-event-type z-score) — the
    engine's imperative per-group surface, oracle-checked against the
    window-function formulation (operators/grouped.py has both)."""
    from reactionetl_etl_spark.operators.grouped import zscore_per_group_pandas

    ev = load_events(spark, sf_dir).select("event_id", "event_type", "value")
    z = zscore_per_group_pandas(ev, ["event_type"], "value")
    return z.select("event_id", F.round("zscore", 4).alias("zscore"))


@_q(
    "quantity_percentiles",
    """
    SELECT l_returnflag,
           round(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity), 2) AS p25,
           round(percentile_cont(0.50) WITHIN GROUP (ORDER BY l_quantity), 2) AS p50,
           round(percentile_cont(0.95) WITHIN GROUP (ORDER BY l_quantity), 2) AS p95
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (percentile_cont)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        # round at 2: interpolated values are exact multiples of 0.05
        # (integer quantities, 0.05-step index fractions), so 1-decimal
        # rounding would sit exactly on the .x5 boundary
        F.round(F.expr("percentile(l_quantity, 0.25)"), 2).alias("p25"),
        F.round(F.expr("percentile(l_quantity, 0.50)"), 2).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.95)"), 2).alias("p95"),
    )


@_q(
    "revenue_by_nation_sql",
    """
    SELECT n.n_name,
           round(sum(o.o_totalprice), 2) AS total_revenue,
           count(*) AS n_orders
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
    tags=("sql-api", "join", "agg"),
)
def revenue_by_nation_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.sql() front door: identical text runs on the registered
    temp views — proving the SQL API is a first-class entry point, not
    just the DataFrame DSL (Catalyst plans both identically)."""
    from reactionetl_etl_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name,
               round(sum(o.o_totalprice), 2) AS total_revenue,
               count(*) AS n_orders
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n   ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name
        """
    )


@_q(
    "salted_join_orders_customer",
    """
    SELECT c.c_nationkey, count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """,
    tags=("join", "skew"),
)
def salted_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-way salted equi-join (operators/skew.py): the hot-key defense
    when AQE can't split a single skewed key. Results are identical to
    the plain join — the oracle proves it."""
    from reactionetl_etl_spark.operators.skew import salted_join

    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    joined = salted_join(orders, cust, "o_custkey", n_salts=16)
    return joined.groupBy("c_nationkey").agg(
        F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


@_q(
    "asof_click_to_purchase",
    """
    SELECT c.event_id,
           c.user_id,
           round(p.value, 2) AS purchase_value,
           CAST(p.ts AS VARCHAR) AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    tags=("join", "asof", "events"),
    bench=True,
)
def asof_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each click is enriched with the
    user's most recent prior-or-simultaneous purchase. Implemented as
    union + carry-forward window — one shuffle, no range explosion —
    and oracled against DuckDB's native ASOF JOIN."""
    from reactionetl_etl_spark.operators.asof import asof_join

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts_ntz")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts_ntz",
        F.round("value", 2).alias("purchase_value"),
        F.col("ts_ntz").cast("string").alias("purchase_ts"),
    )
    joined = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts_ntz",
        right_ts="ts_ntz",
        payload_cols=["purchase_value", "purchase_ts"],
    )
    return joined.select("event_id", "user_id", "purchase_value", "purchase_ts")


@_q(
    "volume_between_nations",
    """
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
        JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
        WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
            OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
    ) GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("join", "agg", "tpch-q7"),
    bench=True,
)
def volume_between_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-style bilateral trade volume: 5-table join with a
    disjunctive nation-pair predicate; both nation dims broadcast."""
    s = _t(spark, sf_dir, "supplier")
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(o, o.o_orderkey == l.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


@_q(
    "returned_items_top_customers",
    """
    SELECT c.c_custkey, c.c_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           max(n.n_name) AS nation
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01'
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c.c_custkey ASC
    LIMIT 20
    """,
    tags=("join", "agg", "topk", "tpch-q10"),
    bench=True,
)
def returned_items_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-style returned-item reporting: who returned the most
    revenue last half-year. Selective date + flag filters push down;
    top-20 via TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1997-07-01 00:00:00'"))
    )
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    agg = (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.max("n_name").alias("nation"),
        )
    )
    return R.topk(agg, [F.col("revenue").desc(), F.col("c_custkey").asc()], 20)


@_q(
    "promo_revenue_pct",
    """
    SELECT round(100.0 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_pct
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      AND l.l_shipdate <  TIMESTAMP '1997-10-01'
    """,
    tags=("join", "agg", "tpch-q14"),
    bench=True,
)
def promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-style promotion share: conditional aggregate ratio
    over a month of shipments; part dim broadcasts."""
    l = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP_NTZ '1997-09-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP_NTZ '1997-10-01 00:00:00'"))
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_pct"))
    )


@_q(
    "disjunctive_brand_revenue",
    """
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 15 AND 35)
    """,
    tags=("join", "filter", "tpch-q19"),
    bench=True,
)
def disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-style disjunctive multi-attribute predicate spanning
    both join sides — the planner must keep the OR above the join while
    still pushing the per-side conjuncts it can derive."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(15, 35)
    )
    return joined.where(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


@_q(
    "part_measures_unpivot",
    """
    SELECT p_partkey, measure, round(value, 2) AS value
    FROM (
        SELECT p_partkey, 'retail_price' AS measure, p_retailprice AS value FROM part
        UNION ALL
        SELECT p_partkey, 'size_units' AS measure, CAST(p_size AS DOUBLE) AS value FROM part
    )
    """,
    tags=("unpivot",),
)
def part_measures_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long melt) via the unpivot/melt API; the oracle is
    the equivalent UNION ALL the operator desugars to."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").alias("retail_price"),
        F.col("p_size").cast("double").alias("size_units"),
    )
    long = p.unpivot(
        ids=["p_partkey"],
        values=["retail_price", "size_units"],
        variableColumnName="measure",
        valueColumnName="value",
    )
    return long.select("p_partkey", "measure", F.round("value", 2).alias("value"))


@_q(
    "customer_balance_extremes",
    """
    SELECT DISTINCT c_nationkey,
           first_value(c_custkey) OVER w AS poorest_custkey,
           last_value(c_custkey)  OVER w AS richest_custkey
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY c_acctbal ASC, c_custkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("window", "firstlast"),
)
def customer_balance_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value over an unbounded frame (per-nation
    poorest/richest customer, deterministically tie-broken)."""
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        _t(spark, sf_dir, "customer")
        .select(
            "c_nationkey",
            F.first("c_custkey").over(w).alias("poorest_custkey"),
            F.last("c_custkey").over(w).alias("richest_custkey"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# North-star extensions: dedup / text analysis / similarity (§2.13)
# ---------------------------------------------------------------------------


@_q(
    "dedup_exact_documents",
    """
    SELECT doc_id, n_chars FROM (
        SELECT doc_id, n_chars,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn = 1
    """,
    tags=("dedup",),
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one row kept per identical text (deterministic
    min-doc_id keeper)."""
    docs = _t(spark, sf_dir, "documents")
    return D.exact_dedup(docs, ["text"], "doc_id").select("doc_id", "n_chars")


@_q(
    "dedup_fingerprint_md5",
    """
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
           min(doc_id) AS keeper_id, count(*) AS n_members
    FROM documents GROUP BY 1
    """,
    tags=("dedup",),
    bench=True,
)
def dedup_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-text fingerprint dedup: only 32-char digests shuffle."""
    return D.fingerprint_dedup(_t(spark, sf_dir, "documents"), "text", "doc_id")


@_q(
    "text_stats_by_lang",
    """
    SELECT lang, count(*) AS n_docs,
           round(avg(n_chars), 2) AS avg_chars,
           round(avg(len(string_split(text, ' '))), 2) AS avg_tokens
    FROM documents GROUP BY lang
    """,
    tags=("text", "agg"),
    bench=True,
)
def text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per language tag."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.round(F.avg(TX.token_count("text")), 2).alias("avg_tokens"),
    )


@_q(
    "regex_token_totals",
    """
    SELECT source,
           sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')))::BIGINT AS total_tokens
    FROM documents GROUP BY source
    """,
    tags=("text", "agg"),
)
def regex_token_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting aggregated per source."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.sum(TX.regex_token_count("text")).cast("bigint").alias("total_tokens")
    )


@_q(
    "doc_quality_scores",
    """
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS n FROM documents
    )
    SELECT doc_id,
           floor((0.4 * least(CAST(n AS DOUBLE) / 500.0, 1.0)
               + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1))
               + 0.3 * (1.0 - greatest(
                     CAST(len(list_filter(toks, t -> list_contains(['the','a','and','of','to'], t))) AS DOUBLE)
                     / greatest(len(toks), 1) - 0.4, 0.0))) * 10000.0 + 0.5) / 10000.0 AS quality
    FROM t
    """,
    tags=("text", "quality"),
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality heuristic (length / diversity / stopword
    excess) — C4/Gopher-style filter signals as one expression tree."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.quality_score("text").alias("quality"))


@_q(
    "lang_id_heuristic",
    """
    WITH h AS (
        SELECT doc_id,
               len(list_filter(string_split(text,' '), t -> list_contains(['the','a','and','of','to'], t))) AS he,
               len(list_filter(string_split(text,' '), t -> list_contains(['der','die','und','das','ein'], t))) AS hd,
               len(list_filter(string_split(text,' '), t -> list_contains(['le','la','et','les','des'], t))) AS hf,
               len(list_filter(string_split(text,' '), t -> list_contains(['el','los','las','una','y'], t))) AS hs
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN greatest(he, hd, hf, hs) = 0 THEN 'und'
                WHEN he = greatest(he, hd, hf, hs) THEN 'en'
                WHEN hd = greatest(he, hd, hf, hs) THEN 'de'
                WHEN hf = greatest(he, hd, hf, hs) THEN 'fr'
                ELSE 'es' END AS lang_pred
    FROM h
    """,
    tags=("text", "langid"),
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID (argmax with fixed tie order; 'und' when
    nothing fires). Real pipelines swap in fastText via pandas UDF."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.lang_id("text").alias("lang_pred"))


@_q(
    "doc_fingerprint_rolling",
    """
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           list_reduce(
             list_prepend(0::BIGINT,
               list_transform(toks, t -> ('0x' || substring(md5(t), 1, 8))::BIGINT)),
             (acc, h) -> (acc * 31 + h) % 1000000007
           ) AS fingerprint64
    FROM tok
    """,
    tags=("text", "fingerprint"),
)
def doc_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprints, in the
    cross-engine variant (md5-derived token hashes fold identically in
    any engine — see rolling_fingerprint), so the fingerprints
    themselves are oracle-checked bit-for-bit. The library default
    keeps the faster xxhash64 token hash; both share the fold and
    modulus. Pure per-row expression — zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.rolling_fingerprint("text", cross_engine=True).alias("fingerprint64"),
    )


@_q(
    "cosine_topk_bruteforce",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe), 6) AS cosine_sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY cosine_sim DESC, e.vec_id ASC
    LIMIT 10
    """,
    tags=("similarity",),
    bench=True,
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbours of vec_id=0; single scan +
    TakeOrderedAndProject, all math JVM-side (zip_with/aggregate)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_topk(emb, query_id=0, k=10)


@_q("minhash_neardup_pairs", """
    -- PINNED VALUES oracle (tools/pin_oracle.py @ sf0.01):
    -- deterministic output frozen as the value contract; the driver's
    -- correctness gate runs at sf0.01 only, which this pin encodes.
    SELECT * FROM (VALUES
        (8, 245, CAST(0.9688 AS DOUBLE)),
        (26, 455, CAST(0.9063 AS DOUBLE)),
        (31, 383, CAST(1.0 AS DOUBLE)),
        (44, 446, CAST(1.0 AS DOUBLE)),
        (45, 267, CAST(1.0 AS DOUBLE)),
        (45, 413, CAST(1.0 AS DOUBLE)),
        (58, 293, CAST(0.9688 AS DOUBLE)),
        (61, 185, CAST(1.0 AS DOUBLE)),
        (70, 447, CAST(1.0 AS DOUBLE)),
        (72, 377, CAST(0.875 AS DOUBLE)),
        (87, 134, CAST(0.9375 AS DOUBLE)),
        (92, 450, CAST(0.9688 AS DOUBLE)),
        (98, 290, CAST(1.0 AS DOUBLE)),
        (107, 387, CAST(0.9375 AS DOUBLE)),
        (120, 332, CAST(0.9688 AS DOUBLE)),
        (152, 178, CAST(1.0 AS DOUBLE)),
        (166, 323, CAST(1.0 AS DOUBLE)),
        (267, 413, CAST(1.0 AS DOUBLE)),
        (285, 301, CAST(1.0 AS DOUBLE)),
        (295, 374, CAST(0.9688 AS DOUBLE)),
        (310, 389, CAST(0.9375 AS DOUBLE)),
        (326, 457, CAST(1.0 AS DOUBLE)),
        (393, 420, CAST(0.9375 AS DOUBLE)),
        (435, 486, CAST(0.9688 AS DOUBLE)),
        (458, 462, CAST(0.9688 AS DOUBLE))
    ) AS t(id_a, id_b, est_jaccard)
    """, tags=("dedup", "lsh"), bench=True)
def minhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs (est. Jaccard ≥ 0.5);
    rows-only check — banded LSH join is not expressible in ANSI SQL."""
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_candidates(docs, "text", "doc_id", num_perm=32, bands=8, min_jaccard=0.5)


@_q("simhash_neardup_pairs", """
    -- PINNED VALUES oracle (tools/pin_oracle.py @ sf0.01):
    -- deterministic output frozen as the value contract; the driver's
    -- correctness gate runs at sf0.01 only, which this pin encodes.
    SELECT * FROM (VALUES
        (8, 245, 1),
        (31, 383, 2),
        (44, 446, 2),
        (45, 413, 1),
        (57, 98, 3),
        (57, 129, 3),
        (58, 293, 1),
        (61, 185, 1),
        (70, 447, 0),
        (72, 377, 3),
        (98, 290, 3),
        (120, 332, 2),
        (129, 378, 3),
        (137, 211, 3),
        (152, 178, 3),
        (166, 323, 3),
        (187, 376, 3),
        (233, 335, 2),
        (267, 413, 3),
        (285, 301, 0),
        (295, 374, 3),
        (326, 457, 2),
        (458, 462, 1)
    ) AS t(id_a, id_b, hamming)
    """, tags=("dedup", "simhash"))
def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (Hamming ≤ 3) via 16-bit chunk
    blocking; rows-only check."""
    docs = _t(spark, sf_dir, "documents")
    return D.simhash_candidates(docs, "text", "doc_id", max_hamming=3)


@_q("lsh_cosine_topk", """
    -- PINNED VALUES oracle (tools/pin_oracle.py @ sf0.01):
    -- deterministic output frozen as the value contract; the driver's
    -- correctness gate runs at sf0.01 only, which this pin encodes.
    SELECT * FROM (VALUES
        (29, CAST(0.122257 AS DOUBLE)),
        (32, CAST(0.219127 AS DOUBLE)),
        (51, CAST(0.198503 AS DOUBLE)),
        (63, CAST(-0.009248 AS DOUBLE)),
        (174, CAST(0.167213 AS DOUBLE)),
        (209, CAST(0.151404 AS DOUBLE)),
        (284, CAST(0.001253 AS DOUBLE)),
        (329, CAST(0.091283 AS DOUBLE)),
        (423, CAST(0.296934 AS DOUBLE)),
        (441, CAST(0.074311 AS DOUBLE))
    ) AS t("vec_id", "cosine_sim")
    """, tags=("similarity", "lsh"))
def lsh_cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via random-hyperplane LSH bucket restriction;
    rows-only check (approximation is seed-defined, not SQL)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.lsh_cosine_topk(emb, query_id=0, dim=64, k=10, bits=8)


@_q(
    "embedding_neardup_pairs",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cosine_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.40
    """,
    tags=("dedup", "similarity"),
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact all-pairs baseline;
    the LSH-bucketed variant below is the 100 TB path). Guarded: the
    operator refuses inputs over 100k rows, so the crossJoin can never
    run against a corpus-sized table."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_neardup_pairs(emb, threshold=0.40)


@_q("embedding_neardup_lsh", """
    -- PINNED VALUES oracle (tools/pin_oracle.py @ sf0.01):
    -- deterministic output frozen as the value contract; the driver's
    -- correctness gate runs at sf0.01 only, which this pin encodes.
    SELECT * FROM (VALUES
        (120, 421, CAST(0.410443 AS DOUBLE)),
        (158, 452, CAST(0.47196 AS DOUBLE)),
        (166, 324, CAST(0.473997 AS DOUBLE))
    ) AS t(id_a, id_b, cosine_sim)
    """, tags=("dedup", "similarity", "lsh"), bench=True)
def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs restricted to random-hyperplane LSH buckets: the
    cartesian product becomes an equi-join on bucket id — linear-ish
    scaling at some recall cost; rows-only check (seed-defined)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_neardup_pairs(emb, threshold=0.40, lsh_dim=64, lsh_bits=8)


@_q("semdedup_prune", None, tags=("dedup", "similarity", "semantic"), bench=True)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) semantic dedup: k-means-cluster the
    embeddings (deterministic seed), near-dup pairs compared only
    within a cluster (cell equi-join, never a cross product), groups
    closed transitively, one keeper per group — the member LEAST
    similar to its centroid. Returns the per-row verdict table (cell,
    centroid_sim, component, keep). Rows-only check: the clustering is
    seed-defined, not SQL; the keeper rule and drop-safety are pinned
    by brute-force parity + determinism tests (test_operators.py)."""
    from reactionetl_etl_spark.operators.semdedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, dim=64, n_cells=8, threshold=0.40).orderBy("vec_id")


@_q(
    "events_sessionization",
    """
    WITH o AS (
        SELECT user_id, ts, value,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM events
    ), s AS (
        SELECT user_id, ts, value,
               sum(CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sess_seq
        FROM o
    )
    SELECT user_id,
           CAST(min(ts) AS VARCHAR) AS session_start,
           CAST(max(ts) + INTERVAL 30 MINUTE AS VARCHAR) AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM s GROUP BY user_id, sess_seq
    """,
    tags=("events", "session", "window"),
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via session_window (30-minute gap).
    The oracle re-derives sessions with lag + cumulative-sum — the
    classic SQL formulation of the same operator."""
    from reactionetl_etl_spark.streaming.windows import session_windows

    ev = load_events(spark, sf_dir)
    sess = session_windows(ev, gap="30 minutes")
    return sess.select(
        "user_id",
        F.col("session_start").cast("string").alias("session_start"),
        F.col("session_end").cast("string").alias("session_end"),
        "n_events",
        "sum_value",
    )


@_q(
    "session_overlap_pairs",
    """
    WITH o AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM events
    ), s AS (
        SELECT user_id, ts,
               sum(CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sess_seq
        FROM o
    ), sess AS (
        SELECT user_id, epoch(min(ts)) AS lo, epoch(max(ts)) + 1800 AS hi
        FROM s GROUP BY user_id, sess_seq
    ), a AS (SELECT user_id AS user_a, lo AS lo_a, hi AS hi_a FROM sess WHERE user_id < 75),
       b AS (SELECT user_id AS user_b, lo AS lo_b, hi AS hi_b FROM sess WHERE user_id >= 75)
    SELECT user_a, user_b, count(*) AS n_overlaps
    FROM a JOIN b ON lo_a < hi_b AND lo_b < hi_a
    GROUP BY user_a, user_b
    HAVING count(*) >= 8
    """,
    tags=("events", "session", "join", "interval"),
)
def session_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-activity detection: pairs of users whose 30-minute-gap
    sessions OVERLAP in time ≥8 times — the interval×interval join
    shape (operators/relational.py::binned_interval_overlap_join):
    both interval sets explode onto an hour-bin grid, meet in a
    bin-keyed EQUI-join (never a nested loop over |a|·|b|), the exact
    overlap predicate re-filters, and the canonical-bin rule
    deduplicates multi-bin pairs without a dropDuplicates shuffle.
    Oracled against DuckDB's direct non-equi formulation. Counts are
    invariant to the epoch base, so session timezone cancels."""
    from reactionetl_etl_spark.operators.relational import binned_interval_overlap_join

    ev = load_events(spark, sf_dir).select("user_id", "ts_ntz")
    w = Window.partitionBy("user_id").orderBy("ts_ntz")
    o = ev.withColumn("prev", F.lag("ts_ntz").over(w))
    # fractional epoch seconds computed FROM the NTZ values
    # (_ntz_epoch_sec): sub-second precision (unix_timestamp truncates
    # and splits sessions differently than the oracle), and no
    # session-tz round trip — an ntz→ltz cast shifts differences that
    # span a DST transition by ±3600 s under a DST session timezone.
    es = _ntz_epoch_sec("ts_ntz")
    eprev = _ntz_epoch_sec("prev")
    new_sess = F.when(F.col("prev").isNull() | (es - eprev >= 1800), 1).otherwise(0)
    s = o.withColumn(
        "sess_seq",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sess = s.groupBy("user_id", "sess_seq").agg(
        F.min(_ntz_epoch_sec("ts_ntz")).alias("lo"),
        (F.max(_ntz_epoch_sec("ts_ntz")) + F.lit(1800.0)).alias("hi"),
    )
    a = sess.filter(F.col("user_id") < 75).select(
        F.col("user_id").alias("user_a"), F.col("lo").alias("lo_a"), F.col("hi").alias("hi_a")
    )
    b = sess.filter(F.col("user_id") >= 75).select(
        F.col("user_id").alias("user_b"), F.col("lo").alias("lo_b"), F.col("hi").alias("hi_b")
    )
    j = binned_interval_overlap_join(a, b, "lo_a", "hi_a", "lo_b", "hi_b", bin_width=3600.0)
    return (
        j.groupBy("user_a", "user_b")
        .agg(F.count(F.lit(1)).alias("n_overlaps"))
        .filter(F.col("n_overlaps") >= 8)
    )


@_q(
    "events_tumbling_windows",
    """
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
           CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS VARCHAR) AS window_end,
           event_type, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2, 3
    """,
    tags=("events", "window", "streaming"),
)
def events_tumbling_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows via window() — the exact plan the
    streaming module runs under a watermark (streaming/windows.py);
    epoch-aligned 1h windows equal date_trunc('hour') buckets."""
    from reactionetl_etl_spark.streaming.windows import tumbling_event_stats

    ev = load_events(spark, sf_dir)
    return tumbling_event_stats(ev, "1 hour").select(
        F.col("window_start").cast("string").alias("window_start"),
        F.col("window_end").cast("string").alias("window_end"),
        "event_type",
        "n",
        "sum_value",
    )


@_q("multimodal_feature_extract", None, tags=("multimodal",))
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline with a REAL embedding (r12, was the last
    stubbed extractor): documents' bytes are shaped executor-side into
    32×32 images cycling BMP / PNG / PPM by doc_id (every real codec
    path), with every 4th doc left as raw text bytes to exercise the
    undecodable lane. decode_image_features (mapInPandas, Arrow) sniffs
    mime, parses geometry from real headers, and emits an 8-bin
    normalized LUMA histogram over a 16×16 thumbnail for decoded
    pixels — byte-value histogram for the raw lane. Deterministic
    (integer luma, fixed thumbnail), so the output is a pinned VALUES
    contract, not rows-only."""
    import pandas as pd

    from reactionetl_etl_spark.operators.multimodal import decode_image_features

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("raw")
    )

    def to_media(batches):
        import numpy as np

        from reactionetl_etl_spark.operators.multimodal import (
            encode_bmp,
            encode_png,
            encode_ppm,
        )

        encoders = [encode_bmp, encode_png, encode_ppm]
        need = 32 * 32 * 3
        for pdf in batches:
            out_ids, out_blobs = [], []
            for mid, raw in zip(pdf["media_id"], pdf["raw"]):
                b = bytes(raw) or b"\x00"
                if int(mid) % 4 == 3:
                    out_blobs.append(b)  # raw text: fallback lane
                else:
                    tiled = (b * (need // len(b) + 1))[:need]
                    arr = np.frombuffer(tiled, dtype=np.uint8).reshape(32, 32, 3)
                    out_blobs.append(encoders[int(mid) % 4](arr))
                out_ids.append(mid)
            yield pd.DataFrame({"media_id": out_ids, "content": out_blobs})

    media = docs.mapInPandas(to_media, "media_id long, content binary")
    feats = decode_image_features(media, dim=8)
    return feats.select(
        "media_id",
        "mime",
        "n_bytes",
        "width",
        "height",
        # bins 2/3 (luma or byte value 32..95): where ASCII-derived
        # pixel mass lives, so the pin asserts non-trivial values
        F.round(F.element_at("feature", 2), 6).alias("f1"),
        F.round(F.element_at("feature", 3), 6).alias("f2"),
    )


@_q("audio_spectral_profile", """
    -- PINNED VALUES oracle (tools/pin_oracle.py @ sf0.01):
    -- deterministic output frozen as the value contract; the driver's
    -- correctness gate runs at sf0.01 only, which this pin encodes.
    SELECT * FROM (VALUES
        (0, 8000, 2000, CAST(200.0 AS DOUBLE), CAST(200.06 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.049525 AS DOUBLE)),
        (1, 8000, 2000, CAST(352.0 AS DOUBLE), CAST(350.11 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.087044 AS DOUBLE)),
        (2, 8000, 2000, CAST(500.0 AS DOUBLE), CAST(500.03 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.124562 AS DOUBLE)),
        (3, 8000, 2000, CAST(652.0 AS DOUBLE), CAST(650.08 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.162081 AS DOUBLE)),
        (4, 8000, 2000, CAST(800.0 AS DOUBLE), CAST(800.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.1996 AS DOUBLE)),
        (5, 8000, 2000, CAST(952.0 AS DOUBLE), CAST(950.07 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.237119 AS DOUBLE)),
        (6, 8000, 2000, CAST(1100.0 AS DOUBLE), CAST(1100.04 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.274637 AS DOUBLE)),
        (7, 8000, 2000, CAST(1252.0 AS DOUBLE), CAST(1250.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.312156 AS DOUBLE)),
        (8, 8000, 2000, CAST(1400.0 AS DOUBLE), CAST(1400.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.349675 AS DOUBLE)),
        (9, 8000, 2000, CAST(1552.0 AS DOUBLE), CAST(1550.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.387194 AS DOUBLE)),
        (10, 8000, 2000, CAST(1700.0 AS DOUBLE), CAST(1700.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.424712 AS DOUBLE)),
        (11, 8000, 2000, CAST(1852.0 AS DOUBLE), CAST(1850.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.462231 AS DOUBLE)),
        (12, 8000, 2000, CAST(2000.0 AS DOUBLE), CAST(2000.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.49975 AS DOUBLE)),
        (13, 8000, 2000, CAST(2148.0 AS DOUBLE), CAST(2149.99 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.537269 AS DOUBLE)),
        (14, 8000, 2000, CAST(2300.0 AS DOUBLE), CAST(2299.99 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.574787 AS DOUBLE)),
        (15, 8000, 2000, CAST(2448.0 AS DOUBLE), CAST(2449.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.612306 AS DOUBLE)),
        (16, 8000, 2000, CAST(2600.0 AS DOUBLE), CAST(2599.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.649825 AS DOUBLE)),
        (17, 8000, 2000, CAST(2748.0 AS DOUBLE), CAST(2749.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.687344 AS DOUBLE)),
        (18, 8000, 2000, CAST(2900.0 AS DOUBLE), CAST(2899.96 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.724862 AS DOUBLE)),
        (19, 8000, 2000, CAST(3048.0 AS DOUBLE), CAST(3049.93 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.762381 AS DOUBLE)),
        (20, 8000, 2000, CAST(200.0 AS DOUBLE), CAST(200.06 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.049525 AS DOUBLE)),
        (21, 8000, 2000, CAST(352.0 AS DOUBLE), CAST(350.11 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.087044 AS DOUBLE)),
        (22, 8000, 2000, CAST(500.0 AS DOUBLE), CAST(500.03 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.124562 AS DOUBLE)),
        (23, 8000, 2000, CAST(652.0 AS DOUBLE), CAST(650.08 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.162081 AS DOUBLE)),
        (24, 8000, 2000, CAST(800.0 AS DOUBLE), CAST(800.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.1996 AS DOUBLE)),
        (25, 8000, 2000, CAST(952.0 AS DOUBLE), CAST(950.07 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.237119 AS DOUBLE)),
        (26, 8000, 2000, CAST(1100.0 AS DOUBLE), CAST(1100.04 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.274637 AS DOUBLE)),
        (27, 8000, 2000, CAST(1252.0 AS DOUBLE), CAST(1250.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.312156 AS DOUBLE)),
        (28, 8000, 2000, CAST(1400.0 AS DOUBLE), CAST(1400.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.349675 AS DOUBLE)),
        (29, 8000, 2000, CAST(1552.0 AS DOUBLE), CAST(1550.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.387194 AS DOUBLE)),
        (30, 8000, 2000, CAST(1700.0 AS DOUBLE), CAST(1700.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.424712 AS DOUBLE)),
        (31, 8000, 2000, CAST(1852.0 AS DOUBLE), CAST(1850.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.462231 AS DOUBLE)),
        (32, 8000, 2000, CAST(2000.0 AS DOUBLE), CAST(2000.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.49975 AS DOUBLE)),
        (33, 8000, 2000, CAST(2148.0 AS DOUBLE), CAST(2149.99 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.537269 AS DOUBLE)),
        (34, 8000, 2000, CAST(2300.0 AS DOUBLE), CAST(2299.99 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.574787 AS DOUBLE)),
        (35, 8000, 2000, CAST(2448.0 AS DOUBLE), CAST(2449.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.612306 AS DOUBLE)),
        (36, 8000, 2000, CAST(2600.0 AS DOUBLE), CAST(2599.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.649825 AS DOUBLE)),
        (37, 8000, 2000, CAST(2748.0 AS DOUBLE), CAST(2749.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.687344 AS DOUBLE)),
        (38, 8000, 2000, CAST(2900.0 AS DOUBLE), CAST(2899.96 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.724862 AS DOUBLE)),
        (39, 8000, 2000, CAST(3048.0 AS DOUBLE), CAST(3049.93 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.762381 AS DOUBLE)),
        (40, 8000, 2000, CAST(200.0 AS DOUBLE), CAST(200.06 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.049525 AS DOUBLE)),
        (41, 8000, 2000, CAST(352.0 AS DOUBLE), CAST(350.11 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.087044 AS DOUBLE)),
        (42, 8000, 2000, CAST(500.0 AS DOUBLE), CAST(500.03 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.124562 AS DOUBLE)),
        (43, 8000, 2000, CAST(652.0 AS DOUBLE), CAST(650.08 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.162081 AS DOUBLE)),
        (44, 8000, 2000, CAST(800.0 AS DOUBLE), CAST(800.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.1996 AS DOUBLE)),
        (45, 8000, 2000, CAST(952.0 AS DOUBLE), CAST(950.07 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.237119 AS DOUBLE)),
        (46, 8000, 2000, CAST(1100.0 AS DOUBLE), CAST(1100.04 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.274637 AS DOUBLE)),
        (47, 8000, 2000, CAST(1252.0 AS DOUBLE), CAST(1250.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.312156 AS DOUBLE)),
        (48, 8000, 2000, CAST(1400.0 AS DOUBLE), CAST(1400.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.349675 AS DOUBLE)),
        (49, 8000, 2000, CAST(1552.0 AS DOUBLE), CAST(1550.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.387194 AS DOUBLE)),
        (50, 8000, 2000, CAST(1700.0 AS DOUBLE), CAST(1700.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.424712 AS DOUBLE)),
        (51, 8000, 2000, CAST(1852.0 AS DOUBLE), CAST(1850.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.462231 AS DOUBLE)),
        (52, 8000, 2000, CAST(2000.0 AS DOUBLE), CAST(2000.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.49975 AS DOUBLE)),
        (53, 8000, 2000, CAST(2148.0 AS DOUBLE), CAST(2149.99 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.537269 AS DOUBLE)),
        (54, 8000, 2000, CAST(2300.0 AS DOUBLE), CAST(2299.99 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.574787 AS DOUBLE)),
        (55, 8000, 2000, CAST(2448.0 AS DOUBLE), CAST(2449.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.612306 AS DOUBLE)),
        (56, 8000, 2000, CAST(2600.0 AS DOUBLE), CAST(2599.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.649825 AS DOUBLE)),
        (57, 8000, 2000, CAST(2748.0 AS DOUBLE), CAST(2749.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.687344 AS DOUBLE)),
        (58, 8000, 2000, CAST(2900.0 AS DOUBLE), CAST(2899.96 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.724862 AS DOUBLE)),
        (59, 8000, 2000, CAST(3048.0 AS DOUBLE), CAST(3049.93 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.762381 AS DOUBLE)),
        (60, 8000, 2000, CAST(200.0 AS DOUBLE), CAST(200.06 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.049525 AS DOUBLE)),
        (61, 8000, 2000, CAST(352.0 AS DOUBLE), CAST(350.11 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.087044 AS DOUBLE)),
        (62, 8000, 2000, CAST(500.0 AS DOUBLE), CAST(500.03 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.124562 AS DOUBLE)),
        (63, 8000, 2000, CAST(652.0 AS DOUBLE), CAST(650.08 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.162081 AS DOUBLE)),
        (64, 8000, 2000, CAST(800.0 AS DOUBLE), CAST(800.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.1996 AS DOUBLE)),
        (65, 8000, 2000, CAST(952.0 AS DOUBLE), CAST(950.07 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.237119 AS DOUBLE)),
        (66, 8000, 2000, CAST(1100.0 AS DOUBLE), CAST(1100.04 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.274637 AS DOUBLE)),
        (67, 8000, 2000, CAST(1252.0 AS DOUBLE), CAST(1250.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.312156 AS DOUBLE)),
        (68, 8000, 2000, CAST(1400.0 AS DOUBLE), CAST(1400.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.349675 AS DOUBLE)),
        (69, 8000, 2000, CAST(1552.0 AS DOUBLE), CAST(1550.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.387194 AS DOUBLE)),
        (70, 8000, 2000, CAST(1700.0 AS DOUBLE), CAST(1700.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.424712 AS DOUBLE)),
        (71, 8000, 2000, CAST(1852.0 AS DOUBLE), CAST(1850.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.462231 AS DOUBLE)),
        (72, 8000, 2000, CAST(2000.0 AS DOUBLE), CAST(2000.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.49975 AS DOUBLE)),
        (73, 8000, 2000, CAST(2148.0 AS DOUBLE), CAST(2149.99 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.537269 AS DOUBLE)),
        (74, 8000, 2000, CAST(2300.0 AS DOUBLE), CAST(2299.99 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.574787 AS DOUBLE)),
        (75, 8000, 2000, CAST(2448.0 AS DOUBLE), CAST(2449.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.612306 AS DOUBLE)),
        (76, 8000, 2000, CAST(2600.0 AS DOUBLE), CAST(2599.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.649825 AS DOUBLE)),
        (77, 8000, 2000, CAST(2748.0 AS DOUBLE), CAST(2749.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.687344 AS DOUBLE)),
        (78, 8000, 2000, CAST(2900.0 AS DOUBLE), CAST(2899.96 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.724862 AS DOUBLE)),
        (79, 8000, 2000, CAST(3048.0 AS DOUBLE), CAST(3049.93 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.762381 AS DOUBLE)),
        (80, 8000, 2000, CAST(200.0 AS DOUBLE), CAST(200.06 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.049525 AS DOUBLE)),
        (81, 8000, 2000, CAST(352.0 AS DOUBLE), CAST(350.11 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.087044 AS DOUBLE)),
        (82, 8000, 2000, CAST(500.0 AS DOUBLE), CAST(500.03 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.124562 AS DOUBLE)),
        (83, 8000, 2000, CAST(652.0 AS DOUBLE), CAST(650.08 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.162081 AS DOUBLE)),
        (84, 8000, 2000, CAST(800.0 AS DOUBLE), CAST(800.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.1996 AS DOUBLE)),
        (85, 8000, 2000, CAST(952.0 AS DOUBLE), CAST(950.07 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.237119 AS DOUBLE)),
        (86, 8000, 2000, CAST(1100.0 AS DOUBLE), CAST(1100.04 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.274637 AS DOUBLE)),
        (87, 8000, 2000, CAST(1252.0 AS DOUBLE), CAST(1250.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.312156 AS DOUBLE)),
        (88, 8000, 2000, CAST(1400.0 AS DOUBLE), CAST(1400.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.349675 AS DOUBLE)),
        (89, 8000, 2000, CAST(1552.0 AS DOUBLE), CAST(1550.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.387194 AS DOUBLE)),
        (90, 8000, 2000, CAST(1700.0 AS DOUBLE), CAST(1700.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.424712 AS DOUBLE)),
        (91, 8000, 2000, CAST(1852.0 AS DOUBLE), CAST(1850.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.462231 AS DOUBLE)),
        (92, 8000, 2000, CAST(2000.0 AS DOUBLE), CAST(2000.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.49975 AS DOUBLE)),
        (93, 8000, 2000, CAST(2148.0 AS DOUBLE), CAST(2149.99 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.537269 AS DOUBLE)),
        (94, 8000, 2000, CAST(2300.0 AS DOUBLE), CAST(2299.99 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.574787 AS DOUBLE)),
        (95, 8000, 2000, CAST(2448.0 AS DOUBLE), CAST(2449.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.612306 AS DOUBLE)),
        (96, 8000, 2000, CAST(2600.0 AS DOUBLE), CAST(2599.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.649825 AS DOUBLE)),
        (97, 8000, 2000, CAST(2748.0 AS DOUBLE), CAST(2749.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.687344 AS DOUBLE)),
        (98, 8000, 2000, CAST(2900.0 AS DOUBLE), CAST(2899.96 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.724862 AS DOUBLE)),
        (99, 8000, 2000, CAST(3048.0 AS DOUBLE), CAST(3049.93 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.762381 AS DOUBLE)),
        (100, 8000, 2000, CAST(200.0 AS DOUBLE), CAST(200.06 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.049525 AS DOUBLE)),
        (101, 8000, 2000, CAST(352.0 AS DOUBLE), CAST(350.11 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.087044 AS DOUBLE)),
        (102, 8000, 2000, CAST(500.0 AS DOUBLE), CAST(500.03 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.124562 AS DOUBLE)),
        (103, 8000, 2000, CAST(652.0 AS DOUBLE), CAST(650.08 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.162081 AS DOUBLE)),
        (104, 8000, 2000, CAST(800.0 AS DOUBLE), CAST(800.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.1996 AS DOUBLE)),
        (105, 8000, 2000, CAST(952.0 AS DOUBLE), CAST(950.07 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.237119 AS DOUBLE)),
        (106, 8000, 2000, CAST(1100.0 AS DOUBLE), CAST(1100.04 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.274637 AS DOUBLE)),
        (107, 8000, 2000, CAST(1252.0 AS DOUBLE), CAST(1250.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.312156 AS DOUBLE)),
        (108, 8000, 2000, CAST(1400.0 AS DOUBLE), CAST(1400.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.349675 AS DOUBLE)),
        (109, 8000, 2000, CAST(1552.0 AS DOUBLE), CAST(1550.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.387194 AS DOUBLE)),
        (110, 8000, 2000, CAST(1700.0 AS DOUBLE), CAST(1700.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.424712 AS DOUBLE)),
        (111, 8000, 2000, CAST(1852.0 AS DOUBLE), CAST(1850.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.462231 AS DOUBLE)),
        (112, 8000, 2000, CAST(2000.0 AS DOUBLE), CAST(2000.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.49975 AS DOUBLE)),
        (113, 8000, 2000, CAST(2148.0 AS DOUBLE), CAST(2149.99 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.537269 AS DOUBLE)),
        (114, 8000, 2000, CAST(2300.0 AS DOUBLE), CAST(2299.99 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.574787 AS DOUBLE)),
        (115, 8000, 2000, CAST(2448.0 AS DOUBLE), CAST(2449.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.612306 AS DOUBLE)),
        (116, 8000, 2000, CAST(2600.0 AS DOUBLE), CAST(2599.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.649825 AS DOUBLE)),
        (117, 8000, 2000, CAST(2748.0 AS DOUBLE), CAST(2749.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.687344 AS DOUBLE)),
        (118, 8000, 2000, CAST(2900.0 AS DOUBLE), CAST(2899.96 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.724862 AS DOUBLE)),
        (119, 8000, 2000, CAST(3048.0 AS DOUBLE), CAST(3049.93 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.762381 AS DOUBLE)),
        (120, 8000, 2000, CAST(200.0 AS DOUBLE), CAST(200.06 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.049525 AS DOUBLE)),
        (121, 8000, 2000, CAST(352.0 AS DOUBLE), CAST(350.11 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.087044 AS DOUBLE)),
        (122, 8000, 2000, CAST(500.0 AS DOUBLE), CAST(500.03 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.124562 AS DOUBLE)),
        (123, 8000, 2000, CAST(652.0 AS DOUBLE), CAST(650.08 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.162081 AS DOUBLE)),
        (124, 8000, 2000, CAST(800.0 AS DOUBLE), CAST(800.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.1996 AS DOUBLE)),
        (125, 8000, 2000, CAST(952.0 AS DOUBLE), CAST(950.07 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.237119 AS DOUBLE)),
        (126, 8000, 2000, CAST(1100.0 AS DOUBLE), CAST(1100.04 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.274637 AS DOUBLE)),
        (127, 8000, 2000, CAST(1252.0 AS DOUBLE), CAST(1250.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.312156 AS DOUBLE)),
        (128, 8000, 2000, CAST(1400.0 AS DOUBLE), CAST(1400.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.349675 AS DOUBLE)),
        (129, 8000, 2000, CAST(1552.0 AS DOUBLE), CAST(1550.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.387194 AS DOUBLE)),
        (130, 8000, 2000, CAST(1700.0 AS DOUBLE), CAST(1700.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.424712 AS DOUBLE)),
        (131, 8000, 2000, CAST(1852.0 AS DOUBLE), CAST(1850.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.462231 AS DOUBLE)),
        (132, 8000, 2000, CAST(2000.0 AS DOUBLE), CAST(2000.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.49975 AS DOUBLE)),
        (133, 8000, 2000, CAST(2148.0 AS DOUBLE), CAST(2149.99 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.537269 AS DOUBLE)),
        (134, 8000, 2000, CAST(2300.0 AS DOUBLE), CAST(2299.99 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.574787 AS DOUBLE)),
        (135, 8000, 2000, CAST(2448.0 AS DOUBLE), CAST(2449.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.612306 AS DOUBLE)),
        (136, 8000, 2000, CAST(2600.0 AS DOUBLE), CAST(2599.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.649825 AS DOUBLE)),
        (137, 8000, 2000, CAST(2748.0 AS DOUBLE), CAST(2749.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.687344 AS DOUBLE)),
        (138, 8000, 2000, CAST(2900.0 AS DOUBLE), CAST(2899.96 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.724862 AS DOUBLE)),
        (139, 8000, 2000, CAST(3048.0 AS DOUBLE), CAST(3049.93 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.762381 AS DOUBLE)),
        (140, 8000, 2000, CAST(200.0 AS DOUBLE), CAST(200.06 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.049525 AS DOUBLE)),
        (141, 8000, 2000, CAST(352.0 AS DOUBLE), CAST(350.11 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.087044 AS DOUBLE)),
        (142, 8000, 2000, CAST(500.0 AS DOUBLE), CAST(500.03 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.124562 AS DOUBLE)),
        (143, 8000, 2000, CAST(652.0 AS DOUBLE), CAST(650.08 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.162081 AS DOUBLE)),
        (144, 8000, 2000, CAST(800.0 AS DOUBLE), CAST(800.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.1996 AS DOUBLE)),
        (145, 8000, 2000, CAST(952.0 AS DOUBLE), CAST(950.07 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.237119 AS DOUBLE)),
        (146, 8000, 2000, CAST(1100.0 AS DOUBLE), CAST(1100.04 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.274637 AS DOUBLE)),
        (147, 8000, 2000, CAST(1252.0 AS DOUBLE), CAST(1250.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.312156 AS DOUBLE)),
        (148, 8000, 2000, CAST(1400.0 AS DOUBLE), CAST(1400.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.349675 AS DOUBLE)),
        (149, 8000, 2000, CAST(1552.0 AS DOUBLE), CAST(1550.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.387194 AS DOUBLE)),
        (150, 8000, 2000, CAST(1700.0 AS DOUBLE), CAST(1700.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.424712 AS DOUBLE)),
        (151, 8000, 2000, CAST(1852.0 AS DOUBLE), CAST(1850.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.462231 AS DOUBLE)),
        (152, 8000, 2000, CAST(2000.0 AS DOUBLE), CAST(2000.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.49975 AS DOUBLE)),
        (153, 8000, 2000, CAST(2148.0 AS DOUBLE), CAST(2149.99 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.537269 AS DOUBLE)),
        (154, 8000, 2000, CAST(2300.0 AS DOUBLE), CAST(2299.99 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.574787 AS DOUBLE)),
        (155, 8000, 2000, CAST(2448.0 AS DOUBLE), CAST(2449.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.612306 AS DOUBLE)),
        (156, 8000, 2000, CAST(2600.0 AS DOUBLE), CAST(2599.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.649825 AS DOUBLE)),
        (157, 8000, 2000, CAST(2748.0 AS DOUBLE), CAST(2749.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.687344 AS DOUBLE)),
        (158, 8000, 2000, CAST(2900.0 AS DOUBLE), CAST(2899.96 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.724862 AS DOUBLE)),
        (159, 8000, 2000, CAST(3048.0 AS DOUBLE), CAST(3049.93 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.762381 AS DOUBLE)),
        (160, 8000, 2000, CAST(200.0 AS DOUBLE), CAST(200.06 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.049525 AS DOUBLE)),
        (161, 8000, 2000, CAST(352.0 AS DOUBLE), CAST(350.11 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.087044 AS DOUBLE)),
        (162, 8000, 2000, CAST(500.0 AS DOUBLE), CAST(500.03 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.124562 AS DOUBLE)),
        (163, 8000, 2000, CAST(652.0 AS DOUBLE), CAST(650.08 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.162081 AS DOUBLE)),
        (164, 8000, 2000, CAST(800.0 AS DOUBLE), CAST(800.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.1996 AS DOUBLE)),
        (165, 8000, 2000, CAST(952.0 AS DOUBLE), CAST(950.07 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.237119 AS DOUBLE)),
        (166, 8000, 2000, CAST(1100.0 AS DOUBLE), CAST(1100.04 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.274637 AS DOUBLE)),
        (167, 8000, 2000, CAST(1252.0 AS DOUBLE), CAST(1250.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.312156 AS DOUBLE)),
        (168, 8000, 2000, CAST(1400.0 AS DOUBLE), CAST(1400.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.349675 AS DOUBLE)),
        (169, 8000, 2000, CAST(1552.0 AS DOUBLE), CAST(1550.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.387194 AS DOUBLE)),
        (170, 8000, 2000, CAST(1700.0 AS DOUBLE), CAST(1700.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.424712 AS DOUBLE)),
        (171, 8000, 2000, CAST(1852.0 AS DOUBLE), CAST(1850.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.462231 AS DOUBLE)),
        (172, 8000, 2000, CAST(2000.0 AS DOUBLE), CAST(2000.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.49975 AS DOUBLE)),
        (173, 8000, 2000, CAST(2148.0 AS DOUBLE), CAST(2149.99 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.537269 AS DOUBLE)),
        (174, 8000, 2000, CAST(2300.0 AS DOUBLE), CAST(2299.99 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.574787 AS DOUBLE)),
        (175, 8000, 2000, CAST(2448.0 AS DOUBLE), CAST(2449.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.612306 AS DOUBLE)),
        (176, 8000, 2000, CAST(2600.0 AS DOUBLE), CAST(2599.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.649825 AS DOUBLE)),
        (177, 8000, 2000, CAST(2748.0 AS DOUBLE), CAST(2749.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.687344 AS DOUBLE)),
        (178, 8000, 2000, CAST(2900.0 AS DOUBLE), CAST(2899.96 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.724862 AS DOUBLE)),
        (179, 8000, 2000, CAST(3048.0 AS DOUBLE), CAST(3049.93 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.762381 AS DOUBLE)),
        (180, 8000, 2000, CAST(200.0 AS DOUBLE), CAST(200.06 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.049525 AS DOUBLE)),
        (181, 8000, 2000, CAST(352.0 AS DOUBLE), CAST(350.11 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.087044 AS DOUBLE)),
        (182, 8000, 2000, CAST(500.0 AS DOUBLE), CAST(500.03 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.124562 AS DOUBLE)),
        (183, 8000, 2000, CAST(652.0 AS DOUBLE), CAST(650.08 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.162081 AS DOUBLE)),
        (184, 8000, 2000, CAST(800.0 AS DOUBLE), CAST(800.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.1996 AS DOUBLE)),
        (185, 8000, 2000, CAST(952.0 AS DOUBLE), CAST(950.07 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.237119 AS DOUBLE)),
        (186, 8000, 2000, CAST(1100.0 AS DOUBLE), CAST(1100.04 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.274637 AS DOUBLE)),
        (187, 8000, 2000, CAST(1252.0 AS DOUBLE), CAST(1250.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.312156 AS DOUBLE)),
        (188, 8000, 2000, CAST(1400.0 AS DOUBLE), CAST(1400.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.349675 AS DOUBLE)),
        (189, 8000, 2000, CAST(1552.0 AS DOUBLE), CAST(1550.02 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.387194 AS DOUBLE)),
        (190, 8000, 2000, CAST(1700.0 AS DOUBLE), CAST(1700.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.424712 AS DOUBLE)),
        (191, 8000, 2000, CAST(1852.0 AS DOUBLE), CAST(1850.01 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.462231 AS DOUBLE)),
        (192, 8000, 2000, CAST(2000.0 AS DOUBLE), CAST(2000.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.49975 AS DOUBLE)),
        (193, 8000, 2000, CAST(2148.0 AS DOUBLE), CAST(2149.99 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.537269 AS DOUBLE)),
        (194, 8000, 2000, CAST(2300.0 AS DOUBLE), CAST(2299.99 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.574787 AS DOUBLE)),
        (195, 8000, 2000, CAST(2448.0 AS DOUBLE), CAST(2449.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.612306 AS DOUBLE)),
        (196, 8000, 2000, CAST(2600.0 AS DOUBLE), CAST(2599.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.649825 AS DOUBLE)),
        (197, 8000, 2000, CAST(2748.0 AS DOUBLE), CAST(2749.98 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.687344 AS DOUBLE)),
        (198, 8000, 2000, CAST(2900.0 AS DOUBLE), CAST(2899.96 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.724862 AS DOUBLE)),
        (199, 8000, 2000, CAST(3048.0 AS DOUBLE), CAST(3049.93 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.762381 AS DOUBLE))
    ) AS t(media_id, sample_rate, n_samples, dominant_freq_hz, spectral_centroid_hz, spectral_flatness, zero_crossing_rate)
    """, tags=("multimodal", "audio"))
def audio_spectral_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio path end-to-end: a deterministic PCM tone per
    document (frequency keyed on doc_id, synthesized executor-side) is
    encoded as a genuine RIFF/WAV payload (`encode_wav_pcm16`), then
    `audio_spectral_features` FFTs it back — dominant_freq_hz recovers
    the planted tone, so the rows-only check still pins the whole
    encode→decode→rFFT chain (drift in any stage shifts the values).
    Arrow-batched both stages, zero shuffle."""
    import pandas as pd

    from reactionetl_etl_spark.operators.multimodal import audio_spectral_features

    docs = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 200)
    )

    def to_wav(batches):
        import numpy as np

        from reactionetl_etl_spark.operators.multimodal import encode_wav_pcm16

        rate = 8000
        t = np.arange(2000) / rate
        for pdf in batches:
            ids, blobs = [], []
            for mid in pdf["media_id"]:
                freq = 200.0 + float(int(mid) % 20) * 150.0  # 200..3050 Hz < Nyquist
                ids.append(mid)
                blobs.append(encode_wav_pcm16(np.sin(2 * np.pi * freq * t), rate))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    wavs = docs.mapInPandas(to_wav, "media_id long, content binary")
    feats = audio_spectral_features(wavs)
    return feats.select(
        "media_id",
        "sample_rate",
        "n_samples",
        F.round("dominant_freq_hz", 2).alias("dominant_freq_hz"),
        F.round("spectral_centroid_hz", 2).alias("spectral_centroid_hz"),
        F.round("spectral_flatness", 6).alias("spectral_flatness"),
        F.round("zero_crossing_rate", 6).alias("zero_crossing_rate"),
    ).orderBy("media_id")


@_q("video_frame_sample", """
    -- PINNED VALUES oracle (tools/pin_oracle.py @ sf0.01):
    -- deterministic output frozen as the value contract; the driver's
    -- correctness gate runs at sf0.01 only, which this pin encodes.
    SELECT * FROM (VALUES
        (0, 0, 8, 4, '5262d5d84c9d7d1e0429274055129d39'),
        (0, 2, 8, 4, '6bf3224ec7054f4308db0830515a0b58'),
        (1, 0, 8, 4, '4d14fd133dad1a889f4a67429531347f'),
        (1, 2, 8, 4, 'fd70feb62befe2555fb291c3b94cbe50'),
        (2, 0, 8, 4, '6f497addb88de331e830b3e597f911b7'),
        (2, 2, 8, 4, '8a28f1067ec6b5fa31c2f418829ed624'),
        (3, 0, 8, 4, '9290a96a4f1c043e7822bac9a05470b5'),
        (3, 2, 8, 4, '30cee00b3bc8cbf46547a99759bbdae5'),
        (4, 0, 8, 4, 'de6c888f3c2de98a60e7f383c0f445db'),
        (4, 2, 8, 4, 'ff544d1de00953b55e59ac593aca8b8e'),
        (5, 0, 8, 4, '2f601fa139ee6a2860da273eb37d0912'),
        (5, 2, 8, 4, 'f485b5d9568a39a82430d3888ac3a4c8'),
        (6, 0, 8, 4, '00fd31caf410324d2b2c1aa9edb67b22'),
        (6, 2, 8, 4, '969aac18d80e77bf468fcf3c76278a98'),
        (7, 0, 8, 4, '4dedb5981a16d67b053022b482d43f68'),
        (7, 2, 8, 4, 'b199c385800a61272f31842376c3397c'),
        (8, 0, 8, 4, 'af945dbf4601872ad301a453766cf3a4'),
        (8, 2, 8, 4, 'c05402f7cc1bda7089aca891462cb491'),
        (9, 0, 8, 4, 'a6d07897e056837276cb67b31f5fb6d5'),
        (9, 2, 8, 4, 'ffeaeebc182fb42bf174e071ebc00413'),
        (10, 0, 8, 4, '7fd25f4e050453989375604b38a5c0a6'),
        (10, 2, 8, 4, '3828926becf7df171bd490c0341825c3'),
        (11, 0, 8, 4, '260ce81353a605a25782255e7a2c3f20'),
        (11, 2, 8, 4, '30aba348ffb403b375ce1e5846e25e7d'),
        (12, 0, 8, 4, 'cbf4c5f9417b36c3a38ea827a5d98bcc'),
        (12, 2, 8, 4, '14e1f76d06e7a2f785204f5e613189e7'),
        (13, 0, 8, 4, '057a358411c31a2cb8d1a79676fa4c87'),
        (13, 2, 8, 4, 'a1fbc764582590a230a94cff39cd78ea'),
        (14, 0, 8, 4, 'ed0ba1cada392662b7166d9d0306439c'),
        (14, 2, 8, 4, 'd1c5f8c0b17dc6559f2f956d0cfdf6fb'),
        (15, 0, 8, 4, '47512ea3449e7ab786f5a9b1313880a7'),
        (15, 2, 8, 4, '8c4e53afce6d84dd1415a8e7bcf30a28'),
        (16, 0, 8, 4, '6de98b32e58d8083c7974789d860170b'),
        (16, 2, 8, 4, 'bb52342b7d2b24488d41dc88fb645a46'),
        (17, 0, 8, 4, 'c89ed60d4eacb27ffd1b9a311336c8f5'),
        (17, 2, 8, 4, 'bae824d3b94ce66e548e6f1da0b8e6ba'),
        (18, 0, 8, 4, 'a6b8fb80ba2ed00a226613f01d0ac59f'),
        (18, 2, 8, 4, '92c85c1f872702f161d41dd4cc37f7aa'),
        (19, 0, 8, 4, 'abbb7743f36b439c1041873e6b912a73'),
        (19, 2, 8, 4, 'e132a111c2620dfd699ed27aa3785b9a'),
        (20, 0, 8, 4, '747ba84a5bb4af7255f2b478216dac11'),
        (20, 2, 8, 4, 'eabe86a92044422d2ae0b880057f5200'),
        (21, 0, 8, 4, '44a20c73bb7d799176c8ef4f5e85601b'),
        (21, 2, 8, 4, '8048846bc2543a8bb54580603fe6295f'),
        (22, 0, 8, 4, 'a39cc93a2ce3d98b7152ac4750399ec2'),
        (22, 2, 8, 4, '97b3162c19578536e547fdedeb035123'),
        (23, 0, 8, 4, '8a5890c24da76388ce7ccb4ed4276a76'),
        (23, 2, 8, 4, '3aca7034a93853c344bb8345fcdc1a4a'),
        (24, 0, 8, 4, '3f9fa92632452159cf8465ce6c5d9643'),
        (24, 2, 8, 4, 'a21c1ad4246d8c5965dcde6e51a65d14'),
        (25, 0, 8, 4, '886bf4090a0fe6f55c284b371338abbf'),
        (25, 2, 8, 4, 'd368d6be514f743fbcb3aada621099fc'),
        (26, 0, 8, 4, '800f81f9ddab928de6a2455c46d1b0ca'),
        (26, 2, 8, 4, '9e079da511eb26156ebec1f95fb62d88'),
        (27, 0, 8, 4, '2f006eeacd668feb16df74455153f835'),
        (27, 2, 8, 4, '6edfe9fb1dcbef57a0893063552b3898'),
        (28, 0, 8, 4, 'bf7684a9b60a200551feedf4c6b58cd0'),
        (28, 2, 8, 4, '303b39657db916cd1dca128e879730f2'),
        (29, 0, 8, 4, 'ef16bc2a7bf4df2b7869bccb6b3938e3'),
        (29, 2, 8, 4, '615d8506a24c63ade4c1eee2a1e4b3b8'),
        (30, 0, 8, 4, 'ea54acfd518f0d963f58755f733c8241'),
        (30, 2, 8, 4, 'a6c09833409c8c6a0eb580c08236a83c'),
        (31, 0, 8, 4, '09fe1189ef1cdb60a05b5c8dc7e75042'),
        (31, 2, 8, 4, '522c463c0ac7936e70aec316c076f371'),
        (32, 0, 8, 4, '15997dbfd3630007c3176e70d55bd345'),
        (32, 2, 8, 4, '4f68ba809c1448c264e202df82f14863'),
        (33, 0, 8, 4, '41e6e8318300d0596ff0b5032fb583fd'),
        (33, 2, 8, 4, 'f75aef20c93f9202bd72ad74aabe8344'),
        (34, 0, 8, 4, 'b2014e2ac9fee9bb34a87a1560da69db'),
        (34, 2, 8, 4, '14e1a3b01fb998c69ea829db0fde21eb'),
        (35, 0, 8, 4, '6959e61d8a1d56e9deec1735f80c90ac'),
        (35, 2, 8, 4, 'a9f5192e3d90d0f9cee5cc0bb3017b5a'),
        (36, 0, 8, 4, '757033924431b563883196a50f3f7ced'),
        (36, 2, 8, 4, '322f44bbdba3160cc885097bcdcdf725'),
        (37, 0, 8, 4, 'f4942ad4e5a87b8b71f6b73d2416c876'),
        (37, 2, 8, 4, '398a6f96fa1a1870fd930a9f18e16fc1'),
        (38, 0, 8, 4, 'cab78ce3bf5602ed61aab30924eafbde'),
        (38, 2, 8, 4, '61c55c4973a286db8af35842d9f68a9e'),
        (39, 0, 8, 4, '325126e756be8ce362a4a894ed82a029'),
        (39, 2, 8, 4, 'e33822ed96f26b8301e150f5c6f38ed5'),
        (40, 0, 8, 4, 'b22371a179d7f9134e06f219a56ad22c'),
        (40, 2, 8, 4, 'f95683c2a37bd1213600975a8c9d0c2a'),
        (41, 0, 8, 4, 'aece6a97cabf780ade004bc5ed34b2a5'),
        (41, 2, 8, 4, 'f5ab64b29ddb33a256bb08a1cc4da93d'),
        (42, 0, 8, 4, '68ae511ff762e5c1434a5a2e6ba20497'),
        (42, 2, 8, 4, '8714f5323784dedf4987ceee241b7e01'),
        (43, 0, 8, 4, '52014d214b33c110be06364ccb166982'),
        (43, 2, 8, 4, '4992d913fc2873e5546ab281c8ef8f75'),
        (44, 0, 8, 4, 'cf84c9781be14d528a5d3da4a455e411'),
        (44, 2, 8, 4, '10d48e58e69e2cead03478cd2b91cc1b'),
        (45, 0, 8, 4, '14883058e1cab095d8d3568ec2449d31'),
        (45, 2, 8, 4, '37cbce1ad17b372a136f3bc08f2f3990'),
        (46, 0, 8, 4, 'e0fc7c0d71e36b6935031c033f6d1591'),
        (46, 2, 8, 4, '8d8558419caf0519be68ad9ed3543360'),
        (47, 0, 8, 4, 'aa118b5a002e9086d43312dd334d4e4b'),
        (47, 2, 8, 4, '3d5c4edf9afb189a84afe3f42473e55f'),
        (48, 0, 8, 4, '4bbe6d8eb061b8a74a4d2d713af0ccdb'),
        (48, 2, 8, 4, '42a24f878b09c1e6a4e9258b6b317db4'),
        (49, 0, 8, 4, 'aafaa5212443348270aed845f7f3b747'),
        (49, 2, 8, 4, 'a4233632c28ac773472d7707e7016069'),
        (50, 0, 8, 4, 'd9aef7d12e7f0fe8a0bb5ec3338a7d46'),
        (50, 2, 8, 4, '556514d13e345f3b4794bf32caaa5637'),
        (51, 0, 8, 4, '5fc8fcd467847440b78fa46868f70366'),
        (51, 2, 8, 4, '3a65d76d8459d189cac5c7a1c515fe02'),
        (52, 0, 8, 4, '250a06fddbeb5bdb5b2ac1df6ea25c07'),
        (52, 2, 8, 4, '21f09cccb87b1306abf4ab96c018cfd7'),
        (53, 0, 8, 4, 'aa6e4b1698507e144acc02485c00ccb9'),
        (53, 2, 8, 4, 'b6fccf406c210d5dcaa46fee9a059980'),
        (54, 0, 8, 4, '17a489df3bd60ed4c65fea29d8c928f7'),
        (54, 2, 8, 4, 'a8448af7b741e76bf8eb0d196ddfbd72'),
        (55, 0, 8, 4, 'b6327c059562556caa37ddf729de8c8a'),
        (55, 2, 8, 4, '03db6e5327c5a628c10cfcb26c4c17d1'),
        (56, 0, 8, 4, '3c36f290f7f6fc8d251cc84cac384f00'),
        (56, 2, 8, 4, '2f08b0e6ae70fed39e31744a269b72e5'),
        (57, 0, 8, 4, '684ff08694f73a46c1fa443aaf6f8371'),
        (57, 2, 8, 4, '5a17921d42da1963c5c390e285b1b56c'),
        (58, 0, 8, 4, '30bfe7fbf05ec7dbc3baed1701d37755'),
        (58, 2, 8, 4, 'a7c7f52ca20fd1d3e209b7939d148146'),
        (59, 0, 8, 4, '9fac4662bbc5802dc6fef8ba44c00ed3'),
        (59, 2, 8, 4, '7b5ba23831f4e0c34615007546c7d05b'),
        (60, 0, 8, 4, 'a86d1d1a7199bc1b39d1d7e54e68e894'),
        (60, 2, 8, 4, 'b33cec5f6b16354ff617954b63a1f006'),
        (61, 0, 8, 4, '806c5ec70f5da3a5e9b6f16856a29ba4'),
        (61, 2, 8, 4, '6081062082edfd1414d6ddde8482cb7c'),
        (62, 0, 8, 4, '058832775364d3d1a4b5a8e550cc9061'),
        (62, 2, 8, 4, '972012f436b6c575b3730ea224967c74'),
        (63, 0, 8, 4, '0996247b98836dd150e1704d1df2bdd7'),
        (63, 2, 8, 4, '8f7055a41cd40d9ca477e2869abd3f50'),
        (64, 0, 8, 4, 'de2f1c3f4c63bf6bbd7ed78d53b15186'),
        (64, 2, 8, 4, 'a71a818b773ed8edfff166f88e6b1661'),
        (65, 0, 8, 4, '268a6d479314911cdba8e7d895fd697f'),
        (65, 2, 8, 4, '01236ebe5963ee320661c0fcb96757a1'),
        (66, 0, 8, 4, 'c8aa677c157cc37e25864d2e8390c936'),
        (66, 2, 8, 4, '0b05dbee52824b6dce07dbbce0e499c6'),
        (67, 0, 8, 4, '663968d221249a530fa3873a9dd60901'),
        (67, 2, 8, 4, '7190be227e2120f9cd7bac27bcf931bd'),
        (68, 0, 8, 4, 'cd5f358d73887806c5e324302af93f51'),
        (68, 2, 8, 4, '576eef10cbe3a8fb51055b4020168437'),
        (69, 0, 8, 4, 'f756fc8e3e4e267790955e23a947659c'),
        (69, 2, 8, 4, '3634621f8fa08547e6dd63bafab0de54'),
        (70, 0, 8, 4, '954b508903073e0d3dc0cb32e2b338f9'),
        (70, 2, 8, 4, 'f7d4c5a2d2041601a4ff4385570a6bd5'),
        (71, 0, 8, 4, 'ce369689c11a0a7dfd6851191aa4b1ed'),
        (71, 2, 8, 4, 'dbd18ca1e6b97847c1866367b58d0706'),
        (72, 0, 8, 4, '9f39d34ebf46ac76ac656c967ec56af5'),
        (72, 2, 8, 4, '8552ad894aac755f01eb6d33e79aae73'),
        (73, 0, 8, 4, '80461177723ce7c7e00347ff562ded13'),
        (73, 2, 8, 4, '33d9c0e31ecdd2f9254ad4a250a67a17'),
        (74, 0, 8, 4, '6231aded271b2011808615ca32f7b923'),
        (74, 2, 8, 4, '87907431262c37bae88e03a470485f0f'),
        (75, 0, 8, 4, '3155f36bbfe0528870bba8375ef0fbed'),
        (75, 2, 8, 4, '0d5e0678fab0fbd7c4d1c119219f23f0'),
        (76, 0, 8, 4, 'a427b9e23aadd7d0d3f2b1e99ded12c0'),
        (76, 2, 8, 4, '8bb72c264d602311f70a3978d0a52424'),
        (77, 0, 8, 4, 'dba05d095f432ea6d417852cf769dc29'),
        (77, 2, 8, 4, '865c5dc1f30737a018554409317207ff'),
        (78, 0, 8, 4, '4f40862f5cf10cfaa13243429ff69c06'),
        (78, 2, 8, 4, '7e852e7dc6172ce189c5e682d43c4154'),
        (79, 0, 8, 4, '4744063fa80fac3185ebbe6edb397c23'),
        (79, 2, 8, 4, 'dc9cbea2f0064515add6655f21ac83ff'),
        (80, 0, 8, 4, '864eb2d65326d7e8c283fa2594e5b97a'),
        (80, 2, 8, 4, '00e6f770bf8e91294a9b5ce33fd8b0fc'),
        (81, 0, 8, 4, '27b485dd8751a62b0b2233404847395c'),
        (81, 2, 8, 4, '9a21bd2d167ac887e07885bfa5b81c02'),
        (82, 0, 8, 4, 'd74edcc64e2522d0b435e83cf8ac70dd'),
        (82, 2, 8, 4, 'e3d8b0cbcc8a89955074ac13d50914df'),
        (83, 0, 8, 4, '133adc15cca71c7a3bb2d65334bb1c76'),
        (83, 2, 8, 4, '60a0233bd44c73a1b905248270457402'),
        (84, 0, 8, 4, '711de3e52000a9ba7041f5d11d344b94'),
        (84, 2, 8, 4, '596665c9f214b7a52aa109bacf0de70b'),
        (85, 0, 8, 4, 'e7ce0c16407823d122c6b872a6d3e2ce'),
        (85, 2, 8, 4, '998d5c9317ff4d46c072e0e59af6bce1'),
        (86, 0, 8, 4, '8804f2b347708eac40b49eb62a881cf1'),
        (86, 2, 8, 4, 'd4c8dd17eba9ddf3a6a86a83a812c284'),
        (87, 0, 8, 4, 'dc068df3450b8d75de1d4a1ba51a6d4b'),
        (87, 2, 8, 4, '0961f338320507df301afbbf4d92cb09'),
        (88, 0, 8, 4, '08f4d1af92aa09d471231dc9d1a90b92'),
        (88, 2, 8, 4, '4d7a9892c297e7165f1ea96362fb08e4'),
        (89, 0, 8, 4, '1f9f7c1a271ee88206a73e076fc73a32'),
        (89, 2, 8, 4, '55a1abadd799f8b803b02acf20757d66'),
        (90, 0, 8, 4, 'f40f35f524687c61b50b549a3099bbf7'),
        (90, 2, 8, 4, '1b3f3b59069ef4f81cc7263aa4518595'),
        (91, 0, 8, 4, '62f1a0b4d8fbfd784db547ef1d59bbcf'),
        (91, 2, 8, 4, '477adf056ea7a912c6d990a9b9a18176'),
        (92, 0, 8, 4, '1a0a4b3222925e70f235a3eece31e69b'),
        (92, 2, 8, 4, 'f0469b0799658540259b081046d6f278'),
        (93, 0, 8, 4, 'c8805677b2db2ed0e0b63382913377a2'),
        (93, 2, 8, 4, '3e391b0c03a0a68946044f5a1afac56a'),
        (94, 0, 8, 4, '97b09b6bb18feff2583a2daa182827f9'),
        (94, 2, 8, 4, 'ef231cca235b02324fc3f1f0a1a83ec9'),
        (95, 0, 8, 4, '4aac61b2f83560bbd04b9327343b2cc7'),
        (95, 2, 8, 4, '5c11f84f421448fd53ea038d0799d849'),
        (96, 0, 8, 4, '1895fc228c5b6df07e1ca7220adb799c'),
        (96, 2, 8, 4, '5b83a1b787c0b3ca32f4dafb99269968'),
        (97, 0, 8, 4, '09c50c3caff730fa2cf0d2f5fda82464'),
        (97, 2, 8, 4, '843fa6bd33e9f6a3e9e38f0c8fda464c'),
        (98, 0, 8, 4, '55e15397f5526a62e308e2ef559bc026'),
        (98, 2, 8, 4, 'a9aabc8f65a6866c416ac03a28eea8d2'),
        (99, 0, 8, 4, 'ad16f7bfb71a6f97848dc5df7db0b690'),
        (99, 2, 8, 4, '6c00f22f6649fa5d559b80047e3acc53')
    ) AS t(media_id, frame_index, width, height, frame_md5)
    """, tags=("multimodal", "video"))
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video path end-to-end: a deterministic 3-frame Y4M clip per
    document (8x4 C420, luma keyed on doc_id and frame index,
    synthesized executor-side) decoded by the pure-stdlib YUV4MPEG2
    parser, every 2nd frame BT.601-converted and re-encoded as
    lossless PNG. Geometry + payload md5 are deterministic, so the
    rows-only check pins the whole synth->parse->convert->encode
    chain. Arrow-batched 1->N expansion, zero shuffle."""
    import pandas as pd

    from reactionetl_etl_spark.operators.multimodal import sample_y4m_frames

    docs = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 100)
    )

    def to_y4m(batches):
        w, h = 8, 4
        for pdf in batches:
            ids, blobs = [], []
            for mid in pdf["media_id"]:
                clip = b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C420\n" % (w, h)
                for k in range(3):
                    luma = 16 + (int(mid) * 31 + k * 73) % 220
                    clip += (
                        b"FRAME\n"
                        + bytes([luma]) * (w * h)
                        + bytes([(96 + int(mid)) % 256]) * ((w // 2) * (h // 2))
                        + bytes([(160 + k * 40) % 256]) * ((w // 2) * (h // 2))
                    )
                ids.append(mid)
                blobs.append(clip)
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    clips = docs.mapInPandas(to_y4m, "media_id long, content binary")
    frames = sample_y4m_frames(clips, every_n=2)
    return frames.select(
        "media_id",
        "frame_index",
        "width",
        "height",
        F.md5("frame_png").alias("frame_md5"),
    ).orderBy("media_id", "frame_index")


@_q("mjpeg_avi_frame_sample", """
    -- PINNED VALUES oracle (tools/pin_oracle.py @ sf0.01):
    -- deterministic output frozen as the value contract; the driver's
    -- correctness gate runs at sf0.01 only, which this pin encodes.
    SELECT * FROM (VALUES
        (0, 0, 16, 8, '3b360077f027705592280ed079703317'),
        (0, 2, 16, 8, '005e9e611c4bc50f14b9a96902831120'),
        (1, 0, 16, 8, '3f04a4f596e1b39bb77b45bd7c3f2a14'),
        (1, 2, 16, 8, '99a82857145c0ae4c4b656019fbababc'),
        (2, 0, 16, 8, '9d1e5d76d3ceb34778390c353918ded1'),
        (2, 2, 16, 8, '99d5b41fc584c0eb8aa8b535b03c872f'),
        (3, 0, 16, 8, '88df705d8d234c680831bd4114320656'),
        (3, 2, 16, 8, '1a0756277a96aff42ffb2014d52c3057'),
        (4, 0, 16, 8, '9945a0f75d25d6e8ea3f46053319d7f5'),
        (4, 2, 16, 8, 'dd50d74535151f54392225bcfc1ad159'),
        (5, 0, 16, 8, '83b3b8b913de995d985886694371b7ef'),
        (5, 2, 16, 8, '5781886f91e453b60dab23bde18a4510'),
        (6, 0, 16, 8, '771676edca4453ad1f0d23b8b3ce359f'),
        (6, 2, 16, 8, 'af27c929caac3b65c31290cd3392f8f6'),
        (7, 0, 16, 8, '165d964ef199c8a207346b492a252ed2'),
        (7, 2, 16, 8, 'b711aef14958eca77899c57f9e8fa90f'),
        (8, 0, 16, 8, '8f25a47d7d5860e1f7862c766fff3285'),
        (8, 2, 16, 8, '85325e3430a60d31c5fb116cd88620de'),
        (9, 0, 16, 8, '9d0426c79f25c745658639488906fc06'),
        (9, 2, 16, 8, '108578e4691b32dc7c6ae93ab3745ce8'),
        (10, 0, 16, 8, 'a00c27795024d5f20d59f2fd3a71e400'),
        (10, 2, 16, 8, '0cba84cb2313051786636dddca9ba7e7'),
        (11, 0, 16, 8, '07c21e6bd5a5031131a5ac54a5ecce08'),
        (11, 2, 16, 8, '56854f8f455913d9cf7f7a3f1061951d'),
        (12, 0, 16, 8, '7615ccf14013ff8cce27ae4d737fd1ca'),
        (12, 2, 16, 8, '295560fef872e4a841a8eccc2877f614'),
        (13, 0, 16, 8, 'b7a55c9aa144fe3e581885d381de9841'),
        (13, 2, 16, 8, '01ae7f0ae68025c8f9c26fad118963da'),
        (14, 0, 16, 8, '9b9a834c6d50df98e6482dc26cc56102'),
        (14, 2, 16, 8, '293b0957bb20d34c83c2f3e0131dbb9d'),
        (15, 0, 16, 8, '74ee48e308fa07c8db3619f007bd89f7'),
        (15, 2, 16, 8, '216144889ed8fed59233cd937ece0493'),
        (16, 0, 16, 8, '6b94b0d9fd1656b6fdf2f1de97089a1c'),
        (16, 2, 16, 8, '52237b3dac70f5d27857dd61393899c0'),
        (17, 0, 16, 8, '31b7feb8e7b2c48b2ed56ef2ca8d69f4'),
        (17, 2, 16, 8, '823204651d57f4add10903b40b32f0e8'),
        (18, 0, 16, 8, 'ba8d37abe55cc0951764524a131ea3fa'),
        (18, 2, 16, 8, '3b1d28f59fb61a050050fee2c0166382'),
        (19, 0, 16, 8, '993715c47ed2b6f2a8dfceb10277987d'),
        (19, 2, 16, 8, 'd252433d3d21cd98f32a01133bf1061d'),
        (20, 0, 16, 8, 'e6dd48b7f02255976b2e83467366e3fe'),
        (20, 2, 16, 8, '94a0b08974e5927790eaa1753a8981c9'),
        (21, 0, 16, 8, 'eefdb046e5248fbf52c29fee165b5ea5'),
        (21, 2, 16, 8, '13c6778c0604e295ea680302a819af8a'),
        (22, 0, 16, 8, 'fbb9f7481d1f3170b32ea3a02d35c54b'),
        (22, 2, 16, 8, '2e35fecdba58667318933b8dc7fea552'),
        (23, 0, 16, 8, 'ce9c5999e03483a52e73d6475e286a98'),
        (23, 2, 16, 8, '0e39edf3fa29f5922463843fd37219cb'),
        (24, 0, 16, 8, 'd8e6dd1b031d145605bc33d4d55397c2'),
        (24, 2, 16, 8, 'c40e8cef596d88a3500941a2f683e806'),
        (25, 0, 16, 8, 'dbb9619539c999bacded15f052be3979'),
        (25, 2, 16, 8, '0da2033c65b75a1c96158603782ca43b'),
        (26, 0, 16, 8, '12b4a775947faf925914870bb5c1154d'),
        (26, 2, 16, 8, '80a05ae649fe0e5451e799e607951489'),
        (27, 0, 16, 8, '087aa4c69e12e8661c2f27fb8ff8ae54'),
        (27, 2, 16, 8, '5816c9ec72c11dcd9ce1b910ebe9b4f1'),
        (28, 0, 16, 8, '52dca0770b6cd095bcb4b64887f748b4'),
        (28, 2, 16, 8, 'f0e713f3bb0545ae336e06fb4485b264'),
        (29, 0, 16, 8, 'cba6fa8c67c889857d4a78fff91baadb'),
        (29, 2, 16, 8, 'c26cee73fc05151ab76d6c1494e80a9d'),
        (30, 0, 16, 8, 'c2665f7973f6afcbe59e081af305934d'),
        (30, 2, 16, 8, 'a2638ba36b3b0a95acfa5286d20b6cb3'),
        (31, 0, 16, 8, '0bab29e0fbd85c7534638bdd945813bd'),
        (31, 2, 16, 8, 'b93bf8228af0d460ef4c471f84db0513'),
        (32, 0, 16, 8, 'e4639126b040a83317a4f9ed96890c62'),
        (32, 2, 16, 8, '68fc0cd67db13a55016291c1ae7eb3f5'),
        (33, 0, 16, 8, 'b337372730bd089ea21a52d7d3a42f25'),
        (33, 2, 16, 8, '5d7a896287627dfc7cdcf211c11ee175'),
        (34, 0, 16, 8, '005e9e611c4bc50f14b9a96902831120'),
        (34, 2, 16, 8, '416d3dc41d818cc8bb8b046f384f6653'),
        (35, 0, 16, 8, '99a82857145c0ae4c4b656019fbababc'),
        (35, 2, 16, 8, '37c7ae5a15e4e8d8b45ed12d709fab82'),
        (36, 0, 16, 8, '99d5b41fc584c0eb8aa8b535b03c872f'),
        (36, 2, 16, 8, '8a44fc43c7e1330a709de22018e33b60'),
        (37, 0, 16, 8, '1a0756277a96aff42ffb2014d52c3057'),
        (37, 2, 16, 8, '63b1d04742d62e0c17d6f048aae138e7'),
        (38, 0, 16, 8, 'dd50d74535151f54392225bcfc1ad159'),
        (38, 2, 16, 8, 'f9d8f588a4993a936ab829e7151d5601'),
        (39, 0, 16, 8, '5781886f91e453b60dab23bde18a4510'),
        (39, 2, 16, 8, 'cb3084fe4ea37e4a4d092f7d43ab70e8')
    ) AS t(media_id, frame_index, width, height, frame_md5)
    """, tags=("multimodal", "video"))
def mjpeg_avi_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED video end-to-end: a deterministic 3-frame MJPEG-in-AVI
    clip per document (16x8 RGB gradients keyed on doc_id and frame
    index, encoded executor-side by the fixture-grade baseline JPEG
    encoder + RIFF muxer), then `sample_video_frames` parses the AVI
    container, runs each frame through the full pure-numpy JPEG DCT
    pipeline, and re-encodes every 2nd frame as lossless PNG. Geometry
    + payload md5 are deterministic, pinning the whole
    mux->parse->huffman->IDCT->convert->encode chain. Arrow-batched
    1->N expansion, zero shuffle."""
    import numpy as _np
    import pandas as pd

    from reactionetl_etl_spark.operators.multimodal import (
        encode_jpeg_baseline,
        encode_mjpeg_avi,
        sample_video_frames,
    )

    docs = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 40)
    )

    def to_avi(batches):
        w, h = 16, 8
        base = _np.linspace(0, 160, h * w * 3).reshape(h, w, 3)
        for pdf in batches:
            ids, blobs = [], []
            for mid in pdf["media_id"]:
                jpegs = []
                for k in range(3):
                    arr = _np.clip(base + (int(mid) * 7 + k * 29) % 90, 0, 255)
                    jpegs.append(encode_jpeg_baseline(arr.astype(_np.uint8)))
                ids.append(mid)
                blobs.append(encode_mjpeg_avi(jpegs, w, h))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    clips = docs.mapInPandas(to_avi, "media_id long, content binary")
    frames = sample_video_frames(clips, every_n=2)
    return frames.select(
        "media_id",
        "frame_index",
        "width",
        "height",
        F.md5("frame_png").alias("frame_md5"),
    ).orderBy("media_id", "frame_index")


@_q("image_neardup_dhash", """
    -- PINNED VALUES oracle (tools/pin_oracle.py @ sf0.01):
    -- deterministic output frozen as the value contract; the driver's
    -- correctness gate runs at sf0.01 only, which this pin encodes.
    SELECT * FROM (VALUES
        (8, 9, 0),
        (18, 19, 0),
        (28, 29, 0),
        (38, 39, 0),
        (48, 49, 0),
        (58, 59, 0),
        (68, 69, 0),
        (78, 79, 0),
        (88, 89, 0),
        (98, 99, 0),
        (108, 109, 0),
        (118, 119, 0),
        (128, 129, 0),
        (138, 139, 0),
        (148, 149, 0),
        (158, 159, 0),
        (168, 169, 0),
        (178, 179, 0),
        (188, 189, 0),
        (198, 199, 0),
        (208, 209, 0),
        (218, 219, 0),
        (228, 229, 0),
        (238, 239, 0),
        (248, 249, 0),
        (258, 259, 0),
        (268, 269, 0),
        (278, 279, 0),
        (288, 289, 0),
        (298, 299, 0),
        (308, 309, 0),
        (318, 319, 0),
        (328, 329, 0),
        (338, 339, 0),
        (348, 349, 0),
        (358, 359, 0),
        (368, 369, 0),
        (378, 379, 0),
        (388, 389, 0),
        (398, 399, 0),
        (408, 409, 0),
        (418, 419, 0),
        (428, 429, 0),
        (438, 439, 0),
        (448, 449, 0),
        (458, 459, 0),
        (468, 469, 0),
        (478, 479, 0),
        (488, 489, 0),
        (498, 499, 0)
    ) AS t(id_a, id_b, hamming)
    """, tags=("multimodal", "dedup", "llm"), bench=True)
def image_neardup_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visual near-dup sweep over REAL encoded images: every 10th
    document's image is a +3-brightness copy of its predecessor's
    pixels shipped in a DIFFERENT container (BMP/PNG/PPM cycle), so a
    found pair proves pixel-level (container-invariant) perceptual
    hashing, not byte equality. dHash per image, pigeonhole Hamming
    join (operators/multimodal.py image_neardup_pairs). Rows-only:
    planted-pair recall is pinned by test_multimodal.py."""
    import pandas as pd

    from reactionetl_etl_spark.operators.multimodal import image_neardup_pairs

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("raw")
    )
    # planted dup: doc N (N%10==9) renders doc N-1's bytes, +3 brightness
    base = docs.alias("d").join(
        docs.selectExpr("doc_id + 1 AS doc_id", "raw AS prev_raw").alias("p"),
        on="doc_id",
        how="left",
    )

    def to_image(batches):
        import numpy as np

        from reactionetl_etl_spark.operators.multimodal import (
            encode_bmp,
            encode_png,
            encode_ppm,
        )

        encoders = [encode_bmp, encode_png, encode_ppm]
        need = 32 * 32 * 3
        for pdf in batches:
            ids, blobs = [], []
            for did, raw, prev in zip(pdf["doc_id"], pdf["raw"], pdf["prev_raw"]):
                src = prev if (int(did) % 10 == 9 and prev is not None) else raw
                b = bytes(src) or b"\x00"
                b = (b * (need // len(b) + 1))[:need]
                arr = np.frombuffer(b, dtype=np.uint8).reshape(32, 32, 3)
                if int(did) % 10 == 9 and prev is not None:
                    arr = np.minimum(arr.astype(np.int32) + 3, 255).astype(np.uint8)
                ids.append(did)
                blobs.append(encoders[int(did) % 3](arr))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    imgs = base.mapInPandas(to_image, "media_id long, content binary")
    return image_neardup_pairs(imgs, max_hamming=4).orderBy("id_a", "id_b")


@_q("multimodal_corpus_build", """
    -- PINNED VALUES oracle (tools/pin_oracle.py @ sf0.01):
    -- deterministic output frozen as the value contract; the driver's
    -- correctness gate runs at sf0.01 only, which this pin encodes.
    SELECT * FROM (VALUES
        ('exported', 450),
        ('input', 500),
        ('near_dup', 50),
        ('shards', 8),
        ('too_small', 0),
        ('undecodable', 0)
    ) AS t(stage, n)
    """, tags=("multimodal", "pipeline", "llm"))
def multimodal_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end image-corpus build (pipelines/multimodal.py): the
    planted-duplicate image set (every 10th image = its predecessor's
    pixels re-encoded) runs sniff → geometry filter → perceptual dedup
    → bounded resize → hash-bucketed sharded export with a full drop
    ledger. Returns one row per ledger stage plus the export totals —
    deterministic, so the rows-only check pins stage counts;
    conservation and ledger semantics are pinned by
    test_training_pipeline.py."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    import pandas as pd

    from reactionetl_etl_spark.pipelines.multimodal import build_image_corpus

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("raw")
    )
    base = docs.alias("d").join(
        docs.selectExpr("doc_id + 1 AS doc_id", "raw AS prev_raw").alias("p"),
        on="doc_id",
        how="left",
    )

    def to_image(batches):
        import numpy as np

        from reactionetl_etl_spark.operators.multimodal import (
            encode_bmp,
            encode_png,
            encode_ppm,
        )

        encoders = [encode_bmp, encode_png, encode_ppm]
        need = 32 * 32 * 3
        for pdf in batches:
            ids, blobs = [], []
            for did, raw, prev in zip(pdf["doc_id"], pdf["raw"], pdf["prev_raw"]):
                src = prev if (int(did) % 10 == 9 and prev is not None) else raw
                b = bytes(src) or b"\x00"
                b = (b * (need // len(b) + 1))[:need]
                arr = np.frombuffer(b, dtype=np.uint8).reshape(32, 32, 3)
                ids.append(did)
                blobs.append(encoders[int(did) % 3](arr))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    imgs = base.mapInPandas(to_image, "media_id long, content binary")
    work = _tempfile.mkdtemp(prefix="img_corpus_")
    try:
        out = _os.path.join(work, "corpus")
        st = build_image_corpus(spark, imgs, out, min_side=16, max_side=16, n_shards=8)
        return spark.createDataFrame(
            [
                ("input", st.n_input),
                ("undecodable", st.n_undecodable),
                ("too_small", st.n_too_small),
                ("near_dup", st.n_dup_dropped),
                ("exported", st.n_exported),
                ("shards", st.n_shards),
            ],
            "stage string, n long",
        ).localCheckpoint(eager=True)
    finally:
        _shutil.rmtree(work, ignore_errors=True)


@_q("multimodal_resize_pixels", None, tags=("multimodal",))
def multimodal_resize_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode→resample→re-encode round-trip on the multimodal
    path: each document's bytes are shaped into a 32×32 image
    (executor-side, mapInPandas — nothing synthesizes on the driver)
    in a container cycling BMP / PNG / PPM by doc_id, so every real
    codec — including the stdlib-zlib PNG decoder — is exercised.
    resize_images nearest-neighbour-resamples to 8×8 through the numpy
    codec and the output carries the re-encoded payload's md5 —
    deterministic, so the rows-only check still pins content drift.
    """
    import pandas as pd

    from reactionetl_etl_spark.operators.multimodal import resize_images

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("raw")
    )

    def to_image(batches):
        import numpy as np

        from reactionetl_etl_spark.operators.multimodal import (
            encode_bmp,
            encode_png,
            encode_ppm,
        )

        encoders = [encode_bmp, encode_png, encode_ppm]
        need = 32 * 32 * 3
        for pdf in batches:
            out_ids, out_blobs = [], []
            for mid, raw in zip(pdf["media_id"], pdf["raw"]):
                b = bytes(raw) or b"\x00"
                b = (b * (need // len(b) + 1))[:need]
                arr = np.frombuffer(b, dtype=np.uint8).reshape(32, 32, 3)
                out_ids.append(mid)
                out_blobs.append(encoders[int(mid) % 3](arr))
            yield pd.DataFrame({"media_id": out_ids, "content": out_blobs})

    img_schema = "media_id long, content binary"
    imgs = docs.mapInPandas(to_image, img_schema)
    resized = resize_images(imgs, max_side=8)
    return resized.select(
        "media_id",
        "src_width",
        "src_height",
        "dst_width",
        "dst_height",
        F.md5("content").alias("content_md5"),
    )


@_q(
    "quantity_band_range_join",
    """
    SELECT b.band_name, count(*) AS n,
           round(sum(l.l_extendedprice), 2) AS revenue
    FROM lineitem l
    JOIN (VALUES ('tiny', 0.0, 10.0), ('small', 10.0, 25.0),
                 ('large', 25.0, 45.0), ('huge', 45.0, 100.0))
         AS b(band_name, lo, hi)
      ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
    GROUP BY b.band_name
    """,
    tags=("join", "range"),
)
def quantity_band_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join against a small bands table. The
    non-equi condition plans as BroadcastNestedLoopJoin — correct and
    cheap exactly because the bands side is broadcast-tiny; a range
    join against a LARGE interval table would instead bucket both
    sides (bin the ranges) to recover an equi-join."""
    bands = spark.createDataFrame(
        [("tiny", 0.0, 10.0), ("small", 10.0, 25.0), ("large", 25.0, 45.0), ("huge", 45.0, 100.0)],
        "band_name string, lo double, hi double",
    )
    li = _t(spark, sf_dir, "lineitem").select("l_quantity", "l_extendedprice")
    joined = li.join(
        F.broadcast(bands),
        (li.l_quantity >= bands.lo) & (li.l_quantity < bands.hi),
    )
    return joined.groupBy("band_name").agg(
        F.count("*").alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("revenue")
    )


@_q(
    "quantity_band_range_join_binned",
    """
    SELECT b.band_name, count(*) AS n,
           round(sum(l.l_extendedprice), 2) AS revenue
    FROM lineitem l
    JOIN (VALUES ('tiny', 0.0, 10.0), ('small', 10.0, 25.0),
                 ('large', 25.0, 45.0), ('huge', 45.0, 100.0))
         AS b(band_name, lo, hi)
      ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
    GROUP BY b.band_name
    """,
    tags=("join", "range", "binned"),
)
def quantity_band_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME range join through the LARGE-interval-table path
    (operators/relational.binned_range_join): intervals explode to the
    10-unit bins they overlap, the join hash-partitions on the bin id
    (never a nested-loop), and the exact predicate re-filters
    candidates. Identical oracle to the broadcast-NLJ formulation —
    the point is the plan, which a test pins as equi-join-only."""
    bands = spark.createDataFrame(
        [("tiny", 0.0, 10.0), ("small", 10.0, 25.0), ("large", 25.0, 45.0), ("huge", 45.0, 100.0)],
        "band_name string, lo double, hi double",
    )
    li = _t(spark, sf_dir, "lineitem").select("l_quantity", "l_extendedprice")
    joined = R.binned_range_join(li, bands, "l_quantity", "lo", "hi", bin_width=10.0)
    return joined.groupBy("band_name").agg(
        F.count("*").alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("revenue")
    )


@_q(
    "orders_above_customer_avg",
    """
    SELECT o_orderkey FROM orders o
    WHERE o_totalprice > 1.5 * (
        SELECT avg(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
    """,
    tags=("sql-api", "subquery"),
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through spark.sql — Catalyst
    decorrelates it into an aggregate + join; the same SQL text is the
    oracle."""
    from reactionetl_etl_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey FROM orders o
        WHERE o_totalprice > 1.5 * (
            SELECT avg(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey
        )
        """
    )


@_q(
    "latest_order_per_nation",
    """
    SELECT c.c_nationkey,
           arg_max(o.o_orderkey, o.o_orderdate + INTERVAL (o.o_orderkey % 86400) SECOND) AS latest_orderkey,
           CAST(max(o.o_orderdate) AS VARCHAR) AS latest_orderdate
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_nationkey
    """,
    tags=("agg", "argmax"),
)
def latest_order_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / arg_max: the key of the row holding the group maximum.
    The ordering value is de-tied with a deterministic orderkey offset
    so both engines pick the same row."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    tiebroken = F.expr(
        "o_orderdate + make_interval(0, 0, 0, 0, 0, 0, o_orderkey % 86400)"
    )
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    return joined.groupBy("c_nationkey").agg(
        F.expr(
            "max_by(o_orderkey, o_orderdate + make_interval(0, 0, 0, 0, 0, 0, o_orderkey % 86400))"
        ).alias("latest_orderkey"),
        F.max("o_orderdate").cast("string").alias("latest_orderdate"),
    )


@_q("ivf_cosine_topk", """
    -- PINNED VALUES oracle (tools/pin_oracle.py @ sf0.01):
    -- deterministic output frozen as the value contract; the driver's
    -- correctness gate runs at sf0.01 only, which this pin encodes.
    SELECT * FROM (VALUES
        (7, CAST(0.292842 AS DOUBLE)),
        (73, CAST(0.295434 AS DOUBLE)),
        (190, CAST(0.281795 AS DOUBLE)),
        (320, CAST(0.287861 AS DOUBLE)),
        (323, CAST(0.256455 AS DOUBLE)),
        (334, CAST(0.362722 AS DOUBLE)),
        (365, CAST(0.369994 AS DOUBLE)),
        (387, CAST(0.331139 AS DOUBLE)),
        (423, CAST(0.296934 AS DOUBLE)),
        (483, CAST(0.2567 AS DOUBLE))
    ) AS t("vec_id", "cosine_sim")
    """, tags=("similarity", "ivf"))
def ivf_cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: k-means-trained coarse quantization (deterministic
    seed), multi-probe search over the query's 6 nearest cells (the
    test embeddings are near-uniform — the hardest case for IVF — and
    6/16 probes reach full recall there; clustered production
    embeddings need fewer). Rows-only check (model-defined, not SQL)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_cosine_topk(emb, query_id=0, dim=64, k=10, n_cells=16, n_probe=6)


def _batch_queries(emb: DataFrame, n: int = 8) -> DataFrame:
    """First n embedding rows as the ANN query batch (query_id, embedding)."""
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


@_q(
    "cosine_topk_batch_exact",
    """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id < 8),
    scored AS (
        SELECT q.query_id, e.vec_id,
               round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe), 6)
                   AS cosine_sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cosine_sim
    FROM (SELECT scored.*,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine_sim DESC, vec_id ASC) AS rn
          FROM scored)
    WHERE rn <= 5
    """,
    tags=("similarity", "batch"),
    bench=True,
)
def cosine_topk_batch_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact BATCH ANN: top-5 neighbours for each of 8 query vectors in
    one pass — one corpus scan through the Arrow scorer, the query batch
    in its closure, per-query top-k via WindowGroupLimit (map-side
    partial top-k before the exchange).
    The single-query entry points re-scan the corpus per call; this is
    the shape a 100 TB similarity-search job actually runs."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_topk_batch(_batch_queries(emb), emb, k=5)


@_q("lsh_cosine_topk_batch", """
    -- PINNED VALUES oracle (tools/pin_oracle.py @ sf0.01):
    -- deterministic output frozen as the value contract; the driver's
    -- correctness gate runs at sf0.01 only, which this pin encodes.
    SELECT * FROM (VALUES
        (0, 32, CAST(0.219127 AS DOUBLE)),
        (0, 51, CAST(0.198503 AS DOUBLE)),
        (0, 174, CAST(0.167213 AS DOUBLE)),
        (0, 209, CAST(0.151404 AS DOUBLE)),
        (0, 423, CAST(0.296934 AS DOUBLE)),
        (1, 49, CAST(0.120137 AS DOUBLE)),
        (1, 195, CAST(0.322744 AS DOUBLE)),
        (1, 222, CAST(0.226914 AS DOUBLE)),
        (1, 363, CAST(0.263306 AS DOUBLE)),
        (1, 455, CAST(0.118289 AS DOUBLE)),
        (2, 241, CAST(0.153288 AS DOUBLE)),
        (2, 276, CAST(0.119038 AS DOUBLE)),
        (2, 350, CAST(0.240069 AS DOUBLE)),
        (2, 389, CAST(0.157093 AS DOUBLE)),
        (2, 459, CAST(0.223401 AS DOUBLE)),
        (3, 61, CAST(0.199648 AS DOUBLE)),
        (3, 112, CAST(0.175012 AS DOUBLE)),
        (3, 207, CAST(0.291702 AS DOUBLE)),
        (3, 231, CAST(0.298788 AS DOUBLE)),
        (3, 499, CAST(0.21066 AS DOUBLE)),
        (4, 92, CAST(0.213253 AS DOUBLE)),
        (4, 168, CAST(0.043895 AS DOUBLE)),
        (4, 226, CAST(0.031053 AS DOUBLE)),
        (4, 288, CAST(0.228625 AS DOUBLE)),
        (4, 341, CAST(0.184964 AS DOUBLE)),
        (5, 157, CAST(0.311256 AS DOUBLE)),
        (5, 266, CAST(0.260944 AS DOUBLE)),
        (5, 359, CAST(0.305821 AS DOUBLE)),
        (5, 395, CAST(0.275599 AS DOUBLE)),
        (5, 464, CAST(0.270882 AS DOUBLE)),
        (6, 88, CAST(0.203933 AS DOUBLE)),
        (6, 156, CAST(0.189464 AS DOUBLE)),
        (6, 267, CAST(0.201588 AS DOUBLE)),
        (6, 270, CAST(0.232772 AS DOUBLE)),
        (6, 351, CAST(0.176381 AS DOUBLE)),
        (7, 29, CAST(0.113573 AS DOUBLE)),
        (7, 90, CAST(0.12475 AS DOUBLE)),
        (7, 356, CAST(0.121263 AS DOUBLE)),
        (7, 423, CAST(0.234917 AS DOUBLE)),
        (7, 498, CAST(0.18449 AS DOUBLE))
    ) AS t("query_id", "vec_id", "cosine_sim")
    """, tags=("similarity", "lsh", "batch"))
def lsh_cosine_topk_batch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN over the LSH index: the query batch and the corpus are
    both bucketed; candidates come from the bucket equi-join (never a
    cross product) with multi-probe Hamming-≤1 bucket expansion
    (default — r5's single-probe recall gap), exact cosine ranks
    within candidates. Rows-only check (bucket membership is
    seed-defined, not SQL)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.lsh_cosine_topk_batch(_batch_queries(emb), emb, dim=64, k=5, bits=8)


@_q("ivf_cosine_topk_batch", """
    -- PINNED VALUES oracle (tools/pin_oracle.py @ sf0.01):
    -- deterministic output frozen as the value contract; the driver's
    -- correctness gate runs at sf0.01 only, which this pin encodes.
    SELECT * FROM (VALUES
        (0, 73, CAST(0.295434 AS DOUBLE)),
        (0, 334, CAST(0.362722 AS DOUBLE)),
        (0, 365, CAST(0.369994 AS DOUBLE)),
        (0, 387, CAST(0.331139 AS DOUBLE)),
        (0, 423, CAST(0.296934 AS DOUBLE)),
        (1, 64, CAST(0.316374 AS DOUBLE)),
        (1, 124, CAST(0.30275 AS DOUBLE)),
        (1, 386, CAST(0.371485 AS DOUBLE)),
        (1, 402, CAST(0.292322 AS DOUBLE)),
        (1, 407, CAST(0.32701 AS DOUBLE)),
        (2, 117, CAST(0.318143 AS DOUBLE)),
        (2, 145, CAST(0.263494 AS DOUBLE)),
        (2, 188, CAST(0.263272 AS DOUBLE)),
        (2, 418, CAST(0.254029 AS DOUBLE)),
        (2, 471, CAST(0.247193 AS DOUBLE)),
        (3, 130, CAST(0.399872 AS DOUBLE)),
        (3, 149, CAST(0.329934 AS DOUBLE)),
        (3, 174, CAST(0.303548 AS DOUBLE)),
        (3, 207, CAST(0.291702 AS DOUBLE)),
        (3, 343, CAST(0.308472 AS DOUBLE)),
        (4, 114, CAST(0.398513 AS DOUBLE)),
        (4, 280, CAST(0.279826 AS DOUBLE)),
        (4, 408, CAST(0.322753 AS DOUBLE)),
        (4, 482, CAST(0.313897 AS DOUBLE)),
        (4, 496, CAST(0.341212 AS DOUBLE)),
        (5, 33, CAST(0.310987 AS DOUBLE)),
        (5, 359, CAST(0.305821 AS DOUBLE)),
        (5, 395, CAST(0.275599 AS DOUBLE)),
        (5, 404, CAST(0.328403 AS DOUBLE)),
        (5, 419, CAST(0.319237 AS DOUBLE)),
        (6, 145, CAST(0.297696 AS DOUBLE)),
        (6, 350, CAST(0.324518 AS DOUBLE)),
        (6, 386, CAST(0.275196 AS DOUBLE)),
        (6, 430, CAST(0.32252 AS DOUBLE)),
        (6, 437, CAST(0.283031 AS DOUBLE)),
        (7, 209, CAST(0.394463 AS DOUBLE)),
        (7, 334, CAST(0.356901 AS DOUBLE)),
        (7, 340, CAST(0.492766 AS DOUBLE)),
        (7, 381, CAST(0.345179 AS DOUBLE)),
        (7, 425, CAST(0.40752 AS DOUBLE))
    ) AS t("query_id", "vec_id", "cosine_sim")
    """, tags=("similarity", "ivf", "batch"))
def ivf_cosine_topk_batch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN over the IVF index: queries explode into their 6
    nearest trained cells, candidates come from the (probe_cell ==
    ivf_cell) equi-join, exact cosine ranks within candidates.
    Rows-only check (model-defined, not SQL)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_cosine_topk_batch(
        _batch_queries(emb), emb, dim=64, k=5, n_cells=16, n_probe=6
    )


@_q("catalog_columns", """
    -- PINNED VALUES oracle (tools/pin_oracle.py @ sf0.01):
    -- deterministic output frozen as the value contract; the driver's
    -- correctness gate runs at sf0.01 only, which this pin encodes.
    SELECT * FROM (VALUES
        ('customer', 'c_acctbal', 'double'),
        ('customer', 'c_custkey', 'bigint'),
        ('customer', 'c_mktsegment', 'string'),
        ('customer', 'c_name', 'string'),
        ('customer', 'c_nationkey', 'int'),
        ('documents', 'doc_id', 'bigint'),
        ('documents', 'lang', 'string'),
        ('documents', 'n_chars', 'bigint'),
        ('documents', 'source', 'string'),
        ('documents', 'text', 'string'),
        ('embeddings', 'embedding', 'array<float>'),
        ('embeddings', 'label', 'int'),
        ('embeddings', 'vec_id', 'bigint'),
        ('events', 'event_id', 'bigint'),
        ('events', 'event_type', 'string'),
        ('events', 'props', 'string'),
        ('events', 'ts', 'timestamp_ntz'),
        ('events', 'ts_ntz', 'timestamp_ntz'),
        ('events', 'user_id', 'bigint'),
        ('events', 'value', 'double'),
        ('lineitem', 'l_discount', 'double'),
        ('lineitem', 'l_extendedprice', 'double'),
        ('lineitem', 'l_linenumber', 'int'),
        ('lineitem', 'l_linestatus', 'string'),
        ('lineitem', 'l_orderkey', 'bigint'),
        ('lineitem', 'l_partkey', 'bigint'),
        ('lineitem', 'l_quantity', 'double'),
        ('lineitem', 'l_returnflag', 'string'),
        ('lineitem', 'l_shipdate', 'timestamp_ntz'),
        ('lineitem', 'l_suppkey', 'bigint'),
        ('lineitem', 'l_tax', 'double'),
        ('nation', 'n_name', 'string'),
        ('nation', 'n_nationkey', 'int'),
        ('nation', 'n_regionkey', 'int'),
        ('orders', 'o_custkey', 'bigint'),
        ('orders', 'o_orderdate', 'timestamp_ntz'),
        ('orders', 'o_orderkey', 'bigint'),
        ('orders', 'o_orderpriority', 'string'),
        ('orders', 'o_orderstatus', 'string'),
        ('orders', 'o_totalprice', 'double'),
        ('part', 'p_brand', 'string'),
        ('part', 'p_name', 'string'),
        ('part', 'p_partkey', 'bigint'),
        ('part', 'p_retailprice', 'double'),
        ('part', 'p_size', 'int'),
        ('part', 'p_type', 'string'),
        ('region', 'r_name', 'string'),
        ('region', 'r_regionkey', 'int'),
        ('supplier', 's_acctbal', 'double'),
        ('supplier', 's_name', 'string'),
        ('supplier', 's_nationkey', 'int'),
        ('supplier', 's_suppkey', 'bigint')
    ) AS t(table_name, column_name, data_type)
    """, tags=("catalog", "reference-S6"))
def catalog_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: catalog introspection (the reference's pg_indexes scan,
    database_manager.py:242-255 — Spark has no secondary indexes, so
    the analogue is the table/column catalog). Registers the star
    schema as temp views and lists every column with its type.
    Rows-only check: DuckDB's catalog differs structurally."""
    from reactionetl_etl_spark.sources.tables import TABLE_NAMES, register_views

    register_views(spark, sf_dir)
    rows = []
    for t in TABLE_NAMES:
        for col in spark.catalog.listColumns(t):
            rows.append((t, col.name, col.dataType))
    return spark.createDataFrame(rows, "table_name string, column_name string, data_type string")


@_q("approx_distinct_users", """
    -- PINNED VALUES oracle (tools/pin_oracle.py @ sf0.01):
    -- deterministic output frozen as the value contract; the driver's
    -- correctness gate runs at sf0.01 only, which this pin encodes.
    SELECT * FROM (VALUES
        ('click', 151),
        ('error', 151),
        ('purchase', 151),
        ('signup', 151),
        ('view', 151)
    ) AS t(event_type, approx_users)
    """, tags=("agg", "approx"))
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct (sketch differs from DuckDB's
    → rows-only check)."""
    ev = load_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users")
    )


# ---------------------------------------------------------------------------
# Deep analytics round 2: distribution / correlated / global-window shapes
# ---------------------------------------------------------------------------


@_q(
    "customer_order_distribution",
    """
    SELECT n_orders, count(*) AS n_customers
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
        FROM customer c
        LEFT JOIN orders o
          ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    ) per_cust
    GROUP BY n_orders
    """,
    tags=("join", "agg", "tpch-q13"),
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13 shape: order-count histogram over a filtered LEFT
    join (customers with zero qualifying orders must appear as
    n_orders=0 — the outer join is the point)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


@_q(
    "large_volume_customers",
    """
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS VARCHAR) AS orderdate_s,
           o.o_totalprice, round(t.sum_qty, 2) AS sum_qty
    FROM (
        SELECT l_orderkey, sum(l_quantity) AS sum_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    ) t
    JOIN orders o ON o.o_orderkey = t.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    tags=("join", "agg", "tpch-q18"),
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18 shape: HAVING-filtered aggregate driving a join back
    to its parents. The aggregate side shrinks to the rare heavy
    orders before any join — at scale the join input is the HAVING
    survivors, not the lineitem table."""
    li = _t(spark, sf_dir, "lineitem")
    heavy = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        heavy.join(o, heavy.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("orderdate_s"),
            "o_totalprice",
            F.round("sum_qty", 2).alias("sum_qty"),
        )
    )


@_q(
    "global_sales_opportunity",
    """
    SELECT c_nationkey, count(*) AS n_cust, round(sum(c_acctbal), 2) AS total_bal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    """,
    tags=("join", "subquery", "tpch-q22"),
)
def global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22 shape: scalar-subquery threshold + anti-join (rich
    customers with no urgent orders — the test data gives every
    customer SOME order, so the anti-join keys on the urgent subset
    to keep the result non-trivial). The scalar aggregate is a 1-row
    broadcast; the NOT EXISTS is a left_anti join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    thresh = c.where(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("__avg"))
    return (
        c.join(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(o.select(F.col("o_custkey").alias("c_custkey")), on="c_custkey", how="left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_cust"), F.round(F.sum("c_acctbal"), 2).alias("total_bal"))
    )


@_q(
    "top_parts_by_revenue_share",
    """
    WITH pr AS (
        SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS rev
        FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, round(rev, 2) AS revenue
    FROM pr WHERE rev > (SELECT avg(rev) * 1.5 FROM pr)
    """,
    tags=("agg", "subquery", "tpch-q11"),
)
def top_parts_by_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11 shape: per-key aggregate filtered against a global
    statistic of itself (scalar subquery → 1-row broadcast); 1.5× the
    mean share keeps the survivors non-empty on near-uniform data
    where Q11's sum-fraction cut selects nothing."""
    li = _t(spark, sf_dir, "lineitem")
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    pr = li.groupBy("l_partkey").agg(rev)
    total = pr.agg((F.avg("rev") * 1.5).alias("__cut"))
    return (
        pr.join(F.broadcast(total))
        .filter(F.col("rev") > F.col("__cut"))
        .select("l_partkey", F.round("rev", 2).alias("revenue"))
    )


@_q(
    "min_cost_supplier_per_part",
    """
    WITH ps AS (
        SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT ps.l_partkey, s.s_name,
           floor(ps.unit_cost * 1e6 + 0.5) / 1e6 AS unit_cost
    FROM ps JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    WHERE ps.unit_cost = (SELECT min(x.unit_cost) FROM ps x
                          WHERE x.l_partkey = ps.l_partkey)
    """,
    tags=("join", "subquery", "tpch-q2"),
)
def min_cost_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2 shape: correlated min (cheapest supplier per part).
    The oracle states it as a correlated subquery; the Spark plan uses
    the window-min formulation — one shuffle on l_partkey, no
    re-aggregation join (the standard decorrelation). Output rounding
    is floor(x*1e6+0.5)/1e6, not round(): unit costs hit exact .5
    decimal boundaries (price/32 etc.), where Spark's shortest-decimal
    HALF_UP and DuckDB's binary-value rounding diverge — the floor
    form is pure IEEE arithmetic, bit-identical across engines."""
    li = _t(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    w = Window.partitionBy("l_partkey")
    s = _t(spark, sf_dir, "supplier")
    return (
        ps.withColumn("__min", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("__min"))
        .join(F.broadcast(s), ps.l_suppkey == s.s_suppkey)
        .select(
            "l_partkey",
            "s_name",
            (F.floor(F.col("unit_cost") * 1e6 + 0.5) / 1e6).alias("unit_cost"),
        )
    )


@_q(
    "totalprice_percent_rank",
    """
    SELECT o_orderkey,
           floor(percent_rank() OVER (ORDER BY o_totalprice) * 1e6 + 0.5) / 1e6 AS pct_rank,
           floor(cume_dist()    OVER (ORDER BY o_totalprice) * 1e6 + 0.5) / 1e6 AS cume
    FROM orders
    """,
    tags=("window", "rank"),
    bench=True,
)
def totalprice_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist over a TOTAL order, via the two-pass
    distributed global rank (operators/rank.py) — closed forms
    pct = (rank-1)/(n-1), cume = (rank-1+ties)/n; the tie count is a
    partitioned (per-price) window, so no single-partition stage."""
    from reactionetl_etl_spark.operators.rank import global_order_ranks

    ranked = global_order_ranks(
        _t(spark, sf_dir, "orders"),
        rank_exprs=[F.col("o_totalprice")],
        rank_desc=[False],
        keep_total=True,
    )
    ties = F.count("*").over(Window.partitionBy("o_totalprice"))

    def _r6(col):  # floor-based half-up rounding: bit-identical to DuckDB
        return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    pct = F.when(
        F.col("global_total") > 1,
        (F.col("global_rank") - 1) / (F.col("global_total") - 1),
    ).otherwise(F.lit(0.0))  # SQL percent_rank() is 0, not null, on 1 row
    return ranked.select(
        "o_orderkey",
        _r6(pct).alias("pct_rank"),
        _r6((F.col("global_rank") - 1 + ties) / F.col("global_total")).alias("cume"),
    )


@_q(
    "orders_moving_avg_range_frame",
    """
    SELECT o_orderkey,
           CAST(floor(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                          OVER w / count(*) OVER w) AS BIGINT) AS avg_cents_7d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
                 RANGE BETWEEN 7 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "range-frame"),
)
def orders_moving_avg_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window (7-day moving average per customer) — the
    frame is value-based (days), not row-based, so same-day orders
    share a frame. Integer-cents arithmetic keeps Spark/DuckDB float
    parity exact (avg of doubles rounds differently at .5 ulps)."""
    days = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(days)
        .rangeBetween(-7, Window.currentRow)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.sum(cents).over(w) / F.count("*").over(w)).alias("avg_cents_7d"),
    )


@_q(
    "grouping_sets_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    tags=("agg", "grouping-sets"),
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer than rollup/cube: an arbitrary
    subset lattice). Same SQL text runs on both engines via the
    spark.sql front door."""
    from reactionetl_etl_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@_q(
    "duplicate_clusters",
    """
    WITH RECURSIVE t0 AS (
        SELECT doc_id,
               list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS toks,
               substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 32) AS pfx
        FROM documents
    ), t AS (
        SELECT * FROM t0 QUALIFY count(*) OVER (PARTITION BY pfx) <= 64
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM t a JOIN t b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
        WHERE CAST(len(list_filter(a.toks, tk -> list_contains(b.toks, tk))) AS DOUBLE)
              / (len(a.toks) + len(b.toks)
                 - len(list_filter(a.toks, tk -> list_contains(b.toks, tk)))) >= 0.5
    ), sym AS (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), reach AS (
        SELECT DISTINCT s AS node, s AS root FROM sym
        UNION
        SELECT sym.d, reach.root FROM reach JOIN sym ON sym.s = reach.node
    )
    SELECT node AS doc_id, min(root) AS cluster_id FROM reach GROUP BY node
    """,
    tags=("dedup", "graph"),
    bench=True,
)
def duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS, not pairs: connected components over the
    Jaccard-candidate edge set (operators/graph.py min-label
    propagation; the oracle walks the same graph with a recursive
    CTE). Cluster-level keeper selection is what prevents the
    pairwise double-drop when A~B, B~C, A!~C."""
    from reactionetl_etl_spark.operators.graph import connected_components

    pairs = ngram_jaccard_pairs(spark, sf_dir).filter(F.col("jaccard") >= 0.5)
    comps = connected_components(pairs, src="id_a", dst="id_b")
    return comps.select(F.col("node").alias("doc_id"), F.col("component").alias("cluster_id"))


@_q(
    "embedding_l2_norm_pandas",
    """
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                              x -> x * x))), 6) AS l2_norm
    FROM embeddings
    """,
    tags=("udf", "pandas", "similarity"),
)
def embedding_l2_norm_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar @pandas_udf (Arrow-vectorized, batch-at-a-time numpy) —
    the engine's row-level Python surface, completing the UDF triple
    (scalar pandas_udf / applyInPandas grouped-map / mapInPandas).
    Built-ins beat this (functions/vectors.py does the same JVM-side);
    it exists for transforms that genuinely need numpy/scipy."""
    from reactionetl_etl_spark.functions.pandas_fns import l2_norm

    emb = _t(spark, sf_dir, "embeddings")
    return emb.select("vec_id", F.round(l2_norm("embedding"), 6).alias("l2_norm"))


@_q(
    "click_purchase_interval_join",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    tags=("join", "interval", "streaming"),
)
def click_purchase_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (purchase within 30 min after a click, same
    user) — the batch face of streaming/joins.py::interval_join; the
    streaming face runs the identical function with watermarks
    (stream/batch parity pinned in test_streaming). Executes as an
    equi-join on user_id with the time band as a post-filter — no
    range explosion."""
    from reactionetl_etl_spark.streaming.joins import interval_join

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    joined = interval_join(clicks, purchases, on="user_id", upper="30 minutes")
    return joined.select(
        F.col("event_id").alias("click_id"),
        F.col("event_id_r").alias("purchase_id"),
    )


@_q(
    "stratified_sample_events",
    """
    WITH fr AS (
        SELECT event_type,
               CASE WHEN row_number() OVER (ORDER BY event_type) % 2 = 1
                    THEN 0.5 ELSE 0.1 END AS p
        FROM (SELECT DISTINCT event_type FROM events)
    )
    SELECT e.event_id, e.event_type, e.user_id
    FROM events e JOIN fr USING (event_type)
    WHERE ('0x' || substr(md5(CAST(e.event_id AS VARCHAR)), 1, 8))::BIGINT
          / 4294967296.0 < fr.p
    """,
    tags=("sampling", "deterministic"),
)
def stratified_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (per-event-type) sampling — training-data pipelines
    downsample dominant classes this way. Deterministic Bernoulli: the
    keep/drop decision is u = first-8-hex-digits of md5(event_id) as a
    uniform [0,1) variate vs the class rate (same engine-neutral
    variate as `weighted_sample_hash`), so the selected SET is
    identical on every run / retry / engine — which is what gives this
    query a computed cross-engine oracle (Spark's seeded `sampleBy`
    remains available for rate-only guarantees, but its output is
    engine-defined and was the catalog's one rows-only check, r8
    verdict item 3). Per-class rates join in via a broadcast of the
    tiny distinct-class table; the variate is a pure row-local
    expression — one broadcast hash join, zero extra shuffle."""
    ev = load_events(spark, sf_dir)
    # Per-class rates need a driver-sized class list by contract —
    # bounded so a high-cardinality column fails loudly instead of
    # silently single-partition-windowing millions of classes.
    if ev.select("event_type").distinct().limit(1001).count() > 1000:
        raise ValueError(
            "stratified sampling is for LOW-cardinality class columns; "
            ">1000 distinct event_type values found — use a hash-split "
            "(operators/split.py) or per-class filters at this cardinality"
        )
    w = Window.orderBy("event_type")
    fr = ev.select("event_type").distinct().select(
        "event_type",
        F.when(F.row_number().over(w) % 2 == 1, F.lit(0.5))
        .otherwise(F.lit(0.1))
        .alias("p"),
    )
    u = F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) / F.lit(4294967296.0)
    return (
        ev.join(F.broadcast(fr), "event_type")
        .filter(u < F.col("p"))
        .select("event_id", "event_type", "user_id")
    )


@_q(
    "sole_late_supplier",
    """
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
    tags=("join", "exists", "deep"),
)
def sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-shape: suppliers SOLELY responsible for a late
    multi-supplier order (testdata lacks commit/receipt dates, so
    "late" = shipped >60 days after the order date). The correlated
    EXISTS / NOT EXISTS chain compiles to one semi-join and one
    anti-join on l_orderkey — both shuffle-partition on the same key
    as the main join, so AQE coalesces them into one exchange set;
    supplier is broadcast. No correlated per-row subquery execution
    survives in the physical plan."""
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    l = _t(spark, sf_dir, "lineitem")
    late = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .select("l_orderkey", "l_suppkey")
    )
    others = l.select(
        F.col("l_orderkey").alias("x_orderkey"), F.col("l_suppkey").alias("x_suppkey")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("x_orderkey"), F.col("l_suppkey").alias("x_suppkey")
    )
    l1 = (
        late.join(
            others,
            (others.x_orderkey == late.l_orderkey) & (others.x_suppkey != late.l_suppkey),
            "left_semi",
        )
        .join(
            late_others,
            (late_others.x_orderkey == late.l_orderkey)
            & (late_others.x_suppkey != late.l_suppkey),
            "left_anti",
        )
    )
    return (
        l1.join(F.broadcast(s), l1.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@_q(
    "top_revenue_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    ORDER BY s.s_suppkey
    """,
    tags=("join", "subquery", "deep"),
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-shape: the supplier(s) hitting the quarter's maximum
    revenue. The revenue view aggregates once; the scalar max is a
    1-row broadcast back onto the same aggregate (no second scan of
    lineitem, no global sort — max-filter, not rank)."""
    l = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP_NTZ '1996-04-01 00:00:00'"))
    )
    rev = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    top = rev.agg(F.max("total_revenue").alias("mx"))
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(top), rev.total_revenue == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@_q(
    "returnflag_priority_matrix",
    """
    SELECT l.l_returnflag,
           sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT
             AS high_line_count,
           sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT
             AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
    tags=("join", "agg", "deep"),
)
def returnflag_priority_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12-shape conditional aggregation (testdata has no
    shipmode; returnflag plays its role): one join, CASE-sums fold
    into the same hash aggregate — never two passes."""
    l = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
    )
    o = _t(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@_q(
    "train_val_test_split",
    """
    SELECT doc_id,
           CASE WHEN b < 9000 THEN 'train'
                WHEN b < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
             CAST(('0x' || substring(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 10000 AS b
      FROM documents
    )
    """,
    tags=("split", "ml"),
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by md5 bucket
    (operators/split.py). Pure per-row expressions — no shuffle, no
    RNG — and md5 is bit-identical across engines, so the per-document
    assignment itself is oracle-checked (not just the split sizes)."""
    from reactionetl_etl_spark.operators.split import hash_split

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return hash_split(
        docs, "doc_id", {"train": 0.90, "val": 0.05, "test": 0.05}
    ).select("doc_id", "split")


@_q("incremental_neardup_probe", """
    -- PINNED VALUES oracle (tools/pin_oracle.py @ sf0.01):
    -- deterministic output frozen as the value contract; the driver's
    -- correctness gate runs at sf0.01 only, which this pin encodes.
    SELECT * FROM (VALUES
        (45, 267, CAST(1.0 AS DOUBLE)),
        (45, 413, CAST(1.0 AS DOUBLE)),
        (70, 447, CAST(1.0 AS DOUBLE)),
        (120, 332, CAST(0.9688 AS DOUBLE)),
        (185, 61, CAST(1.0 AS DOUBLE)),
        (245, 8, CAST(0.9688 AS DOUBLE)),
        (285, 301, CAST(1.0 AS DOUBLE)),
        (290, 98, CAST(1.0 AS DOUBLE)),
        (295, 374, CAST(0.9688 AS DOUBLE)),
        (310, 389, CAST(0.9375 AS DOUBLE)),
        (420, 393, CAST(0.9375 AS DOUBLE)),
        (435, 486, CAST(0.9688 AS DOUBLE)),
        (450, 92, CAST(0.9688 AS DOUBLE)),
        (455, 26, CAST(0.9063 AS DOUBLE))
    ) AS t(new_id, index_id, est_jaccard)
    """, tags=("dedup", "incremental"))
def incremental_neardup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: the newest 20% of documents probed against a
    banded MinHash index of the other 80% (operators/dedup.py::
    probe_minhash_index). At 100 TB each document is signed ONCE on
    arrival and new batches equi-join the persisted index on
    (band, bhash) — the corpus is never re-signed. Rows-only check
    (LSH banding is seed-defined, not ANSI SQL); probe-vs-self-join
    parity is pinned by test_probe_matches_self_join_candidates."""
    from reactionetl_etl_spark.operators.dedup import (
        banded_signatures,
        probe_minhash_index,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    idx = banded_signatures(corpus, "text", "doc_id")
    return probe_minhash_index(batch, idx, "text", "doc_id", min_jaccard=0.5)


@_q(
    "tfidf_top_terms",
    """
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok
        WHERE length(term) >= 3 GROUP BY doc_id, term
    ), df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, term,
           floor(tf.tf * n.n_docs / df.df * 1e4 + 0.5) / 1e4 AS score
    FROM tf JOIN df USING (term) CROSS JOIN n
    QUALIFY row_number() OVER (
        PARTITION BY doc_id ORDER BY tf.tf * n.n_docs / df.df DESC, term ASC
    ) <= 3
    """,
    tags=("text", "tfidf", "topk"),
    bench=True,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF with the
    RATIONAL idf variant (tf · N/df, no logarithm): log() comes from
    each engine's libm and differs in final ulps, while integer
    multiply + IEEE divide are bit-identical — so the per-row scores
    and the rank order are exactly oracle-checkable. Plan: explode →
    two hash aggregates (doc-term tf, term df) → broadcast of the
    term-df side (vocabulary ≪ corpus) → per-doc top-k window.

    df is derived FROM tf (tf has exactly one row per doc-term, so
    count(*) per term == count distinct docs): the corpus is scanned
    and exploded once, Catalyst reuses the (doc_id, term) exchange for
    both consumers, and the df aggregate shuffles only deduped
    doc-term pairs. WindowGroupLimit prunes to top-3 per doc BEFORE
    the window exchange, so the final shuffle carries ≤3 rows/doc."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
        ).alias("term"),
    ).filter(F.length("term") >= 3)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # The tautological tf >= 1 keeps the count column referenced in this
    # branch; otherwise column pruning rewrites its partial aggregate
    # (keys-only) so the two exchange subtrees stop being canonically
    # equal and ReuseExchange can't elide the second scan+explode.
    df_t = tf.filter(F.col("tf") >= 1).groupBy("term").agg(F.count("*").alias("df"))
    # Corpus size joins in as a broadcast 1-row aggregate so the builder
    # stays lazy — no eager count() job at plan-construction time.
    n_total = docs.agg(F.count("*").alias("n_docs"))
    score = F.col("tf") * F.col("n_docs") / F.col("df")
    w = Window.partitionBy("doc_id").orderBy(score.desc(), F.col("term").asc())
    return (
        tf.join(F.broadcast(df_t), on="term")
        .join(F.broadcast(n_total))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 3)
        .select(
            "doc_id",
            "term",
            (F.floor(score * 1e4 + 0.5) / 1e4).alias("score"),
        )
    )


@_q(
    "pii_redaction_stats",
    """
    WITH planted AS (
        SELECT doc_id,
               text || ' contact user' || doc_id::VARCHAR || '@example.com or +1-555-'
                    || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS ptext
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(ptext,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(ptext, '\\+\\d{1,2}-\\d{3}-\\d{4}')) AS n_phones,
           md5(regexp_replace(
                 regexp_replace(ptext,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\\+\\d{1,2}-\\d{3}-\\d{4}', '<PHONE>', 'g')) AS redacted_md5
    FROM planted
    """,
    tags=("text", "pii", "llm"),
)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over documents. The fixture corpus is
    synthetic word-soup with no real PII, so the query PLANTS one
    deterministic email + phone per document (derived from doc_id),
    then proves the redactor finds and strips them: per-doc match
    counts plus the md5 of the redacted text (so the oracle verifies
    the redacted BYTES, not just counts). Patterns are restricted to
    the RE2∩Java regex subset (operators/text.py PII_PATTERNS) so both
    engines interpret them identically. Pure regexp expression chain —
    whole-stage codegen, zero shuffle, scales linearly with the scan."""
    docs = _t(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    d = docs.withColumn("__p", planted)
    return d.select(
        "doc_id",
        TX.pii_count(F.col("__p"), "email").alias("n_emails"),
        TX.pii_count(F.col("__p"), "phone").alias("n_phones"),
        F.md5(TX.redact_pii(F.col("__p"))).alias("redacted_md5"),
    )


@_q(
    "contamination_check_4gram",
    """
    WITH tok AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), g AS (
        SELECT doc_id, array_to_string(toks[i:i+3], ' ') AS gram
        FROM (
            SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks) - 3, 1))) AS i
            FROM tok
        )
    ), ev AS (
        SELECT DISTINCT doc_id AS eval_id, gram FROM g WHERE doc_id % 97 = 0
    ), tr AS (
        SELECT doc_id AS train_id, gram FROM g WHERE doc_id % 97 <> 0
    )
    SELECT train_id, eval_id, count(DISTINCT gram) AS n_shared
    FROM tr JOIN ev USING (gram)
    GROUP BY train_id, eval_id
    """,
    tags=("text", "contamination", "llm"),
    bench=True,
)
def contamination_check_4gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination sweep: training docs sharing any 4-token
    shingle with the held-out eval slice (doc_id % 97 == 0 stands in
    for a benchmark suite). The eval gram set is broadcast — the train
    corpus is probed map-side and never pre-aggregated, so the only
    shuffle carries matched (train, eval, gram) rows, rare by
    construction (operators/text.py ngram_contamination)."""
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    tr = docs.filter(F.col("doc_id") % 97 != 0)
    return TX.ngram_contamination(tr, ev, "text", "doc_id", k=4)


@_q(
    "contamination_check_shuffle",
    """
    WITH tok AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), g AS (
        SELECT doc_id, array_to_string(toks[i:i+3], ' ') AS gram
        FROM (
            SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks) - 3, 1))) AS i
            FROM tok
        )
    ), ev AS (
        SELECT DISTINCT doc_id AS eval_id, gram FROM g WHERE doc_id % 97 = 0
    ), tr AS (
        SELECT doc_id AS train_id, gram FROM g WHERE doc_id % 97 <> 0
    )
    SELECT train_id, eval_id, count(DISTINCT gram) AS n_shared
    FROM tr JOIN ev USING (gram)
    GROUP BY train_id, eval_id
    """,
    tags=("text", "contamination", "llm"),
)
def contamination_check_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contamination sweep's NON-broadcast path: when the eval
    suite exceeds the broadcast threshold, both sides key on
    xxhash64(gram) and meet in a hash-partitioned shuffle equi-join —
    8-byte digests shuffle, never gram strings. Oracled against the
    same DuckDB SQL as the broadcast variant (distinct-hash counting is
    exact absent 64-bit collisions, impossible at fixture scale)."""
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    tr = docs.filter(F.col("doc_id") % 97 != 0)
    return TX.ngram_contamination(tr, ev, "text", "doc_id", k=4, broadcast_eval=False)


@_q(
    "decontaminated_corpus",
    """
    WITH tok AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), g AS (
        SELECT doc_id, array_to_string(toks[i:i+3], ' ') AS gram
        FROM (
            SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks) - 3, 1))) AS i
            FROM tok
        )
    ), ev AS (
        SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
    ), hits AS (
        SELECT DISTINCT doc_id FROM g
        WHERE doc_id % 97 <> 0 AND gram IN (SELECT gram FROM ev)
    )
    SELECT doc_id, source, n_chars FROM documents
    WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM hits)
    """,
    tags=("text", "contamination", "llm"),
)
def decontaminated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contamination sweep's ACTION: emit the training corpus with
    every document sharing a 4-gram with the eval slice REMOVED — the
    step a pipeline actually ships, not just the report. The matched-id
    set is the contamination result collapsed to distinct train ids
    (rare by construction, so the anti-join broadcasts it and the
    corpus rescan is map-side); at 100 TB the flagged-id table is
    still benchmark-suite-sized, never corpus-sized."""
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    tr = docs.filter(F.col("doc_id") % 97 != 0)
    flagged = (
        TX.ngram_contamination(tr, ev, "text", "doc_id", k=4)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
    )
    return tr.join(flagged, on="doc_id", how="left_anti").select(
        "doc_id", "source", "n_chars"
    )


@_q(
    "domain_cap_sample",
    """
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('s42:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= 10
    """,
    tags=("sampling", "llm", "rank"),
)
def domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (≤10 docs per source), the standard
    web-corpus guard against mega-domains dominating the training
    mixture. Survivors are chosen by md5-hash order — a stateless
    uniform draw, reproducible across runs/engines/cluster sizes. The
    rank-filter plans as WindowGroupLimit: each map task emits ≤cap
    rows per domain BEFORE the exchange, so hot domains never funnel
    their full row set through one reducer (operators/split.py
    cap_per_group; plan pinned in tests/test_plans.py)."""
    from reactionetl_etl_spark.operators.split import cap_per_group

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(docs, ["source"], cap=10, order_key="doc_id")


@_q(
    "repeated_span_extents",
    """
    WITH tok AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), g AS (
        SELECT doc_id, i AS pos, array_to_string(toks[i:i+7], ' ') AS gram
        FROM (
            SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks) - 7, 1))) AS i
            FROM tok
        )
    ), shared AS (
        SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
    ), dp AS (
        SELECT DISTINCT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM shared)
    ), isl AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
                    THEN 1 ELSE 0 END AS nw
        FROM dp WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), grp AS (
        SELECT doc_id, pos,
               sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM isl
    )
    SELECT doc_id,
           min(pos) AS span_start,
           max(pos) + 7 AS span_end,
           max(pos) + 7 - min(pos) + 1 AS span_tokens
    FROM grp GROUP BY doc_id, isl
    """,
    tags=("text", "dedup", "llm"),
)
def repeated_span_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE the duplicated content sits: per-doc maximal token ranges
    covered by 8-gram shingles shared with another document — the
    span-level map an exact-substring dedup pass cuts by, versus
    `cross_doc_dup_rate`'s per-doc scalar. Shingles shuffle as paired
    16-byte digests (r15 — effective 128-bit equality at 100 TB scale);
    the island merge is a per-document window
    (operators/text.py duplicated_span_extents)."""
    docs = _t(spark, sf_dir, "documents")
    return TX.duplicated_span_extents(docs, "text", "doc_id", k=8)


@_q(
    "cut_duplicated_spans",
    """
    WITH tok AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), g AS (
        SELECT doc_id, i AS pos, array_to_string(toks[i:i+7], ' ') AS gram
        FROM (
            SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks) - 7, 1))) AS i
            FROM tok
        )
    ), own AS (
        SELECT gram, min(doc_id) AS owner
        FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
    ), dp AS (
        SELECT DISTINCT g.doc_id, g.pos
        FROM g JOIN own USING (gram) WHERE g.doc_id <> own.owner
    ), idx AS (
        SELECT doc_id, len(toks) AS n_tok,
               unnest(generate_series(1, len(toks))) AS j, toks
        FROM tok
    ), keptk AS (
        SELECT i.doc_id, i.j, i.toks[i.j] AS tk
        FROM idx i
        WHERE NOT EXISTS (
            SELECT 1 FROM dp
            WHERE dp.doc_id = i.doc_id AND i.j BETWEEN dp.pos AND dp.pos + 7
        )
    )
    SELECT tok.doc_id,
           len(tok.toks) AS n_tokens_before,
           len(tok.toks) - coalesce(kc.n_kept, 0) AS n_tokens_cut,
           coalesce(kc.txt, '') AS text_dedup
    FROM tok LEFT JOIN (
        SELECT doc_id, count(*) AS n_kept,
               string_agg(tk, ' ' ORDER BY j) AS txt
        FROM keptk GROUP BY doc_id
    ) kc USING (doc_id)
    """,
    tags=("text", "dedup", "llm"),
    bench=True,
)
def cut_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup as an ACTION (Lee et al. 2022 policy):
    each cross-doc-shared 8-gram's covered range survives only in the
    smallest-id owner doc and is CUT from every other copy — the
    rewritten corpus itself, with before/cut token counts, not just a
    report. Digest-keyed shuffles only; the text rebuild is an in-row
    array filter against each doc's few merged cut extents
    (operators/text.py cut_duplicated_spans). Value-oracled: the full
    rewritten text string must match DuckDB's reconstruction."""
    docs = _t(spark, sf_dir, "documents")
    return TX.cut_duplicated_spans(docs, "text", "doc_id", k=8)


@_q(
    "doc_char_stats",
    """
    WITH ch AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS ch FROM documents
    ), cnt AS (
        SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch
    ), ent AS (
        SELECT doc_id,
               count(*) AS n_unique_chars,
               round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS char_entropy
        FROM cnt GROUP BY doc_id
    ), pos AS (
        SELECT doc_id, chs[i] AS ch, i
        FROM (
            SELECT doc_id, chs, unnest(generate_series(1, len(chs))) AS i
            FROM (SELECT doc_id, regexp_extract_all(text, '.') AS chs FROM documents)
        )
    ), isl AS (
        SELECT doc_id, i,
               CASE WHEN lag(ch) OVER w IS NULL OR ch <> lag(ch) OVER w
                    THEN 1 ELSE 0 END AS nw
        FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ), runs AS (
        SELECT doc_id, count(*) AS run_len
        FROM (SELECT doc_id, i,
                     sum(nw) OVER (PARTITION BY doc_id ORDER BY i) AS run_id
              FROM isl)
        GROUP BY doc_id, run_id
    ), mr AS (
        SELECT doc_id, max(run_len) AS max_char_run FROM runs GROUP BY doc_id
    )
    SELECT ent.doc_id, n_unique_chars, char_entropy, max_char_run
    FROM ent JOIN mr ON ent.doc_id = mr.doc_id
    """,
    tags=("text", "quality", "llm"),
)
def doc_char_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level quality signals (the CCNet/Gopher complements to
    the token-level `doc_quality_scores`): per-doc character-
    distribution Shannon entropy (nats — low entropy flags boilerplate
    and generator loops), distinct-character count, and the longest
    same-character run (key-mash/padding detector). Entropy folds from
    one (doc, char) count pass as ln(n) − Σc·ln(c)/n; the run length
    is a zero-shuffle backreference regex in Spark, value-oracled
    against DuckDB's RE2-safe window-island formulation of the same
    quantity."""
    docs = _t(spark, sf_dir, "documents")
    chars = docs.select("doc_id", F.explode(F.expr("regexp_extract_all(text, '.', 0)")).alias("ch"))
    cnt = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    ent = cnt.groupBy("doc_id").agg(
        F.count("*").alias("n_unique_chars"),
        F.round(
            F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c"), 6
        ).alias("char_entropy"),
    )
    runs = docs.select(
        "doc_id",
        F.expr(
            r"array_max(transform(regexp_extract_all(text, '(.)\\1*', 0), x -> length(x)))"
        ).alias("max_char_run"),
    )
    return ent.join(runs, on="doc_id")


@_q(
    "intra_doc_repetition",
    """
    WITH tok AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), g AS (
        SELECT doc_id,
               list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
                              i -> array_to_string(toks[i:i+2], ' ')) AS grams
        FROM tok
    )
    SELECT doc_id,
           len(grams) AS total_3grams,
           len(list_distinct(grams)) AS distinct_3grams,
           (10000 * (len(grams) - len(list_distinct(grams)))) // len(grams) AS rep_bp
    FROM g
    """,
    tags=("text", "quality", "llm"),
)
def intra_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition filter signal: fraction
    of repeated 3-token shingles per doc, in basis points (integer
    division keeps it bit-identical cross-engine; floats never appear).
    Computed entirely INSIDE each row — token array and gram array are
    materialized columns (split runs once; see the recompute-trap note
    on token_ngrams) and distinctness is array_distinct, so the plan is
    a pure map with ZERO shuffle at any corpus size — no explode, no
    per-doc aggregate."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    grams = F.expr(
        "transform(sequence(1, greatest(size(__toks) - 2, 1)),"
        " i -> array_join(slice(__toks, i, 3), ' '))"
    )
    return (
        docs.withColumn("__toks", toks)
        .withColumn("__grams", grams)
        .select(
            "doc_id",
            F.size("__grams").alias("total_3grams"),
            F.size(F.array_distinct("__grams")).alias("distinct_3grams"),
            F.expr(
                "(10000 * (size(__grams) - size(array_distinct(__grams))))"
                " div size(__grams)"
            ).alias("rep_bp"),
        )
    )


@_q(
    "embedding_centroid_by_label",
    """
    SELECT label, i AS dim, count(*) AS n_vecs,
           floor(sum(floor(embedding[i] * 1e6)::BIGINT) / count(*))::BIGINT AS centroid_micro
    FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) s
    WHERE i <= len(embedding)
    GROUP BY label, i
    """,
    tags=("embedding", "agg", "llm"),
)
def embedding_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (the seed operation for k-means /
    IVF training and class-prototype dedup), one row per (label, dim).
    Elements are quantized to integer micro-units BEFORE summing —
    integer sums are order-independent, so the result is bit-identical
    across engines and partitionings, unlike a float mean. posexplode +
    hash aggregate: partial aggregation combines map-side, so the
    shuffle carries labels × dims rows (640 here), not corpus rows —
    constant at any SF."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select("label", F.posexplode("embedding").alias("pos", "val"))
    return (
        e.groupBy(F.col("label"), (F.col("pos") + 1).cast("bigint").alias("dim"))
        .agg(
            F.count("*").alias("n_vecs"),
            F.floor(
                F.sum(F.floor(F.col("val") * F.lit(1e6)).cast("long")) / F.count("*")
            ).alias("centroid_micro"),
        )
    )


@_q(
    "doc_length_band_filter",
    """
    WITH b AS (
        SELECT ceil(quantile_cont(n_chars, 0.05))  AS lo,
               floor(quantile_cont(n_chars, 0.95)) AS hi
        FROM documents
    )
    SELECT doc_id, n_chars FROM documents, b WHERE n_chars BETWEEN lo AND hi
    """,
    tags=("text", "quality", "llm"),
)
def doc_length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-band length filter (drop the shortest/longest 5% of
    docs — a standard pretraining quality gate). Exact interpolated
    percentiles, snapped to integers with ceil/floor so band membership
    compares integer-to-integer (an off-by-one-ulp interpolation
    difference can't flip a row in or out). The 1-row bounds frame is
    broadcast; the corpus pass is a map-side filter. At 100 TB swap
    percentile → approx_percentile and the plan shape is unchanged."""
    docs = _t(spark, sf_dir, "documents")
    b = docs.agg(
        F.ceil(F.expr("percentile(n_chars, 0.05)")).alias("lo"),
        F.floor(F.expr("percentile(n_chars, 0.95)")).alias("hi"),
    )
    return (
        docs.join(F.broadcast(b))
        .where(F.col("n_chars").between(F.col("lo"), F.col("hi")))
        .select("doc_id", "n_chars")
    )


@_q(
    "lang_mixture_weights",
    """
    WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         t AS (SELECT sum(n_docs)::BIGINT AS n_total, count(*) AS n_langs FROM c)
    SELECT lang, n_docs,
           ((1000000 * n_total) // (n_langs * n_docs))::BIGINT AS weight_micro
    FROM c, t
    """,
    tags=("text", "sampling", "llm"),
)
def lang_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resampling weights that rebalance the corpus to a uniform
    language mixture (the domain/language-mixing step of pretraining
    data curation): weight ∝ (N/k)/n_lang, in exact integer
    micro-units (integer division — identical truncation both engines,
    no float mixture math). Two tiny aggregates over lang keys; the
    totals row is broadcast back. The full-corpus pass is the single
    groupBy(lang) with map-side combine."""
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    t = c.agg(F.sum("n_docs").alias("n_total"), F.count("*").alias("n_langs"))
    return c.join(F.broadcast(t)).select(
        "lang",
        "n_docs",
        F.expr("(1000000 * n_total) div (n_langs * n_docs)").alias("weight_micro"),
    )


# ---------------------------------------------------------------------------
# Round-5 completions: sliding windows, watermark dedup twin, sketch
# accuracy checks, unicode/text stats, gap-filling, aggregate surface
# ---------------------------------------------------------------------------


@_q(
    "events_sliding_window",
    """
    WITH ex AS (
        SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
                   - k.k * INTERVAL '15 minutes' AS ws,
               event_type, value
        FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
    )
    SELECT CAST(ws AS VARCHAR) AS window_start, event_type,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM ex GROUP BY 1, 2
    """,
    tags=("events", "time", "window", "streaming"),
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (1h window / 15m slide) event-time aggregation — the
    batch form of streaming/windows.sliding_event_stats; every event
    fans out to exactly 4 epoch-aligned windows. The oracle expands the
    same 4 hops with a generate_series cross join."""
    from reactionetl_etl_spark.streaming.windows import sliding_event_stats

    ev = load_events(spark, sf_dir)
    return sliding_event_stats(ev, "1 hour", "15 minutes").select(
        F.col("window_start").cast("string").alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    )


@_q(
    "events_dedup_earliest",
    """
    SELECT event_id, user_id, event_type, round(value, 2) AS value
    FROM (
        SELECT e.*, row_number() OVER (
            PARTITION BY user_id, event_type
            ORDER BY ts ASC, event_id ASC
        ) AS rn
        FROM events e
    )
    WHERE rn = 1
    """,
    tags=("events", "dedup", "streaming"),
)
def events_dedup_earliest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-wins dedup per (user, event_type): the deterministic batch
    twin of streaming dropDuplicatesWithinWatermark
    (streaming/windows.dedup_earliest). WindowGroupLimit keeps only
    each task's local first row per key before the shuffle."""
    from reactionetl_etl_spark.streaming.windows import dedup_earliest

    ev = load_events(spark, sf_dir)
    return dedup_earliest(ev, ["user_id", "event_type"]).select(
        "event_id", "user_id", "event_type", F.round("value", 2).alias("value")
    )


@_q(
    "orders_approx_percentile_check",
    """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 2) AS exact_median,
           TRUE AS approx_in_bracket
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "sketch"),
)
def orders_approx_percentile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy contract: approx_percentile(accuracy=10000) must
    land between the exact 45th and 55th percentile order statistics
    (rank error ≤ n/accuracy < 1 rank at these group sizes). The exact
    median is value-oracled; the bracket flag proves the sketch's bound
    WITHOUT hashing the approximate value itself (which no other engine
    reproduces)."""
    o = _t(spark, sf_dir, "orders")
    g = o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("exact_median"),
        F.expr("approx_percentile(o_totalprice, 0.5, 10000)").alias("__apx"),
        F.expr("percentile_disc(0.45) WITHIN GROUP (ORDER BY o_totalprice)").alias("__lo"),
        F.expr("percentile_disc(0.55) WITHIN GROUP (ORDER BY o_totalprice)").alias("__hi"),
    )
    return g.select(
        "o_orderpriority",
        "exact_median",
        ((F.col("__apx") >= F.col("__lo")) & (F.col("__apx") <= F.col("__hi"))).alias(
            "approx_in_bracket"
        ),
    )


@_q(
    "events_approx_distinct_check",
    """
    SELECT event_type, count(DISTINCT user_id) AS exact_users,
           TRUE AS approx_within_5pct
    FROM events GROUP BY event_type
    """,
    tags=("events", "agg", "sketch"),
)
def events_approx_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ accuracy contract: approx_count_distinct(rsd=1%)
    within ±5% of the exact distinct count (deterministic given the
    data — HLL hashing has no RNG — so the flag is stable run to run).
    The exact count is value-oracled; at 100 TB the sketch is the one
    that survives (mergeable, constant memory) while exact distinct
    shuffles every key."""
    ev = load_events(spark, sf_dir)
    g = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.01).alias("__apx"),
    )
    return g.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("__apx") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("approx_within_5pct"),
    )


@_q(
    "doc_unicode_stats",
    """
    SELECT doc_id,
           length(text) AS n_codepoints,
           strlen(text) AS n_bytes,
           (strlen(text) != length(text)) AS multibyte,
           md5(lower(translate(text, 'áàâäéèêëíìîïóòôöúùûüñç',
                                      'aaaaeeeeiiiioooouuuunc'))) AS folded_md5
    FROM documents
    """,
    tags=("text", "unicode", "llm"),
)
def doc_unicode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-normalization text stats: codepoint vs byte length
    (multibyte detection — the cheap CJK/emoji discriminator), and an
    md5 of the case+accent-folded text (translate-table folding —
    identical char-for-char semantics cross-engine). Pure per-row
    expressions, zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    folded = F.translate(
        F.lower("text"), "áàâäéèêëíìîïóòôöúùûüñç", "aaaaeeeeiiiioooouuuunc"
    )
    return docs.select(
        "doc_id",
        F.length("text").alias("n_codepoints"),
        F.octet_length("text").alias("n_bytes"),
        (F.octet_length("text") != F.length("text")).alias("multibyte"),
        F.md5(folded).alias("folded_md5"),
    )


@_q(
    "events_hourly_gapfill",
    """
    WITH b AS (SELECT date_trunc('hour', CAST(min(ts) AS TIMESTAMP)) AS lo,
                      date_trunc('hour', CAST(max(ts) AS TIMESTAMP)) AS hi
               FROM events),
    spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b),
    c AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, count(*) AS n
          FROM events GROUP BY 1)
    SELECT CAST(spine.h AS VARCHAR) AS hour_start, coalesce(c.n, 0) AS n
    FROM spine LEFT JOIN c ON spine.h = c.h
    """,
    tags=("events", "time", "gapfill"),
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly time spine with zero-filled gaps — the
    time-series-completion shape every monitoring/feature pipeline
    needs. The spine generates from a 1-row bounds aggregate
    (sequence + explode, broadcast to the counts join), so no driver
    loop and no assumption that every hour has data."""
    ev = load_events(spark, sf_dir)
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts_ntz")).alias("lo"),
        F.date_trunc("hour", F.max("ts_ntz")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    counts = ev.groupBy(F.date_trunc("hour", "ts_ntz").alias("h")).agg(
        F.count("*").alias("n")
    )
    return spine.join(counts, on="h", how="left").select(
        F.col("h").cast("string").alias("hour_start"),
        F.coalesce("n", F.lit(0)).alias("n"),
    )


@_q(
    "events_linear_interpolation",
    """
    WITH e AS (
        SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
               floor(avg(value) * 1000000 + 0.5) / 1000000 AS v
        FROM events WHERE user_id < 30 GROUP BY 1, 2
    ), b AS (
        SELECT user_id, min(h) AS lo, max(h) AS hi FROM e GROUP BY 1
    ), spine AS (
        SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b
    ), j AS (
        SELECT s.user_id, s.h, e.v FROM spine s LEFT JOIN e USING (user_id, h)
    ), f AS (
        SELECT user_id, h, v,
               last_value(v IGNORE NULLS) OVER wp AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wp AS ph,
               first_value(v IGNORE NULLS) OVER wn AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wn AS nh
        FROM j
        WINDOW wp AS (PARTITION BY user_id ORDER BY h
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY user_id ORDER BY h
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, CAST(h AS VARCHAR) AS hour_start,
           floor((CASE WHEN v IS NOT NULL THEN v
                       ELSE pv + (nv - pv) * ((epoch(h) - epoch(ph)) / (epoch(nh) - epoch(ph)))
                  END) * 1000000 + 0.5) / 1000000 AS v_interp,
           v IS NOT NULL AS is_observed
    FROM f
    """,
    tags=("events", "time", "gapfill", "interpolation"),
)
def events_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gapfill — the zero-fill spine's sibling for
    CONTINUOUS signals (sensor feeds, metrics): per-user hourly spine
    bounded by that user's own observed range, observed hours keep
    their (rounded) mean, interior gaps lerp between the nearest
    observed neighbours via last/first IGNORE NULLS windows. No
    extrapolation by construction (spine endpoints are observed). The
    epoch arithmetic uses DIFFERENCES only, so session timezone
    cancels; both engines compute the identical lerp expression."""
    ev = load_events(spark, sf_dir).filter(F.col("user_id") < 30)
    known = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts_ntz").alias("h")
    ).agg((F.floor(F.avg("value") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias("v"))
    bounds = known.groupBy("user_id").agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    spine = bounds.select(
        "user_id", F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    j = spine.join(known, on=["user_id", "h"], how="left")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    known_h = F.when(F.col("v").isNotNull(), F.col("h"))
    f = j.withColumns(
        {
            "pv": F.last("v", ignorenulls=True).over(wp),
            "ph": F.last(known_h, ignorenulls=True).over(wp),
            "nv": F.first("v", ignorenulls=True).over(wn),
            "nh": F.first(known_h, ignorenulls=True).over(wn),
        }
    )
    # tz-free epoch seconds (DST-proof differences; see _ntz_epoch_sec)
    eh, eph, enh = (_ntz_epoch_sec(c) for c in ("h", "ph", "nh"))
    lerp = F.col("pv") + (F.col("nv") - F.col("pv")) * ((eh - eph) / (enh - eph))
    return f.select(
        "user_id",
        F.col("h").cast("string").alias("hour_start"),
        (
            F.floor(
                F.when(F.col("v").isNotNull(), F.col("v")).otherwise(lerp) * 1_000_000
                + F.lit(0.5)
            )
            / 1_000_000
        ).alias("v_interp"),
        F.col("v").isNotNull().alias("is_observed"),
    )


@_q(
    "lineitem_regression_stats",
    """
    SELECT round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           round(corr(l_extendedprice, l_quantity), 6) AS corr_pq,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
    FROM lineitem
    """,
    tags=("agg", "stats"),
)
def lineitem_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates (slope/intercept/R²) — one
    map-side-combinable pass; the moment sums are the whole shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 2).alias("intercept"),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_pq"),
        F.regr_count("l_extendedprice", "l_quantity").alias("n"),
    )


@_q(
    "part_bool_bit_aggs",
    """
    SELECT p_brand,
           bool_and(p_size > 0) AS all_positive,
           bool_or(p_size > 40) AS any_large,
           bit_and(p_size) AS size_bit_and,
           bit_or(p_size) AS size_bit_or,
           bit_xor(p_size) AS size_bit_xor
    FROM part GROUP BY p_brand
    """,
    tags=("agg",),
)
def part_bool_bit_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean and bitwise aggregate surface (bool_and/bool_or,
    bit_and/or/xor) — all associative+commutative, so map-side partial
    aggregation applies untouched."""
    p = _t(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.bool_and(F.col("p_size") > 0).alias("all_positive"),
        F.bool_or(F.col("p_size") > 40).alias("any_large"),
        F.bit_and("p_size").alias("size_bit_and"),
        F.bit_or("p_size").alias("size_bit_or"),
        F.bit_xor("p_size").alias("size_bit_xor"),
    )


@_q(
    "orders_count_if_share",
    """
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
           count(*) FILTER (WHERE o_totalprice <= 100000) AS n_small,
           round(avg(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2) AS avg_f
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "filter"),
)
def orders_count_if_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered aggregates (count_if / FILTER clause): conditional
    counting without a pre-filter scan per condition — one pass, every
    condition evaluated map-side."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
        F.count_if(F.col("o_totalprice") <= 100000).alias("n_small"),
        F.round(
            F.avg(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))), 2
        ).alias("avg_f"),
    )


@_q(
    "orders_lag_defaults",
    """
    SELECT o_custkey, o_orderkey,
           lag(o_totalprice, 2, -1.0) OVER w AS lag2_price,
           lead(o_totalprice, 3, -1.0) OVER w AS lead3_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("window",),
)
def orders_lag_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset windows with explicit offsets and defaults (lag 2 / lead
    3, -1 fill) — completes the §2.6 offset-window surface beyond the
    adjacent-row case."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice", 2, -1.0).over(w).alias("lag2_price"),
        F.lead("o_totalprice", 3, -1.0).over(w).alias("lead3_price"),
    )


@_q(
    "nation_acctbal_concat",
    """
    SELECT c_nationkey,
           array_to_string(list_sort(list(CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR))), '|')
               AS bals
    FROM customer GROUP BY c_nationkey
    """,
    tags=("agg", "array"),
)
def nation_acctbal_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered array aggregation: collect_list → array_sort →
    array_join, value-comparable cross-engine because elements are
    decimal-formatted strings (double stringification differs between
    engines; DECIMAL(12,2) renders identically). collect_list is the
    one agg with per-group memory ∝ group size — fine for dim-sized
    groups, never for fact-sized ones."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(
            F.array_sort(
                F.collect_list(F.col("c_acctbal").cast("decimal(12,2)").cast("string"))
            ),
            "|",
        ).alias("bals")
    )


@_q(
    "revenue_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus, round(sum(l_extendedprice), 2) AS revenue,
           grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    tags=("agg", "groupingsets"),
)
def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form under rollup/cube) with
    grouping() indicators — one Expand + one aggregate, not three
    scans."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_extendedprice), 2) AS revenue,
               grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls
        FROM __li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@_q(
    "orders_date_arithmetic",
    """
    SELECT o_orderkey,
           CAST(last_day(o_orderdate) AS VARCHAR) AS month_end,
           quarter(o_orderdate) AS qtr,
           CAST(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS VARCHAR) AS plus3m,
           date_diff('day', DATE '1995-01-01', o_orderdate) AS days_since
    FROM orders WHERE o_orderkey % 7 = 0
    """,
    tags=("scalar", "date"),
)
def orders_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar arithmetic surface: month-end, quarter, clamped
    add-months, day difference — all JVM scalar expressions."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    return o.select(
        "o_orderkey",
        F.last_day("o_orderdate").cast("string").alias("month_end"),
        F.quarter("o_orderdate").alias("qtr"),
        F.add_months("o_orderdate", 3).cast("string").alias("plus3m"),
        F.datediff("o_orderdate", F.lit("1995-01-01").cast("date")).alias("days_since"),
    )


@_q(
    "priority_mode_by_month",
    """
    WITH c AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
               o_orderpriority, count(*) AS n
        FROM orders GROUP BY 1, 2
    )
    SELECT CAST(m AS VARCHAR) AS month, o_orderpriority AS mode_priority, n
    FROM (
        SELECT c.*, row_number() OVER (
            PARTITION BY m ORDER BY n DESC, o_orderpriority DESC
        ) AS rn
        FROM c
    )
    WHERE rn = 1
    """,
    tags=("agg", "window", "mode"),
)
def priority_mode_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode (most frequent value, ties broken by value
    DESC) per month — counts then a top-1 window, never a raw mode()
    whose tie-breaking is engine-defined."""
    o = _t(spark, sf_dir, "orders")
    c = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("m"), "o_orderpriority"
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("m").orderBy(F.col("n").desc(), F.col("o_orderpriority").desc())
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("m").cast("string").alias("month"),
            F.col("o_orderpriority").alias("mode_priority"),
            "n",
        )
    )


@_q(
    "doc_chunking_overlap",
    """
    WITH tok AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), c AS (
        SELECT doc_id, toks,
               unnest(generate_series(1, greatest(len(toks) - 16, 1), 48)) AS s
        FROM tok
    )
    SELECT doc_id,
           CAST((s - 1) / 48 AS BIGINT) AS chunk_idx,
           md5(array_to_string(toks[s:s+63], ' ')) AS chunk_md5,
           len(toks[s:s+63]) AS chunk_n_tokens
    FROM c
    """,
    tags=("text", "chunking", "llm"),
)
def doc_chunking_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: 64-token chunks, stride 48 (16-token
    overlap), every token covered, last chunk may run short
    (operators/text.chunk_documents). Chunk text is md5'd for the
    value oracle. One explode per doc, zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return TX.chunk_documents(docs, "text", chunk_tokens=64, stride=48).select(
        "doc_id",
        "chunk_idx",
        F.md5("chunk_text").alias("chunk_md5"),
        F.col("chunk_n_tokens").cast("long").alias("chunk_n_tokens"),
    )


@_q(
    "events_trailing_hour_sum",
    """
    SELECT event_id, user_id,
           floor(sum(value) OVER (
                     PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
                 ) * 100 + 0.5) / 100 AS trail_1h
    FROM events
    """,
    tags=("events", "window", "range-frame"),
)
def events_trailing_hour_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-range window frame: per-user trailing-1-hour value sum
    (inclusive bounds, peers included — RANGE semantics). Spark orders
    by epoch microseconds with rangeBetween(-3_600_000_000, 0), exactly
    DuckDB's INTERVAL 1 HOUR frame at microsecond precision. One
    shuffle on user_id."""
    ev = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts_ntz").cast("timestamp")))
        .rangeBetween(-3_600_000_000, 0)
    )
    trail = F.sum("value").over(w)
    return ev.select(
        "event_id",
        "user_id",
        (F.floor(trail * 100 + F.lit(0.5)) / 100).alias("trail_1h"),
    )


@_q(
    "corpus_deterministic_shuffle",
    """
    SELECT doc_id,
           row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS shuffle_pos
    FROM documents
    """,
    tags=("sampling", "llm", "rank"),
)
def corpus_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RNG-free corpus shuffling for training-order randomization:
    position = rank over a cryptographic hash of the id. Reproducible
    across runs, engines, and cluster sizes (no seed state to lose),
    resumable mid-epoch (position is a pure function of the id), and
    computed with the DISTRIBUTED global rank — no single-partition
    window over the corpus."""
    from reactionetl_etl_spark.operators.rank import global_order_ranks

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    ranked = global_order_ranks(
        docs,
        rank_exprs=[F.md5(F.col("doc_id").cast("string"))],
        rank_desc=[False],
        tie_exprs=[F.col("doc_id")],
        tie_desc=[False],
    )
    return ranked.select("doc_id", F.col("global_row_number").alias("shuffle_pos"))


@_q(
    "events_ewma_final",
    """
    SELECT user_id,
           round(list_reduce(list(value ORDER BY ts, event_id),
                             (acc, x) -> 0.2 * x + 0.8 * acc), 6) AS ewma_final
    FROM events GROUP BY user_id
    """,
    tags=("events", "time", "udf", "recurrence"),
)
def events_ewma_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA end state (alpha=0.2) — a sequential RECURRENCE,
    the one per-group shape Catalyst windows cannot express, run as an
    Arrow-batched applyInPandas (operators/grouped.ewma_per_group_pandas)
    and value-oracled against DuckDB's list_reduce fold of the same
    recurrence in the same event order."""
    from reactionetl_etl_spark.operators.grouped import ewma_per_group_pandas

    ev = load_events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    ew = ewma_per_group_pandas(
        ev, ["user_id"], ["ts", "event_id"], "value", alpha=0.2, out_col="ewma"
    )
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ew.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", F.round("ewma", 6).alias("ewma_final"))
    )


@_q(
    "events_value_histogram",
    """
    SELECT CAST(floor(value / 5.0) AS BIGINT) AS bucket,
           count(*) AS n,
           round(min(value), 2) AS lo,
           round(max(value), 2) AS hi
    FROM events GROUP BY 1
    """,
    tags=("events", "agg", "histogram"),
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (width 5) over the value column — one
    map-side-combinable aggregate keyed on the bucket id; the shape
    behind every distribution dashboard at any scale."""
    ev = load_events(spark, sf_dir)
    return ev.groupBy(
        F.floor(F.col("value") / 5.0).cast("long").alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.min("value"), 2).alias("lo"),
        F.round(F.max("value"), 2).alias("hi"),
    )


@_q(
    "user_retention_cohorts",
    """
    WITH f AS (
        SELECT user_id, date_trunc('day', CAST(min(ts) AS TIMESTAMP)) AS cohort
        FROM events GROUP BY user_id
    )
    SELECT CAST(f.cohort AS VARCHAR) AS cohort_day,
           date_diff('day', f.cohort,
                     date_trunc('day', CAST(e.ts AS TIMESTAMP))) AS day_offset,
           count(DISTINCT e.user_id) AS active_users
    FROM events e JOIN f USING (user_id)
    GROUP BY 1, 2
    """,
    tags=("events", "agg", "cohort"),
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-cohort matrix: users grouped by first-seen day, counted
    distinct on each later active day offset — the two-aggregate +
    self-join product-analytics staple. The first-seen table is
    user-sized (≪ events) and joins back on user_id; both aggregates
    combine map-side."""
    ev = load_events(spark, sf_dir)
    first = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts_ntz")).alias("cohort")
    )
    joined = ev.join(first, on="user_id")
    return joined.groupBy(
        # DuckDB date_trunc('day') yields DATE; cast before stringifying
        F.col("cohort").cast("date").cast("string").alias("cohort_day"),
        F.datediff(F.date_trunc("day", "ts_ntz").cast("date"), F.col("cohort").cast("date")).alias(
            "day_offset"
        ),
    ).agg(F.countDistinct("user_id").alias("active_users"))


@_q(
    "events_funnel_3step",
    """
    WITH s AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT count(*) FILTER (WHERE t_view IS NOT NULL) AS n_view,
           count(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view) AS n_click_after_view,
           count(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view
                              AND t_purchase > t_click) AS n_full_funnel
    FROM s
    """,
    tags=("events", "agg", "funnel"),
)
def events_funnel_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase funnel: per-user first-occurrence times
    via conditional min (ONE pass over events, no per-step self-joins —
    the naive N-way join formulation shuffles the fact table once per
    step), then ordered-step counting over the user-sized summary."""
    ev = load_events(spark, sf_dir)
    s = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return s.agg(
        F.count_if(viewed).alias("n_view"),
        F.count_if(clicked).alias("n_click_after_view"),
        F.count_if(purchased).alias("n_full_funnel"),
    )


@_q(
    "orders_column_profile",
    """
    SELECT 'o_custkey' AS column_name, count(*) AS n,
           count(*) - count(o_custkey) AS n_null,
           count(DISTINCT o_custkey) AS n_distinct,
           CAST(min(o_custkey) AS VARCHAR) AS min_v,
           CAST(max(o_custkey) AS VARCHAR) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           CAST(round(min(o_totalprice), 2) AS VARCHAR),
           CAST(round(max(o_totalprice), 2) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
    FROM orders
    """,
    tags=("profile", "quality"),
)
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the data-quality sweep every ETL onboarding
    runs): per-column row/null/distinct counts and min/max, computed in
    ONE table pass — all columns' aggregates ride the same scan and the
    long format comes from exploding a struct array, not from N
    per-column scans (the UNION in the oracle is DuckDB-side only)."""
    o = _t(spark, sf_dir, "orders")

    def prof(col: str, minmax: Callable[[F.Column], F.Column]):
        return F.struct(
            F.lit(col).alias("column_name"),
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)) - F.count(col)).alias("n_null"),
            F.countDistinct(col).alias("n_distinct"),
            minmax(F.min(col)).cast("string").alias("min_v"),
            minmax(F.max(col)).cast("string").alias("max_v"),
        )

    ident = lambda c: c  # noqa: E731
    money = lambda c: F.round(c, 2)  # noqa: E731
    profiled = o.agg(
        F.array(
            prof("o_custkey", ident),
            prof("o_totalprice", money),
            prof("o_orderstatus", ident),
        ).alias("__profiles")
    )
    return profiled.select(F.explode("__profiles").alias("p")).select("p.*")


@_q(
    "ngram_containment_pairs",
    """
    WITH t0 AS (
        SELECT doc_id,
               list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS toks,
               substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 32) AS pfx
        FROM documents
    ), t AS (
        SELECT * FROM t0 QUALIFY count(*) OVER (PARTITION BY pfx) <= 64
    )
    SELECT id_a, id_b, cont_a_in_b, cont_b_in_a FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               floor(CAST(len(list_filter(a.toks, t -> list_contains(b.toks, t))) AS DOUBLE)
                     / len(a.toks) * 1e4 + 0.5) / 1e4 AS cont_a_in_b,
               floor(CAST(len(list_filter(a.toks, t -> list_contains(b.toks, t))) AS DOUBLE)
                     / len(b.toks) * 1e4 + 0.5) / 1e4 AS cont_b_in_a
        FROM t a JOIN t b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
    )
    WHERE cont_a_in_b >= 0.8 OR cont_b_in_a >= 0.8
    """,
    tags=("dedup", "text", "containment"),
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment (|A∩B|/|A| and /|B|) over blocked
    candidate pairs — the quote/subset detector symmetric Jaccard
    misses: a short doc fully contained in a long one scores low
    Jaccard but 1.0 containment. Same prefix blocking + bucket cap as
    ngram_jaccard_pairs (in production, candidates come from the
    MinHash index; this is the verification stage)."""
    docs = _t(spark, sf_dir, "documents")
    norm = D.normalize_text("text")
    t = docs.select(
        "doc_id",
        F.array_distinct(F.split(norm, " ")).alias("toks"),
        F.substring(norm, 1, 32).alias("pfx"),
    )
    bw = Window.partitionBy("pfx")
    t = (
        t.withColumn("__bsize", F.count("*").over(bw))
        .filter(F.col("__bsize") <= 64)
        .drop("__bsize")
    )
    a, b = t.alias("a"), t.alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks"))).cast("double")
    c_ab = F.floor(inter / F.size(F.col("a.toks")) * 1e4 + F.lit(0.5)) / 1e4
    c_ba = F.floor(inter / F.size(F.col("b.toks")) * 1e4 + F.lit(0.5)) / 1e4
    return (
        a.join(b, on="pfx")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            c_ab.alias("cont_a_in_b"),
            c_ba.alias("cont_b_in_a"),
        )
        .filter((F.col("cont_a_in_b") >= 0.8) | (F.col("cont_b_in_a") >= 0.8))
    )


# ---------------------------------------------------------------------------
# Round 6: MERGE-emulation parity + extensions
# ---------------------------------------------------------------------------


@_q(
    "upsert_keyed_parity",
    """
    WITH updates AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               floor(o_totalprice * 1.1 * 100 + 0.5) / 100 AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 97 = 0
        UNION ALL
        SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
               'N' AS o_orderstatus, round(o_totalprice, 2) AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 997 = 0
    ), merged AS (
        SELECT * FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        UNION ALL
        SELECT * FROM updates
    )
    SELECT o_orderpriority,
           count(*)                      AS n_rows,
           count(DISTINCT o_orderkey)    AS n_keys,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(sum(CASE WHEN o_orderstatus = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
    FROM merged
    GROUP BY o_orderpriority
    """,
    tags=("etl", "upsert", "merge"),
)
def upsert_keyed_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 generalized: MERGE-emulating keyed upsert (etl/upsert.py)
    value-checked against a plain-SQL reconstruction (anti-join ∪
    updates). Writes orders as a priority-partitioned parquet table,
    upserts a derived batch (updates: keys %97 get +10%% price;
    inserts: keys %997 cloned to a new key range with status 'N'),
    reads the table back and aggregates per partition — so the hash
    check covers the anti-join, the union, the atomic staged partition
    swap, AND that untouched rows survive byte-identical. The upsert
    itself runs eagerly inside the builder against a throwaway temp
    table; the returned frame is checkpointed so the temp dir can be
    deleted before the driver collects."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from reactionetl_etl_spark.etl.upsert import upsert_partitioned

    orders = _t(spark, sf_dir, "orders")
    work = _tempfile.mkdtemp(prefix="upsert_parity_")
    try:
        path = _os.path.join(work, "orders_tbl")
        orders.write.partitionBy("o_orderpriority").parquet(path)
        upd = orders.filter(F.col("o_orderkey") % 97 == 0).withColumn(
            # floor(x*100+0.5)/100, not round(): Spark HALF_UPs the
            # shortest-decimal repr while DuckDB rounds the binary double —
            # they disagree at half-cent boundaries (x*1.1 lands on them)
            "o_totalprice", F.floor(F.col("o_totalprice") * 1.1 * 100 + F.lit(0.5)) / 100
        )
        ins = orders.filter(F.col("o_orderkey") % 997 == 0).withColumns(
            {
                "o_orderkey": F.col("o_orderkey") + 100_000_000,
                "o_orderstatus": F.lit("N"),
                "o_totalprice": F.round(F.col("o_totalprice"), 2),
            }
        )
        updates = upd.unionByName(ins).select(*orders.columns)
        upsert_partitioned(spark, path, updates, ["o_orderkey"], "o_orderpriority")
        return (
            spark.read.parquet(path)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_rows"),
                F.countDistinct("o_orderkey").alias("n_keys"),
                # decimal sum: order-independent fold == DuckDB's one-shot
                # (double sums of ~1e10 drift in the merge order; the r6
                # incremental_agg lesson, applied wherever a group spans
                # many partitions)
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
                F.sum((F.col("o_orderstatus") == "N").cast("bigint")).alias("n_inserted"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        _shutil.rmtree(work, ignore_errors=True)


@_q(
    "event_transition_matrix",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type, count(*) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    ORDER BY prev_type, next_type
    """,
    tags=("events", "window", "behavior"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts between consecutive event types per
    user (the behavior-model fitting table and the funnel/sankey
    backbone): one lag window per user (shuffle keyed on user_id,
    event_id tie-break for same-timestamp determinism), then a
    map-side-combined count over the #types² matrix — output is
    O(types²) regardless of corpus size."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_ntz", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy("prev_type", "next_type")
    )


@_q(
    "hard_negatives_topk",
    """
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qv, label AS qlabel
        FROM embeddings WHERE vec_id < 8
    ), scored AS (
        SELECT q.qid, e.vec_id,
               round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                            CAST(q.qv AS DOUBLE[])), 6) AS cosine_sim
        FROM q JOIN embeddings e
          ON e.label <> q.qlabel AND e.vec_id <> q.qid
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY qid
                                     ORDER BY cosine_sim DESC, vec_id) AS rn
        FROM scored
    )
    SELECT qid, vec_id AS neg_id, cosine_sim
    FROM ranked WHERE rn <= 5
    ORDER BY qid, cosine_sim DESC, neg_id
    """,
    tags=("similarity", "training", "contrastive"),
)
def hard_negatives_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the top-5 most-similar corpus vectors with a DIFFERENT label — the
    near-misses that make the best negatives. Same scale shape as the
    exact batch ANN: broadcast query batch, one corpus scan, per-query
    partial top-k (WindowGroupLimit) before the exchange; the label
    inequality rides the join condition so same-class rows never enter
    the candidate set. Fully value-oracled (deterministic rounding +
    id tie-break)."""
    from reactionetl_etl_spark.functions.vectors import as_double_array, cosine_similarity

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"),
        as_double_array("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    cand = emb.join(
        F.broadcast(q),
        on=(F.col("label") != F.col("qlabel")) & (F.col("vec_id") != F.col("qid")),
        how="inner",
    ).select(
        "qid",
        "vec_id",
        F.round(cosine_similarity(as_double_array("embedding"), F.col("qv")), 6).alias(
            "cosine_sim"
        ),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", F.col("vec_id").alias("neg_id"), "cosine_sim")
        .orderBy("qid", F.desc("cosine_sim"), "neg_id")
    )


@_q(
    "snapshot_cow_upsert",
    """
    WITH updates AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               floor(o_totalprice * 1.1 * 100 + 0.5) / 100 AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 101 = 0
        UNION ALL
        SELECT o_orderkey + 200000000 AS o_orderkey, o_custkey,
               'N' AS o_orderstatus, round(o_totalprice, 2) AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 1009 = 0
    ), merged AS (
        SELECT * FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        UNION ALL
        SELECT * FROM updates
    )
    SELECT o_orderstatus,
           count(*)                    AS n_rows,
           count(DISTINCT o_orderkey)  AS n_keys,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM merged
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("etl", "snapshot", "merge", "acid"),
)
def snapshot_cow_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE on the snapshot table format
    (etl/snapshots.py::snapshot_upsert): orders commit as an 8-file
    snapshot, a derived batch (price bumps on keys %101, inserts on
    keys %1009) merges by rewriting ONLY files containing a matched key
    (untouched files carry forward by path), and the post-merge head is
    value-checked against DuckDB's anti-join ∪ updates reconstruction.
    The hash match therefore pins file-level touch detection, the
    rewrite, the carry-forward, AND the atomic manifest commit."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from reactionetl_etl_spark.etl.snapshots import snapshot_read, snapshot_upsert, snapshot_write

    orders = _t(spark, sf_dir, "orders")
    work = _tempfile.mkdtemp(prefix="snap_cow_")
    try:
        table = _os.path.join(work, "orders_snap")
        snapshot_write(spark, table, orders.repartition(8, "o_orderkey"))
        upd = orders.filter(F.col("o_orderkey") % 101 == 0).withColumn(
            # floor(x*100+0.5)/100, not round(): Spark HALF_UPs the
            # shortest-decimal repr while DuckDB rounds the binary double —
            # they disagree at half-cent boundaries (x*1.1 lands on them)
            "o_totalprice", F.floor(F.col("o_totalprice") * 1.1 * 100 + F.lit(0.5)) / 100
        )
        ins = orders.filter(F.col("o_orderkey") % 1009 == 0).withColumns(
            {
                "o_orderkey": F.col("o_orderkey") + 200_000_000,
                "o_orderstatus": F.lit("N"),
                "o_totalprice": F.round(F.col("o_totalprice"), 2),
            }
        )
        snapshot_upsert(spark, table, upd.unionByName(ins).select(*orders.columns), ["o_orderkey"])
        return (
            snapshot_read(spark, table)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("o_orderkey").alias("n_keys"),
                # decimal sum: order-independent fold == DuckDB's one-shot
                # (double sums of ~1e10 drift in the merge order; the r6
                # incremental_agg lesson, applied wherever a group spans
                # many partitions)
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
            )
            .orderBy("o_orderstatus")
            .localCheckpoint(eager=True)
        )
    finally:
        _shutil.rmtree(work, ignore_errors=True)


@_q(
    "incremental_quantile_rollup",
    """
    WITH b AS (
        SELECT event_type, CAST(floor(value / 5.0) AS BIGINT) AS bin, count(*) AS c
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), tot AS (
        SELECT event_type, CAST(sum(c) AS BIGINT) AS n_values FROM b GROUP BY 1
    ), cum AS (
        SELECT event_type, bin,
               sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum
        FROM b
    )
    SELECT t.event_type, t.n_values,
           (SELECT min(bin) FROM cum
            WHERE cum.event_type = t.event_type
              AND cum.cum >= ceil(0.5 * t.n_values)) * 5.0 + 2.5 AS p50,
           (SELECT min(bin) FROM cum
            WHERE cum.event_type = t.event_type
              AND cum.cum >= ceil(0.95 * t.n_values)) * 5.0 + 2.5 AS p95
    FROM tot t ORDER BY t.event_type
    """,
    tags=("etl", "incremental", "rollup", "quantile"),
)
def incremental_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-quantile rollup: events fold in as three batches of
    'hist:5.0' bin-count partials (etl/incremental_agg.py), and the
    read-time p50/p95 — midpoint of the cumulative-crossing bin — is
    value-checked against DuckDB computing the SAME estimator from the
    raw table in one shot. The hash match proves the map merge is
    lossless across batches: fold(batches) quantiles == one-shot
    quantiles, exactly, with error ≤ bin_width vs truth by
    construction."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from reactionetl_etl_spark.etl.incremental_agg import (
        merge_aggregate_state,
        read_aggregate_view,
    )

    ev = load_events(spark, sf_dir).select("event_id", "event_type", "value")
    measures = {"value": ["hist:5.0", "count"]}
    work = _tempfile.mkdtemp(prefix="inc_q_")
    try:
        state = _os.path.join(work, "state")
        for i in range(3):
            merge_aggregate_state(
                spark,
                state,
                ev.filter(F.col("event_id") % 3 == i),
                ["event_type"],
                measures,
                "event_type",
                batch_id=f"b{i}",
            )
        view = read_aggregate_view(
            spark, state, measures, quantiles={"value": [0.5, 0.95]}
        )
        return (
            view.select(
                "event_type",
                F.col("value__count").alias("n_values"),
                F.col("value__p50").alias("p50"),
                F.col("value__p95").alias("p95"),
            )
            .orderBy("event_type")
            .localCheckpoint(eager=True)
        )
    finally:
        _shutil.rmtree(work, ignore_errors=True)


@_q(
    "snapshot_change_feed",
    """
    WITH upd AS (
        SELECT o_orderkey, o_totalprice AS oldp,
               floor(o_totalprice * 1.1 * 100 + 0.5) / 100 AS newp
        FROM orders WHERE o_orderkey % 101 = 0
    ), ins AS (
        SELECT o_orderkey + 200000000 AS k, round(o_totalprice, 2) AS p
        FROM orders WHERE o_orderkey % 1009 = 0
    )
    SELECT * FROM (
        SELECT 'insert' AS _change_type, count(*) AS n,
               CAST(sum(k) AS BIGINT) AS key_sum,
               CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        FROM ins
        UNION ALL
        SELECT 'update_postimage', count(*),
               CAST(sum(o_orderkey) AS BIGINT),
               CAST(sum(CAST(newp AS DECIMAL(18,2))) AS DOUBLE) FROM upd
        UNION ALL
        SELECT 'update_preimage', count(*),
               CAST(sum(o_orderkey) AS BIGINT),
               CAST(sum(CAST(oldp AS DECIMAL(18,2))) AS DOUBLE) FROM upd
    ) ORDER BY _change_type
    """,
    tags=("etl", "snapshot", "cdc", "acid"),
)
def snapshot_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed read off the snapshot format
    (etl/snapshots.py::snapshot_changes): orders commit, a derived
    batch upserts (price bumps %101, inserts %1009), and the v1→v2
    feed — derived from the two manifests' file DIFF, scanning only
    churned files, never a stored change log — is aggregated per
    change type and value-checked against DuckDB's direct derivation
    of the same batch. Pins insert/update_pre/update_post splitting,
    the unchanged-carry drop, and the file-diff read path."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from reactionetl_etl_spark.etl.snapshots import (
        snapshot_changes,
        snapshot_upsert,
        snapshot_write,
    )

    orders = _t(spark, sf_dir, "orders")
    work = _tempfile.mkdtemp(prefix="snap_cdf_")
    try:
        table = _os.path.join(work, "orders_snap")
        v1 = snapshot_write(spark, table, orders.repartition(8, "o_orderkey"))
        upd = orders.filter(F.col("o_orderkey") % 101 == 0).withColumn(
            # floor(x*100+0.5)/100, not round(): Spark HALF_UPs the
            # shortest-decimal repr while DuckDB rounds the binary double —
            # they disagree at half-cent boundaries (x*1.1 lands on them)
            "o_totalprice", F.floor(F.col("o_totalprice") * 1.1 * 100 + F.lit(0.5)) / 100
        )
        ins = orders.filter(F.col("o_orderkey") % 1009 == 0).withColumns(
            {
                "o_orderkey": F.col("o_orderkey") + 200_000_000,
                "o_orderstatus": F.lit("N"),
                "o_totalprice": F.round(F.col("o_totalprice"), 2),
            }
        )
        v2 = snapshot_upsert(
            spark, table, upd.unionByName(ins).select(*orders.columns), ["o_orderkey"]
        )
        feed = snapshot_changes(spark, table, ["o_orderkey"], v1, v2)
        return (
            feed.groupBy("_change_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("o_orderkey").alias("key_sum"),
                # decimal sum: order-independent fold (r6 lesson)
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("price_sum"),
            )
            .orderBy("_change_type")
            .localCheckpoint(eager=True)
        )
    finally:
        _shutil.rmtree(work, ignore_errors=True)


@_q(
    "orders_expectations_report",
    """
    SELECT rule, kind, n_violations, n_violations = 0 AS passed FROM (
        SELECT 'key_not_null' AS rule, 'not_null' AS kind,
               CAST(coalesce(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_violations
        FROM orders
        UNION ALL
        SELECT 'price_le_300k', 'range',
               CAST(coalesce(sum(CASE WHEN o_totalprice IS NOT NULL
                                       AND (o_totalprice < 0 OR o_totalprice > 300000)
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'status_domain', 'values_in',
               CAST(coalesce(sum(CASE WHEN o_orderstatus IS NOT NULL
                                       AND o_orderstatus NOT IN ('O', 'F', 'P')
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'too_recent', 'predicate',
               CAST(coalesce(sum(CASE WHEN o_orderdate > DATE '2001-06-01' THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'key_unique', 'unique',
               coalesce((SELECT CAST(sum(c) AS BIGINT)
                         FROM (SELECT count(*) AS c FROM orders
                               GROUP BY o_orderkey HAVING count(*) > 1)), 0)
        UNION ALL
        SELECT 'cust_fk', 'foreign_key',
               (SELECT CAST(count(*) AS BIGINT) FROM orders o
                LEFT JOIN customer c ON o.o_custkey = c.c_custkey
                WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL)
    ) ORDER BY rule
    """,
    tags=("quality", "expectations", "validation"),
)
def orders_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (etl/expectations.py — the
    reference's V1-V4 validations generalized): six rules over orders —
    four ROW-LOCAL rules fused into ONE aggregate pass (not-null, a
    deliberately-tight price ceiling that fires, a status domain, a
    recency predicate), a uniqueness shuffle, and an FK anti-join
    against customer. The rule-grained report (rule, kind,
    n_violations, passed) is value-checked against per-rule SQL
    reconstructions."""
    from reactionetl_etl_spark.etl.expectations import (
        expect_foreign_key,
        expect_not_null,
        expect_predicate,
        expect_range,
        expect_unique,
        expect_values_in,
        run_expectations,
    )

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    report = run_expectations(
        orders,
        [
            expect_not_null("key_not_null", "o_orderkey"),
            expect_range("price_le_300k", "o_totalprice", 0, 300_000),
            expect_values_in("status_domain", "o_orderstatus", ["O", "F", "P"]),
            expect_predicate("too_recent", "o_orderdate > DATE '2001-06-01'"),
            expect_unique("key_unique", ["o_orderkey"]),
            expect_foreign_key("cust_fk", ["o_custkey"], cust, ["c_custkey"]),
        ],
    )
    return report.orderBy("rule")


@_q(
    "scd2_customer_history",
    """
    WITH cur AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN 'MOVED' ELSE c_mktsegment END AS seg,
               round(CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100 ELSE c_acctbal END, 2) AS bal
        FROM customer
    ), closed AS (
        SELECT c_custkey, c_mktsegment AS seg, round(c_acctbal, 2) AS bal
        FROM customer WHERE c_custkey % 7 = 0
    )
    SELECT * FROM (
        SELECT 'current' AS state, seg AS segment, count(*) AS n_rows,
               round(sum(bal), 2) AS sum_bal
        FROM cur GROUP BY seg
        UNION ALL
        SELECT 'closed', seg, count(*), round(sum(bal), 2)
        FROM closed GROUP BY seg
    ) ORDER BY state, segment
    """,
    tags=("etl", "scd", "dimension"),
)
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 dimension history (etl/scd.py on the snapshot table
    format): customers load as the opening batch, then a second batch
    moves every %7 key to segment 'MOVED' with +100 balance — closing
    their old rows and opening new ones. The history aggregates by
    (state = open/closed, segment) and the DuckDB oracle reconstructs
    both sets with plain CASE logic, so the hash match pins the change
    detection (null-safe), the close/open row surgery, AND that
    unchanged keys produced no spurious versions."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from reactionetl_etl_spark.etl.scd import scd2_merge
    from reactionetl_etl_spark.etl.snapshots import snapshot_read

    cust = _t(spark, sf_dir, "customer")
    work = _tempfile.mkdtemp(prefix="scd2_")
    try:
        dim = _os.path.join(work, "dim_customer")
        b1 = cust.select(
            "c_custkey",
            F.col("c_mktsegment").alias("seg"),
            F.round("c_acctbal", 2).alias("bal"),
            F.lit("1995-01-01").alias("effective_date"),
        )
        scd2_merge(spark, dim, b1, ["c_custkey"], ["seg", "bal"])
        b2 = b1.withColumns(
            {
                "seg": F.when(F.col("c_custkey") % 7 == 0, "MOVED").otherwise(F.col("seg")),
                "bal": F.when(F.col("c_custkey") % 7 == 0, F.round(F.col("bal") + 100, 2)).otherwise(
                    F.col("bal")
                ),
                "effective_date": F.lit("1998-06-01"),
            }
        )
        scd2_merge(spark, dim, b2, ["c_custkey"], ["seg", "bal"])
        hist = snapshot_read(spark, dim)
        return (
            hist.groupBy(
                F.when(F.col("valid_to").isNull(), "current").otherwise("closed").alias("state"),
                F.col("seg").alias("segment"),
            )
            .agg(F.count(F.lit(1)).alias("n_rows"), F.round(F.sum("bal"), 2).alias("sum_bal"))
            .orderBy("state", "segment")
            .localCheckpoint(eager=True)
        )
    finally:
        _shutil.rmtree(work, ignore_errors=True)


@_q(
    "orders_scd2_temporal_join",
    """
    WITH hist AS (
        SELECT c_custkey, c_mktsegment AS seg,
               DATE '1995-01-01' AS valid_from,
               CASE WHEN c_custkey % 7 = 0 THEN DATE '1998-06-01' END AS valid_to
        FROM customer
        UNION ALL
        SELECT c_custkey, 'MOVED', DATE '1998-06-01', NULL
        FROM customer WHERE c_custkey % 7 = 0
    )
    SELECT h.seg AS segment,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN hist h ON h.c_custkey = o.o_custkey
               AND o.o_orderdate >= h.valid_from
               AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)
    GROUP BY h.seg
    ORDER BY h.seg
    """,
    tags=("etl", "scd", "temporal", "join"),
)
def orders_scd2_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time fact join — the READ side of SCD2: every order
    joins the customer dimension AS IT WAS on the order date (equi-join
    on the key, validity-interval residual; orders from %7 customers
    split between their pre- and post-move segment at 1998-06-01). The
    history is built live by etl/scd.py from two batches, so the hash
    match pins merge surgery AND interval semantics together. Plan
    shape: hash join keyed on custkey — the interval check rides as a
    residual filter, never a range blow-up (each fact row matches
    exactly one history row by construction)."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from reactionetl_etl_spark.etl.scd import scd2_merge
    from reactionetl_etl_spark.etl.snapshots import snapshot_read

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    work = _tempfile.mkdtemp(prefix="scd2_join_")
    try:
        dim = _os.path.join(work, "dim_customer")
        b1 = cust.select(
            "c_custkey",
            F.col("c_mktsegment").alias("seg"),
            F.lit("1995-01-01").alias("effective_date"),
        )
        scd2_merge(spark, dim, b1, ["c_custkey"], ["seg"])
        b2 = b1.withColumns(
            {
                "seg": F.when(F.col("c_custkey") % 7 == 0, "MOVED").otherwise(F.col("seg")),
                "effective_date": F.lit("1998-06-01"),
            }
        )
        scd2_merge(spark, dim, b2, ["c_custkey"], ["seg"])
        hist = snapshot_read(spark, dim)
        joined = orders.join(
            F.broadcast(hist),
            on=(F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("o_orderdate") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("o_orderdate") < F.col("valid_to"))),
            how="inner",
        )
        return (
            joined.groupBy(F.col("seg").alias("segment"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            )
            .orderBy("segment")
            .localCheckpoint(eager=True)
        )
    finally:
        _shutil.rmtree(work, ignore_errors=True)


@_q(
    "snapshot_pruned_scan",
    """
    SELECT count(*) AS n_rows,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    WHERE o_orderkey >= 100000 AND o_orderkey <= 120000
    """,
    tags=("etl", "snapshot", "pruning"),
)
def snapshot_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest data skipping end to end: orders commit as a snapshot
    range-clustered on o_orderkey with per-file min/max stats; a key-
    range scan resolves its file list from the manifest (provably-non-
    matching files never reach Spark — the builder asserts the pruned
    plan reads fewer files than the table holds) and the aggregate is
    value-checked against DuckDB's plain filtered scan. Hash match ∧
    file-count assertion ⇒ pruning is both SOUND and ACTIVE."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from reactionetl_etl_spark.etl.snapshots import (
        snapshot_scan,
        snapshot_scan_file_counts,
        snapshot_write,
    )

    orders = _t(spark, sf_dir, "orders")
    work = _tempfile.mkdtemp(prefix="snap_prune_")
    try:
        table = _os.path.join(work, "orders_snap")
        snapshot_write(
            spark, table, orders.repartitionByRange(8, "o_orderkey"), stats_cols=["o_orderkey"]
        )
        preds = [("o_orderkey", ">=", 100_000), ("o_orderkey", "<=", 120_000)]
        scanned, total = snapshot_scan_file_counts(spark, table, preds)
        if not scanned < total:
            raise AssertionError(f"pruning inactive: {scanned}/{total} files scanned")
        return (
            snapshot_scan(spark, table, preds)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("o_orderkey").cast("bigint").alias("min_key"),
                F.max("o_orderkey").cast("bigint").alias("max_key"),
                F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        _shutil.rmtree(work, ignore_errors=True)


@_q(
    "snapshot_bloom_pruned_scan",
    """
    SELECT o_orderkey,
           count(*) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    WHERE o_orderkey IN (17, 503, 1498)
    GROUP BY o_orderkey
    ORDER BY o_orderkey
    """,
    tags=("etl", "snapshot", "pruning", "bloom"),
)
def snapshot_bloom_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter file skipping (etl/bloom.py + snapshot_scan):
    orders commit HASH-distributed on o_orderkey — every file's
    [min, max] spans the whole key range, so min/max stats prune
    NOTHING — yet each point lookup resolves to ~1 file because every
    file commits a per-column Bloom filter and the probe hashes the
    literal with the same Spark xxhash64 the builder used. The builder
    asserts each lookup reads less than half the files (bloom ACTIVE);
    the union of three lookups is value-checked against DuckDB's plain
    IN-filter (bloom SOUND — false positives cost reads, never rows)."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from reactionetl_etl_spark.etl.snapshots import (
        snapshot_scan,
        snapshot_scan_file_counts,
        snapshot_write,
    )

    orders = _t(spark, sf_dir, "orders")
    work = _tempfile.mkdtemp(prefix="snap_bloom_")
    try:
        table = _os.path.join(work, "orders_snap")
        snapshot_write(
            spark, table, orders.repartition(8, "o_orderkey"), bloom_cols=["o_orderkey"]
        )
        frames = []
        for key in (17, 503, 1498):
            preds = [("o_orderkey", "=", key)]
            scanned, total = snapshot_scan_file_counts(spark, table, preds)
            if not scanned * 2 < total:
                raise AssertionError(f"bloom pruning inactive: {scanned}/{total} files for k={key}")
            frames.append(snapshot_scan(spark, table, preds))
        import functools as _functools

        hits = _functools.reduce(lambda a, b: a.unionByName(b), frames)
        return (
            hits.groupBy("o_orderkey")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_price"),
            )
            .orderBy("o_orderkey")
            .localCheckpoint(eager=True)
        )
    finally:
        _shutil.rmtree(work, ignore_errors=True)


@_q(
    "snapshot_time_travel",
    """
    SELECT 'head' AS snapshot, count(*) AS n_rows, round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    UNION ALL
    SELECT 'v1', count(*), round(sum(o_totalprice), 2)
    FROM orders WHERE o_orderdate < '1999-01-01'
    ORDER BY snapshot
    """,
    tags=("etl", "snapshot", "acid"),
)
def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-isolated table format (etl/snapshots.py): orders commit
    as two snapshots (v1 = pre-1999, v2 appends the rest); the query
    aggregates BOTH the time-traveled v1 read and the head read, and
    the DuckDB oracle reproduces each from plain filters — so the hash
    match pins manifest resolution, the append's file carry-forward,
    and as-of reads end to end. Readers resolve explicit file lists
    (never directory listings), which is what makes reads atomic under
    concurrent overwrite — the property `test_snapshots.py` pins."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from reactionetl_etl_spark.etl.snapshots import snapshot_read, snapshot_write

    orders = _t(spark, sf_dir, "orders")
    work = _tempfile.mkdtemp(prefix="snap_tt_")
    try:
        table = _os.path.join(work, "orders_snap")
        v1 = snapshot_write(spark, table, orders.filter(F.col("o_orderdate") < "1999-01-01"))
        snapshot_write(spark, table, orders.filter(F.col("o_orderdate") >= "1999-01-01"), mode="append")

        def agg(df, label):
            return df.agg(
                F.lit(label).alias("snapshot"),
                F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            )

        return (
            agg(snapshot_read(spark, table), "head")
            .unionByName(agg(snapshot_read(spark, table, v1), "v1"))
            .orderBy("snapshot")
            .localCheckpoint(eager=True)
        )
    finally:
        _shutil.rmtree(work, ignore_errors=True)


@_q(
    "incremental_agg_rollup",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           o_orderpriority,
           count(*) AS row_count,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           count(o_totalprice) AS cnt_price,
           CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
           CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 / count(o_totalprice), 6) AS avg_price
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("etl", "incremental", "rollup"),
)
def incremental_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized rollup (etl/incremental_agg.py): orders
    arrive as three date-sliced batches folded one at a time into a
    month-partitioned mergeable state table (sum/count/min/max partials,
    atomic staged swaps, per-batch exactly-once markers) — and the
    finalized view is value-checked against DuckDB's ONE-SHOT group-by
    over everything. The hash match proves the algebraic merge drifts
    by nothing: fold(batches) == recompute(all), including read-time
    averages. This is the shape a 100 TB daily rollup takes — work per
    day ∝ that day's batch + its touched months, never the history.

    The money measure is cast to DECIMAL(18,2) on BOTH engines before
    aggregation: decimal sums are order-independent, so "fold ==
    recompute" is bit-exact regardless of how batches slice the data.
    Double sums are NOT (r6's one driver failure: the 3-batch double
    fold drifted a cent against DuckDB's one-shot sum in a >=1e7
    group, and round(...,2) landed on opposite sides)."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from reactionetl_etl_spark.etl.incremental_agg import (
        merge_aggregate_state,
        read_aggregate_view,
    )

    orders = (
        _t(spark, sf_dir, "orders")
        .withColumn("order_month", F.date_format("o_orderdate", "yyyy-MM"))
        # exact type for the additive measure: decimal partials merge
        # order-independently (see docstring) — the module contract
        .withColumn("o_totalprice", F.col("o_totalprice").cast("decimal(18,2)"))
    )
    keys = ["order_month", "o_orderpriority"]
    measures = {"o_totalprice": ["sum", "count", "min", "max"]}
    work = _tempfile.mkdtemp(prefix="inc_agg_")
    try:
        state = _os.path.join(work, "state")
        for i, (lo, hi) in enumerate(
            [(None, "1997-01-01"), ("1997-01-01", "1999-06-15"), ("1999-06-15", None)]
        ):
            b = orders
            if lo:
                b = b.filter(F.col("o_orderdate") >= lo)
            if hi:
                b = b.filter(F.col("o_orderdate") < hi)
            merge_aggregate_state(
                spark, state, b, keys, measures, "order_month", batch_id=f"b{i}"
            )
        view = read_aggregate_view(spark, state, measures)
        return (
            view.select(
                "order_month",
                "o_orderpriority",
                "row_count",
                # exact decimals -> double at the END (both engines cast
                # the identical decimal, landing on the identical double)
                F.col("o_totalprice__sum").cast("double").alias("sum_price"),
                F.col("o_totalprice__count").alias("cnt_price"),
                F.col("o_totalprice__min").cast("double").alias("min_price"),
                F.col("o_totalprice__max").cast("double").alias("max_price"),
                F.round(
                    F.col("o_totalprice__sum").cast("double")
                    / F.col("o_totalprice__count"),
                    6,
                ).alias("avg_price"),
            )
            .orderBy("order_month", "o_orderpriority")
            .localCheckpoint(eager=True)
        )
    finally:
        _shutil.rmtree(work, ignore_errors=True)


@_q(
    "token_budget_packing",
    """
    WITH t AS (
        SELECT doc_id,
               len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
        FROM documents
    ), c AS (
        SELECT doc_id, tok,
               coalesce(sum(tok) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        FROM t
    )
    SELECT CAST(floor(cum / 2048.0) AS BIGINT) AS shard_id,
           count(*)                            AS n_docs,
           CAST(sum(tok) AS BIGINT)            AS sum_tokens,
           min(doc_id)                         AS first_doc,
           max(doc_id)                         AS last_doc
    FROM c
    GROUP BY 1
    """,
    tags=("packing", "training-export", "prefix-sum"),
    bench=True,
)
def token_budget_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard assembly: cut the corpus (doc_id order) into
    ~2048-token shards via the DISTRIBUTED prefix sum
    (`rank.global_running_sum` — no single-partition window; the
    monotone `doc_id div 2000` bucket makes the partitioning a pure
    row function, so no persist and no range-boundary sampling
    either). Oracle = the equivalent single-window SQL, which DuckDB
    can afford at sf0.01; per-shard stats keep the hash check focused
    on the assignment, not row order."""
    from reactionetl_etl_spark.operators.packing import pack_by_token_budget

    docs = _t(spark, sf_dir, "documents")
    norm = D.normalize_text("text")
    t = docs.select("doc_id", F.size(F.split(norm, " ")).alias("tok"))
    packed = pack_by_token_budget(
        t,
        order_col="doc_id",
        token_col="tok",
        budget=2048,
        bucket_expr=F.expr("doc_id div 2000"),
    )
    return packed.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("tok").alias("sum_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@_q(
    "weighted_sample_hash",
    """
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          / 4294967296.0
          < least(1.0, n_chars / 400.0) * 0.5
    """,
    tags=("sampling", "deterministic"),
)
def weighted_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling — keep each document with
    probability ∝ a quality weight (here length-capped), decided by a
    content hash instead of an RNG: u = first-8-hex-digits of
    md5(doc_id) as a uniform [0,1) variate. No seed state, identical
    selection on every run / retry / backfill (what `F.rand` cannot
    promise across task retries), trivially distributable (pure
    row-local expression, zero shuffle), and exactly reproducible by
    any other engine — which is what the DuckDB oracle does."""
    docs = _t(spark, sf_dir, "documents")
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) / F.lit(4294967296.0)
    p = F.least(F.lit(1.0), F.col("n_chars") / F.lit(400.0)) * F.lit(0.5)
    return docs.filter(u < p).select("doc_id", "lang", "n_chars")


@_q(
    "token_pair_stats",
    """
    WITH t AS (
        SELECT string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), pairs AS (
        SELECT p[1] AS w1, p[2] AS w2
        FROM t, UNNEST(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS u(p)
        WHERE len(toks) >= 2
    )
    SELECT w1, w2, count(*) AS n
    FROM pairs
    GROUP BY w1, w2
    ORDER BY n DESC, w1 ASC, w2 ASC
    LIMIT 20
    """,
    tags=("text", "vocab", "bpe"),
)
def token_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token pair frequencies — the counting core of one BPE
    merge round (and of any bigram LM / collocation stats). Pairs are
    built ROW-LOCALLY with array expressions (transform over the
    token array: zero extra shuffle, no self-join on position); only
    (w1, w2, partial count) reaches the map-side-combined shuffle.
    Top-20 with full tie-break so the selected SET is deterministic."""
    docs = _t(spark, sf_dir, "documents")
    norm = D.normalize_text("text")
    t = docs.select(F.split(norm, " ").alias("toks")).filter(F.size("toks") >= 2)
    pairs = t.select(
        F.explode(
            F.expr(
                "transform(slice(toks, 1, size(toks) - 1),"
                " (t, i) -> struct(t AS w1, toks[i + 1] AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    return (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(20)
    )


@_q(
    "frequent_tokens_exact",
    """
    WITH tok AS (
        SELECT u.t AS token
        FROM documents,
             UNNEST(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS u(t)
    ), tot AS (SELECT count(*) AS n FROM tok)
    SELECT token,
           count(*) AS n,
           round(count(*) * 1.0 / (SELECT n FROM tot), 6) AS share
    FROM tok
    GROUP BY token
    HAVING count(*) >= (SELECT n FROM tot) * 0.002
    """,
    tags=("text", "heavy-hitters", "sketch"),
    bench=True,
)
def frequent_tokens_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus heavy hitters (share ≥ 0.2%) via the distributed
    Misra-Gries two-pass (`operators/frequency.py`): per-partition
    k-counter summaries emit a guaranteed candidate superset in ONE
    pass (which also carries the grand total), then an exact count
    restricted to candidates — the shuffle holds candidate tokens
    only, never the vocabulary. The DuckDB oracle is the naive exact
    GROUP BY: approximate machinery inside, exact answer out."""
    from reactionetl_etl_spark.operators.frequency import frequent_items

    docs = _t(spark, sf_dir, "documents")
    norm = D.normalize_text("text")
    tok = docs.select(F.explode(F.split(norm, " ")).alias("token"))
    out = frequent_items(tok, "token", min_share=0.002)
    return out.select("token", "n", F.round("share", 6).alias("share"))


@_q(
    "embedding_quantize_error",
    """
    WITH q AS (
        SELECT label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS orig,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        FROM embeddings
    ), d AS (
        SELECT label, orig,
               CASE WHEN scale = 0 THEN list_transform(orig, x -> 0.0)
                    ELSE list_transform(orig, x -> floor(x / scale + 0.5) * scale)
               END AS dq
        FROM q
    ), e AS (
        SELECT label,
               list_max(list_transform(list_zip(orig, dq), p -> abs(p[1] - p[2]))) AS max_err,
               list_sum(list_transform(list_zip(orig, dq), p -> (p[1] - p[2]) * (p[1] - p[2])))
                   / len(orig) AS mse
        FROM d
    )
    SELECT label,
           count(*)                 AS n,
           round(avg(max_err), 6)   AS avg_max_err,
           round(avg(mse), 8)       AS avg_mse
    FROM e
    GROUP BY label
    """,
    tags=("similarity", "quantization", "storage"),
)
def embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization quality audit: quantize → dequantize
    → per-label reconstruction error stats. The quantize/dequantize
    pair (`operators/similarity.py`) is pure array expressions (zero
    shuffle, codegen); the oracle replays the same floor-based
    convention with DuckDB list functions, so the value hash pins the
    exact code assignment, not just the error magnitude. 4× storage
    cut on the ANN candidate-generation path; error bound scale/2 per
    component."""
    from reactionetl_etl_spark.operators.similarity import (
        dequantize_embeddings_int8,
        quantize_embeddings_int8,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = quantize_embeddings_int8(emb, "embedding")
    d = dequantize_embeddings_int8(q)
    orig = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    err = F.zip_with(orig, F.col("embedding_dq"), lambda a, b: F.abs(a - b))
    sq = F.zip_with(orig, F.col("embedding_dq"), lambda a, b: (a - b) * (a - b))
    per_vec = d.select(
        "label",
        F.array_max(err).alias("max_err"),
        (
            F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v) / F.size(orig)
        ).alias("mse"),
    )
    return per_vec.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(F.avg("max_err"), 6).alias("avg_max_err"),
        F.round(F.avg("mse"), 8).alias("avg_mse"),
    )


@_q(
    "quality_filter_verdicts",
    """
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), s AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS uniq_ratio,
               CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
                   / greatest(len(toks), 1) AS mean_tok_len
        FROM t
    )
    SELECT doc_id, n_tokens,
           concat_ws(',',
               CASE WHEN n_tokens < 20 THEN 'too_short' END,
               CASE WHEN uniq_ratio < 0.3 THEN 'low_diversity' END,
               CASE WHEN mean_tok_len < 3.0 OR mean_tok_len > 10.0
                    THEN 'word_len_out_of_range' END
           ) AS failed_rules,
           (n_tokens >= 20 AND uniq_ratio >= 0.3
            AND mean_tok_len >= 3.0 AND mean_tok_len <= 10.0) AS keep
    FROM s
    """,
    tags=("text", "quality", "filter-pipeline"),
)
def quality_filter_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style named-rule document filter: each document gets a
    keep/drop verdict PLUS the list of rules it failed — the auditable
    form a production corpus filter needs (you keep the drop reasons,
    not just the survivors). All rules are single-pass column
    expressions over the token array; concat_ws skips the NULL arms in
    both engines, so the rule list is value-oracled exactly."""
    docs = _t(spark, sf_dir, "documents")
    norm = D.normalize_text("text")
    toks = F.split(norm, " ")
    n_tokens = F.size(toks)
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / F.greatest(
        n_tokens, F.lit(1)
    )
    mean_tok_len = F.aggregate(
        toks, F.lit(0.0), lambda acc, x: acc + F.length(x)
    ) / F.greatest(n_tokens, F.lit(1))
    s = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        uniq_ratio.alias("uniq_ratio"),
        mean_tok_len.alias("mean_tok_len"),
    )
    too_short = F.col("n_tokens") < 20
    low_div = F.col("uniq_ratio") < 0.3
    bad_len = (F.col("mean_tok_len") < 3.0) | (F.col("mean_tok_len") > 10.0)
    return s.select(
        "doc_id",
        "n_tokens",
        F.concat_ws(
            ",",
            F.when(too_short, "too_short"),
            F.when(low_div, "low_diversity"),
            F.when(bad_len, "word_len_out_of_range"),
        ).alias("failed_rules"),
        (~too_short & ~low_div & ~bad_len).alias("keep"),
    )


@_q(
    "canonical_doc_per_cluster",
    """
    WITH RECURSIVE t0 AS (
        SELECT doc_id,
               list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS toks,
               substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 32) AS pfx
        FROM documents
    ), t AS (
        SELECT * FROM t0 QUALIFY count(*) OVER (PARTITION BY pfx) <= 64
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM t a JOIN t b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
        WHERE CAST(len(list_filter(a.toks, tk -> list_contains(b.toks, tk))) AS DOUBLE)
              / (len(a.toks) + len(b.toks)
                 - len(list_filter(a.toks, tk -> list_contains(b.toks, tk)))) >= 0.5
    ), sym AS (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), reach AS (
        SELECT DISTINCT s AS node, s AS root FROM sym
        UNION
        SELECT sym.d, reach.root FROM reach JOIN sym ON sym.s = reach.node
    ), clusters AS (
        SELECT node AS doc_id, min(root) AS cluster_id FROM reach GROUP BY node
    ), scored AS (
        SELECT c.cluster_id, c.doc_id, d.n_chars
        FROM clusters c JOIN documents d USING (doc_id)
    )
    SELECT cluster_id, cluster_size, keep_doc, keep_n_chars FROM (
        SELECT cluster_id,
               count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
               doc_id AS keep_doc,
               max(n_chars) OVER (PARTITION BY cluster_id) AS keep_n_chars,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY n_chars DESC, doc_id ASC) AS rn
        FROM scored)
    WHERE rn = 1
    """,
    tags=("dedup", "graph", "canonical"),
    bench=True,
)
def canonical_doc_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END of the dedup pipeline: detect (Jaccard candidates) →
    cluster (connected components) → SELECT one canonical document per
    cluster — longest text wins, doc_id breaks ties — so the drop list
    is cluster-consistent (never drops both of A~B~C or keeps two).
    Selection is a max_by over a struct sort key: one aggregation on
    the (tiny) cluster assignments joined back to doc metadata, no
    window over the corpus."""
    from reactionetl_etl_spark.operators.graph import connected_components

    pairs = ngram_jaccard_pairs(spark, sf_dir).filter(F.col("jaccard") >= 0.5)
    comps = connected_components(pairs, src="id_a", dst="id_b")
    clusters = comps.select(F.col("node").alias("doc_id"), F.col("component").alias("cluster_id"))
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    scored = clusters.join(docs, "doc_id")
    return scored.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size"),
        F.max_by(
            "doc_id", F.struct(F.col("n_chars").alias("a"), (-F.col("doc_id")).alias("b"))
        ).alias("keep_doc"),
        F.max("n_chars").alias("keep_n_chars"),
    )


@_q(
    "nation_market_share",
    """
    WITH all_lines AS (
        SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o    ON l.l_orderkey = o.o_orderkey
        JOIN customer c  ON o.o_custkey = c.c_custkey
        JOIN nation n1   ON c.c_nationkey = n1.n_nationkey
        JOIN region r    ON n1.n_regionkey = r.r_regionkey
        JOIN supplier s  ON l.l_suppkey = s.s_suppkey
        JOIN nation n2   ON s.s_nationkey = n2.n_nationkey
        JOIN part p      ON l.l_partkey = p.p_partkey
        WHERE r.r_name = 'EUROPE' AND p.p_type = 'ECONOMY'
    )
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_7' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share,
           round(sum(volume), 2) AS total_volume
    FROM all_lines
    GROUP BY o_year
    """,
    tags=("agg", "join", "tpch-q8"),
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's supplier-side revenue share per
    year within a region+type market. Six joins, all dimension sides
    broadcast (region→nation prunes customers map-side; part filter
    prunes lineitem); the fact table is scanned once and never
    shuffles until the (year) group — conditional aggregation replaces
    the classic CASE-inside-sum self-join formulation."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part")
    cust_region = (
        cust.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
                    nation["n_regionkey"] == region["r_regionkey"],
                ).select("n_nationkey")
            ),
            cust["c_nationkey"] == F.col("n_nationkey"),
        ).select("c_custkey")
    )
    supp_nation = supp.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        supp["s_nationkey"] == nation["n_nationkey"],
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    lines = (
        li.join(F.broadcast(part.filter(F.col("p_type") == "ECONOMY").select("p_partkey")),
                li["l_partkey"] == F.col("p_partkey"))
        .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
              li["l_orderkey"] == F.col("o_orderkey"))
        .join(F.broadcast(cust_region), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nation), li["l_suppkey"] == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    return lines.groupBy("o_year").agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_7", F.col("volume")).otherwise(0.0))
            / F.sum("volume"),
            6,
        ).alias("mkt_share"),
        F.round(F.sum("volume"), 2).alias("total_volume"),
    )


@_q(
    "product_type_profit",
    """
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INT) AS o_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)
                     - p.p_retailprice * l.l_quantity / 10.0), 2) AS profit
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY n.n_name, CAST(year(o.o_orderdate) AS INT)
    """,
    tags=("agg", "join", "tpch-q9"),
)
def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape adapted to this schema (no partsupp table in the
    testdata, so unit cost is proxied by p_retailprice/10): profit per
    supplier nation per year over a part-name filter. The name filter
    broadcasts a pruned part side; lineitem joins orders on orderkey
    (the one big-big join, AQE-planned) and shuffles only on the final
    (nation, year) group keys."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    supp_nation = supp.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        supp["s_nationkey"] == nation["n_nationkey"],
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") / F.lit(10.0)
    )
    lines = (
        li.join(
            F.broadcast(
                part.filter(F.col("p_name").like("%red%")).select("p_partkey", "p_retailprice")
            ),
            li["l_partkey"] == F.col("p_partkey"),
        )
        .join(F.broadcast(supp_nation), li["l_suppkey"] == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_orderdate"), li["l_orderkey"] == F.col("o_orderkey"))
        .select("nation", F.year("o_orderdate").cast("int").alias("o_year"), profit.alias("p"))
    )
    return lines.groupBy("nation", "o_year").agg(F.round(F.sum("p"), 2).alias("profit"))


@_q(
    "training_corpus_build",
    # xxhash64 composition — not ANSI-SQL-expressible; deterministic output pinned
    """
    -- PINNED VALUES oracle (tools/pin_oracle.py @ sf0.01):
    -- deterministic output frozen as the value contract; the driver's
    -- correctness gate runs at sf0.01 only, which this pin encodes.
    SELECT * FROM (VALUES
        (0, 36, 2117, 500, 51, 23, 59),
        (1, 39, 2024, 500, 51, 23, 59),
        (2, 36, 2053, 500, 51, 23, 59),
        (3, 35, 2043, 500, 51, 23, 59),
        (4, 32, 2017, 500, 51, 23, 59),
        (5, 35, 2114, 500, 51, 23, 59),
        (6, 39, 2014, 500, 51, 23, 59),
        (7, 35, 2012, 500, 51, 23, 59),
        (8, 36, 2090, 500, 51, 23, 59),
        (9, 38, 2039, 500, 51, 23, 59),
        (10, 6, 407, 500, 51, 23, 59)
    ) AS t(shard_id, n_docs, n_tokens, n_input, n_quality_dropped, n_dup_dropped, n_contaminated_dropped)
    """,
    tags=("pipeline", "training-export", "end-to-end"),
)
def training_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-data pipeline in one call
    (`pipelines/training.py`): quality filter → near-dup canonical
    keep-list → benchmark decontamination → deterministic shuffle →
    token-budget packing → sharded export with a per-document drop
    ledger. Rows-only here (the MinHash stage hashes with xxhash64,
    outside ANSI SQL) — but every COMPONENT is individually oracled
    (`quality_filter_verdicts`, `canonical_doc_per_cluster`,
    `contamination_check_4gram`, `corpus_deterministic_shuffle`,
    `token_budget_packing`) and the composition is pinned by
    conservation + determinism tests. Returns per-shard stats plus the
    drop tallies, checkpointed so the temp export can be deleted."""
    import shutil as _shutil
    import tempfile as _tempfile

    from reactionetl_etl_spark.pipelines import build_training_corpus

    docs = _t(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    work = _tempfile.mkdtemp(prefix="corpus_build_")
    try:
        stats = build_training_corpus(
            spark, docs, work, token_budget=2048, eval_set=eval_set
        )
        shard_stats = spark.read.parquet(f"{work}/shard_stats").orderBy("shard_id")
        out = shard_stats.withColumns(
            {
                "n_input": F.lit(stats.n_input),
                "n_quality_dropped": F.lit(stats.n_quality_dropped),
                "n_dup_dropped": F.lit(stats.n_dup_dropped),
                "n_contaminated_dropped": F.lit(stats.n_contaminated_dropped),
            }
        )
        return out.localCheckpoint(eager=True)
    finally:
        _shutil.rmtree(work, ignore_errors=True)


@_q(
    "sentence_stats",
    """
    WITH s AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '[.!?]'),
                           x -> len(trim(x)) > 0) AS sents
        FROM documents
    )
    SELECT doc_id,
           len(sents) AS n_sentences,
           CAST(round(CASE WHEN len(sents) = 0 THEN 0.0
                ELSE list_sum(list_transform(sents, x -> CAST(len(trim(x)) AS DOUBLE)))
                     / len(sents) END, 4) AS DOUBLE) AS avg_sentence_chars
    FROM s
    """,
    tags=("text", "segmentation"),
)
def sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation stats (terminator-split heuristic): count
    and mean length per document — the unit most quality heuristics
    (Gopher's 'mean words per sentence') are defined over. Row-local
    array expressions, zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    sents = F.filter(
        F.split(F.col("text"), r"[.!?]"), lambda x: F.length(F.trim(x)) > 0
    )
    n = F.size(sents)
    avg_chars = F.when(n == 0, F.lit(0.0)).otherwise(
        F.aggregate(sents, F.lit(0.0), lambda acc, x: acc + F.length(F.trim(x))) / n
    )
    return docs.select(
        "doc_id",
        n.alias("n_sentences"),
        F.round(avg_chars, 4).alias("avg_sentence_chars"),
    )


@_q(
    "top_docs_per_lang",
    """
    SELECT lang, doc_id, n_chars
    FROM documents
    QUALIFY row_number() OVER (PARTITION BY lang
                               ORDER BY n_chars DESC, doc_id ASC) <= 3
    """,
    tags=("window", "topk", "text"),
)
def top_docs_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (3 longest docs per language): the ranked-window
    filter Spark rewrites to WindowGroupLimit — per-partition top-k
    heaps BEFORE the exchange, so the shuffle carries ≤ k rows per
    group per partition, never the corpus."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    return (
        docs.select("lang", "doc_id", "n_chars")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 3)
        .drop("__rn")
    )


@_q(
    "vocab_coverage_topk",
    """
    WITH tok AS (
        SELECT u.t AS token
        FROM documents,
             UNNEST(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS u(t)
    ), counts AS (
        SELECT token, count(*) AS n FROM tok GROUP BY token
    ), ranked AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, token ASC) AS rk,
               sum(n) OVER () AS total
        FROM counts
    )
    SELECT CAST(k AS INT) AS k,
           round(sum(CASE WHEN rk <= k THEN n ELSE 0 END) / any_value(total), 6)
               AS coverage
    FROM ranked, UNNEST([10, 50, 100, 500, 1000]) AS ks(k)
    GROUP BY k
    """,
    tags=("text", "vocab", "coverage"),
)
def vocab_coverage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: fraction of all corpus tokens covered
    by the top-k most frequent types, at several k — the number that
    sizes a tokenizer's vocab. One token-count aggregation; the curve
    itself is computed over the (vocabulary-sized, already aggregated)
    counts table, cross-joined with the tiny k list."""
    docs = _t(spark, sf_dir, "documents")
    norm = D.normalize_text("text")
    counts = (
        docs.select(F.explode(F.split(norm, " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    w_rank = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = counts.select(
        "n", F.row_number().over(w_rank).alias("rk"), F.sum("n").over(w_all).alias("total")
    )
    ks = spark.range(0).sparkSession.createDataFrame(
        [(10,), (50,), (100,), (500,), (1000,)], "k int"
    )
    return (
        ranked.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.round(
                F.sum(F.when(F.col("rk") <= F.col("k"), F.col("n")).otherwise(0))
                / F.any_value(F.col("total")),
                6,
            ).alias("coverage")
        )
    )


@_q(
    "revenue_yoy_growth",
    """
    WITH yearly AS (
        SELECT o_orderpriority,
               CAST(year(o_orderdate) AS INT) AS o_year,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders
        GROUP BY o_orderpriority, CAST(year(o_orderdate) AS INT)
    )
    SELECT o_orderpriority, o_year, revenue,
           round(CASE WHEN prev IS NULL OR prev = 0 THEN NULL
                      ELSE (revenue - prev) / prev END, 6) AS yoy_growth
    FROM (
        SELECT yearly.*,
               lag(revenue) OVER (PARTITION BY o_orderpriority ORDER BY o_year) AS prev
        FROM yearly)
    """,
    tags=("window", "agg", "timeseries"),
)
def revenue_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth per priority: window-over-aggregate — the
    lag runs on the GROUPED (priority, year) table (dozens of rows),
    never on raw orders, so the expensive pass is the one map-side-
    combined aggregation."""
    orders = _t(spark, sf_dir, "orders")
    yearly = orders.groupBy(
        "o_orderpriority", F.year("o_orderdate").cast("int").alias("o_year")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.partitionBy("o_orderpriority").orderBy("o_year")
    prev = F.lag("revenue").over(w)
    growth = F.when(prev.isNull() | (prev == 0), F.lit(None)).otherwise(
        (F.col("revenue") - prev) / prev
    )
    return yearly.withColumn("yoy_growth", F.round(growth, 6))


@_q(
    "fuzzy_name_pairs",
    """
    WITH names AS (
        SELECT p_name AS name, min(p_partkey) AS id
        FROM part GROUP BY p_name
    ), chunks AS (
        SELECT id, name, len(name) AS l, c.i AS chunk_id,
               substr(name, CAST(floor(len(name) * c.i / 3) AS INT) + 1,
                      CAST(floor(len(name) * (c.i + 1) / 3)
                           - floor(len(name) * c.i / 3) AS INT)) AS chunk
        FROM names, UNNEST([0, 1, 2]) AS c(i)
    ), cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                        a.name AS name_a, b.name AS name_b
        FROM chunks a JOIN chunks b
          ON a.l = b.l AND a.chunk_id = b.chunk_id AND a.chunk = b.chunk
         AND a.id < b.id
    )
    SELECT id_a, id_b, name_a, name_b,
           levenshtein(name_a, name_b) AS edit_dist
    FROM cand
    WHERE levenshtein(name_a, name_b) <= 2
    """,
    tags=("fuzzy", "entity-resolution", "join"),
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance entity resolution (`operators/fuzzy.py`): distinct
    part names within 2 SUBSTITUTIONS of each other, candidates
    generated by the pigeonhole chunk equi-join (never a cross join —
    the shuffle key is (length, chunk_id, chunk)), verification by
    levenshtein on candidates only. The oracle replays the identical
    blocking, so the hash pins the recall contract, not just the
    survivors."""
    from reactionetl_etl_spark.operators.fuzzy import substitution_fuzzy_pairs

    part = _t(spark, sf_dir, "part")
    names = part.groupBy(F.col("p_name").alias("name")).agg(
        F.min("p_partkey").alias("id")
    )
    return substitution_fuzzy_pairs(names, "name", "id", max_dist=2)


@_q(
    "word_window_udtf",
    """
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    )
    SELECT doc_id, CAST(u.p AS INT) AS pos,
           array_to_string(toks[u.p * 20 + 1 : (u.p + 1) * 20], ' ') AS chunk
    FROM t, UNNEST(range(0, CAST(ceil(len(toks) / 20.0) AS BIGINT))) AS u(p)
    """,
    tags=("udtf", "text", "chunking"),
)
def word_window_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 user-defined TABLE function — the fourth
    UDF surface after scalar pandas_udf / applyInPandas / mapInPandas):
    one input row → N output rows, here a 20-word window chunker driven
    through SQL `LATERAL`. The oracle reproduces the same windows with
    DuckDB list slicing, so the UDTF's row expansion is value-checked,
    not just counted. (For THIS job the pure-expression form in
    `doc_chunking_overlap` is the fast path — the UDTF surface exists
    for expansions that genuinely need imperative Python per row.)"""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, chunk string")
    class WordWindows:
        def eval(self, text: str):
            import re

            toks = [t for t in re.sub(r"\s+", " ", (text or "").lower()).strip().split(" ") if t]
            for i in range(0, len(toks), 20):
                yield i // 20, " ".join(toks[i : i + 20])

    spark.udtf.register("word_windows_udtf", WordWindows)
    docs = _t(spark, sf_dir, "documents")
    docs.select("doc_id", "text").createOrReplaceTempView("__docs_for_udtf")
    return spark.sql(
        "SELECT d.doc_id, s.pos, s.chunk "
        "FROM __docs_for_udtf d, LATERAL word_windows_udtf(d.text) s"
    )


@_q(
    "events_variant_stats",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           max(CAST(json_extract(props, '$.k') AS INT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
    tags=("json", "variant", "semi-structured"),
)
def events_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT type for semi-structured data: `parse_json` once
    into the binary variant encoding, then typed `try_variant_get`
    path extraction — the open-schema answer to schema-on-read JSON
    (faster repeated extraction than per-access string parsing, no
    schema declaration up front). Value-oracled against DuckDB's JSON
    path extraction over the same column."""
    ev = load_events(spark, sf_dir)
    v = ev.withColumn("__v", F.parse_json("props"))
    k = F.try_variant_get("__v", "$.k", "int")
    return v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


@_q(
    "recursive_month_spine",
    """
    WITH RECURSIVE months(m) AS (
        SELECT DATE '1995-01-01'
        UNION ALL
        SELECT m + INTERVAL 1 MONTH FROM months WHERE m < DATE '2001-07-01'
    )
    SELECT CAST(m AS VARCHAR) AS month,
           CAST(coalesce(n, 0) AS BIGINT) AS n_orders
    FROM months
    LEFT JOIN (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS om,
               count(*) AS n
        FROM orders GROUP BY 1
    ) o ON o.om = months.m
    """,
    tags=("sql", "recursive-cte", "spine"),
)
def recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 RECURSIVE CTE (UNION ALL recursion — the engine rejects
    UNION-dedup recursion, so cyclic reachability stays on the
    iterative `graph.connected_components`): an acyclic month-spine
    generated by recursion, left-joined to per-month order counts so
    empty months appear as zeros. Both engines run structurally the
    same recursive SQL; months render as strings for the cross-engine
    hash."""
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__orders_rcte")
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
            SELECT DATE '1995-01-01'
            UNION ALL
            SELECT m + INTERVAL '1' MONTH FROM months WHERE m < DATE '2001-07-01'
        )
        SELECT CAST(m AS STRING) AS month,
               CAST(coalesce(n, 0) AS BIGINT) AS n_orders
        FROM months
        LEFT JOIN (
            SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS om,
                   count(*) AS n
            FROM __orders_rcte GROUP BY 1
        ) o ON o.om = months.m
        """
    )


@_q(
    "bigram_logprob_scores",
    """
    WITH toks AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
        FROM documents
    ), bg AS (
        SELECT doc_id, p[1] AS w1, p[2] AS w2
        FROM toks, UNNEST(list_zip(t[1:len(t)-1], t[2:len(t)])) AS u(p)
        WHERE len(t) >= 2
    ), counts AS (
        SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
    ), uni AS (
        SELECT w1, sum(c12) AS c1 FROM counts GROUP BY w1
    ), model AS (
        SELECT counts.w1, counts.w2,
               ln((c12 + 0.5) / (c1 + 0.5 * 64)) AS lp
        FROM counts JOIN uni ON counts.w1 = uni.w1
    )
    SELECT bg.doc_id,
           count(*) AS n_bigrams,
           round(avg(lp), 6) AS mean_logprob
    FROM bg JOIN model ON bg.w1 = model.w1 AND bg.w2 = model.w2
    GROUP BY bg.doc_id
    """,
    tags=("text", "lm", "quality"),
)
def bigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KenLM-style perplexity-proxy quality signal: train an add-k
    smoothed bigram LM on the corpus itself (one pair-count
    aggregation), then score every document's mean bigram log
    probability — the filter that catches fluent-vs-gibberish text
    where length/stopword heuristics can't. Two shuffles total: pair
    counts (map-side combined), and the score join keyed on the pair;
    the model table is vocabulary²-bounded, NOT corpus-bounded, and
    the 64-type smoothing denominator matches the fixture vocabulary
    (a production run plugs in |V|). Self-scoring means every doc
    bigram EXISTS in the model, so the inner join loses nothing —
    held-out scoring would left-join with a backoff constant."""
    docs = _t(spark, sf_dir, "documents")
    norm = D.normalize_text("text")
    toks = docs.select("doc_id", F.split(norm, " ").alias("t")).filter(
        F.size("t") >= 2
    )
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(t, 1, size(t) - 1),"
                " (x, i) -> struct(x AS w1, t[i + 1] AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    counts = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uni = counts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    model = counts.join(uni, "w1").select(
        "w1",
        "w2",
        F.log((F.col("c12") + 0.5) / (F.col("c1") + 0.5 * 64)).alias("lp"),
    )
    return (
        pairs.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("lp"), 6).alias("mean_logprob"),
        )
    )


@_q(
    "bpe_learned_merges",
    # iterative trainer — not one SQL; deterministic output pinned instead
    """
    -- PINNED VALUES oracle (tools/pin_oracle.py @ sf0.01):
    -- deterministic output frozen as the value contract; the driver's
    -- correctness gate runs at sf0.01 only, which this pin encodes.
    SELECT * FROM (VALUES
        (0, 'e', 'r', 1092),
        (1, 's', 't', 698),
        (2, 'i', 'n', 652),
        (3, 'o', 'r', 645),
        (4, 'o', 'w', 638),
        (5, 'm', 'er', 461),
        (6, 'a', 't', 451),
        (7, 'l', 'u', 444)
    ) AS t("merge_rank", "left", "right", "n")
    """,
    tags=("text", "tokenizer", "bpe", "iterative"),
)
def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (`operators/bpe.py`): 8 merge
    rounds over a deterministic quarter-sample of the corpus, each
    round = one map-side-combined pair count + a 1-row argmax + one
    Arrow-batched greedy merge pass. Rows-only by design (the loop is
    not one SQL statement) but fully deterministic — count-desc,
    pair-asc tie-break — and the trainer is pinned against an
    independent straight-line Python BPE in `test_bpe.py`, including
    the overlapping-occurrence ('aaa' under a+a) greedy semantics.
    Returns the learned merge table in rank order."""
    merges = _bpe_corpus_merges(spark, sf_dir)  # train-once memo
    return spark.createDataFrame(
        [(i, a, b, n) for i, (a, b, n) in enumerate(merges)],
        "merge_rank int, left string, right string, n bigint",
    )


@_q(
    "pq_cosine_topk_batch",
    # k-means codebooks — not ANSI-SQL-expressible; deterministic output pinned
    """
    -- PINNED VALUES oracle (tools/pin_oracle.py @ sf0.01):
    -- deterministic output frozen as the value contract; the driver's
    -- correctness gate runs at sf0.01 only, which this pin encodes.
    SELECT * FROM (VALUES
        (7, 0, CAST(0.292842 AS DOUBLE), 3),
        (27, 1, CAST(0.348208 AS DOUBLE), 2),
        (33, 5, CAST(0.310987 AS DOUBLE), 4),
        (64, 1, CAST(0.316374 AS DOUBLE), 5),
        (73, 0, CAST(0.295434 AS DOUBLE), 2),
        (114, 4, CAST(0.398513 AS DOUBLE), 1),
        (117, 2, CAST(0.318143 AS DOUBLE), 1),
        (130, 3, CAST(0.399872 AS DOUBLE), 1),
        (145, 2, CAST(0.263494 AS DOUBLE), 3),
        (145, 6, CAST(0.297696 AS DOUBLE), 3),
        (149, 3, CAST(0.329934 AS DOUBLE), 2),
        (157, 5, CAST(0.311256 AS DOUBLE), 3),
        (188, 2, CAST(0.263272 AS DOUBLE), 4),
        (190, 0, CAST(0.281795 AS DOUBLE), 4),
        (192, 3, CAST(0.290803 AS DOUBLE), 5),
        (195, 1, CAST(0.322744 AS DOUBLE), 4),
        (207, 3, CAST(0.291702 AS DOUBLE), 4),
        (214, 6, CAST(0.256941 AS DOUBLE), 5),
        (249, 4, CAST(0.279631 AS DOUBLE), 5),
        (280, 4, CAST(0.279826 AS DOUBLE), 4),
        (320, 2, CAST(0.255043 AS DOUBLE), 5),
        (334, 7, CAST(0.356901 AS DOUBLE), 3),
        (340, 7, CAST(0.492766 AS DOUBLE), 1),
        (343, 3, CAST(0.308472 AS DOUBLE), 3),
        (350, 6, CAST(0.324518 AS DOUBLE), 1),
        (359, 5, CAST(0.305821 AS DOUBLE), 5),
        (381, 7, CAST(0.345179 AS DOUBLE), 4),
        (386, 1, CAST(0.371485 AS DOUBLE), 1),
        (404, 5, CAST(0.328403 AS DOUBLE), 1),
        (407, 1, CAST(0.32701 AS DOUBLE), 3),
        (408, 4, CAST(0.322753 AS DOUBLE), 2),
        (419, 5, CAST(0.319237 AS DOUBLE), 2),
        (423, 0, CAST(0.296934 AS DOUBLE), 1),
        (425, 7, CAST(0.40752 AS DOUBLE), 2),
        (430, 6, CAST(0.32252 AS DOUBLE), 2),
        (437, 6, CAST(0.283031 AS DOUBLE), 4),
        (445, 7, CAST(0.340782 AS DOUBLE), 5),
        (450, 2, CAST(0.266344 AS DOUBLE), 2),
        (464, 0, CAST(0.276628 AS DOUBLE), 5),
        (482, 4, CAST(0.313897 AS DOUBLE), 3)
    ) AS t("vec_id", "query_id", "cosine_sim", "rank")
    """,
    tags=("similarity", "pq", "batch", "compression"),
)
def pq_cosine_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized batch ANN (`operators/pq.py`): 64-dim float
    embeddings compressed to 8 one-byte codes (32×), searched via ADC
    lookup tables, exact-cosine re-rank over the k×refine shortlist
    only. Rows-only (codebooks are k-means fits) but recall@k vs exact
    is pinned in `test_pq.py`, and the re-rank stage reuses the same
    oracled cosine expression as `cosine_topk_batch_exact`."""
    from reactionetl_etl_spark.operators.pq import (
        pq_cosine_topk,
        pq_encode,
        train_pq_codebook,
    )

    emb = _t(spark, sf_dir, "embeddings")
    book = train_pq_codebook(emb, dim=64, m=8, k=16)
    coded = pq_encode(emb, book).localCheckpoint(eager=True)
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # the pinned column order, candidate id first
    return pq_cosine_topk(qs, coded, book, k=5, refine=8).select(
        "vec_id", "query_id", "cosine_sim", "rank"
    )


@_q("pq_index_probe", None, tags=("similarity", "pq", "index", "io"))
def pq_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED PQ index round trip (r12 — closes the LSH/IVF/PQ index
    triangle): embeddings → `write_pq_index` (codes-only parquet
    PARTITIONED BY the subspace-0 cell + codebook sidecar) →
    `read_pq_codebook` → `probe_pq_index` over 8 queries at n_probe=6
    — dynamic partition pruning reads only probed cells, ranking is
    pure ADC (m table lookups; the index stores no float vectors).
    Deterministic (seeded k-means, fixed sample order), so the output
    is a pinned VALUES contract; probe≡in-plan ADC parity and
    append-with-stored-codebook consistency are pinned in test_pq.py."""
    import shutil as _shutil
    import tempfile as _tempfile

    from reactionetl_etl_spark.operators.pq import (
        probe_pq_index,
        read_pq_codebook,
        write_pq_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    work = _tempfile.mkdtemp(prefix="pq_idx_")
    try:
        write_pq_index(emb, dim=64, path=work, m=8, k=16)
        book = read_pq_codebook(spark, work)
        out = (
            probe_pq_index(
                qs, spark.read.parquet(f"{work}/codes"), book, k=5, n_probe=6
            )
            .select(
                "query_id",
                "vec_id",
                F.round("approx_cosine", 6).alias("approx_cosine"),
                "rank",
            )
            .localCheckpoint(eager=True)  # materialize before the tmp dir dies
        )
    finally:
        _shutil.rmtree(work, ignore_errors=True)
    return out


@_q("ivfpq_index_probe", None, tags=("similarity", "pq", "index", "io"))
def ivfpq_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED IVF-PQ index round trip (r13 — the index family's
    production architecture, IVFADC of Jégou et al. 2011 §IV):
    embeddings → `write_ivfpq_index` (FULL-vector coarse cells as the
    parquet partition key + RESIDUAL PQ codes + both geometry sidecars)
    → `read_ivfpq_geometry` → `probe_ivfpq_index` over 8 queries at
    n_probe=6 — partition-pruned scan, residual ADC ranking (the
    per-(query, cell) table bakes the centroid into every entry, so
    scoring stays m lookups and floats never land in the index). Beats
    the PQ-lite's subspace-0 cells at every probe budget (measured
    0.285 vs 0.215 recall@10 at n_probe=4, sf0.01 — the full-vector
    coarse quantizer sees every dimension and the codebook spends its
    centroids on the residual's smaller spread; test-pinned floor).
    Deterministic (seeded k-means, fixed sample order) → pinned VALUES
    contract; numpy-reference parity, append-geometry, and
    partition-pruning are pinned in test_pq.py.

    r14: probes with ``broadcast_queries=False`` — the UNBOUNDED
    query-set path (executor-side cell selection, hash-partitioned
    cell equi-join, nothing collected; `pq._probe_pq_unbounded`) — so
    the driver's pinned VALUES validate the unbounded variant while
    `pq_index_probe` keeps the bounded contract driver-exercised; the
    two paths are additionally pinned equal in test_pq.py parity
    tests. The pins did NOT change across the flip (same rows from
    either path — the parity claim, proven at the value-hash level)."""
    import shutil as _shutil
    import tempfile as _tempfile

    from reactionetl_etl_spark.operators.pq import (
        probe_ivfpq_index,
        read_ivfpq_geometry,
        write_ivfpq_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    work = _tempfile.mkdtemp(prefix="ivfpq_idx_")
    try:
        write_ivfpq_index(emb, dim=64, path=work, n_cells=16, m=8, k=16)
        cents, book = read_ivfpq_geometry(spark, work)
        out = (
            probe_ivfpq_index(
                qs, spark.read.parquet(f"{work}/codes"), cents, book, k=5, n_probe=6,
                broadcast_queries=False,
            )
            .select(
                "query_id",
                "vec_id",
                F.round("approx_cosine", 6).alias("approx_cosine"),
                "rank",
            )
            .localCheckpoint(eager=True)  # materialize before the tmp dir dies
        )
    finally:
        _shutil.rmtree(work, ignore_errors=True)
    return out


@_q(
    "ivfpq_drift_report",
    None,  # pinned VALUES oracle (plans/pinned.py) — seeded k-means
    # geometry is not ANSI-SQL-re-derivable; every reported stat is an
    # integer aggregate over per-row-quantized values (deterministic)
    tags=("similarity", "pq", "index", "lifecycle", "llm"),
)
def ivfpq_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometry-drift tripwire + re-sign lifecycle in one artifact
    (r14 — the missing WHEN/HOW half of the train-once-append-forever
    index contract). Three phases of one IVF-PQ index's life, one row
    each, all stats from the CODES ALONE (`resign.ivfpq_index_stats`:
    one narrow scan, per-row decoded-residual norm = m literal-table
    lookups in whole-stage codegen):

      trained      — index built on the base corpus (vec_id % 3 != 0,
                     n_cells=8): the post-train baseline readings.
      after_append — a distribution-shifted batch (0.2·x + 0.8 per
                     component — mass concentrated far from every
                     trained centroid) appended under the STORED
                     geometry, as the append writers require: the
                     occupancy skew (imbalance_milli) and residual
                     energy (mean_resid_q4) readings that tell an
                     operator the geometry has gone stale.
      resigned     — `resign.resign_ivfpq_index` retrains at
                     n_cells=16 on the full corpus under the same
                     deterministic sample discipline, re-encodes, and
                     writes a versioned new index: every cell in use
                     and mean_resid_q4 drops BELOW the trained
                     baseline (the new geometry gives the drifted
                     mass its own centroid, so residuals shrink
                     corpus-wide). imbalance_milli stays high — the
                     drifted batch IS a tight cluster, and a dense
                     cluster owning a big cell is correct clustering,
                     not staleness. That is the operational cross-
                     read this artifact teaches: high imbalance +
                     high residual energy = stale geometry (re-sign);
                     high imbalance + LOW residual energy = genuinely
                     clustered data (the skew is irreducible — tune
                     per-cell guards instead).

    Scale shape: each snapshot is one codes-table scan with ≤ n_cells
    groups; training stays the bounded-sample driver-side discipline;
    encode is one Arrow pass per write. Nothing quadratic anywhere.
    Deterministic end to end → pinned VALUES contract at both SFs;
    the re-sign's probe-parity and provenance-carry contracts are
    pinned in tests/test_resign.py."""
    import shutil as _shutil
    import tempfile as _tempfile

    import pandas as _pd

    from reactionetl_etl_spark.operators.pq import (
        read_ivfpq_geometry,
        write_ivfpq_index,
    )
    from reactionetl_etl_spark.operators.resign import (
        ivfpq_index_stats,
        resign_ivfpq_index,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("cast(embedding as array<double>)").alias("embedding")
    )
    base = emb.filter(F.col("vec_id") % 3 != 0)
    drifted = emb.filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.expr("transform(embedding, x -> 0.2 * x + 0.8)").alias("embedding"),
    )
    work = _tempfile.mkdtemp(prefix="ivfpq_drift_")
    rows: list[tuple] = []

    def _snap(phase_id: int, phase: str, path: str) -> None:
        r = ivfpq_index_stats(spark, path).collect()[0]
        rows.append(
            (
                phase_id,
                phase,
                int(r["n_rows"]),
                int(r["n_cells_used"]),
                int(r["max_cell_rows"]),
                int(r["min_cell_rows"]),
                int(r["imbalance_milli"]),
                int(r["mean_resid_q4"]),
            )
        )

    try:
        src, dst = f"{work}/v0", f"{work}/v1"
        write_ivfpq_index(base, dim=64, path=src, n_cells=8, m=8, k=16)
        _snap(0, "trained", src)
        cents, book = read_ivfpq_geometry(spark, src)
        write_ivfpq_index(
            drifted, dim=64, path=src, centroids=cents, codebook=book, mode="append"
        )
        _snap(1, "after_append", src)
        resign_ivfpq_index(
            base.unionByName(drifted), dim=64, src_path=src, dest_path=dst, n_cells=16
        )
        _snap(2, "resigned", dst)
    finally:
        _shutil.rmtree(work, ignore_errors=True)
    pdf = _pd.DataFrame(
        rows,
        columns=[
            "phase_id",
            "phase",
            "n_rows",
            "n_cells_used",
            "max_cell_rows",
            "min_cell_rows",
            "imbalance_milli",
            "mean_resid_q4",
        ],
    )
    return (
        spark.createDataFrame(pdf)
        .select(
            F.col("phase_id").cast("int").alias("phase_id"),
            "phase",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("n_cells_used").cast("bigint").alias("n_cells_used"),
            F.col("max_cell_rows").cast("bigint").alias("max_cell_rows"),
            F.col("min_cell_rows").cast("bigint").alias("min_cell_rows"),
            F.col("imbalance_milli").cast("bigint").alias("imbalance_milli"),
            F.col("mean_resid_q4").cast("bigint").alias("mean_resid_q4"),
        )
        .orderBy("phase_id")
    )


@_q(
    "ann_recall_report",
    """
    -- PINNED VALUES oracle (tools/pin_oracle.py @ sf0.01):
    -- deterministic output frozen as the value contract; the driver's
    -- correctness gate runs at sf0.01 only, which this pin encodes.
    SELECT * FROM (VALUES
        ('bits_rerank20', CAST(1.0 AS DOUBLE), CAST(0.4 AS DOUBLE)),
        ('ivf_probe4', CAST(0.25 AS DOUBLE), CAST(0.595 AS DOUBLE)),
        ('ivfpq_probe4', CAST(0.25 AS DOUBLE), CAST(0.285 AS DOUBLE)),
        ('lsh_b8_r1', CAST(0.0352 AS DOUBLE), CAST(0.105 AS DOUBLE)),
        ('lsh_b8_r2', CAST(0.1445 AS DOUBLE), CAST(0.325 AS DOUBLE)),
        ('pq_rerank', CAST(1.0 AS DOUBLE), CAST(0.84 AS DOUBLE))
    ) AS t("method", "scan_fraction", "recall")
    """,
    tags=("similarity", "ann", "quality"),
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@10 of every approximate ANN path against the
    exact batch baseline, WITH the scan fraction each method pays —
    the recall/cost trade as a queryable artifact. The fixture
    embeddings are near-uniform (LSH's worst case: recall ≈ scan
    fraction, nothing to exploit — real corpora cluster), so the
    numbers read as a cost curve: LSH radius 1 probes 9/256 buckets,
    radius 2 probes 37/256, IVF probes 4/16 trained cells, PQ scans
    100% of CODES (32× smaller bytes) then re-ranks a shortlist, and
    IVF-PQ (r13) probes the same 4/16 cells as IVF but ranks from
    m-byte residual codes — its recall trailing ivf_probe4 at equal
    scan_fraction IS the rows-vs-bytes trade made visible. The
    bits_rerank20 row (late r13) scans 100% of rows as 1-bit sign
    words (8 B per 64 dims — 32× below even PQ's code bytes) and
    re-ranks a 20-wide shortlist with exact cosine: where it lands
    between pq_rerank and the pruned methods quantifies what the last
    factor-of-32 of quantization costs in recall.
    Deterministic throughout (fixed hyperplanes, seeded k-means), so
    implementation drift moves a recall number in the driver's
    value check; test_operators.py pins per-method floors."""
    from reactionetl_etl_spark.operators.pq import (
        pq_cosine_topk,
        pq_encode,
        train_pq_codebook,
    )
    from reactionetl_etl_spark.operators.similarity import (
        cosine_topk_batch,
        ivf_cosine_topk_batch,
        lsh_cosine_topk_batch,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    k = 10
    exact = cosine_topk_batch(qs, emb, k=k).select("query_id", "vec_id")
    exact = exact.localCheckpoint(eager=True)
    n_exact = exact.count()

    approx = {
        "lsh_b8_r1": (
            lsh_cosine_topk_batch(qs, emb, dim=64, k=k, bits=8, probe_radius=1),
            9 / 256,
        ),
        "lsh_b8_r2": (
            lsh_cosine_topk_batch(qs, emb, dim=64, k=k, bits=8, probe_radius=2),
            37 / 256,
        ),
        "ivf_probe4": (
            ivf_cosine_topk_batch(qs, emb, dim=64, k=k, n_cells=16, n_probe=4),
            4 / 16,
        ),
    }
    book = train_pq_codebook(emb, dim=64, m=8, k=16)
    coded = pq_encode(emb, book).localCheckpoint(eager=True)
    approx["pq_rerank"] = (
        pq_cosine_topk(qs, coded, book, k=k, refine=8).filter(
            F.col("vec_id") != F.col("query_id")
        ),
        1.0,
    )
    # IVF-PQ (r13): full-vector coarse cells + residual ADC — probes
    # the same 4/16 cells as ivf_probe4 but ranks from m-byte codes
    # instead of full float vectors (the rows-vs-bytes trade the
    # docstring describes); probe_ivfpq_index accepts the in-plan
    # coded frame directly
    from reactionetl_etl_spark.operators.pq import (
        ivfpq_encode,
        probe_ivfpq_index,
        train_ivfpq_geometry,
    )

    cents13, rbook13 = train_ivfpq_geometry(emb, dim=64, n_cells=16, m=8, k=16)
    coded13 = (
        ivfpq_encode(emb, cents13, rbook13)
        .select("vec_id", "pq_code", "ivf_cell")
        .localCheckpoint(eager=True)
    )
    approx["ivfpq_probe4"] = (
        probe_ivfpq_index(qs, coded13, cents13, rbook13, k=k, n_probe=4),
        4 / 16,
    )
    # sign-bit Hamming shortlist + exact rerank (late r13): all rows,
    # 1-bit payload — the 32×-below-PQ end of the quantization axis
    from reactionetl_etl_spark.operators.hamming import hamming_rerank_topk

    approx["bits_rerank20"] = (
        hamming_rerank_topk(qs, emb, k=k, shortlist=20),
        1.0,
    )
    rows = []
    for method, (df, scan) in approx.items():
        hit = (
            df.select("query_id", "vec_id")
            .join(exact, ["query_id", "vec_id"], "left_semi")
            .count()
        )
        rows.append(
            (method, int(scan * 10000 + 0.5) / 10000.0, int(hit * 10000 / n_exact) / 10000.0)
        )
    return spark.createDataFrame(
        rows, "method string, scan_fraction double, recall double"
    ).orderBy("method")


@_q(
    "curriculum_order",
    """
    WITH tok AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), r AS (
        SELECT doc_id,
               len(list_distinct(toks)) * 1.0 / len(toks) AS ratio
        FROM tok
    ), n AS (
        SELECT count(*) AS n FROM r
    ), banded AS (
        SELECT doc_id,
               CAST(floor(((row_number() OVER (ORDER BY ratio DESC, doc_id) - 1)
                           * 4.0) / n.n) + 1 AS BIGINT) AS band
        FROM r CROSS JOIN n
    )
    SELECT doc_id, band,
           row_number() OVER (
               ORDER BY band, md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS curriculum_pos
    FROM banded
    """,
    tags=("sampling", "llm", "rank", "curriculum"),
)
def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order: documents banded into quartiles by a
    quality proxy (unique-token ratio — cleanest band first), shuffled
    hash-deterministically WITHIN each band — easy-to-hard ordering
    with randomness inside each difficulty level, reproducible across
    runs/engines/cluster sizes. Both ranks use the DISTRIBUTED global
    rank (rank.global_order_ranks — per-key counts + prefix sums, no
    single-partition window), and the band comes from integer math on
    the rank, not an engine-specific ntile/quantile."""
    from reactionetl_etl_spark.operators.rank import global_order_ranks

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    r = docs.select(
        "doc_id",
        (F.size(F.array_distinct(toks)) * F.lit(1.0) / F.size(toks)).alias("ratio"),
    )
    n = r.agg(F.count(F.lit(1)).alias("n"))
    ranked = global_order_ranks(
        r,
        rank_exprs=[F.col("ratio")],
        rank_desc=[True],
        tie_exprs=[F.col("doc_id")],
        tie_desc=[False],
    )
    banded = ranked.crossJoin(F.broadcast(n)).select(
        "doc_id",
        (
            F.floor(((F.col("global_row_number") - 1) * F.lit(4.0)) / F.col("n"))
            + F.lit(1)
        ).alias("band"),
    )
    pos = global_order_ranks(
        banded,
        rank_exprs=[F.col("band"), F.md5(F.col("doc_id").cast("string"))],
        rank_desc=[False, False],
        tie_exprs=[F.col("doc_id")],
        tie_desc=[False],
    )
    return pos.select(
        "doc_id", "band", F.col("global_row_number").alias("curriculum_pos")
    )


@_q(
    "bm25_search_topk",
    """
    WITH tok AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), dl AS (
        SELECT doc_id, len(toks) AS dl FROM tok
    ), t AS (
        SELECT doc_id, unnest(toks) AS term FROM tok
    ), hits AS (
        SELECT doc_id, term, count(*) AS tf FROM t
        WHERE term IN ('spark', 'merge', 'window') GROUP BY 1, 2
    ), stats AS (
        SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
    ), dft AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY 1
    )
    SELECT doc_id,
           floor(sum(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * tf * (1.2 + 1.0)
               / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
           ) * 1000000 + 0.5) / 1000000 AS bm25,
           count(*) AS n_hit_terms
    FROM hits JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
    tags=("text", "retrieval", "llm"),
)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical search over the corpus (operators/retrieval.py):
    the curation counterpart to embedding ANN — 'find the documents
    about X' answered lexically. Query-term tf comes from a filter
    pushed inside the token explode (never a vocabulary aggregation);
    corpus constants broadcast back; top-k plans as
    TakeOrderedAndProject. Value-oracled against DuckDB computing the
    identical Lucene-variant BM25 expression."""
    from reactionetl_etl_spark.operators.retrieval import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, ["spark", "merge", "window"], k=10)


@_q(
    "bm25_index_probe",
    """
    WITH tok AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), dl AS (
        SELECT doc_id, len(toks) AS dl FROM tok
    ), t AS (
        SELECT doc_id, unnest(toks) AS term FROM tok
    ), hits AS (
        SELECT doc_id, term, count(*) AS tf FROM t
        WHERE term IN ('spark', 'merge', 'window') GROUP BY 1, 2
    ), stats AS (
        SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
    ), dft AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY 1
    )
    SELECT doc_id,
           floor(sum(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * tf * (1.2 + 1.0)
               / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
           ) * 1000000 + 0.5) / 1000000 AS bm25,
           count(*) AS n_hit_terms
    FROM hits JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
    tags=("text", "retrieval", "index", "llm"),
)
def bm25_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 against a PERSISTED inverted index
    (operators/retrieval.py::write_posting_index / probe_posting_index):
    the corpus tokenizes ONCE into term-hash-bucketed posting
    partitions; the probe reads only its query terms' buckets (static
    partition pruning — the builder asserts fewer files than the index
    holds) and must reproduce the scan-time BM25 exactly, so it shares
    `bm25_search_topk`'s DuckDB oracle. Index amortization with zero
    scoring drift."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from reactionetl_etl_spark.operators.retrieval import (
        probe_posting_index,
        write_posting_index,
    )

    docs = _t(spark, sf_dir, "documents")
    work = _tempfile.mkdtemp(prefix="bm25_idx_")
    try:
        idx = _os.path.join(work, "index")
        write_posting_index(docs, idx, n_buckets=64)
        out = probe_posting_index(spark, idx, ["spark", "merge", "window"], k=10)
        # pruning ACTIVE: the physical scans carry the bucket IN-list as
        # a PartitionFilter (inputFiles() ignores partition filters, so
        # the plan text is the reliable witness)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert __import__("re").search(r"PartitionFilters: \[[^]]*bucket[^]]*IN", plan), (
            plan[:2000]
        )
        return out.localCheckpoint(eager=True)
    finally:
        _shutil.rmtree(work, ignore_errors=True)


@_q(
    "hybrid_search_rrf",
    """
    WITH tok AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), dl AS (
        SELECT doc_id, len(toks) AS dl FROM tok
    ), t AS (
        SELECT doc_id, unnest(toks) AS term FROM tok
    ), hits AS (
        SELECT doc_id, term, count(*) AS tf FROM t
        WHERE term IN ('spark', 'merge', 'window') GROUP BY 1, 2
    ), stats AS (
        SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
    ), dft AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY 1
    ), bm AS (
        SELECT doc_id,
               floor(sum(
                   ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                   * tf * (1.2 + 1.0)
                   / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
               ) * 1000000 + 0.5) / 1000000 AS bm25
        FROM hits JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20
    ), bmr AS (
        SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rb FROM bm
    ), q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
    ), cs AS (
        SELECT e.vec_id AS doc_id,
               round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe), 6)
                   AS cosine_sim
        FROM embeddings e, q WHERE e.vec_id <> 0
        ORDER BY cosine_sim DESC, doc_id ASC LIMIT 20
    ), csr AS (
        SELECT doc_id, row_number() OVER (ORDER BY cosine_sim DESC, doc_id) AS rc FROM cs
    )
    SELECT doc_id,
           floor((coalesce(1.0 / (60 + rb), 0) + coalesce(1.0 / (60 + rc), 0))
                 * 1000000 + 0.5) / 1000000 AS rrf,
           rb IS NOT NULL AS in_bm25,
           rc IS NOT NULL AS in_ann
    FROM bmr FULL OUTER JOIN csr USING (doc_id)
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
    tags=("text", "retrieval", "similarity", "llm"),
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-20 (lexical) and exact-cosine top-20
    (semantic, query = vec 0) fused by reciprocal-rank fusion
    rrf = Σ 1/(60 + rank) — the standard zero-tuning way to combine
    retrievers whose scores live on incompatible scales. Both
    candidate lists are deterministic (rounded scores, full
    tie-breaks), so the fusion is value-oracled end to end; the
    rank windows run over ≤20-row LIMIT'd frames, never the corpus."""
    from pyspark.sql import Window as W

    from reactionetl_etl_spark.operators.retrieval import bm25_topk
    from reactionetl_etl_spark.operators.similarity import cosine_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    bm = bm25_topk(docs, ["spark", "merge", "window"], k=20).select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()))
        .alias("rb"),
    )
    cs = cosine_topk(emb, query_id=0, k=20).select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(W.orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc()))
        .alias("rc"),
    )
    fused = bm.join(cs, on="doc_id", how="full_outer")
    rrf = F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rb")), F.lit(0.0)) + F.coalesce(
        F.lit(1.0) / (F.lit(60) + F.col("rc")), F.lit(0.0)
    )
    return (
        fused.select(
            "doc_id",
            (F.floor(rrf * 1_000_000 + F.lit(0.5)) / 1_000_000).alias("rrf"),
            F.col("rb").isNotNull().alias("in_bm25"),
            F.col("rc").isNotNull().alias("in_ann"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(10)
    )


@_q(
    "events_seasonal_anomalies",
    """
    WITH base AS (
        SELECT event_id, event_type, value,
               dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS dow
        FROM events
    ), stats AS (
        SELECT event_type, dow,
               avg(value) AS mu,
               stddev_samp(value) AS sigma,
               count(*) AS n
        FROM base GROUP BY 1, 2
    )
    SELECT b.event_type, b.dow,
           CAST(any_value(s.n) AS BIGINT) AS n,
           CAST(sum(CASE WHEN abs(b.value - s.mu) > 3 * s.sigma
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           floor(any_value(s.mu) * 1000000 + 0.5) / 1000000 AS mu
    FROM base b JOIN stats s
      ON b.event_type = s.event_type AND b.dow = s.dow
    GROUP BY b.event_type, b.dow
    """,
    tags=("events", "anomaly", "seasonal"),
)
def events_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly counts: each event compares against
    the mean/σ of ITS OWN (event_type, day-of-week) bucket, so a busy
    Monday isn't flagged for being unlike Sunday — the deseasonalized
    twin of the global z-score and MAD queries. One rollup-sized stats
    aggregate broadcast back onto the stream; the 3σ flag is pure
    expression math. Engine gotcha, pinned by the oracle: Spark's
    dayofweek is 1-based (Sun=1), DuckDB's 0-based — the oracle
    shifts, and the hash check keeps the conventions aligned."""
    ev = load_events(spark, sf_dir).select(
        "event_id",
        "event_type",
        "value",
        F.dayofweek(F.col("ts_ntz")).alias("dow"),
    )
    stats = ev.groupBy("event_type", "dow").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
        F.count(F.lit(1)).alias("n"),
    )
    j = ev.join(F.broadcast(stats), on=["event_type", "dow"])
    return j.groupBy("event_type", "dow").agg(
        F.any_value("n").alias("n"),
        F.sum(
            (F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sigma")).cast("bigint")
        ).alias("n_anomalies"),
        (F.floor(F.any_value("mu") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias("mu"),
    )


@_q(
    "dau_wau_mau",
    """
    WITH ud AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ), days AS (
        SELECT DISTINCT d FROM ud
    ), dau AS (
        SELECT d, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1
    ), wau AS (
        SELECT days.d, count(DISTINCT ud.user_id) AS wau
        FROM days JOIN ud ON ud.d BETWEEN days.d - 6 AND days.d GROUP BY 1
    ), mau AS (
        SELECT days.d, count(DISTINCT ud.user_id) AS mau
        FROM days JOIN ud ON ud.d BETWEEN days.d - 29 AND days.d GROUP BY 1
    )
    SELECT CAST(dau.d AS VARCHAR) AS day, dau.dau, wau.wau, mau.mau,
           floor(dau.dau * 1.0 / mau.mau * 1000000 + 0.5) / 1000000 AS stickiness
    FROM dau JOIN wau ON dau.d = wau.d JOIN mau ON dau.d = mau.d
    ORDER BY day
    """,
    tags=("events", "analytics", "retention"),
)
def dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU + stickiness per observed day — the product-
    analytics staple. Spark windows cannot COUNT DISTINCT over a range
    frame, so the scalable shape is support fan-out: each distinct
    (user, day) pair explodes into the trailing windows it supports
    (×7 and ×30 at DAY grain — rows ∝ active user-days, tiny), then
    one distinct-count per window day. No per-day self-scan of the
    events table, no range join."""
    ev = load_events(spark, sf_dir)
    ud = ev.select(
        F.col("ts_ntz").cast("date").alias("d"), "user_id"
    ).distinct().localCheckpoint(eager=True)
    days = ud.select("d").distinct()
    dau = ud.groupBy("d").agg(F.countDistinct("user_id").alias("dau"))

    def trailing(n: int, name: str) -> DataFrame:
        fan = ud.select(
            "user_id",
            F.explode(
                F.sequence(F.col("d"), F.date_add(F.col("d"), n - 1))
            ).alias("wd"),
        )
        return (
            fan.join(days.withColumnRenamed("d", "wd"), on="wd", how="left_semi")
            .groupBy(F.col("wd").alias("d"))
            .agg(F.countDistinct("user_id").alias(name))
        )

    out = dau.join(trailing(7, "wau"), "d").join(trailing(30, "mau"), "d")
    stick = F.floor(F.col("dau") / F.col("mau") * 1_000_000 + F.lit(0.5)) / 1_000_000
    return out.select(
        F.col("d").cast("string").alias("day"),
        "dau",
        "wau",
        "mau",
        stick.alias("stickiness"),
    ).orderBy("day")


@_q(
    "part_pair_affinity",
    """
    WITH lp AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
        SELECT count(DISTINCT l_orderkey) AS n_orders FROM lp
    ), co AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS co_orders
        FROM lp a JOIN lp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ), pc AS (
        SELECT l_partkey, count(*) AS n FROM lp GROUP BY 1
    )
    SELECT part_a, part_b, co_orders,
           floor(co_orders * 1.0 / n.n_orders * 1000000 + 0.5) / 1000000 AS support,
           floor(co_orders * 1.0 / pa.n * 1000000 + 0.5) / 1000000 AS conf_a_to_b,
           floor(co_orders * 1.0 * n.n_orders / (pa.n * pb.n) * 1000000 + 0.5)
               / 1000000 AS lift
    FROM co
    JOIN pc pa ON pa.l_partkey = co.part_a
    JOIN pc pb ON pb.l_partkey = co.part_b
    CROSS JOIN n
    ORDER BY co_orders DESC, part_a, part_b
    LIMIT 100
    """,
    tags=("analytics", "affinity", "join"),
)
def part_pair_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: part pairs co-occurring in the same
    order with support, directional confidence, and lift — the
    recommendation/co-purchase primitive. The pair join is keyed on
    the ORDER (self-equi-join on l_orderkey), so fan-out is bounded by
    per-basket line count squared, never by catalog size; part counts
    broadcast back. Top-100 by co-occurrence with full tie-breaks for
    a deterministic row set."""
    lp = (
        _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    n_orders = lp.select(F.countDistinct("l_orderkey").alias("n_orders"))
    a, b = lp.alias("a"), lp.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("co_orders"))
    )
    pc = lp.groupBy(F.col("l_partkey")).agg(F.count(F.lit(1)).alias("n"))

    def _r6(c):
        return F.floor(c * 1_000_000 + F.lit(0.5)) / 1_000_000

    out = (
        co.join(F.broadcast(pc.withColumnsRenamed({"l_partkey": "part_a", "n": "na"})), "part_a")
        .join(F.broadcast(pc.withColumnsRenamed({"l_partkey": "part_b", "n": "nb"})), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "co_orders",
            _r6(F.col("co_orders") / F.col("n_orders")).alias("support"),
            _r6(F.col("co_orders") / F.col("na")).alias("conf_a_to_b"),
            _r6(F.col("co_orders") * F.col("n_orders") / (F.col("na") * F.col("nb"))).alias(
                "lift"
            ),
        )
    )
    return out.orderBy(F.col("co_orders").desc(), "part_a", "part_b").limit(100)


@_q(
    "part_copurchase_pagerank",
    """
    WITH RECURSIVE lp AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), co AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lp a JOIN lp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ), e AS (
        SELECT pa AS s, pb AS d FROM co UNION SELECT pb, pa FROM co
    ), nodes AS (
        SELECT DISTINCT s AS node FROM e
    ), deg AS (
        SELECT s, count(*) AS deg FROM e GROUP BY 1
    ), nn AS (
        SELECT count(*) AS n FROM nodes
    ), pr AS (
        SELECT node, CAST(1.0 / (SELECT n FROM nn) AS DOUBLE) AS rank, 0 AS it
        FROM nodes
        UNION ALL
        SELECT node, rank, it FROM (
            SELECT n.node,
                   (1 - 0.85) / (SELECT n FROM nn)
                       + 0.85 * coalesce(s.inflow, 0) AS rank,
                   max(s.it1) OVER () AS it
            FROM nodes n LEFT JOIN (
                SELECT e.d AS node, sum(p.rank / dg.deg) AS inflow,
                       max(p.it) + 1 AS it1
                FROM pr p JOIN e ON e.s = p.node JOIN deg dg ON dg.s = p.node
                GROUP BY e.d
            ) s ON s.node = n.node
        ) WHERE it <= 10
    )
    SELECT node AS part, floor(rank * 1000000 + 0.5) / 1000000 AS rank6
    FROM pr WHERE it = 10
    ORDER BY rank6 DESC, part LIMIT 20
    """,
    tags=("graph", "iterative", "analytics"),
)
def part_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the co-purchase graph (parts sharing
    ≥2 orders), 10 synchronous power iterations
    (operators/graph.py::pagerank) — the iterative-algorithm family,
    value-oracled against a DuckDB RECURSIVE-CTE implementation of the
    SAME recurrence (identical damping constants, dangling-free
    symmetrized graph), so every iteration's arithmetic is pinned
    cross-engine. One edge-keyed shuffle per iteration; ranks stay
    node-sized; lineage truncated per round."""
    from reactionetl_etl_spark.operators.graph import pagerank

    lp = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = lp.alias("a"), lp.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
    )
    ranks = pagerank(co, src="pa", dst="pb", damping=0.85, n_iter=10)
    r6 = F.floor(F.col("rank") * 1_000_000 + F.lit(0.5)) / 1_000_000
    return (
        ranks.select(F.col("node").alias("part"), r6.alias("rank6"))
        .orderBy(F.col("rank6").desc(), "part")
        .limit(20)
    )


@_q(
    "events_mad_anomalies",
    """
    WITH med AS (
        SELECT user_id, median(value) AS med
        FROM events GROUP BY user_id
    ), dev AS (
        SELECT e.user_id, e.value, m.med, abs(e.value - m.med) AS adev
        FROM events e JOIN med m ON e.user_id = m.user_id
    ), mad AS (
        SELECT user_id, median(adev) AS mad FROM dev GROUP BY user_id
    )
    SELECT dev.user_id,
           round(any_value(dev.med), 6) AS med,
           round(any_value(mad.mad), 6) AS mad,
           count(*) AS n,
           CAST(sum(CASE WHEN dev.adev > 5 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_anomalies
    FROM dev JOIN mad ON dev.user_id = mad.user_id
    GROUP BY dev.user_id
    HAVING count(*) >= 20
    """,
    tags=("stats", "robust", "anomaly"),
)
def events_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection: median absolute deviation per user —
    the outlier flag that doesn't move when the outliers themselves
    do (unlike z-scores, whose mean/σ the anomaly contaminates). Two
    median aggregations + one broadcastable per-user stats join; both
    engines interpolate the even-count median identically."""
    ev = load_events(spark, sf_dir)
    med = ev.groupBy("user_id").agg(F.median("value").alias("med"))
    dev = ev.join(med, "user_id").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("user_id").agg(F.median("adev").alias("mad"))
    return (
        dev.join(mad, "user_id")
        .groupBy("user_id")
        .agg(
            F.round(F.any_value("med"), 6).alias("med"),
            F.round(F.any_value("mad"), 6).alias("mad"),
            F.count("*").alias("n"),
            F.sum((F.col("adev") > 5 * F.col("mad")).cast("bigint")).alias("n_anomalies"),
        )
        .filter(F.col("n") >= 20)
    )


@_q(
    "totalprice_winsorized_by_segment",
    """
    WITH j AS (
        SELECT c_mktsegment AS segment, o_totalprice AS p
        FROM orders JOIN customer ON o_custkey = c_custkey
    ), b AS (
        SELECT segment,
               round(quantile_cont(p, 0.05), 4) AS lo,
               round(quantile_cont(p, 0.95), 4) AS hi
        FROM j GROUP BY segment
    )
    SELECT j.segment,
           count(*) AS n,
           round(any_value(b.lo), 4)                                AS lo,
           round(any_value(b.hi), 4)                                AS hi,
           round(avg(least(greatest(j.p, b.lo), b.hi)), 2)          AS mean_winsorized,
           CAST(sum(CASE WHEN j.p < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
           CAST(sum(CASE WHEN j.p > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high
    FROM j JOIN b ON j.segment = b.segment
    GROUP BY j.segment
    """,
    tags=("stats", "preprocess", "training-data"),
)
def totalprice_winsorized_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (p05/p95-clipped) price statistics per market segment
    — the outlier-clamping step a feature-preprocessing pipeline runs
    before normalizing a heavy-tailed numeric column. Two passes over
    the same fact⋈dim join: an exact interpolated percentile per
    segment (both engines linear-interpolate identically; bounds
    rounded to 4dp on BOTH sides so clip comparisons agree), then a
    broadcast of the tiny bounds table back onto the rows. The second
    pass's shuffle carries only segment groups; at 100 TB the bounds
    frame is O(#segments) and the percentile itself is the only
    sort-heavy step (Spark computes it with a partial TDigest-free
    exact agg over the group — acceptable because segments are few;
    for millions of groups switch to approx_percentile)."""
    j = (
        _t(spark, sf_dir, "orders")
        .join(_t(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .select(F.col("c_mktsegment").alias("segment"), F.col("o_totalprice").alias("p"))
    )
    bounds = j.groupBy("segment").agg(
        F.round(F.percentile("p", F.lit(0.05)), 4).alias("lo"),
        F.round(F.percentile("p", F.lit(0.95)), 4).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("p"), F.col("lo")), F.col("hi"))
    return (
        j.join(F.broadcast(bounds), "segment")
        .groupBy("segment")
        .agg(
            F.count("*").alias("n"),
            F.round(F.any_value("lo"), 4).alias("lo"),
            F.round(F.any_value("hi"), 4).alias("hi"),
            F.round(F.avg(clipped), 2).alias("mean_winsorized"),
            F.sum((F.col("p") < F.col("lo")).cast("bigint")).alias("n_clipped_low"),
            F.sum((F.col("p") > F.col("hi")).cast("bigint")).alias("n_clipped_high"),
        )
    )


@_q(
    "orders_time_split_embargo",
    """
    WITH r AS (
        SELECT CAST(floor(0.8 * (count(*) - 1)) AS BIGINT) + 1 AS r FROM orders
    ), days AS (
        SELECT o_orderdate AS d, count(*) AS c FROM orders GROUP BY o_orderdate
    ), cum AS (
        SELECT d, sum(c) OVER (ORDER BY d) AS cum FROM days
    ), cutoff AS (
        SELECT min(d) AS train_end FROM cum, r WHERE cum >= r.r
    )
    SELECT CASE WHEN o_orderdate <= train_end THEN 'train'
                WHEN o_orderdate <= train_end + INTERVAL 30 DAY THEN 'embargo'
                ELSE 'valid' END AS split,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue,
           CAST(min(o_orderdate) AS VARCHAR) AS first_date,
           CAST(max(o_orderdate) AS VARCHAR) AS last_date
    FROM orders, cutoff
    GROUP BY 1
    """,
    tags=("window", "preprocess", "training-data"),
)
def orders_time_split_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-ordered train/validation split with a 30-day embargo gap —
    the leakage guard for forecasting-style training data (rows inside
    the embargo are excluded so near-boundary label windows can't
    straddle the split). The 80th-percentile cutoff date is found
    WITHOUT a global sort of the fact: per-day counts (distinct days
    are bounded — thousands even at 100 TB) get a running sum over a
    day-level window, and the first day whose cumulative count reaches
    rank r = floor(0.8·(n−1))+1 is the cutoff; both engines compute
    the identical discrete quantile by construction. The single-
    partition window runs over day-level AGGREGATES only, never rows
    (same shape as the pinned prefix-sum operators), and the 1-row
    cutoff broadcasts back onto the scan."""
    orders = _t(spark, sf_dir, "orders")
    r = orders.agg(
        (F.floor(0.8 * (F.count("*") - F.lit(1))).cast("bigint") + F.lit(1)).alias("r")
    )
    days = orders.groupBy(F.col("o_orderdate").alias("d")).agg(F.count("*").alias("c"))
    cum = days.withColumn(
        "cum",
        F.sum("c").over(
            Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    cutoff = (
        cum.join(F.broadcast(r), F.col("cum") >= F.col("r"))
        .agg(F.min("d").alias("train_end"))
    )
    split = (
        F.when(F.col("o_orderdate") <= F.col("train_end"), F.lit("train"))
        .when(
            F.col("o_orderdate") <= F.col("train_end") + F.expr("INTERVAL 30 DAYS"),
            F.lit("embargo"),
        )
        .otherwise(F.lit("valid"))
    )
    return (
        orders.join(F.broadcast(cutoff), F.lit(True))
        .groupBy(split.alias("split"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.min("o_orderdate").cast("string").alias("first_date"),
            F.max("o_orderdate").cast("string").alias("last_date"),
        )
    )


@_q(
    "leakage_safe_split",
    """
    WITH RECURSIVE t0 AS (
        SELECT doc_id,
               list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS toks,
               substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 32) AS pfx
        FROM documents
    ), t AS (
        SELECT * FROM t0 QUALIFY count(*) OVER (PARTITION BY pfx) <= 64
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM t a JOIN t b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
        WHERE CAST(len(list_filter(a.toks, tk -> list_contains(b.toks, tk))) AS DOUBLE)
              / (len(a.toks) + len(b.toks)
                 - len(list_filter(a.toks, tk -> list_contains(b.toks, tk)))) >= 0.5
    ), sym AS (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), reach AS (
        SELECT DISTINCT s AS node, s AS root FROM sym
        UNION
        SELECT sym.d, reach.root FROM reach JOIN sym ON sym.s = reach.node
    ), clust AS (
        SELECT node AS doc_id, min(root) AS cluster_id FROM reach GROUP BY node
    )
    SELECT doc_id,
           CASE WHEN b < 9000 THEN 'train'
                WHEN b < 9500 THEN 'val'
                ELSE 'test' END AS split,
           is_clustered
    FROM (
      SELECT d.doc_id,
             c.cluster_id IS NOT NULL AS is_clustered,
             CAST(('0x' || substring(md5('s42:' ||
                      CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 8)) AS BIGINT)
               % 10000 AS b
      FROM documents d LEFT JOIN clust c ON d.doc_id = c.doc_id
    )
    """,
    tags=("split", "dedup", "ml", "training-data"),
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-co-assigned train/val/test split — the leakage guard
    per-row hash splitting cannot give: near-duplicate documents hash
    on their CLUSTER id (connected components over the Jaccard
    candidate graph, same edge set as `duplicate_clusters`), so a
    near-dup of a training doc can never land in val/test. Unclustered
    docs hash on their own key; the cluster map carries only the
    duplicated fraction of the corpus, so at 100 TB the join shuffles
    keys, never text. Per-DOCUMENT assignment is value-oracled (DuckDB
    walks the same graph with a recursive CTE and applies the same md5
    bucket formula)."""
    from reactionetl_etl_spark.operators.split import split_by_cluster

    clusters = duplicate_clusters(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    tagged = split_by_cluster(
        docs.join(clusters, "doc_id", "left")
        .withColumn("is_clustered", F.col("cluster_id").isNotNull())
        .drop("cluster_id"),
        "doc_id",
        clusters,
        {"train": 0.9, "val": 0.05, "test": 0.05},
        cluster_key="doc_id",
        cluster_col="cluster_id",
    )
    return tagged.select("doc_id", "split", "is_clustered")


@_q(
    "mixture_resample_uniform",
    """
    WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         t AS (SELECT sum(n_docs)::BIGINT AS n_total, count(*) AS n_langs FROM c),
         r AS (SELECT lang, least(1.0, n_total / (n_langs * n_docs * 1.0)) AS rate
               FROM c, t)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN r ON d.lang = r.lang
    WHERE ('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
          / 4294967296.0 < r.rate
    """,
    tags=("text", "sampling", "llm", "training-data"),
)
def mixture_resample_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling — the data-mixing step of pretraining
    curation: downsample over-represented languages to a uniform target
    mixture by accepting each doc with rate min(1, (N/k)/n_lang),
    decided by a salted md5 variate of the doc id. Fully deterministic
    (no RNG: same corpus → same sample on every run, cluster, and
    engine — which is what makes the per-DOCUMENT selection
    value-oracle-checkable), resumable, and zero-shuffle on the corpus:
    the rate table is one groupBy(lang) over keys, broadcast back onto
    the scan, and the accept predicate is a pure per-row expression.
    Both engines compute the rate with the same IEEE double division of
    exact integers, so the comparison never straddles an ulp."""
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    t = c.agg(F.sum("n_docs").alias("n_total"), F.count("*").alias("n_langs"))
    rates = c.join(F.broadcast(t)).select(
        "lang",
        F.least(
            F.lit(1.0), F.col("n_total") / (F.col("n_langs") * F.col("n_docs"))
        ).alias("rate"),
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .where(u < F.col("rate"))
        .select("doc_id", "lang")
    )


@_q(
    "cross_doc_dup_rate",
    """
    WITH t0 AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), t AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(generate_series(1, greatest(len(toks) - 7, 1)),
                                     i -> md5(array_to_string(toks[i:i+7], ' ')))) AS g
        FROM t0
    ), gc AS (
        SELECT g, count(*) AS ndocs FROM t GROUP BY g
    )
    SELECT t.doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN gc.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           round(sum(CASE WHEN gc.ndocs >= 2 THEN 1 ELSE 0 END) / count(*), 6) AS dup_rate
    FROM t JOIN gc ON t.g = gc.g
    GROUP BY t.doc_id
    """,
    tags=("text", "dedup", "llm", "training-data"),
    bench=True,
)
def cross_doc_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-content rate: per doc, the fraction of
    its distinct 8-token shingles that also occur in at least one OTHER
    document — the boilerplate/syndication signal quality filters
    threshold on (complementing `intra_doc_repetition`, which measures
    WITHIN-doc repetition). Shingles shuffle as 16-byte md5 digests
    (cross-engine identical), never as text, so the wide exchange
    carries (doc_id, digest) pairs only; the gram-frequency side is a
    map-side-combined groupBy over digests. ndocs≥2 counts distinct
    docs because the per-doc gram set is deduplicated BEFORE the join
    — a doc repeating its own gram doesn't inflate the cross-doc
    count.

    r14 shape: the per-doc gram set is deduplicated ROW-LOCALLY
    (array_distinct over the per-row digest array, before the explode)
    — a document's shingles never need a shuffle to be deduplicated
    against themselves — and `ndocs` is a count window over the digest
    partition instead of a count aggregate joined back, so the digest
    rows cross the wire once (one exchange on the digest + the final
    per-doc aggregate) with no join at all. Digests are xxhash64 of the
    token-array slice itself — equality classes are unchanged (slice
    equality ⟺ joined-string equality), no string is ever built per
    shingle, and only equality classes feed the counts (the oracle's
    md5-string digest groups identically).

    r15: the digest is a PAIR of independently-seeded xxhash64 values
    (salt literal FIRST — salting last would make g2 a function of g).
    A single 64-bit digest carries real birthday-collision mass at
    100 TB (~10¹⁰ distinct shingles → millions of expected false
    merges silently biasing this REPORTED rate); the pair restores
    effective 128-bit equality for 16 bytes/row — still half the
    retired 32-char md5 string."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
    )
    # nested transform slices ONCE per shingle (see
    # text._token_ngram_hashes_pos — inlining slice() under each hash
    # materialized every window twice)
    hashes = F.expr(
        "array_distinct(transform(transform(sequence(1, greatest(size(__toks) - 7, 1)),"
        " i -> slice(__toks, i, 8)),"
        " s -> struct(xxhash64(s) AS g, xxhash64(7, s) AS g2)))"
    )
    t = (
        docs.withColumn("__toks", toks)
        .select("doc_id", F.explode(hashes).alias("__g"))
        .select("doc_id", F.col("__g.g").alias("g"), F.col("__g.g2").alias("g2"))
    )
    wg = Window.partitionBy("g", "g2")
    return (
        t.withColumn("ndocs", F.count("*").over(wg))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("ndocs") >= 2).cast("bigint")).alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_grams"), 6).alias("dup_rate"),
        )
    )


@_q(
    "corpus_drift_kl",
    r"""
    WITH tok AS (
        SELECT source,
               unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS t
        FROM documents
    ), tok2 AS (
        SELECT source, t FROM tok WHERE length(t) > 0
    ), vocab AS (
        SELECT t, count(*) AS c_g FROM tok2 GROUP BY t ORDER BY c_g DESC, t LIMIT 1000
    ), tot AS (
        SELECT sum(c_g) AS n_g, count(*) AS v FROM vocab
    ), cnt AS (
        SELECT source, t, count(*) AS c FROM tok2 JOIN vocab USING (t) GROUP BY source, t
    ), src_tot AS (
        SELECT source, sum(c) AS n_s FROM cnt GROUP BY source
    ), grid AS (
        SELECT st.source, v.t, v.c_g, st.n_s, coalesce(c.c, 0) AS c
        FROM src_tot st CROSS JOIN vocab v
        LEFT JOIN cnt c ON c.source = st.source AND c.t = v.t
    )
    SELECT g.source,
           CAST(max(g.n_s) AS BIGINT) AS n_tokens,
           round(sum(((g.c + 0.5) / (g.n_s + 0.5 * tot.v))
                     * ln(((g.c + 0.5) / (g.n_s + 0.5 * tot.v)) / (g.c_g * 1.0 / tot.n_g))), 6)
               AS kl_divergence
    FROM grid g CROSS JOIN tot
    GROUP BY g.source
    ORDER BY g.source
    """,
    tags=("text", "quality", "drift"),
)
def corpus_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift monitor: KL(source distribution ‖ corpus baseline)
    per source over the top-V unigram vocabulary (V ≤ 1000 — the vocab
    and the O(V) baseline are broadcast-sized BY CONSTRUCTION, which is
    what keeps this runnable daily at 100 TB: token counting is one
    map-side-combined groupBy; everything after operates on
    #sources × V rows). Add-half smoothing on the source side keeps
    zero-count cells finite; deterministic vocab tie-break (count desc,
    token asc). The query a pipeline pages on: a source whose KL jumps
    is shipping different content than the corpus it feeds."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split(F.lower("text"), r"\s+")).alias("t")
    ).filter(F.length("t") > 0)
    vocab = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c_g"))
        .orderBy(F.desc("c_g"), "t")
        .limit(1000)
    )
    tot = vocab.agg(F.sum("c_g").alias("n_g"), F.count(F.lit(1)).alias("v"))
    cnt = (
        tok.join(F.broadcast(vocab.select("t")), "t")
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    src_tot = cnt.groupBy("source").agg(F.sum("c").alias("n_s"))
    grid = (
        src_tot.crossJoin(F.broadcast(vocab))
        .join(cnt, ["source", "t"], "left")
        .withColumn("c", F.coalesce("c", F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    q = (F.col("c") + F.lit(0.5)) / (F.col("n_s") + F.lit(0.5) * F.col("v"))
    p = F.col("c_g") / F.col("n_g")
    return (
        grid.groupBy("source")
        .agg(
            F.max("n_s").cast("bigint").alias("n_tokens"),
            F.round(F.sum(q * F.log(q / p)), 6).alias("kl_divergence"),
        )
        .orderBy("source")
    )


@_q(
    "corpus_profile",
    """
    WITH tok AS (
        SELECT lang,
               len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS n_tok
        FROM documents
    ), base AS (
        SELECT count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               round(avg(n_tok), 4) AS avg_tokens
        FROM tok
    ), l AS (
        SELECT lang, count(*) AS n FROM tok GROUP BY lang
    ), t AS (
        SELECT sum(n) AS tot, count(*) AS n_langs FROM l
    ), ent AS (
        SELECT any_value(n_langs) AS n_langs,
               round(-sum((n / tot) * log2(n / tot)), 6) AS lang_entropy_bits
        FROM l, t
    )
    SELECT n_docs, n_tokens, avg_tokens, n_langs, lang_entropy_bits
    FROM base, ent
    """,
    tags=("text", "profile", "llm"),
)
def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus snapshot — the summary a curation pipeline logs
    per dataset version: document/token counts plus the language-
    mixture entropy (bits; the balance metric mixture resampling
    pushes toward log2(k)). One full pass computes the token counts
    with map-side partial aggregation; the entropy runs over the
    per-lang count table (O(#langs) rows) with the 1-row total
    broadcast back. Sum order over langs differs between engines only
    below the 6-decimal rounding."""
    docs = _t(spark, sf_dir, "documents")
    n_tok = F.size(
        F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    )
    tok = docs.select("lang", n_tok.alias("n_tok"))
    base = tok.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
    )
    l = tok.groupBy("lang").agg(F.count("*").alias("n"))
    t = l.agg(F.sum("n").alias("tot"), F.count("*").alias("n_langs"))
    p = F.col("n") / F.col("tot")
    ent = l.join(F.broadcast(t)).agg(
        F.any_value("n_langs").alias("n_langs"),
        F.round(-F.sum(p * F.log2(p)), 6).alias("lang_entropy_bits"),
    )
    return base.join(ent)


@_q(
    "user_event_sequences",
    """
    SELECT user_id,
           count(*) AS n_events,
           string_agg(event_type, ',' ORDER BY ts, event_id) AS type_path
    FROM events
    GROUP BY user_id
    HAVING count(*) >= 20
    """,
    tags=("sequence", "feature", "ml"),
)
def user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered event-type sequence — the behavior-path feature
    sequence models and funnel miners consume. Order inside each user
    is made deterministic by sorting (ts, event_id, type) structs
    (array_sort on structs compares fields left-to-right; event_id
    breaks same-timestamp ties identically in both engines), so the
    CONCATENATED PATH itself is value-oracled, not just its length.
    One shuffle on user_id with partial collect_list; at real scale
    cap the per-user array with slice() after the sort — the state is
    O(events per user), same as any sessionization."""
    ev = load_events(spark, sf_dir)
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("ts_ntz").alias("ts"),
                F.col("event_id").alias("eid"),
                F.col("event_type").alias("et"),
            )
        )
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.array_join(F.transform(ordered, lambda s: s["et"]), ",").alias("type_path"),
        )
        .filter(F.col("n_events") >= 20)
    )


@_q(
    "gopher_repetition_signals",
    r"""
    WITH base AS (
        SELECT doc_id,
               string_split(text, chr(10)) AS lines,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks,
               length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS nlen
        FROM documents
    ), line_stats AS (
        SELECT doc_id,
               len(lines) AS n_lines,
               floor((1.0 - len(list_distinct(lines))::DOUBLE / greatest(len(lines), 1))
                     * 1000000 + 0.5) / 1000000 AS dup_line_frac,
               floor((1.0 - list_sum(list_transform(list_distinct(lines), x -> length(x)))::DOUBLE
                           / greatest(list_sum(list_transform(lines, x -> length(x))), 1))
                     * 1000000 + 0.5) / 1000000 AS dup_line_char_frac
        FROM base
    ), grams AS (
        SELECT doc_id, nlen,
               unnest(list_transform(range(greatest(len(toks) - 1, 1)),
                      i -> array_to_string(toks[i + 1 : i + 2], ' '))) AS gram
        FROM base
    ), counts AS (
        SELECT doc_id, nlen, gram, count(*) AS cnt FROM grams GROUP BY 1, 2, 3
    ), top AS (
        SELECT doc_id, gram AS top_bigram,
               floor(length(gram) * cnt / greatest(nlen, 1)::DOUBLE * 1000000 + 0.5)
                   / 1000000 AS top_bigram_frac
        FROM counts
        QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) = 1
    )
    SELECT l.doc_id, l.n_lines, l.dup_line_frac, l.dup_line_char_frac,
           t.top_bigram, t.top_bigram_frac
    FROM line_stats l LEFT JOIN top t USING (doc_id)
    """,
    tags=("text", "quality", "llm"),
    bench=True,
)
def gopher_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (operators/text.py::
    repetition_signals — Rae et al. 2021 A1.1, public): duplicate-line
    fractions (count- and character-weighted) as pure per-row HOFs,
    plus the most frequent word 2-gram and the character fraction it
    covers via a doc-keyed count + row_number (deterministic
    lexicographic tie-break, pinned cross-engine). All shuffles keyed
    on doc_id — the 100 TB cost profile of any tokenize pass."""
    docs = _t(spark, sf_dir, "documents")
    return TX.repetition_signals(docs)


@_q(
    "html_text_extraction",
    r"""
    WITH pages AS (
        SELECT doc_id,
               '<html><head><title>D</title><style>p { color: red; }</style>'
               || '<script>var x = 1 < 2 && "q";</script></head><body>'
               || '<!-- hdr --><h1>Doc &amp; &lt;sample&gt;</h1><p>'
               || text
               || '</p><div class="f">&quot;end&quot; &#39;q&#39;&nbsp;</div></body></html>'
               AS html
        FROM documents WHERE doc_id < 200
    ), stripped AS (
        SELECT doc_id, html,
               trim(regexp_replace(
                   replace(replace(replace(replace(replace(replace(
                       regexp_replace(
                           regexp_replace(
                               regexp_replace(
                                   regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g'),
                                   '(?is)<script\b.*?</script\s*>', ' ', 'g'),
                               '(?is)<style\b.*?</style\s*>', ' ', 'g'),
                           '(?s)<[^>]+>', ' ', 'g'),
                       '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                       '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
                   '\s+', ' ', 'g')) AS txt
        FROM pages
    )
    SELECT doc_id,
           length(html) AS n_chars_html,
           length(txt)  AS n_chars_text,
           md5(txt)     AS text_md5
    FROM stripped
    """,
    tags=("text", "html", "etl", "llm"),
)
def html_text_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-crawl text extraction (operators/text.py::strip_html): every
    document wrapped in a deterministic HTML page (script/style blocks
    whose contents must NOT leak into the text — the classic extractor
    bug — plus comments, entities, nested tags), then stripped back to
    plain text with pure JVM regex/replace expressions. The oracle runs
    the IDENTICAL pipeline in DuckDB, so the hash pins block removal,
    entity decode order (&amp; last), and whitespace collapse. Zero
    shuffle: a per-row narrow map at any scale."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    html = F.concat(
        F.lit(
            '<html><head><title>D</title><style>p { color: red; }</style>'
            '<script>var x = 1 < 2 && "q";</script></head><body>'
            "<!-- hdr --><h1>Doc &amp; &lt;sample&gt;</h1><p>"
        ),
        F.col("text"),
        F.lit('</p><div class="f">&quot;end&quot; &#39;q&#39;&nbsp;</div></body></html>'),
    )
    pages = docs.select("doc_id", html.alias("html"))
    txt = TX.strip_html("html")
    return pages.select(
        "doc_id",
        F.length("html").alias("n_chars_html"),
        F.length(txt).alias("n_chars_text"),
        F.md5(txt).alias("text_md5"),
    )


@_q(
    "span_corruption_pairs",
    r"""
    WITH base AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), arr AS (
        SELECT doc_id, toks, len(toks) AS n,
               list_transform(range(1, len(toks) + 1),
                   i -> substr(md5('t5:' || doc_id || ':' || i), 1, 8) < '0ccccccc') AS starts
        FROM base
    ), m AS (
        SELECT doc_id, toks, n, starts,
               list_transform(range(1, n + 1),
                   i -> len(list_filter(range(greatest(1, i - 2), i + 1), j -> starts[j])) > 0) AS masked
        FROM arr
    ), s AS (
        SELECT doc_id, toks, n, masked,
               list_transform(range(1, n + 1),
                   i -> masked[i] AND (i = 1 OR NOT masked[i - 1])) AS sstart
        FROM m
    ), built AS (
        SELECT doc_id,
               n AS n_tokens,
               len(list_filter(masked, x -> x)) AS n_masked,
               len(list_filter(sstart, x -> x)) AS n_spans,
               array_to_string(flatten(list_transform(range(1, n + 1), i ->
                   CASE WHEN NOT masked[i] THEN [toks[i]]
                        WHEN sstart[i] THEN ['<extra_id_' ||
                            CAST(len(list_filter(range(1, i + 1), j -> sstart[j])) - 1 AS VARCHAR) || '>']
                        ELSE [] END)), ' ') AS corrupted_text,
               array_to_string(flatten(list_transform(range(1, n + 1), i ->
                   CASE WHEN sstart[i] THEN ['<extra_id_' ||
                            CAST(len(list_filter(range(1, i + 1), j -> sstart[j])) - 1 AS VARCHAR) || '>',
                            toks[i]]
                        WHEN masked[i] THEN [toks[i]]
                        ELSE [] END)), ' ') AS target_text
        FROM s
    )
    SELECT doc_id, n_tokens, n_masked, n_spans,
           md5(coalesce(corrupted_text, '')) AS corrupted_md5,
           md5(coalesce(target_text, ''))    AS target_md5
    FROM built
    """,
    tags=("text", "training", "llm", "t5"),
)
def span_corruption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption (operators/text.py::span_corruption):
    hash-seeded contiguous spans masked out of the input, sentinel-
    numbered targets built by ONE O(n) aggregate() fold per row — and
    the DuckDB oracle reconstructs the IDENTICAL pairs from the same
    md5 decisions with O(n^2) list expressions, so the hash match pins
    span placement, sentinel numbering, and both output texts
    character-for-character. Zero shuffle: a pure per-row map, the
    100 TB cost profile of any tokenize pass."""
    docs = _t(spark, sf_dir, "documents")
    out = TX.span_corruption(docs, mask_rate=0.15, span_len=3)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_masked",
        "n_spans",
        F.md5("corrupted_text").alias("corrupted_md5"),
        F.md5("target_text").alias("target_md5"),
    )


@_q(
    "dsir_importance_weights",
    r"""
    WITH tok AS (
        SELECT doc_id, lang,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), grams AS (
        SELECT doc_id, lang,
               unnest(list_transform(range(greatest(len(toks) - 1, 1)),
                      i -> array_to_string(toks[i + 1 : i + 2], ' '))) AS gram
        FROM tok
    ), bg AS (
        SELECT doc_id, lang,
               CAST(('0x' || substring(md5(gram), 1, 8)) AS BIGINT) % 10000 AS bucket
        FROM grams
    ), tc AS (
        SELECT bucket, count(*) AS tc FROM bg WHERE lang = 'en' GROUP BY 1
    ), rc AS (
        SELECT bucket, count(*) AS rc FROM bg GROUP BY 1
    ), tot AS (
        SELECT (SELECT sum(tc) FROM tc) AS t_total, (SELECT sum(rc) FROM rc) AS r_total
    ), ratio AS (
        SELECT rc.bucket,
               ln(coalesce(tc.tc, 0) + 0.5) - ln(t_total + 0.5 * 10000)
             - ln(rc.rc + 0.5) + ln(r_total + 0.5 * 10000) AS log_ratio
        FROM rc LEFT JOIN tc USING (bucket), tot
    )
    SELECT bg.doc_id,
           count(*) AS n_bigrams,
           floor(sum(log_ratio) * 1000000 + 0.5) / 1000000 AS log_weight
    FROM bg JOIN ratio USING (bucket)
    GROUP BY bg.doc_id
    """,
    tags=("text", "training", "llm", "dsir", "sampling"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/dsir.py — Xie et al. 2023):
    hashed-bigram importance weights of every document against the
    English-docs target distribution, value-checked against DuckDB
    computing the identical smoothed log-likelihood ratios from the
    identical md5 bucket hashes. The feature tables are n_buckets rows
    regardless of corpus size (broadcast by construction); shuffles key
    on bucket and doc ids only — text never moves."""
    from reactionetl_etl_spark.operators.dsir import dsir_log_weights

    docs = _t(spark, sf_dir, "documents")
    w = dsir_log_weights(docs, docs.filter(F.col("lang") == "en"))
    return w.select(
        "doc_id",
        "n_bigrams",
        (F.floor(F.col("log_weight") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias(
            "log_weight"
        ),
    )


@_q(
    "rollup_cdc_maintenance",
    """
    WITH updates AS (
        SELECT o_orderkey, floor(o_totalprice * 1.1 * 100 + 0.5) / 100 AS o_totalprice,
               o_orderpriority, o_orderstatus
        FROM orders WHERE o_orderkey % 101 = 0
        UNION ALL
        SELECT o_orderkey + 200000000, round(o_totalprice, 2), o_orderpriority, o_orderstatus
        FROM orders WHERE o_orderkey % 1009 = 0
    ), merged AS (
        SELECT o_orderkey, o_totalprice, o_orderpriority, o_orderstatus FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        UNION ALL
        SELECT * FROM updates
    ), final AS (
        SELECT * FROM merged WHERE o_orderstatus <> 'P'
    )
    SELECT o_orderpriority,
           count(*) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           count(o_totalprice) AS cnt_price,
           CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
           CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
    FROM final
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("etl", "incremental", "cdc", "rollup"),
)
def rollup_cdc_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MATERIALIZED-VIEW maintenance under mutation
    (etl/incremental_agg.py::apply_changes_to_rollup): a rollup seeds
    from snapshot v1, then tracks the base table through an upsert
    (price bumps + inserts) and a DELETE purely by folding each
    version-pair's CDC feed (etl/snapshots.py::snapshot_changes) —
    signed retraction partials, work ∝ changes, never ∝ table. The
    finalized view is value-checked against DuckDB recomputing the
    rollup from the post-change table directly: fold(feeds) ==
    recompute(head), exactly — decimal sums make the claim bit-exact."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from reactionetl_etl_spark.etl.incremental_agg import (
        apply_changes_to_rollup,
        merge_aggregate_state,
        read_aggregate_view,
    )
    from reactionetl_etl_spark.etl.snapshots import (
        snapshot_changes,
        snapshot_delete,
        snapshot_read,
        snapshot_upsert,
        snapshot_write,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
        "o_orderpriority",
        "o_orderstatus",
    )
    keys = ["o_orderpriority"]
    # min/max exercise the ORDERED-measure path: not retractable, so
    # the fold recomputes touched partitions' groups from base=
    measures = {"o_totalprice": ["sum", "count", "min", "max"]}
    work = _tempfile.mkdtemp(prefix="cdc_rollup_")
    try:
        table = _os.path.join(work, "orders_snap")
        state = _os.path.join(work, "state")
        v1 = snapshot_write(spark, table, orders.repartition(8, "o_orderkey"))
        merge_aggregate_state(
            spark, state, snapshot_read(spark, table), keys, measures,
            "o_orderpriority", batch_id="seed",
        )
        upd = orders.filter(F.col("o_orderkey") % 101 == 0).withColumn(
            "o_totalprice",
            (F.floor(F.col("o_totalprice") * 1.1 * 100 + F.lit(0.5)) / 100).cast(
                "decimal(18,2)"
            ),
        )
        ins = orders.filter(F.col("o_orderkey") % 1009 == 0).withColumn(
            "o_orderkey", F.col("o_orderkey") + 200_000_000
        )
        v2 = snapshot_upsert(spark, table, upd.unionByName(ins), ["o_orderkey"])
        v3 = snapshot_delete(spark, table, "o_orderstatus = 'P'")
        for frm, to in ((v1, v2), (v2, v3)):
            apply_changes_to_rollup(
                spark, state, snapshot_changes(spark, table, ["o_orderkey"], frm, to),
                keys, measures, "o_orderpriority", batch_id=f"cdc-{frm}-{to}",
                base=snapshot_read(spark, table, to),
            )
        view = read_aggregate_view(spark, state, measures)
        return (
            view.select(
                "o_orderpriority",
                F.col("row_count").alias("n_rows"),
                F.col("o_totalprice__sum").cast("double").alias("sum_price"),
                F.col("o_totalprice__count").alias("cnt_price"),
                F.col("o_totalprice__min").cast("double").alias("min_price"),
                F.col("o_totalprice__max").cast("double").alias("max_price"),
            )
            .orderBy("o_orderpriority")
            .localCheckpoint(eager=True)
        )
    finally:
        _shutil.rmtree(work, ignore_errors=True)


@_q(
    "unconverted_clicks_outer_join",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    tags=("events", "join", "interval", "streaming", "outer"),
)
def unconverted_clicks_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER interval join (streaming/joins.py::interval_join,
    how='left_outer') — the question the inner join can't answer:
    which clicks never converted inside the window (purchase_id NULL).
    The SAME function runs over two watermarked streams with
    watermark-driven NULL emission (test_streaming pins stream ≡ batch
    row for row); here its batch execution is value-checked against
    DuckDB's plain outer join."""
    from reactionetl_etl_spark.streaming.joins import interval_join

    ev = load_events(spark, sf_dir).select("event_id", "user_id", "event_type", "ts_ntz")
    out = interval_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        on="user_id",
        upper="30 minutes",
        how="left_outer",
    )
    return out.select(
        F.col("event_id").alias("click_id"),
        F.col("event_id_r").alias("purchase_id"),
    )


@_q(
    "contamination_check_bloom",
    """
    WITH tok AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), g AS (
        SELECT doc_id, array_to_string(toks[i:i+3], ' ') AS gram
        FROM (
            SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks) - 3, 1))) AS i
            FROM tok
        )
    ), ev AS (
        SELECT DISTINCT doc_id AS eval_id, gram FROM g WHERE doc_id % 97 = 0
    ), tr AS (
        SELECT doc_id AS train_id, gram FROM g WHERE doc_id % 97 <> 0
    )
    SELECT train_id, eval_id, count(DISTINCT gram) AS n_shared
    FROM tr JOIN ev USING (gram)
    GROUP BY train_id, eval_id
    """,
    tags=("text", "contamination", "llm", "bloom"),
    bench=True,
)
def contamination_check_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contamination sweep through the BLOOM pre-filter regime
    (operators/text.py::ngram_contamination_bloom): eval grams compress
    to a ~1.2-byte/gram Bloom filter (20-50x smaller than the string
    broadcast), the corpus gram stream is membership-tested by a
    vectorized numpy @pandas_udf, and the rare hits exact-verify
    against the gram set — false positives cost a lookup, never a row,
    so the result (and this oracle) is IDENTICAL to the broadcast and
    shuffle paths. The regime for eval suites too big to broadcast as
    strings but not worth a corpus-wide shuffle."""
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    tr = docs.filter(F.col("doc_id") % 97 != 0)
    return TX.ngram_contamination_bloom(tr, ev, "text", "doc_id", k=4)


@_q(
    "zipf_slope_fit",
    """
    WITH w AS (
        SELECT word, count(*) AS n FROM (
            SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
            FROM documents
        )
        GROUP BY word
    ), top AS (
        SELECT word, n FROM w ORDER BY n DESC, word ASC LIMIT 200
    ), r AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, word ASC) AS rank FROM top
    )
    SELECT round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4) AS zipf_slope,
           round(regr_intercept(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4) AS zipf_intercept,
           round(regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 4) AS fit_r2,
           count(*) AS n_types
    FROM r
    """,
    tags=("text", "agg", "regression", "llm"),
)
def zipf_slope_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus token frequencies: log-frequency
    regressed on log-rank for the top-200 word types (a natural-corpus
    slope sits near -1; a synthetic or degenerate corpus drifts off it
    — a cheap distribution-health probe for training data). The
    vocabulary aggregation combines map-side at distinct-word
    cardinality; ranking happens AFTER the distributed top-k bounds the
    set to 200 rows, so the row_number window is single-partition over
    a constant-size input, never over the vocabulary. regr_slope /
    regr_intercept / regr_r2 are JVM-side declarative aggregates on
    both engines."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(D.normalize_text("text"), " ")).alias("word")
    )
    counts = words.groupBy("word").agg(F.count("*").alias("n"))
    top = R.topk(counts, [F.col("n").desc(), F.col("word").asc()], 200)
    ranked = top.select(
        "n",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), F.col("word").asc()))
        .alias("rank"),
    )
    ln_n = F.log(F.col("n").cast("double"))
    ln_rank = F.log(F.col("rank").cast("double"))
    return ranked.agg(
        F.round(F.regr_slope(ln_n, ln_rank), 4).alias("zipf_slope"),
        F.round(F.regr_intercept(ln_n, ln_rank), 4).alias("zipf_intercept"),
        F.round(F.regr_r2(ln_n, ln_rank), 4).alias("fit_r2"),
        F.count("*").alias("n_types"),
    )


@_q(
    "pca_explained_variance",
    None,  # replaced by a PINNED VALUES oracle (driver hashes it): eigensolve is not SQL-expressible
    tags=("embeddings", "linalg", "pca", "llm"),
)
def pca_explained_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 PCA eigenspectrum of the corpus embeddings (component,
    eigenvalue, variance ratio) — the knob-setting probe for
    embedding-space curation (how many dims carry signal before
    SemDeDup / ANN indexing / drift monitoring run on reduced vectors).
    One distributed pass folds each Arrow batch into O(d^2) exact
    FIXED-POINT Gram partials (operators/linalg.py::gram_partials);
    a DECIMAL(38,0) merge makes the covariance bit-identical under any
    partitioning, so the driver-side eigensolve — and this pinned
    oracle — is deterministic by construction. Nothing row-scale
    touches the driver."""
    from reactionetl_etl_spark.operators import linalg as LA

    emb = _t(spark, sf_dir, "embeddings")
    model = LA.fit_pca(emb, "embedding", dim=64, k=8)
    rows = [
        (i + 1, round(ev, 8), round(ev / model.total_variance, 6))
        for i, ev in enumerate(model.eigenvalues)
    ]
    return spark.createDataFrame(
        rows, "component int, eigenvalue double, var_ratio double"
    )


@_q(
    "pca_doc_projection",
    None,  # replaced by a PINNED VALUES oracle (driver hashes it): eigensolve is not SQL-expressible
    tags=("embeddings", "linalg", "pca", "llm"),
    bench=True,
)
def pca_doc_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every embedding projected onto the top-2 principal components —
    the 2-D map feeding cluster visualization and embedding-drift
    dashboards. Model fit is the exact fixed-point Gram pass (see
    pca_explained_variance); the projection itself is a pure Catalyst
    expression per component (dot fold minus a folded mean constant,
    operators/linalg.py::project_expr) — JVM whole-stage codegen, no
    Python, no shuffle. Output rounded to 6dp; deterministic because
    the model is bit-stable and per-row arithmetic is
    partitioning-independent."""
    from reactionetl_etl_spark.operators import linalg as LA

    emb = _t(spark, sf_dir, "embeddings")
    model = LA.fit_pca(emb, "embedding", dim=64, k=2)
    proj = LA.pca_project(emb.select("vec_id", "label", "embedding"), "embedding", model)
    return proj.select(
        "vec_id",
        "label",
        F.round("pc1", 6).alias("pc1"),
        F.round("pc2", 6).alias("pc2"),
    )


def _quality_labels(docs: DataFrame) -> DataFrame:
    """Gopher-rule keep verdicts as 0/1 training labels (the
    quality_filter_verdicts rule set, distilled)."""
    norm = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    nt = F.size(norm)
    uq = F.size(F.array_distinct(norm)).cast("double") / F.greatest(nt, F.lit(1))
    ml = F.aggregate(norm, F.lit(0.0), lambda a, x: a + F.length(x)) / F.greatest(
        nt, F.lit(1)
    )
    keep = (nt >= 20) & (uq >= 0.3) & (ml >= 3.0) & (ml <= 10.0)
    return docs.select("doc_id", keep.cast("int").alias("y"))


_CLF_MODEL_CACHE: dict[str, dict] = {}


def _quality_classifier_model(spark: SparkSession, sf_dir: str) -> dict:
    """Train-once memo for the two classifier queries: 12 rounds of
    class-balanced full-batch GD on the 80% hash-split train fold.
    Deterministic (decimal gradient folds), so memoization only saves
    time — it cannot change any result.

    GATE-TIME BUDGET KNOB: wall time here is iters x one-aggregate job
    latency (~2 s/round on local[32] at sf0.01 => ~25 s total, paid
    once for both classifier queries). `iters` and `lr` are the levers
    (train_text_classifier defaults: 10 / 4.0; this catalog entry pins
    12 / 8.0). CAVEAT: both queries carry PINNED VALUES oracles frozen
    from THIS configuration — changing either knob changes the model
    bit-for-bit and requires re-pinning via tools/pin_oracle.py, so
    treat (iters=12, lr=8.0) as part of the query contract, not a
    tuning surface."""
    from reactionetl_etl_spark.operators import classifier as C
    from reactionetl_etl_spark.operators.split import split_bucket

    key = sf_dir.rstrip("/")
    if key not in _CLF_MODEL_CACHE:
        docs = _t(spark, sf_dir, "documents")
        train = docs.filter(split_bucket(F.col("doc_id")) % 5 != 0)
        _CLF_MODEL_CACHE[key] = C.train_text_classifier(
            train, _quality_labels(docs), iters=12, lr=8.0
        )
    return _CLF_MODEL_CACHE[key]


@_q(
    "quality_classifier_scores",
    None,  # replaced by a PINNED VALUES oracle (driver hashes it): iterative GD is not SQL-expressible
    tags=("text", "quality", "classifier", "llm"),
)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality classifier, trained IN Spark and scored on
    the HELD-OUT 20% fold: logistic regression over hashed term
    frequencies + doc-stat features, distilling the Gopher rule
    verdicts into a single broadcastable weight table
    (operators/classifier.py). Training is 12 rounds of one
    map-side-combinable aggregate each; every cross-row sum is DECIMAL,
    so the model — and this pinned oracle — is bit-identical under any
    partitioning. Scoring the fold is one broadcast join + doc-keyed
    sum."""
    from reactionetl_etl_spark.operators import classifier as C
    from reactionetl_etl_spark.operators.split import split_bucket

    docs = _t(spark, sf_dir, "documents")
    w = _quality_classifier_model(spark, sf_dir)
    test = docs.filter(split_bucket(F.col("doc_id")) % 5 == 0)
    scored = C.score_text(test, w).join(_quality_labels(docs), on="doc_id")
    return scored.select(
        "doc_id",
        F.col("y").alias("label"),
        F.round("score", 6).alias("score"),
        (F.col("score") >= 0.5).cast("int").alias("pred"),
    )


@_q(
    "quality_classifier_eval",
    None,  # replaced by a PINNED VALUES oracle (driver hashes it): iterative GD is not SQL-expressible
    tags=("text", "quality", "classifier", "llm"),
)
def quality_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out evaluation of the trained quality classifier: per-fold
    true-positive / true-negative rates, balanced accuracy, and mean
    scores per class — the numbers a curation run reads before trusting
    the classifier's keep threshold. Same memoized model as
    quality_classifier_scores (decimal-fold determinism makes the memo
    purely a time saver)."""
    from reactionetl_etl_spark.operators import classifier as C
    from reactionetl_etl_spark.operators.split import split_bucket

    docs = _t(spark, sf_dir, "documents")
    w = _quality_classifier_model(spark, sf_dir)
    fold = F.when(split_bucket(F.col("doc_id")) % 5 == 0, "test").otherwise("train")
    scored = (
        C.score_text(docs, w)
        .join(_quality_labels(docs), on="doc_id")
        .join(docs.select("doc_id", fold.alias("fold")), on="doc_id")
    )
    agg = scored.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.avg(F.when(F.col("y") == 1, (F.col("score") >= 0.5).cast("double"))), 6
        ).alias("tpr"),
        F.round(
            F.avg(F.when(F.col("y") == 0, (F.col("score") < 0.5).cast("double"))), 6
        ).alias("tnr"),
        F.round(F.avg(F.when(F.col("y") == 1, F.col("score"))), 6).alias("mean_pos_score"),
        F.round(F.avg(F.when(F.col("y") == 0, F.col("score"))), 6).alias("mean_neg_score"),
    )
    return agg.select(
        "fold",
        "n",
        "tpr",
        "tnr",
        F.round((F.col("tpr") + F.col("tnr")) / 2.0, 6).alias("balanced_acc"),
        "mean_pos_score",
        "mean_neg_score",
    )


@_q(
    "embedding_outlier_mahalanobis",
    None,  # replaced by a PINNED VALUES oracle (driver hashes it): eigensolve is not SQL-expressible
    tags=("embeddings", "linalg", "pca", "outlier", "llm"),
)
def embedding_outlier_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier sweep: squared Mahalanobis distance in
    the top-16 PCA subspace plus the off-subspace residual energy, top
    20 rows by combined score — the standard curation probe for
    embeddings that are extreme along real corpus directions (bad
    encodes, adversarial inputs) vs off-manifold entirely. Model fit is
    the exact fixed-point Gram pass; both scores are per-row JVM folds
    over literal arrays (operators/linalg.py::mahalanobis_exprs) — so
    the only shuffle is the bounded top-k."""
    from reactionetl_etl_spark.operators import linalg as LA

    emb = _t(spark, sf_dir, "embeddings")
    model = LA.fit_pca(emb, "embedding", dim=64, k=16)
    maha, resid = LA.mahalanobis_exprs("embedding", model)
    scored = emb.select(
        "vec_id",
        "label",
        F.round(maha, 6).alias("maha_sq"),
        F.round(resid, 6).alias("residual"),
        F.round(maha + resid / F.lit(max(model.eigenvalues[-1], 1e-12)), 6).alias(
            "combined"
        ),
    )
    return R.topk(scored, [F.col("combined").desc(), F.col("vec_id").asc()], 20)


@_q(
    "trigram_perplexity_scores",
    """
    WITH toks AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
        FROM documents
    ), uni AS (
        SELECT w, count(*) AS c1 FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
    ), tot AS (
        SELECT sum(c1) AS total FROM uni
    ), bg AS (
        SELECT p[1] AS w1, p[2] AS w2, count(*) AS c2
        FROM toks, UNNEST(list_zip(t[1:len(t)-1], t[2:len(t)])) AS u(p)
        WHERE len(t) >= 2
        GROUP BY 1, 2
    ), tg AS (
        SELECT doc_id, p[1] AS w1, p[2] AS w2, p[3] AS w3
        FROM toks, UNNEST(list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)])) AS u(p)
        WHERE len(t) >= 3
    ), tgc AS (
        SELECT w1, w2, w3, count(*) AS c123 FROM tg GROUP BY 1, 2, 3
    ), model AS (
        SELECT tgc.w1, tgc.w2, tgc.w3,
               ln(0.6 * tgc.c123 / b12.c2
                  + 0.3 * b23.c2 / u2.c1
                  + 0.1 * u3.c1 / tot.total) AS lp
        FROM tgc
        JOIN bg b12 ON tgc.w1 = b12.w1 AND tgc.w2 = b12.w2
        JOIN bg b23 ON tgc.w2 = b23.w1 AND tgc.w3 = b23.w2
        JOIN uni u2 ON tgc.w2 = u2.w
        JOIN uni u3 ON tgc.w3 = u3.w
        CROSS JOIN tot
    )
    SELECT tg.doc_id,
           count(*) AS n_trigrams,
           round(avg(lp), 6) AS mean_logprob,
           round(exp(-avg(lp)), 4) AS perplexity
    FROM tg JOIN model ON tg.w1 = model.w1 AND tg.w2 = model.w2 AND tg.w3 = model.w3
    GROUP BY tg.doc_id
    """,
    tags=("text", "lm", "quality", "llm"),
    bench=True,
)
def trigram_perplexity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filtering, one rung up from
    bigram_logprob_scores: an INTERPOLATED trigram LM (0.6·trigram +
    0.3·bigram + 0.1·unigram MLE terms — Jelinek-Mercer smoothing with
    fixed lambdas) trained on the corpus itself, scoring every doc's
    mean log-prob and perplexity. Count tables are
    vocabulary-bounded, never corpus-bounded; the model assembly joins
    n-gram tables on their keys (map-side-combined counts), and the
    scoring join is keyed on the trigram. Self-scoring keeps every
    term positive, so the inner joins lose nothing; held-out scoring
    would left-join with the lower-order fallbacks only."""
    docs = _t(spark, sf_dir, "documents")
    norm = D.normalize_text("text")
    # tokenize ONCE: five consumers (uni/bi counts, trigram counts,
    # trigram scoring stream) would otherwise each re-scan + re-split
    # the corpus — 6 file scans in the executed plan; the checkpoint
    # collapses them to one materialized (doc_id, tokens) table
    base = docs.select("doc_id", F.split(norm, " ").alias("t")).localCheckpoint(
        eager=True
    )

    uni = (
        base.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    # corpus token total stays IN-PLAN as a broadcast 1-row cross join
    # (same shape as tfidf's doc-count scalar) — collecting it with
    # .first() here ran a full extra aggregation job inside the BUILDER,
    # ~0.4 s of the query's bench time at sf0.1 (PERF_NOTES r9)
    tot = uni.agg(F.sum("c1").alias("total"))

    bg = (
        base.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(slice(t, 1, size(t) - 1),"
                    " (x, i) -> struct(x AS w1, t[i + 1] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
    )

    tg = (
        base.filter(F.size("t") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(t, 1, size(t) - 2),"
                    " (x, i) -> struct(x AS w1, t[i + 1] AS w2, t[i + 2] AS w3))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2", "p.w3")
    )
    tgc = tg.groupBy("w1", "w2", "w3").agg(F.count("*").alias("c123"))

    b12 = bg.select(F.col("w1"), F.col("w2"), F.col("c2").alias("c12"))
    b23 = bg.select(
        F.col("w1").alias("w2"), F.col("w2").alias("w3"), F.col("c2").alias("c23")
    )
    u2 = uni.select(F.col("w").alias("w2"), F.col("c1").alias("cu2"))
    u3 = uni.select(F.col("w").alias("w3"), F.col("c1").alias("cu3"))
    model = (
        tgc.join(b12, ["w1", "w2"])
        .join(b23, ["w2", "w3"])
        .join(u2, "w2")
        .join(u3, "w3")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "w3",
            F.log(
                0.6 * F.col("c123") / F.col("c12")
                + 0.3 * F.col("c23") / F.col("cu2")
                + 0.1 * F.col("cu3") / F.col("total").cast("double")
            ).alias("lp"),
        )
    )
    return (
        tg.join(model, ["w1", "w2", "w3"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_trigrams"),
            F.round(F.avg("lp"), 6).alias("mean_logprob"),
            F.round(F.exp(-F.avg("lp")), 4).alias("perplexity"),
        )
    )


@_q(
    "part_triangle_clustering",
    """
    WITH lp AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), co AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lp a JOIN lp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ), tri AS (
        SELECT ab.pa AS u, ab.pb AS v, bc.pb AS w
        FROM co ab
        JOIN co bc ON bc.pa = ab.pb
        JOIN co ac ON ac.pa = ab.pa AND ac.pb = bc.pb
    ), pern AS (
        SELECT u AS node FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri
    ), tc AS (
        SELECT node, count(*) AS n_triangles FROM pern GROUP BY 1
    ), deg AS (
        SELECT node, count(*) AS degree
        FROM (SELECT pa AS node FROM co UNION ALL SELECT pb FROM co)
        GROUP BY 1
    )
    SELECT d.node AS part, d.degree,
           coalesce(tc.n_triangles, 0) AS n_triangles,
           CASE WHEN d.degree >= 2 THEN
               floor(2.0 * coalesce(tc.n_triangles, 0)
                     / (d.degree * (d.degree - 1)) * 1000000 + 0.5) / 1000000
           ELSE CAST(0.0 AS DOUBLE) END AS clustering6
    FROM deg d LEFT JOIN tc ON tc.node = d.node
    """,
    tags=("graph", "analytics", "triangle"),
    bench=True,  # the graph family's representative (verdict-r7 item 7)
)
def part_triangle_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts + local clustering coefficient per part over
    the co-purchase graph (parts sharing >=2 orders) — the
    community-density probe on the same edge set PageRank ranks.
    Degree-ordered wedge generation (operators/graph.py::
    triangle_counts) keeps the heavy intermediate at O(m^1.5) total
    and immune to hub skew; the DuckDB oracle counts the SAME
    triangles via a canonical three-way edge join (u<v<w), so every
    per-node count is value-pinned cross-engine. Clustering
    coefficient = 2T / (deg*(deg-1)), sixth-decimal floor-rounded
    identically on both sides."""
    from reactionetl_etl_spark.operators.graph import triangle_counts

    # Edge build (r14): the same collect_set + in-row pair explode the
    # co-purchase LP query adopted in r12 — groupBy(l_orderkey) dedups
    # in the aggregate and the basket stays ONE row until the (tiny)
    # pair explode, so the fact is never self-joined: two shuffles
    # instead of three and no join. sort_array makes pa < pb, exactly
    # the canonical pair the old self-join's l_partkey < l_partkey
    # predicate produced — identical edge set, identical counts.
    li = _t(spark, sf_dir, "lineitem")
    sets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.expr(
                    "transform(ps, (x, i) -> transform("
                    "slice(ps, i + 2, size(ps)), y -> struct(x AS pa, y AS pb)))"
                )
            )
        ).alias("p")
    ).select("p.pa", "p.pb")
    co = (
        pairs.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
    )
    counts = triangle_counts(co, src="pa", dst="pb")
    cc6 = F.when(
        F.col("degree") >= 2,
        F.floor(
            2.0
            * F.col("n_triangles")
            / (F.col("degree") * (F.col("degree") - 1))
            * 1_000_000
            + F.lit(0.5)
        )
        / 1_000_000,
    ).otherwise(F.lit(0.0))
    return counts.select(
        F.col("node").alias("part"),
        "degree",
        "n_triangles",
        cc6.alias("clustering6"),
    )


@_q(
    "knn_label_predict",
    """
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe,
               label AS true_label
        FROM embeddings WHERE vec_id % 10 = 0
    ), nn AS (
        SELECT query_id, vec_id, label FROM (
            SELECT q.query_id, e.vec_id, e.label,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(list_cosine_similarity(
                                    CAST(e.embedding AS DOUBLE[]), q.qe), 6) DESC,
                                e.vec_id ASC) AS rn
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> q.query_id
        ) WHERE rn <= 10
    ), votes AS (
        SELECT query_id, label, count(*) AS votes FROM nn GROUP BY 1, 2
    ), pred AS (
        SELECT query_id, label AS pred_label, votes FROM (
            SELECT votes.*,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY votes DESC, label ASC) AS rn
            FROM votes
        ) WHERE rn = 1
    )
    SELECT p.query_id, q.true_label, p.pred_label, p.votes,
           CASE WHEN p.pred_label = q.true_label THEN 1 ELSE 0 END AS correct
    FROM pred p JOIN q ON q.query_id = p.query_id
    """,
    tags=("similarity", "classification", "llm"),
)
def knn_label_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote label prediction: leave-one-out evaluation of
    the embedding space's label consistency — every 10th vector is
    scored against the full corpus (one scan, broadcast query batch,
    WindowGroupLimit top-10), neighbours vote by label, ties broken by
    (votes DESC, label ASC). The label-audit primitive for
    weak-supervision pipelines: a low `correct` rate over a sample
    flags mislabeled or entangled regions before training. Vote
    counting is one groupBy on (query, label) — neighbour lists never
    leave the executors."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"),
        "embedding",
        F.col("label").alias("true_label"),
    )
    nn = S.cosine_topk_batch(
        q.select("query_id", "embedding"), emb, k=10
    )
    votes = (
        nn.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("label").asc()
    )
    pred = (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "votes")
    )
    return pred.join(q.select("query_id", "true_label"), "query_id").select(
        "query_id",
        "true_label",
        "pred_label",
        "votes",
        F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0).alias("correct"),
    )


@_q(
    "supplier_pareto_frontier",
    """
    WITH m AS (
        SELECT l_suppkey AS suppkey,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                   AS revenue,
               floor(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) * 1.0
                     / count(*) * 1000000 + 0.5) / 1000000 AS return_rate6
        FROM lineitem GROUP BY 1
    )
    SELECT m.suppkey, s.s_name, m.revenue, m.return_rate6
    FROM m JOIN supplier s ON s.s_suppkey = m.suppkey
    WHERE NOT EXISTS (
        SELECT 1 FROM m t
        WHERE t.revenue >= m.revenue AND t.return_rate6 <= m.return_rate6
          AND (t.revenue > m.revenue OR t.return_rate6 < m.return_rate6)
    )
    """,
    tags=("analytics", "skyline", "window"),
)
def supplier_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-optimal suppliers on (revenue UP, returned-line rate
    DOWN) — multi-objective selection with no scoring weights, via
    operators/relational.py::skyline_2d (single-sort 2-D skyline;
    running min over strictly-better revenue groups, no self-join).
    The DuckDB oracle is the textbook O(n²) NOT-EXISTS dominance
    check, so the window formulation's survivors are value-pinned
    against the naive definition. Revenue folds in DECIMAL(18,2) on
    both engines (order-independent sums — the r6 incremental-rollup
    lesson) and is cast to double only at output."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    m = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
        .cast("double")
        .alias("revenue"),
        (
            F.floor(
                F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
                * F.lit(1.0)
                / F.count(F.lit(1))
                * 1_000_000
                + F.lit(0.5)
            )
            / 1_000_000
        ).alias("return_rate6"),
    )
    sky = R.skyline_2d(m, maximize="revenue", minimize="return_rate6")
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_name"
    )
    return sky.join(F.broadcast(sup), "suppkey").select(
        "suppkey", "s_name", "revenue", "return_rate6"
    )


@_q(
    "lineitem_correlation_matrix",
    """
    WITH s AS (
        SELECT count(*) AS n,
               sum(CAST(l_quantity      AS DECIMAL(18,2))) AS sq,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS se,
               sum(CAST(l_discount      AS DECIMAL(18,2))) AS sd,
               sum(CAST(l_tax           AS DECIMAL(18,2))) AS st,
               sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sqq,
               sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS see,
               sum(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS sdd,
               sum(CAST(l_tax AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) AS stt,
               sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sqe,
               sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS sqd,
               sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) AS sqt,
               sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS sed,
               sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) AS set_,
               sum(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2))) AS sdt
        FROM lineitem
    ), pairs AS (
        SELECT 'quantity' AS x, 'extendedprice' AS y,
               CAST(sq AS DOUBLE) AS sx, CAST(se AS DOUBLE) AS sy,
               CAST(sqq AS DOUBLE) AS sxx, CAST(see AS DOUBLE) AS syy,
               CAST(sqe AS DOUBLE) AS sxy, n FROM s
        UNION ALL
        SELECT 'quantity', 'discount',
               CAST(sq AS DOUBLE), CAST(sd AS DOUBLE),
               CAST(sqq AS DOUBLE), CAST(sdd AS DOUBLE),
               CAST(sqd AS DOUBLE), n FROM s
        UNION ALL
        SELECT 'quantity', 'tax',
               CAST(sq AS DOUBLE), CAST(st AS DOUBLE),
               CAST(sqq AS DOUBLE), CAST(stt AS DOUBLE),
               CAST(sqt AS DOUBLE), n FROM s
        UNION ALL
        SELECT 'extendedprice', 'discount',
               CAST(se AS DOUBLE), CAST(sd AS DOUBLE),
               CAST(see AS DOUBLE), CAST(sdd AS DOUBLE),
               CAST(sed AS DOUBLE), n FROM s
        UNION ALL
        SELECT 'extendedprice', 'tax',
               CAST(se AS DOUBLE), CAST(st AS DOUBLE),
               CAST(see AS DOUBLE), CAST(stt AS DOUBLE),
               CAST(set_ AS DOUBLE), n FROM s
        UNION ALL
        SELECT 'discount', 'tax',
               CAST(sd AS DOUBLE), CAST(st AS DOUBLE),
               CAST(sdd AS DOUBLE), CAST(stt AS DOUBLE),
               CAST(sdt AS DOUBLE), n FROM s
    )
    SELECT x, y,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 9)
               AS pearson_r
    FROM pairs
    """,
    tags=("stats", "analytics"),
)
def lineitem_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation across the four lineitem measures
    in ONE aggregation pass (15 algebraic power sums -> 6 pairs), not
    6 corr() passes. Every power sum folds in DECIMAL (products of
    DECIMAL(18,2) are exact, decimal addition is order-independent),
    so both engines reduce to IDENTICAL scalars and the final
    double-precision correlation arithmetic is bit-deterministic —
    corr() over doubles would drift in the low bits with partition
    order. The matrix assembly is a driver-free unpivot of one row."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    cols = {
        "quantity": dec("l_quantity"),
        "extendedprice": dec("l_extendedprice"),
        "discount": dec("l_discount"),
        "tax": dec("l_tax"),
    }
    names = list(cols)
    aggs = [F.count(F.lit(1)).alias("n")]
    for nm in names:
        aggs.append(F.sum(cols[nm]).alias(f"s_{nm}"))
        aggs.append(F.sum(cols[nm] * cols[nm]).alias(f"s_{nm}_{nm}"))
    for i, xn in enumerate(names):
        for yn in names[i + 1 :]:
            aggs.append(F.sum(cols[xn] * cols[yn]).alias(f"s_{xn}_{yn}"))
    s = li.agg(*aggs)

    pair_structs = []
    for i, xn in enumerate(names):
        for yn in names[i + 1 :]:
            pair_structs.append(
                F.struct(
                    F.lit(xn).alias("x"),
                    F.lit(yn).alias("y"),
                    F.col(f"s_{xn}").cast("double").alias("sx"),
                    F.col(f"s_{yn}").cast("double").alias("sy"),
                    F.col(f"s_{xn}_{xn}").cast("double").alias("sxx"),
                    F.col(f"s_{yn}_{yn}").cast("double").alias("syy"),
                    F.col(f"s_{xn}_{yn}").cast("double").alias("sxy"),
                    F.col("n").alias("n"),
                )
            )
    pairs = s.select(F.explode(F.array(*pair_structs)).alias("p")).select("p.*")
    r = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return pairs.select("x", "y", F.round(r, 9).alias("pearson_r"))


@_q(
    "rm3_expanded_search",
    """
    WITH tok AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), dl AS (
        SELECT doc_id, len(toks) AS dl FROM tok
    ), t AS (
        SELECT doc_id, unnest(toks) AS term FROM tok
    ), stats AS (
        SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
    ), hits1 AS (
        SELECT doc_id, term, count(*) AS tf FROM t
        WHERE term IN ('spark', 'merge', 'window') GROUP BY 1, 2
    ), dft1 AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM hits1 GROUP BY 1
    ), base AS (
        SELECT doc_id,
               floor(sum(
                   ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                   * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
               ) * 1000000 + 0.5) / 1000000 AS bm25
        FROM hits1 JOIN dft1 USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        GROUP BY doc_id
    ), fb AS (
        SELECT doc_id, bm25 FROM base ORDER BY bm25 DESC, doc_id LIMIT 10
    ), ws AS (
        SELECT sum(bm25) AS ws FROM fb
    ), w AS (
        SELECT doc_id, floor(bm25 / ws * 1000000 + 0.5) / 1000000 AS w
        FROM fb CROSS JOIN ws
    ), fbtf AS (
        SELECT t.doc_id, t.term, count(*) AS tf
        FROM t JOIN w ON w.doc_id = t.doc_id GROUP BY 1, 2
    ), prm AS (
        SELECT term,
               floor(sum(w.w * fbtf.tf * 1.0 / dl.dl) * 1000000 + 0.5) / 1000000
                   AS p_rm
        FROM fbtf JOIN w ON w.doc_id = fbtf.doc_id
                JOIN dl ON dl.doc_id = fbtf.doc_id
        GROUP BY 1
    ), orig AS (
        SELECT unnest(['merge', 'spark', 'window']) AS term,
               floor(1.0 / 3 * 1000000 + 0.5) / 1000000 AS p_orig
    ), comb AS (
        SELECT coalesce(prm.term, orig.term) AS term,
               floor((0.5 * coalesce(p_rm, 0) + 0.5 * coalesce(p_orig, 0))
                     * 1000000 + 0.5) / 1000000 AS wq
        FROM prm FULL JOIN orig ON prm.term = orig.term
    ), expt AS (
        SELECT term, wq FROM comb ORDER BY wq DESC, term ASC LIMIT 10
    ), hits2 AS (
        SELECT doc_id, term, count(*) AS tf FROM t
        WHERE term IN (SELECT term FROM expt) GROUP BY 1, 2
    ), dft2 AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM hits2 GROUP BY 1
    )
    SELECT doc_id,
           floor(sum(
               wq * ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
           ) * 1000000 + 0.5) / 1000000 AS rm3_score,
           count(*) AS n_hit_terms
    FROM hits2 JOIN expt USING (term) JOIN dft2 USING (term)
               JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY rm3_score DESC, doc_id LIMIT 10
    """,
    tags=("text", "retrieval", "llm"),
)
def rm3_expanded_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3 pseudo-relevance-feedback search
    (operators/retrieval.py::rm3_expand_topk): BM25 top-10 as
    pseudo-relevant set -> score-weighted relevance model over their
    vocabulary -> 0.5/0.5 interpolation with the uniform original
    query -> top-10 weighted terms re-score the corpus. The oracle
    replays every stage in SQL with the same floor-6 rounding at each
    decision point, pinning feedback set, expansion vocabulary, and
    final ranking cross-engine."""
    from reactionetl_etl_spark.operators.retrieval import rm3_expand_topk

    docs = _t(spark, sf_dir, "documents")
    return rm3_expand_topk(
        docs, ["spark", "merge", "window"], k=10, fb_docs=10, fb_terms=10
    )


@_q(
    "jaccard_prefix_join_pairs",
    """
    WITH toks AS (
        SELECT doc_id AS id,
               unnest(list_distinct(string_split(
                   trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))) AS token
        FROM documents
    ), freq AS (
        SELECT token, count(*) AS df FROM toks GROUP BY 1
    ), ordered AS (
        SELECT id, list(token ORDER BY df, token) AS toks, count(*) AS len
        FROM toks JOIN freq USING (token) GROUP BY id
    ), pref AS (
        SELECT id, len,
               unnest(toks[1 : len - CAST(ceil(0.8 * len) AS INT) + 1]) AS token
        FROM ordered
    ), cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM pref a JOIN pref b
          ON a.token = b.token AND a.id < b.id
         AND b.len * 0.8 <= a.len AND a.len * 0.8 <= b.len
    ), verified AS (
        SELECT id_a, id_b,
               len(list_filter(ta.toks, t -> list_contains(tb.toks, t))) AS inter,
               ta.len AS la, tb.len AS lb
        FROM cand
        JOIN ordered ta ON ta.id = cand.id_a
        JOIN ordered tb ON tb.id = cand.id_b
    )
    SELECT id_a, id_b,
           floor(inter * 1.0 / (la + lb - inter) * 10000 + 0.5) / 10000 AS jaccard4
    FROM verified
    WHERE inter * 1.0 / (la + lb - inter) >= 0.8
    """,
    tags=("dedup", "text", "llm"),
)
def jaccard_prefix_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs Jaccard >= 0.8 via frequency-ordered prefix
    filtering (operators/dedup.py::jaccard_prefix_join, PPJoin
    family) — the no-false-negative counterpart to MinHash LSH: every
    qualifying pair is guaranteed found, candidates restricted to
    docs sharing a RARE-token prefix. The oracle replays the same
    ordering, prefix slice, length filter, and exact verification in
    DuckDB list algebra."""
    docs = _t(spark, sf_dir, "documents")
    return D.jaccard_prefix_join(docs, tau=0.8)


@_q(
    "nation_revenue_trend",
    """
    WITH monthly AS (
        SELECT n_name,
               (year(o_orderdate) - 1995) * 12 + (month(o_orderdate) - 1) AS t,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
        FROM orders
        JOIN customer ON c_custkey = o_custkey
        JOIN nation ON n_nationkey = c_nationkey
        GROUP BY 1, 2
    ), sums AS (
        SELECT n_name,
               count(*) AS n_months,
               sum(t) AS st,
               CAST(sum(rev) AS DECIMAL(28,2)) AS sy,
               sum(t * t) AS stt,
               CAST(sum(t * rev) AS DECIMAL(28,2)) AS sty
        FROM monthly GROUP BY 1
    ), fit AS (
        SELECT n_name, n_months,
               round(CAST(CAST(n_months AS DECIMAL(4,0)) * sty
                          - CAST(st AS DECIMAL(6,0)) * sy AS DOUBLE)
                     / CAST(nullif(n_months * stt - st * st, 0) AS DOUBLE), 4)
                   AS slope4,
               CAST(sy AS DOUBLE) AS sy_d, CAST(st AS DOUBLE) AS st_d
        FROM sums
    )
    SELECT n_name, n_months, slope4,
           round((sy_d - slope4 * st_d) / n_months, 2) AS intercept2
    FROM fit
    """,
    tags=("stats", "timeseries", "analytics"),
)
def nation_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue trend: OLS slope/intercept of monthly order
    revenue against a month index, GROUPED — one fact pass builds the
    (nation, month) rollup, then per-nation moment sums. Every moment
    folds exactly: the month index is integer (denominator arithmetic
    stays in int64), revenue folds in DECIMAL, so both engines reduce
    to identical scalars and the closed-form slope is ONE double
    division — no regr_slope() double-accumulation drift. The
    window/agg work after the first rollup touches nation-count-sized
    data only."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    t = (F.year("o_orderdate") - 1995) * 12 + (F.month("o_orderdate") - 1)
    monthly = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", t.alias("t"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("rev")
        )
    )
    sums = monthly.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.sum("t").alias("st"),
        F.sum("rev").cast("decimal(28,2)").alias("sy"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("t") * F.col("rev")).cast("decimal(28,2)").alias("sty"),
    )
    num = (
        F.col("n_months").cast("decimal(4,0)") * F.col("sty")
        - F.col("st").cast("decimal(6,0)") * F.col("sy")
    ).cast("double")
    den = F.nullif(
        F.col("n_months") * F.col("stt") - F.col("st") * F.col("st"), F.lit(0)
    ).cast("double")
    fit = sums.select(
        "n_name",
        "n_months",
        F.round(num / den, 4).alias("slope4"),
        F.col("sy").cast("double").alias("sy_d"),
        F.col("st").cast("double").alias("st_d"),
    )
    return fit.select(
        "n_name",
        "n_months",
        "slope4",
        F.round(
            (F.col("sy_d") - F.col("slope4") * F.col("st_d")) / F.col("n_months"), 2
        ).alias("intercept2"),
    )


@_q(
    "events_cusum_alarms",
    """
    WITH v AS (
        SELECT user_id, ts, event_id,
               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vm,
               count(*) OVER (PARTITION BY user_id) AS n,
               sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                   OVER (PARTITION BY user_id) AS sm
        FROM events
    ), p AS (
        SELECT user_id, ts, event_id, n,
               sum(n * vm - sm - n * 5000000) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS psum
        FROM v
    ), s AS (
        SELECT user_id, n,
               psum - least(CAST(0 AS BIGINT), min(psum) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cus
        FROM p
    )
    SELECT user_id,
           CAST(sum(CASE WHEN cus > 400000000 * n THEN 1 ELSE 0 END) AS BIGINT)
               AS n_alarms,
           floor(max(cus) * 1.0 / n + 0.5) / 1000000 AS max_cusum6,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, n
    """,
    tags=("events", "anomaly", "timeseries", "window"),
)
def events_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detection per user (Page's test): S_t =
    max(0, S_{t-1} + x_t - mu - slack), alarms where S_t crosses h
    (slack=5, h=400). The recurrence LOOKS stateful, but folds exactly
    into two window passes via S_t = P_t - min(0, running-min of P)
    with P the prefix sum of deviations — whole-stage codegen, no
    applyInPandas.

    Exactness: the whole computation is INTEGER. Deviations are
    multiplied through by each user's row count n (d' = n·x - Σx -
    n·slack, in micro-units), so prefix sums, running minima, the
    threshold comparison (S' > h·n), and the max all fold in int64 —
    immune to the engines' different windowed-sum accumulation ORDERS
    (DuckDB runs segment-tree partial sums, Spark sequential: the
    float version of this query drifted one ulp at sf0.1 and
    round(...,6) landed on opposite sides). Output rounding is the
    floor(x+0.5) convention on max(cus)/n — one exact-int division —
    because round() itself differs cross-engine at half-ulp
    boundaries (the r7 sf0.1 gate caught exactly that)."""
    from reactionetl_etl_spark.operators.experiment import micro_units

    ev = load_events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    vm = micro_units("value")
    wp = Window.partitionBy("user_id")
    wo = wp.orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, 0)
    v = ev.select(
        "user_id",
        "ts",
        "event_id",
        vm.alias("vm"),
        F.count(F.lit(1)).over(wp).alias("n"),
    ).withColumn("sm", F.sum("vm").over(wp))
    d = F.col("n") * F.col("vm") - F.col("sm") - F.col("n") * F.lit(5_000_000)
    p = v.select(
        "user_id", "ts", "event_id", "n", F.sum(d).over(wo).alias("psum")
    )
    cus = F.col("psum") - F.least(F.lit(0).cast("long"), F.min("psum").over(wo))
    s = p.select("user_id", "n", cus.alias("cus"))
    return s.groupBy("user_id", "n").agg(
        F.sum(
            F.when(F.col("cus") > F.lit(400_000_000) * F.col("n"), 1).otherwise(0)
        ).alias("n_alarms"),
        (
            F.floor(F.max("cus") * F.lit(1.0) / F.col("n") + F.lit(0.5)) / 1_000_000
        ).alias("max_cusum6"),
        F.count(F.lit(1)).alias("n_events"),
    ).drop("n")


@_q(
    "orders_benford_deviation",
    """
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                           1, 1) AS INT) AS digit
        FROM orders WHERE o_totalprice >= 1
    ), counts AS (
        SELECT digit, count(*) AS n FROM digits GROUP BY 1
    ), tot AS (
        SELECT sum(n) AS total FROM counts
    ), expected AS (
        SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS digit,
               unnest([0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
                       0.066947, 0.057992, 0.051153, 0.045757]) AS exp_share6
    )
    SELECT e.digit,
           coalesce(c.n, 0) AS n,
           floor(coalesce(c.n, 0) * 1.0 / t.total * 1000000 + 0.5) / 1000000
               AS obs_share6,
           e.exp_share6,
           round(floor(coalesce(c.n, 0) * 1.0 / t.total * 1000000 + 0.5) / 1000000
                 - e.exp_share6, 6) AS excess6
    FROM expected e LEFT JOIN counts c ON c.digit = e.digit CROSS JOIN tot t
    """,
    tags=("quality", "stats", "validation"),
)
def orders_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: observed vs expected
    leading-digit shares — the classic fabricated-data / unit-mixing
    tripwire for ingested numeric columns. The leading digit comes
    from integer string extraction (floor -> bigint -> first char),
    never log10 (libm log implementations differ across engines in the
    last bit; integer formatting cannot). Expected shares are pinned
    6-decimal literals on both sides. One map-side-combined count by
    digit; everything after is 9 rows."""
    orders = _t(spark, sf_dir, "orders")
    benford = [
        (1, 0.301030), (2, 0.176091), (3, 0.124939), (4, 0.096910),
        (5, 0.079181), (6, 0.066947), (7, 0.057992), (8, 0.051153),
        (9, 0.045757),
    ]
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = (
        orders.filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.agg(F.sum("n").alias("total"))
    expected = spark.createDataFrame(benford, "digit int, exp_share6 double")
    obs = F.floor(
        F.coalesce("n", F.lit(0)) * F.lit(1.0) / F.col("total") * 1_000_000
        + F.lit(0.5)
    ) / 1_000_000
    return (
        expected.join(counts, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n", F.lit(0).cast("long")).alias("n"),
            obs.alias("obs_share6"),
            "exp_share6",
            F.round(obs - F.col("exp_share6"), 6).alias("excess6"),
        )
    )


@_q(
    "incremental_join_materialize",
    """
    SELECT o_orderkey, o_custkey AS custkey, o_totalprice, o_orderpriority,
           c_name, c_mktsegment
    FROM orders JOIN customer ON c_custkey = o_custkey
    """,
    tags=("etl", "incremental", "join"),
)
def incremental_join_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally materialized fact ⋈ dim (etl/incremental_join.py):
    orders arrive as three date-sliced batches and customers as two
    key-range batches, INTERLEAVED (c0, o0, o1, c1, o2); each merge
    applies the delta rule ΔM = ΔL⋈R ∪ L⋈ΔR ∪ ΔL⋈ΔR and appends one
    batch partition. The final stored table is value-checked against
    DuckDB's one-shot join of everything — proving the fold is exact
    whatever order the sides grow in, at per-batch cost ∝ delta."""
    import shutil as _shutil
    import tempfile as _tempfile

    from reactionetl_etl_spark.etl.incremental_join import (
        merge_join_state,
        read_join_view,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("custkey"),
        "o_totalprice",
        "o_orderpriority",
        "o_orderdate",
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_name", "c_mktsegment"
    )
    o_batches = [
        orders.filter(F.col("o_orderdate") < "1997-01-01"),
        orders.filter(
            (F.col("o_orderdate") >= "1997-01-01")
            & (F.col("o_orderdate") < "1999-06-15")
        ),
        orders.filter(F.col("o_orderdate") >= "1999-06-15"),
    ]
    o_batches = [b.drop("o_orderdate") for b in o_batches]
    split_key = 750
    c_batches = [
        cust.filter(F.col("custkey") < split_key),
        cust.filter(F.col("custkey") >= split_key),
    ]
    work = _tempfile.mkdtemp(prefix="inc_join_")
    try:
        state = f"{work}/state"
        merge_join_state(spark, state, "custkey", "c0", delta_right=c_batches[0])
        merge_join_state(spark, state, "custkey", "o0", delta_left=o_batches[0])
        merge_join_state(spark, state, "custkey", "o1", delta_left=o_batches[1])
        merge_join_state(spark, state, "custkey", "c1", delta_right=c_batches[1])
        merge_join_state(spark, state, "custkey", "o2", delta_left=o_batches[2])
        out = read_join_view(spark, state).select(
            "o_orderkey", "custkey", "o_totalprice", "o_orderpriority",
            "c_name", "c_mktsegment",
        )
        # the state dir dies with the builder: detach from the files
        rows = out.localCheckpoint(eager=True)
        return rows
    finally:
        _shutil.rmtree(work, ignore_errors=True)


@_q(
    "personalized_pagerank_parts",
    """
    WITH RECURSIVE lp AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), co AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lp a JOIN lp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ), e AS (
        SELECT pa AS s, pb AS d FROM co UNION SELECT pb, pa FROM co
    ), nodes AS (
        SELECT DISTINCT s AS node FROM e
    ), seeds AS (
        SELECT node FROM nodes ORDER BY node LIMIT 3
    ), ns AS (
        SELECT count(*) AS s FROM seeds
    ), deg AS (
        SELECT s, count(*) AS deg FROM e GROUP BY 1
    ), pr AS (
        SELECT node,
               CASE WHEN node IN (SELECT node FROM seeds)
                    THEN CAST(1.0 / (SELECT s FROM ns) AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END AS rank,
               0 AS it
        FROM nodes
        UNION ALL
        SELECT node, rank, it FROM (
            SELECT n.node,
                   CASE WHEN n.node IN (SELECT node FROM seeds)
                        THEN (1 - 0.85) / (SELECT s FROM ns)
                        ELSE 0.0 END
                       + 0.85 * coalesce(s.inflow, 0) AS rank,
                   max(s.it1) OVER () AS it
            FROM nodes n LEFT JOIN (
                SELECT e.d AS node, sum(p.rank / dg.deg) AS inflow,
                       max(p.it) + 1 AS it1
                FROM pr p JOIN e ON e.s = p.node JOIN deg dg ON dg.s = p.node
                GROUP BY e.d
            ) s ON s.node = n.node
        ) WHERE it <= 10
    )
    SELECT node AS part, floor(rank * 1000000 + 0.5) / 1000000 AS rank6
    FROM pr WHERE it = 10
    ORDER BY rank6 DESC, part LIMIT 20
    """,
    tags=("graph", "iterative", "analytics"),
)
def personalized_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank: teleport mass lands only on a seed set
    (the 3 smallest part ids in the co-purchase graph — deterministic),
    so ranks measure proximity to the seeds — the "more parts like this
    basket" primitive, vs the global centrality its sibling
    `part_copurchase_pagerank` computes. Same per-iteration shape (one
    edge-keyed shuffle), seed flag is one broadcast join; oracled
    against a DuckDB RECURSIVE CTE running the identical seeded
    recurrence."""
    from reactionetl_etl_spark.operators.graph import pagerank

    lp = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = lp.alias("a"), lp.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
    )
    nodes = (
        co.select(F.col("pa").alias("node"))
        .unionByName(co.select(F.col("pb").alias("node")))
        .distinct()
    )
    seeds = nodes.orderBy("node").limit(3)
    ranks = pagerank(co, src="pa", dst="pb", damping=0.85, n_iter=10, seeds=seeds)
    r6 = F.floor(F.col("rank") * 1_000_000 + F.lit(0.5)) / 1_000_000
    return (
        ranks.select(F.col("node").alias("part"), r6.alias("rank6"))
        .orderBy(F.col("rank6").desc(), "part")
        .limit(20)
    )


@_q(
    "part_neighbor_jaccard",
    """
    WITH lp AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), co AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lp a JOIN lp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ), e AS (
        SELECT pa AS u, pb AS v FROM co UNION SELECT pb, pa FROM co
    ), deg AS (
        SELECT u, count(*) AS deg FROM e GROUP BY 1
    ), common AS (
        SELECT x.u AS a, y.u AS b, count(*) AS c
        FROM e x JOIN e y ON x.v = y.v AND x.u < y.u
        GROUP BY 1, 2
    )
    SELECT a, b, c AS common_neighbors,
           floor(c * 1.0 / (da.deg + db.deg - c) * 1000000 + 0.5) / 1000000
               AS jaccard6
    FROM common
    JOIN deg da ON da.u = a
    JOIN deg db ON db.u = b
    ORDER BY jaccard6 DESC, a, b LIMIT 20
    """,
    tags=("graph", "similarity", "analytics"),
)
def part_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering primitive: neighborhood
    Jaccard over the co-purchase graph — two parts are similar when
    their co-purchase NEIGHBOR SETS overlap, even if they never share
    an order themselves. Common-neighbor counts come from one
    adjacency self-join keyed on the shared neighbor (a hub neighbor
    genuinely relates its deg² pairs — the fan-out IS the metric);
    degrees broadcast back; top-20 with full tie-breaks."""
    lp = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = lp.alias("a"), lp.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
    )
    # checkpoint: the symmetric adjacency feeds degree + both join
    # sides; unchecked, the lineitem self-join behind `co` replays per
    # consumer (the triangle_counts lesson)
    e = (
        co.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionByName(
            co.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
        ).distinct()
    ).localCheckpoint(eager=True)
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    x = e.select(F.col("u").alias("a"), F.col("v").alias("w"))
    y = e.select(F.col("u").alias("b"), F.col("v").alias("w"))
    common = (
        x.join(y, ["w"])
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    da = deg.select(F.col("u").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("u").alias("b"), F.col("deg").alias("db"))
    jac = F.floor(
        F.col("c") * F.lit(1.0) / (F.col("da") + F.col("db") - F.col("c")) * 1_000_000
        + F.lit(0.5)
    ) / 1_000_000
    return (
        common.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select("a", "b", F.col("c").alias("common_neighbors"), jac.alias("jaccard6"))
        .orderBy(F.col("jaccard6").desc(), "a", "b")
        .limit(20)
    )


@_q(
    "copurchase_assortativity",
    """
    WITH lp AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), co AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lp a JOIN lp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ), e AS (
        SELECT pa AS u, pb AS v FROM co UNION SELECT pb, pa FROM co
    ), deg AS (
        SELECT u, count(*) AS deg FROM e GROUP BY 1
    ), de AS (
        SELECT du.deg AS x, dv.deg AS y
        FROM e JOIN deg du ON du.u = e.u JOIN deg dv ON dv.u = e.v
    ), s AS (
        SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        FROM de
    )
    SELECT n AS n_directed_edges,
           round((n * sxy - sx * sy) * 1.0
                 / sqrt((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy)), 9)
               AS assortativity
    FROM s
    """,
    tags=("graph", "stats", "analytics"),
)
def copurchase_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph (Newman's r):
    Pearson correlation of endpoint degrees over the symmetrized edge
    list — do popular parts co-purchase with popular parts? Every
    moment sum is INTEGER (degrees are counts), so both engines reduce
    to identical exact scalars and the final correlation is one
    deterministic double expression — the same exact-moments
    discipline as `lineitem_correlation_matrix`, with zero decimals
    needed."""
    lp = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = lp.alias("a"), lp.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
    )
    # checkpoint: the symmetric adjacency feeds degree + both join
    # sides; unchecked, the lineitem self-join behind `co` replays per
    # consumer (the triangle_counts lesson)
    e = (
        co.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionByName(
            co.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
        ).distinct()
    ).localCheckpoint(eager=True)
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    de = (
        e.join(F.broadcast(deg.select(F.col("u"), F.col("deg").alias("x"))), "u")
        .join(
            F.broadcast(
                deg.select(F.col("u").alias("v"), F.col("deg").alias("y"))
            ),
            "v",
        )
        .select("x", "y")
    )
    s = de.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    r = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        * F.lit(1.0)
        / F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * F.lit(1.0)
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        )
    )
    return s.select(
        F.col("n").alias("n_directed_edges"), F.round(r, 9).alias("assortativity")
    )


@_q(
    "events_trimmed_mean_udaf",
    """
    WITH q AS (
        SELECT event_type,
               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS micro
        FROM events WHERE value IS NOT NULL
    ), ranked AS (
        SELECT event_type, micro,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY micro) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM q
    ), kept AS (
        SELECT event_type, micro, n,
               CAST(floor(0.1 * n) AS BIGINT) AS k
        FROM ranked
        WHERE rn > floor(0.1 * n) AND rn <= n - floor(0.1 * n)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_kept,
           sum(micro) * 1.0 / 1000000 / count(*) AS trimmed_mean
    FROM kept GROUP BY event_type
    """,
    tags=("events", "udf", "agg", "robust"),
)
def events_trimmed_mean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF surface (§2.12): a GROUPED_AGG pandas UDF computing
    the 10%-trimmed mean of event values per type — the holistic
    robust aggregate (trimming needs the whole group; partials don't
    apply, same class as exact medians). One shuffle on the group key,
    each group crosses to Python as a single Arrow batch. Internally
    integer-micro-unit exact, so DuckDB's window formulation of the
    SAME trim (sort, drop floor(0.1·n) per tail, integer sum, one
    division) hash-matches. n_kept comes from an ordinary JVM count —
    only the holistic part pays the Python toll."""
    from reactionetl_etl_spark.functions.pandas_fns import trimmed_mean_micro6

    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    # Spark refuses to mix a GROUPED_AGG pandas UDF with JVM aggregates
    # in one agg() — the plain count rides a separate (group-key-sized)
    # aggregation joined back, so only the holistic part pays Python
    trim_k = F.floor(0.1 * F.count(F.lit(1))).cast("long")
    n_kept = ev.groupBy("event_type").agg(
        (F.count(F.lit(1)) - 2 * trim_k).alias("n_kept")
    )
    tm = ev.groupBy("event_type").agg(
        trimmed_mean_micro6("value").alias("trimmed_mean")
    )
    return n_kept.join(tm, "event_type").select(
        "event_type", "n_kept", "trimmed_mean"
    )


@_q(
    "asof_cogroup_pandas",
    """
    SELECT c.event_id,
           c.user_id,
           round(p.value, 2) AS purchase_value,
           CAST(p.ts AS VARCHAR) AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    tags=("join", "asof", "events", "udf"),
)
def asof_cogroup_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COGROUPED-map surface (§2.12): the as-of join re-expressed
    as `cogroup(...).applyInPandas` running one pandas merge_asof per
    user — API twin of the JVM union+carry-forward `asof_join`, proved
    equivalent by sharing `asof_click_to_purchase`'s DuckDB ASOF-JOIN
    oracle verbatim. One key-shuffle per side (the same
    co-partitioning a join pays), then Arrow both ways."""
    from reactionetl_etl_spark.operators.asof import asof_join_cogroup

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_ntz"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts_ntz",
        F.round("value", 2).alias("purchase_value"),
        F.col("ts_ntz").cast("string").alias("purchase_ts"),
    )
    joined = asof_join_cogroup(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts_ntz",
        right_ts="ts_ntz",
        payload_cols=["purchase_value", "purchase_ts"],
    )
    return joined.select("event_id", "user_id", "purchase_value", "purchase_ts")


@_q(
    "tfidf_cosine_pairs",
    """
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok
        WHERE length(term) >= 3 GROUP BY doc_id, term
    ), df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    sparse AS (
        SELECT doc_id, term,
               CAST(floor(tf.tf * n.n_docs / df.df * 1000 + 0.5) AS BIGINT) AS w
        FROM tf JOIN df USING (term) CROSS JOIN n
        QUALIFY row_number() OVER (
            PARTITION BY doc_id ORDER BY tf.tf * n.n_docs / df.df DESC, term ASC
        ) <= 5
    ), nrm AS (
        SELECT doc_id, sum(w * w) AS n2 FROM sparse GROUP BY doc_id
    ), dots AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               sum(a.w * b.w) AS dot, count(*) AS shared_terms
        FROM sparse a JOIN sparse b
          ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, shared_terms,
           floor(dot / (sqrt(na.n2) * sqrt(nb.n2)) * 1000000 + 0.5) / 1000000
               AS cosine6
    FROM dots JOIN nrm na ON na.doc_id = id_a JOIN nrm nb ON nb.doc_id = id_b
    ORDER BY cosine6 DESC, id_a, id_b LIMIT 20
    """,
    tags=("text", "tfidf", "similarity", "llm"),
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse LEXICAL doc-doc similarity: TF-IDF vectors sparsified to
    each doc's top-5 terms, then cosine via a term-keyed sparse dot
    product — the no-embeddings similarity path (and the classic
    sparse-vector join shape: work ∝ Σ per-term posting², bounded by
    the sparsification). Weights quantize to integer MILLI-units
    before any sum, so norms and dot products fold exactly in int64
    whatever the partition order; idf stays the engine's rational
    (tf·N/df) convention — no logarithms, no libm divergence. Top-20
    pairs, full tie-breaks."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
        ).alias("term"),
    ).filter(F.length("term") >= 3)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfr = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    rat = F.col("tf") * F.col("n_docs") / F.col("df")
    w = F.floor(rat * 1000 + F.lit(0.5)).cast("long")
    wnd = Window.partitionBy("doc_id").orderBy(rat.desc(), F.col("term").asc())
    # materialize ONCE: four consumers (both join sides + two norm
    # lookups) would each replay the tokenize + tf + top-5 pipeline —
    # 4 corpus scans; the checkpoint collapses them to one
    sparse = (
        tf.join(F.broadcast(dfr), "term")
        .crossJoin(F.broadcast(n))
        .withColumn("__rn", F.row_number().over(wnd))
        .filter(F.col("__rn") <= 5)
        .select("doc_id", "term", w.alias("w"))
    ).localCheckpoint(eager=True)
    nrm = sparse.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    a = sparse.select(F.col("doc_id").alias("id_a"), "term", F.col("w").alias("wa"))
    b = sparse.select(F.col("doc_id").alias("id_b"), "term", F.col("w").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(F.col("wa") * F.col("wb")).alias("dot"),
            F.count(F.lit(1)).alias("shared_terms"),
        )
    )
    na = nrm.select(F.col("doc_id").alias("id_a"), F.col("n2").alias("na2"))
    nb = nrm.select(F.col("doc_id").alias("id_b"), F.col("n2").alias("nb2"))
    cos6 = (
        F.floor(
            F.col("dot") / (F.sqrt("na2") * F.sqrt("nb2")) * 1_000_000 + F.lit(0.5)
        )
        / 1_000_000
    )
    return (
        dots.join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .select("id_a", "id_b", "shared_terms", cos6.alias("cosine6"))
        .orderBy(F.col("cosine6").desc(), "id_a", "id_b")
        .limit(20)
    )


@_q(
    "doc_compression_by_source",
    None,  # pinned VALUES oracle (plans/pinned.py) — zlib is not ANSI SQL
    tags=("text", "quality", "llm"),
)
def doc_compression_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal, profiled per (lang, source):
    deflate(text)/raw bytes — repetitive boilerplate compresses far
    below natural text, noise barely compresses (the Gopher/RefinedWeb
    compressibility filter family). The zlib length crosses to Python
    as one Arrow-vectorized scalar UDF; every derived number is
    INTEGER arithmetic (byte counts, floor-scaled ratios, exact sums)
    plus one division, so the output pins as a VALUES contract.
    Group aggregate keeps the answer O(langs × sources)."""
    from reactionetl_etl_spark.functions.pandas_fns import zlib_len

    docs = _t(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        "source",
        F.octet_length("text").alias("raw"),
        zlib_len("text").alias("comp"),
    ).withColumn(
        "ratio6",
        F.floor(F.col("comp") * F.lit(1_000_000).cast("long") / F.col("raw"))
        / 1_000_000,
    )
    return per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("raw").alias("raw_bytes"),
        F.sum("comp").alias("compressed_bytes"),
        (
            F.floor(
                F.sum("comp") * F.lit(1_000_000).cast("long") / F.sum("raw")
            )
            / 1_000_000
        ).alias("avg_ratio6"),
        F.min("ratio6").alias("min_ratio6"),
        F.max("ratio6").alias("max_ratio6"),
    )


@_q(
    "customer_spend_balance_spearman",
    """
    WITH spend AS (
        SELECT o_custkey AS custkey,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT c.c_custkey AS custkey,
               row_number() OVER (ORDER BY spend DESC, c.c_custkey) AS rx,
               row_number() OVER (ORDER BY c.c_acctbal DESC, c.c_custkey) AS ry
        FROM customer c JOIN spend ON spend.custkey = c.c_custkey
    ), s AS (
        SELECT count(*) AS n, sum((rx - ry) * (rx - ry)) AS sd2 FROM ranked
    )
    SELECT n AS n_customers,
           round(1.0 - 6.0 * sd2 / (n * (CAST(n AS BIGINT) * n - 1)), 9)
               AS spearman_rho
    FROM s
    """,
    tags=("stats", "rank", "analytics"),
)
def customer_spend_balance_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between customer lifetime spend and
    account balance — the distribution-free association measure, done
    the way it scales: both rankings come from the DISTRIBUTED global
    rank (operators/rank.py — per-partition counts + prefix sums, no
    single-partition sort), tie-broken by custkey so each is a total
    order; rho = 1 − 6Σd²/(n(n²−1)) then folds from INTEGER sums —
    exact scalars, one double expression at the end. (Σd² is int64-
    safe to ~10⁶ rows per this formula's n³ bound; past that, cast
    the squares to DECIMAL — the formula is unchanged.) The spend sum
    folds in DECIMAL so the spend ORDER itself is engine-exact."""
    from reactionetl_etl_spark.operators.rank import global_order_ranks

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    spend = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend")
    )
    base = cust.join(spend, cust.c_custkey == spend.custkey).select(
        "c_custkey", "spend", "c_acctbal"
    )
    rx = global_order_ranks(
        base,
        rank_exprs=[F.col("spend")],
        rank_desc=[True],
        tie_exprs=[F.col("c_custkey")],
        tie_desc=[False],
    ).select("c_custkey", F.col("global_row_number").alias("rx"))
    ry = global_order_ranks(
        base,
        rank_exprs=[F.col("c_acctbal")],
        rank_desc=[True],
        tie_exprs=[F.col("c_custkey")],
        tie_desc=[False],
    ).select("c_custkey", F.col("global_row_number").alias("ry"))
    d2 = (F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry"))
    s = rx.join(ry, "c_custkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum(d2).alias("sd2")
    )
    rho = F.lit(1.0) - F.lit(6.0) * F.col("sd2") / (
        F.col("n") * (F.col("n").cast("long") * F.col("n") - 1)
    )
    return s.select(
        F.col("n").alias("n_customers"), F.round(rho, 9).alias("spearman_rho")
    )


@_q(
    "event_trigram_paths",
    """
    WITH seq AS (
        SELECT user_id, event_type AS t3,
               lag(event_type, 1) OVER w AS t2,
               lag(event_type, 2) OVER w AS t1
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT t1 || '>' || t2 || '>' || t3 AS path,
           count(*) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM seq WHERE t1 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, path LIMIT 20
    """,
    tags=("events", "sequence", "window", "analytics"),
)
def event_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step behavior paths: sliding trigrams over each user's
    event sequence (two lag windows, user-partitioned — state bounded
    by one user's history) counted globally with distinct-user
    support. The sequence-mining primitive one step past the pairwise
    transition matrix; path cardinality is |types|³, so the aggregate
    is map-side combined to a bounded table."""
    ev = load_events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("t3"),
        F.lag("event_type", 1).over(w).alias("t2"),
        F.lag("event_type", 2).over(w).alias("t1"),
    ).filter(F.col("t1").isNotNull())
    path = F.concat_ws(">", "t1", "t2", "t3")
    return (
        seq.groupBy(path.alias("path"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.col("n").desc(), "path")
        .limit(20)
    )


@_q(
    "segment_overlap_hll",
    None,  # pinned VALUES oracle — Datasketches HLL is not ANSI SQL
    tags=("sketch", "events", "agg"),
)
def segment_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA: audience overlap between event-type
    segments estimated from mergeable HLL sketches via
    inclusion-exclusion (|A∩B| ≈ est(A)+est(B)−est(A∪B)) — the
    warehouse answer when segment sketches are PRE-AGGREGATED state
    (the incremental-rollup module stores exactly these) and the raw
    user lists are long gone. One pass builds a sketch per segment;
    pair estimates are driver-free sketch merges on a |types|²-sized
    table; the exact overlap (one self-join on user) rides alongside
    so the estimate's error is a driver-visible number. HLL register
    folds are max()-based — order-independent — so every estimate is
    deterministic and the whole output pins as a VALUES contract."""
    ev = load_events(spark, sf_dir).select("event_type", "user_id")
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("nd"),
    )
    a = sk.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("sk_a"),
        F.col("nd").alias("nd_a"),
    )
    b = sk.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("sk_b"),
        F.col("nd").alias("nd_b"),
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    est_a = F.hll_sketch_estimate("sk_a")
    est_b = F.hll_sketch_estimate("sk_b")
    est_union = F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    est_overlap = F.greatest(
        F.lit(0.0), F.round(est_a + est_b - est_union, 2)
    )
    ex = ev.distinct()
    xa = ex.select(F.col("event_type").alias("type_a"), "user_id")
    xb = ex.select(F.col("event_type").alias("type_b"), "user_id")
    exact = (
        xa.join(xb, ["user_id"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    return (
        pairs.join(exact, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F.coalesce("exact_overlap", F.lit(0).cast("long")).alias("exact_overlap"),
            est_overlap.alias("est_overlap"),
        )
    )


@_q(
    "loo_target_encoding",
    """
    WITH j AS (
        SELECT o.o_orderkey, c.c_mktsegment AS segment,
               CAST(o.o_totalprice AS DECIMAL(18,2)) AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), s AS (
        SELECT segment, CAST(sum(y) AS DECIMAL(28,2)) AS sy, count(*) AS n
        FROM j GROUP BY 1
    )
    SELECT j.o_orderkey, j.segment,
           CASE WHEN s.n > 1 THEN
               round(CAST(s.sy - j.y AS DOUBLE) / (s.n - 1), 4)
           END AS loo_mean4
    FROM j JOIN s ON s.segment = j.segment
    """,
    tags=("ml", "features", "agg"),
)
def loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the leakage-safe categorical
    feature for training pipelines: each order's segment encodes as
    the mean order total of OTHER orders in the segment,
    (Σy − y_i)/(n − 1), so a row never sees its own target. One
    group-sized aggregate broadcast back onto the fact rows; the
    target folds in DECIMAL, making the per-row encodings exact
    scalars finished by one double division (deterministic
    cross-engine — a double sum here would drift per partition
    order across 15k rows)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey",
        F.col("c_mktsegment").alias("segment"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
    )
    s = j.groupBy("segment").agg(
        F.sum("y").cast("decimal(28,2)").alias("sy"),
        F.count(F.lit(1)).alias("n"),
    )
    loo = F.when(
        F.col("n") > 1,
        F.round(
            (F.col("sy") - F.col("y")).cast("double") / (F.col("n") - 1), 4
        ),
    )
    return j.join(F.broadcast(s), "segment").select(
        "o_orderkey", "segment", loo.alias("loo_mean4")
    )


@_q(
    "customer_rank_kendall",
    """
    WITH spend AS (
        SELECT o_custkey AS custkey,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT row_number() OVER (ORDER BY spend DESC, c.c_custkey) AS rx,
               row_number() OVER (ORDER BY c.c_acctbal DESC, c.c_custkey) AS ry
        FROM customer c JOIN spend ON spend.custkey = c.c_custkey
    ), d AS (
        SELECT count(*) AS n_discordant
        FROM ranked a JOIN ranked b ON a.rx < b.rx AND a.ry > b.ry
    ), c AS (SELECT count(*) AS n FROM ranked)
    SELECT n, n_discordant,
           floor((1.0 - 4.0 * n_discordant / (n * (n - 1.0)))
                 * 1000000000 + 0.5) / 1000000000 AS tau9
    FROM c CROSS JOIN d
    """,
    tags=("stats", "rank", "analytics"),
)
def customer_rank_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kendall tau-a between spend rank and balance rank —
    computed by the DISTRIBUTED decomposition (operators/rank.py::
    kendall_tau_distinct: B×B histogram prefix sums for cross-bucket
    pairs + bucketed mergesort inversion counts, D = G+X+Y−C) and
    value-pinned against the textbook O(n²) discordant-pair self-join
    the oracle runs. Same rankings as the Spearman sibling (decimal
    spend sums, custkey tie-breaks), so the two association measures
    are directly comparable."""
    from reactionetl_etl_spark.operators.rank import (
        global_order_ranks,
        kendall_tau_distinct,
    )

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    spend = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend")
    )
    base = cust.join(spend, cust.c_custkey == spend.custkey).select(
        "c_custkey", "spend", "c_acctbal"
    )
    rx = global_order_ranks(
        base, [F.col("spend")], [True], [F.col("c_custkey")], [False]
    ).select("c_custkey", F.col("global_row_number").alias("rx"))
    ry = global_order_ranks(
        base, [F.col("c_acctbal")], [True], [F.col("c_custkey")], [False]
    ).select("c_custkey", F.col("global_row_number").alias("ry"))
    tau = kendall_tau_distinct(rx.join(ry, "c_custkey"), "rx", "ry", n_buckets=16)
    return tau.select(
        "n",
        "n_discordant",
        (F.floor(F.col("tau") * 1_000_000_000 + F.lit(0.5)) / 1_000_000_000).alias(
            "tau9"
        ),
    )


# ── round-8: product-analytics + statistics completions ────────────────


@_q(
    "event_funnel_steps",
    """
    WITH v AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY 1
    ), c AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1
    ), p AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1
    ), counts AS (
        SELECT 1 AS step_no, 'view' AS step, (SELECT count(*) FROM v) AS n_users
        UNION ALL
        SELECT 2, 'click', (SELECT count(*) FROM c)
        UNION ALL
        SELECT 3, 'purchase', (SELECT count(*) FROM p)
    )
    SELECT step_no, step, n_users,
           floor(n_users * 1.0 / first_value(n_users)
                     OVER (ORDER BY step_no) * 1000000 + 0.5) / 1000000
               AS conv_from_first
    FROM counts
    """,
    tags=("events", "analytics", "funnel"),
    bench=True,  # the product-analytics family's representative
)
def event_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED funnel view → click → purchase: a user counts at step k
    only with an event strictly after their step-(k-1) time (the
    product-analytics funnel, not three independent counts). Shape:
    ONE events scan + ONE user_id shuffle; the sequential step
    dependency (t2 = first click after t1, t3 = first purchase after
    t2) is three stacked whole-partition windows over the SAME
    partitioning — Catalyst plans a single Exchange with three Window
    operators (the first draft's per-step aggregate+join chain
    re-scanned events six times; PLANS.md caught it). The step counts
    then fold in one distinct-count aggregate and unpivot to 3 rows.
    Scales: work ∝ events, window state ∝ one user's rows."""
    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts_ntz")
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts_ntz"))).over(w)
    staged = ev.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts_ntz") > F.col("t1")),
            F.col("ts_ntz"),
        )
    ).over(w)
    staged = staged.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts_ntz") > F.col("t2")),
            F.col("ts_ntz"),
        )
    ).over(w)
    staged = staged.withColumn("t3", t3)
    totals = staged.agg(
        F.countDistinct(F.when(F.col("t1").isNotNull(), F.col("user_id"))).alias("n1"),
        F.countDistinct(F.when(F.col("t2").isNotNull(), F.col("user_id"))).alias("n2"),
        F.countDistinct(F.when(F.col("t3").isNotNull(), F.col("user_id"))).alias("n3"),
    )
    steps = totals.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("step_no"),
                    F.lit("view").alias("step"),
                    F.col("n1").alias("n_users"),
                ),
                F.struct(
                    F.lit(2).alias("step_no"),
                    F.lit("click").alias("step"),
                    F.col("n2").alias("n_users"),
                ),
                F.struct(
                    F.lit(3).alias("step_no"),
                    F.lit("purchase").alias("step"),
                    F.col("n3").alias("n_users"),
                ),
            )
        ).alias("s"),
        F.col("n1"),
    )
    conv = F.floor(
        F.col("s.n_users") / F.col("n1") * 1_000_000 + F.lit(0.5)
    ) / 1_000_000
    return steps.select(
        "s.step_no", "s.step", "s.n_users", conv.alias("conv_from_first")
    )


@_q(
    "weekly_retention_triangle",
    """
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), first_day AS (
        SELECT user_id, min(d) AS d0 FROM ud GROUP BY 1
    ), act AS (
        SELECT ud.user_id,
               CAST(date_trunc('week', f.d0) AS VARCHAR) AS cohort_week,
               CAST(floor(date_diff('day', f.d0, ud.d) / 7) AS INTEGER) AS week_offset
        FROM ud JOIN first_day f ON f.user_id = ud.user_id
    ), ret AS (
        SELECT cohort_week, week_offset,
               count(DISTINCT user_id) AS n_active FROM act GROUP BY 1, 2
    )
    SELECT cohort_week, week_offset, n_active,
           floor(n_active * 1.0 / first_value(n_active) OVER (
                     PARTITION BY cohort_week ORDER BY week_offset)
                 * 1000000 + 0.5) / 1000000 AS retention
    FROM ret
    """,
    tags=("events", "analytics", "retention"),
)
def weekly_retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic weekly retention triangle: users cohorted by the ISO
    week of their FIRST active day; each later active day lands in a
    week offset relative to that first day; retention is the cohort's
    week-k distinct actives over its week-0 actives. Shape: distinct
    (user, day) pairs → one min-aggregate per user → fan back over the
    pairs (keyed join on user_id, co-partitioned with the aggregate) →
    distinct-count per (cohort, offset). The retention window runs
    over the cohort×offset grid — metadata-sized regardless of user
    count. Scales: everything shuffles on user_id or the tiny grid."""
    ev = load_events(spark, sf_dir)
    ud = ev.select("user_id", F.col("ts_ntz").cast("date").alias("d")).distinct()
    first_day = ud.groupBy("user_id").agg(F.min("d").alias("d0"))
    act = ud.join(first_day, "user_id").select(
        "user_id",
        F.date_trunc("week", F.col("d0")).cast("date").cast("string").alias("cohort_week"),
        F.floor(F.datediff(F.col("d"), F.col("d0")) / 7).cast("int").alias("week_offset"),
    )
    ret = act.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    retention = F.floor(
        F.col("n_active") / F.first("n_active").over(w) * 1_000_000 + F.lit(0.5)
    ) / 1_000_000
    return ret.select("cohort_week", "week_offset", "n_active", retention.alias("retention"))


@_q(
    "lang_source_chi2",
    """
    WITH obs AS (
        SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2
    ), rl AS (SELECT lang, count(*) AS r FROM documents GROUP BY 1),
    cs AS (SELECT source, count(*) AS c FROM documents GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    grid AS (
        SELECT rl.lang, cs.source, rl.r, cs.c, n.n,
               coalesce(obs.o, 0) AS o
        FROM rl CROSS JOIN cs CROSS JOIN n
        LEFT JOIN obs ON obs.lang = rl.lang AND obs.source = cs.source
    ), cells AS (
        SELECT CAST(floor(
                   (o * n - r * c) * (o * n - r * c) * 1000000.0 / (n * r * c)
                   + 0.5) AS BIGINT) AS chi2_scaled
        FROM grid
    )
    SELECT (SELECT count(*) FROM rl) AS n_langs,
           (SELECT count(*) FROM cs) AS n_sources,
           ((SELECT count(*) FROM rl) - 1) * ((SELECT count(*) FROM cs) - 1) AS dof,
           sum(chi2_scaled) / 1000000.0 AS chi2
    FROM cells
    """,
    tags=("stats", "text", "analytics"),
)
def lang_source_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared test of independence between document lang
    and source (is the language mix uniform across crawl sources?).
    Exactness discipline: each cell's (O-E)²/E is algebraically
    (O·N - r·c)² / (N·r·c) — an exact-integer numerator squared (fits
    a double far below 2^53 at any local scale) over one IEEE division,
    scaled to micro-units and floored to a BIGINT, so the cross-engine
    sum is integer arithmetic with no float-order sensitivity. Zero
    cells contribute E (the full grid is row-totals × col-totals —
    #langs × #sources rows, metadata-sized). Scales: three aggregates
    over the corpus + a tiny grid join."""
    docs = _t(spark, sf_dir, "documents")
    obs = docs.groupBy("lang", "source").agg(F.count("*").alias("o"))
    rl = docs.groupBy("lang").agg(F.count("*").alias("r"))
    cs = docs.groupBy("source").agg(F.count("*").alias("c"))
    n = docs.agg(F.count("*").alias("n"))
    grid = (
        rl.crossJoin(F.broadcast(cs))
        .crossJoin(F.broadcast(n))
        .join(obs, ["lang", "source"], "left")
        .withColumn("o", F.coalesce("o", F.lit(0)))
    )
    num = (F.col("o") * F.col("n") - F.col("r") * F.col("c"))
    cell = F.floor(
        num * num * F.lit(1_000_000.0) / (F.col("n") * F.col("r") * F.col("c"))
        + F.lit(0.5)
    ).cast("bigint")
    cells = grid.select(cell.alias("chi2_scaled"))
    n_langs = rl.agg(F.count("*").alias("n_langs"))
    n_sources = cs.agg(F.count("*").alias("n_sources"))
    return (
        cells.agg((F.sum("chi2_scaled") / F.lit(1_000_000.0)).alias("chi2"))
        .crossJoin(F.broadcast(n_langs))
        .crossJoin(F.broadcast(n_sources))
        .select(
            "n_langs",
            "n_sources",
            ((F.col("n_langs") - 1) * (F.col("n_sources") - 1)).alias("dof"),
            "chi2",
        )
    )


@_q(
    "quality_auc_mannwhitney",
    """
    WITH lab AS (
        SELECT n_chars AS score,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ), by_score AS (
        SELECT score, sum(y) AS p_v, sum(1 - y) AS n_v
        FROM lab GROUP BY 1
    ), cum AS (
        SELECT score, p_v, n_v,
               coalesce(sum(n_v) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS neg_below
        FROM by_score
    ), tot AS (
        SELECT CAST(sum(y) AS BIGINT) AS pos,
               CAST(sum(1 - y) AS BIGINT) AS neg FROM lab
    )
    SELECT tot.pos AS n_pos, tot.neg AS n_neg,
           floor(sum(p_v * (2 * neg_below + n_v)) * 1.0
                 / (2.0 * tot.pos * tot.neg) * 1000000000 + 0.5) / 1000000000
               AS auc9
    FROM cum CROSS JOIN tot
    GROUP BY tot.pos, tot.neg
    """,
    tags=("stats", "eval", "analytics"),
)
def quality_auc_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of a score column against a binary label via the
    Mann-Whitney rank-sum identity, with the standard 0.5 credit for
    ties — here doc length (n_chars) as a predictor of lang='en'
    (the evaluation operator is the point; any score/label pair
    plugs in). Integer-exact end to end: group by distinct score
    value (bounded by the score's value range, not the corpus),
    2U = Σ p_v·(2·neg_below + n_v) is pure integer arithmetic, and
    the only division is one IEEE op at the end. The cumulative
    negatives-below uses the distributed prefix-sum (operators/
    rank.py::global_running_sum), NOT a single-partition window."""
    from reactionetl_etl_spark.operators.rank import global_running_sum

    docs = _t(spark, sf_dir, "documents")
    lab = docs.select(
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    by_score = lab.groupBy("score").agg(
        F.sum("y").alias("p_v"), F.sum(F.lit(1) - F.col("y")).alias("n_v")
    )
    cum = global_running_sum(
        by_score,
        order_exprs=[F.col("score")],
        order_desc=[False],
        value_col="n_v",
        out_col="neg_below",
        exclusive=True,
    )
    tot = lab.agg(
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("n_neg"),
    )
    u2 = F.sum(F.col("p_v") * (2 * F.col("neg_below") + F.col("n_v")))
    return (
        cum.agg(u2.alias("u2"))
        .crossJoin(F.broadcast(tot))
        .select(
            "n_pos",
            "n_neg",
            (
                F.floor(
                    F.col("u2") / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg"))
                    * 1_000_000_000
                    + F.lit(0.5)
                )
                / 1_000_000_000
            ).alias("auc9"),
        )
    )


@_q(
    "copurchase_bfs_hops",
    """
    WITH RECURSIVE lp AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), co AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lp a JOIN lp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ), sym AS (
        SELECT pa AS s, pb AS d FROM co UNION SELECT pb, pa FROM co
    ), src AS (SELECT min(s) AS s FROM sym),
    walk(node, hops) AS (
        SELECT s, 0 FROM src
        UNION
        SELECT sym.d, walk.hops + 1 FROM walk JOIN sym ON sym.s = walk.node
        WHERE walk.hops < 3
    )
    SELECT node AS part, CAST(min(hops) AS INTEGER) AS hops
    FROM walk GROUP BY 1
    """,
    tags=("graph", "iterative", "bfs"),
)
def copurchase_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unweighted shortest-path hops (BFS, <=3 levels) from the
    smallest part id in the co-purchase graph — the neighborhood-
    expansion primitive ("what's within two baskets of this part").
    Spark runs frontier expansion (operators/graph.py::bfs_hops): one
    frontier-vs-edges keyed join + visited anti-join per level,
    checkpointed, frontier always node-sized; the oracle re-derives
    the same distances with a DuckDB RECURSIVE CTE. Source defaults
    to min(node) so the query is deterministic at every scale."""
    from reactionetl_etl_spark.operators.graph import bfs_hops

    lp = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = lp.alias("a"), lp.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
    )
    out = bfs_hops(co, src="pa", dst="pb", max_hops=3)
    return out.select(F.col("node").alias("part"), F.col("hops"))


@_q("copurchase_kcore", None, tags=("graph", "iterative", "kcore"))
def copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the co-purchase graph (operators/graph.py::k_core):
    iteratively peel parts with fewer than 3 qualifying co-purchase
    partners until the remaining subgraph is stable — the dense-
    community filter (staple baskets; in dup graphs, template spam
    rings). Per round: one degree aggregate + two semi-joins,
    checkpointed; rounds bounded with a loud raise. Not SQL-expressible
    (fixpoint with per-round aggregates), so the sf0.01 output is
    pinned; tests/test_operators.py carries the non-circular witness
    (naive python peeling on the collected edge set must agree)."""
    from reactionetl_etl_spark.operators.graph import k_core

    lp = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = lp.alias("a"), lp.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
    )
    return k_core(co, k=3, src="pa", dst="pb").select(
        F.col("node").alias("part"), "core_degree"
    )


@_q("copurchase_kcore2", None, tags=("graph", "iterative", "kcore"))
def copurchase_kcore2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the co-purchase graph — the k=2 companion to
    `copurchase_kcore` that retires the catalog's last rows-only-at-
    sf0.1 exception (the 3-core is EMPTY at sf0.1, so its pin there
    would assert nothing; the 2-core is non-empty at both shipped
    scales and its pinned VALUES contract asserts real values at
    each). Same fixpoint peeling (operators/graph.py::k_core); edge
    build via the r12 groupBy+collect_set pair HOF — two shuffles, no
    fact self-join (same edge set as the self-join form, parity-
    verified)."""
    from reactionetl_etl_spark.operators.graph import k_core

    li = _t(spark, sf_dir, "lineitem")
    sets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.expr(
                    "transform(ps, (x, i) -> transform("
                    "slice(ps, i + 2, size(ps)), y -> struct(x AS pa, y AS pb)))"
                )
            )
        ).alias("p")
    ).select("p.pa", "p.pb")
    co = (
        pairs.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
    )
    return k_core(co, k=2, src="pa", dst="pb").select(
        F.col("node").alias("part"), "core_degree"
    )


@_q("video_scene_cuts", None, tags=("multimodal", "video", "analytics"))
def video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over decoded video: per consecutive frame
    pair, the mean absolute grayscale pixel delta; a cut is a delta
    above threshold. Clips are synthesized executor-side (6-frame 8x4
    Y4M; docs with doc_id%3==0 carry a hard luma jump at frame 3,
    others drift gently), decoded by the stdlib Y4M parser into
    INTEGER gray planes (multimodal.video_frame_gray — the only Python
    stage), then the per-pixel reduction runs as a Catalyst HOF over a
    lag window partitioned by media_id: abs-diff fold / n_pixels. All
    integer until one final division, so the pinned contract is exact.
    At 100 TB the same plan shape holds: decode is a narrow Arrow map,
    the window shuffles once on media_id, frames never leave the JVM
    after decode."""
    import pandas as pd

    from reactionetl_etl_spark.operators.multimodal import video_frame_gray

    docs = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 60)
    )

    def to_y4m(batches):
        w, h = 8, 4
        for pdf in batches:
            ids, blobs = [], []
            for mid in pdf["media_id"]:
                mid = int(mid)
                base = 30 + (mid * 17) % 60
                clip = b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C420\n" % (w, h)
                for k in range(6):
                    luma = base + k  # gentle drift
                    if k >= 3 and mid % 3 == 0:
                        luma += 120  # hard scene change
                    clip += (
                        b"FRAME\n"
                        + bytes([min(luma, 235)]) * (w * h)
                        + bytes([128]) * ((w // 2) * (h // 2)) * 2
                    )
                ids.append(mid)
                blobs.append(clip)
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    clips = docs.mapInPandas(to_y4m, "media_id long, content binary")
    frames = video_frame_gray(clips)
    w = Window.partitionBy("media_id").orderBy("frame_index")
    prev = F.lag("gray").over(w)
    sad = F.aggregate(
        F.zip_with(F.col("gray"), prev, lambda x, y: F.abs(x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    mad6 = F.floor(sad / F.size("gray") * 1_000_000 + F.lit(0.5)) / 1_000_000
    return (
        frames.select(
            "media_id",
            "frame_index",
            prev.isNotNull().alias("__has_prev"),
            mad6.alias("mad6"),
        )
        .filter(F.col("__has_prev"))
        .select(
            "media_id",
            "frame_index",
            "mad6",
            (F.col("mad6") >= 40.0).alias("is_cut"),
        )
    )


_BPE_MERGE_CACHE: dict[str, list] = {}


def _bpe_corpus_merges(spark: SparkSession, sf_dir: str) -> list:
    """Train-once memo for the BPE queries: the same 8 merges
    `bpe_learned_merges` pins, trained on the same deterministic
    quarter-sample. Training is deterministic (count-desc pair-asc
    tie-breaks), so memoization only saves the 8 counting rounds when
    both BPE queries run in one session — it cannot change results."""
    key = sf_dir.rstrip("/")
    if key not in _BPE_MERGE_CACHE:
        from reactionetl_etl_spark.operators.bpe import train_bpe_merges

        docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
        _BPE_MERGE_CACHE[key] = train_bpe_merges(docs, "text", n_merges=8)
    return _BPE_MERGE_CACHE[key]


@_q("bpe_encode_tokens", None, tags=("text", "tokenizer", "bpe"))
def bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE with the trained tokenizer — the serving half of the BPE
    pair (`bpe_learned_merges` is the trainer): every 10th document is
    encoded by replaying the learned merge list (operators/bpe.py::
    apply_bpe_merges, one Arrow-batched greedy pass, merges broadcast
    inside the function — KBs), yielding per-doc token count, the
    whitespace-word count it compressed from, and the first 8 tokens
    as a spot-checkable prefix. Deterministic end to end (deterministic
    trainer + greedy leftmost encode), pinned at sf0.01; test_bpe.py
    carries the independent straight-line Python BPE the operator is
    checked against. At scale: train on a bounded sample, encode is
    one narrow pass over the corpus."""
    from reactionetl_etl_spark.operators.bpe import apply_bpe_merges

    merges = _bpe_corpus_merges(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", "text"
    )
    enc = apply_bpe_merges(docs, merges, "text", out_col="toks")
    n_words = F.size(
        F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
    )
    return enc.select(
        "doc_id",
        n_words.alias("n_words"),
        F.size("toks").alias("n_tokens"),
        F.concat_ws(" ", F.slice("toks", 1, 8)).alias("first_tokens"),
    )


@_q(
    "event_value_welch_ttest",
    """
    WITH m AS (
        SELECT event_type,
               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v
        FROM events WHERE event_type IN ('click', 'purchase')
          AND value IS NOT NULL
    ), s AS (
        SELECT event_type,
               count(*) AS n,
               CAST(sum(v) AS DOUBLE) AS sv,
               CAST(sum(CAST(v AS DECIMAL(38,0)) * v) AS DOUBLE) AS svv
        FROM m GROUP BY 1
    ), g AS (
        SELECT
            max(CASE WHEN event_type = 'click' THEN n END) AS n1,
            max(CASE WHEN event_type = 'click' THEN sv END) AS s1,
            max(CASE WHEN event_type = 'click' THEN svv END) AS ss1,
            max(CASE WHEN event_type = 'purchase' THEN n END) AS n2,
            max(CASE WHEN event_type = 'purchase' THEN sv END) AS s2,
            max(CASE WHEN event_type = 'purchase' THEN svv END) AS ss2
        FROM s
    )
    SELECT n1, n2,
           floor((s1 / n1 - s2 / n2) / 1000000 * 1000000 + 0.5) / 1000000
               AS mean_diff6,
           floor(
               (s1 / n1 - s2 / n2)
               / sqrt(((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1
                      + ((ss2 - s2 * s2 / n2) / (n2 - 1)) / n2)
               * 1000000 + 0.5) / 1000000 AS t6,
           floor(
               (((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1
                + ((ss2 - s2 * s2 / n2) / (n2 - 1)) / n2)
               * (((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1
                  + ((ss2 - s2 * s2 / n2) / (n2 - 1)) / n2)
               / ((((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1)
                  * (((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1) / (n1 - 1)
                  + (((ss2 - s2 * s2 / n2) / (n2 - 1)) / n2)
                    * (((ss2 - s2 * s2 / n2) / (n2 - 1)) / n2) / (n2 - 1))
               * 1000 + 0.5) / 1000 AS welch_dof3
    FROM g
    """,
    tags=("stats", "events", "analytics"),
)
def event_value_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two event populations
    (click vs purchase values) — the A/B-testing primitive. Exactness
    discipline: values quantize to integer micro-units, so the moment
    sums are exact (Σv as BIGINT→DOUBLE, Σv² in DECIMAL(38,0) — the
    squares overflow int64); mean/variance/t/dof then derive from those
    exact scalars through MIRRORED double expressions, so both engines
    execute identical IEEE op sequences. One groupBy over the filtered
    events; output is a single row. Scales: moments combine map-side,
    the t arithmetic is O(1)."""
    from reactionetl_etl_spark.operators.experiment import micro_units

    m = (
        load_events(spark, sf_dir)
        .filter(F.col("event_type").isin("click", "purchase"))
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            micro_units("value").alias("v"),
        )
    )
    s = m.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("v").cast("double").alias("sv"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).cast("double").alias("svv"),
    )
    g = s.agg(
        F.max(F.when(F.col("event_type") == "click", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("event_type") == "click", F.col("sv"))).alias("s1"),
        F.max(F.when(F.col("event_type") == "click", F.col("svv"))).alias("ss1"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("sv"))).alias("s2"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("svv"))).alias("ss2"),
    )
    n1, s1, ss1 = F.col("n1"), F.col("s1"), F.col("ss1")
    n2, s2, ss2 = F.col("n2"), F.col("s2"), F.col("ss2")
    se1 = ((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1  # var1 / n1, micro² units
    se2 = ((ss2 - s2 * s2 / n2) / (n2 - 1)) / n2
    diff = s1 / n1 - s2 / n2
    t = diff / F.sqrt(se1 + se2)
    dof = (se1 + se2) * (se1 + se2) / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1))
    return g.select(
        "n1",
        "n2",
        (F.floor(diff / 1_000_000 * 1_000_000 + F.lit(0.5)) / 1_000_000).alias(
            "mean_diff6"
        ),
        (F.floor(t * 1_000_000 + F.lit(0.5)) / 1_000_000).alias("t6"),
        (F.floor(dof * 1_000 + F.lit(0.5)) / 1_000).alias("welch_dof3"),
    )


@_q(
    "events_xml_extract",
    """
    WITH x AS (
        SELECT '<e><t>' || event_type || '</t><v>'
                   || CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS VARCHAR)
                   || '</v></e>' AS doc
        FROM events WHERE value IS NOT NULL
    ), p AS (
        SELECT regexp_extract(doc, '<t>(.*)</t>', 1) AS t,
               CAST(regexp_extract(doc, '<v>(-?[0-9]+)</v>', 1) AS BIGINT) AS v
        FROM x
    )
    SELECT t AS event_type, count(*) AS n,
           CAST(sum(v) AS BIGINT) AS sum_cents
    FROM p GROUP BY 1
    """,
    tags=("xml", "functions", "events"),
)
def events_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion at the FUNCTION level: event rows serialized as
    XML documents (the shape a legacy B2B feed delivers), parsed back
    with Spark 4's native `from_xml` into a struct, grouped on the
    extracted fields. Values ride as integer cents so the post-parse
    aggregate is exact. The DuckDB oracle parses the identical strings
    with anchored regexps — both engines must recover the same fields
    from the same documents. (File-level XML read/write lives in
    io/files.py with a round-trip test; this query keeps the parse on
    the query surface.) Zero shuffle beyond the final small groupBy."""
    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    doc = F.concat(
        F.lit("<e><t>"),
        F.col("event_type"),
        F.lit("</t><v>"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").cast("string"),
        F.lit("</v></e>"),
    )
    parsed = ev.select(
        F.from_xml(doc, "t STRING, v BIGINT").alias("p")
    )
    return parsed.groupBy(F.col("p.t").alias("event_type")).agg(
        F.count("*").alias("n"),
        F.sum("p.v").cast("long").alias("sum_cents"),
    )


@_q(
    "customer_top2_orders_lateral",
    """
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
    ) o
    WHERE c.c_custkey < 200
    """,
    tags=("join", "lateral", "sql"),
)
def customer_top2_orders_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — the per-row-driven-subquery JOIN
    surface (Spark 3.2+ / DuckDB both speak the identical syntax, so
    the two engines run structurally the same statement). Catalyst
    decorrelates the per-customer top-2 into a window-ranked join, so
    the executed plan is the same WindowGroupLimit shape the explicit
    window formulation gets — the test is that the SQL surface exists
    and decorrelation preserves LIMIT-with-ties-broken semantics.
    Deterministic: the inner ORDER BY carries a unique tie-break."""
    from reactionetl_etl_spark.sources.tables import load_table

    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c, LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM orders
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
        ) o
        WHERE c.c_custkey < 200
        """
    )


@_q("image_neardup_phash", None, tags=("multimodal", "dedup", "phash"))
def image_neardup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visual near-dup sweep with the DCT pHash signal
    (multimodal.image_phash): every 10th document's image is its
    predecessor's pixels plus deterministic HIGH-FREQUENCY noise (±6
    per pixel, position-keyed) shipped in a different container. That
    perturbation flips many of dHash's per-pixel gradient bits but
    barely moves the 8×8 low-frequency DCT block, so this catches the
    noisy-rescan / re-sharpened duplicate class the gradient hash
    misses — the two hashes are complementary rungs of the visual
    dedup ladder. Same scale shape as the dHash sweep: one decode
    pass, 64-bit keys, pigeonhole Hamming join. Pinned; planted-pair
    recall and the noise-robustness contrast are pinned by
    test_multimodal.py."""
    import pandas as pd

    from reactionetl_etl_spark.operators.multimodal import image_neardup_pairs_phash

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("raw")
    )
    base = docs.alias("d").join(
        docs.selectExpr("doc_id + 1 AS doc_id", "raw AS prev_raw").alias("p"),
        on="doc_id",
        how="left",
    )

    def to_image(batches):
        import numpy as np

        from reactionetl_etl_spark.operators.multimodal import (
            encode_bmp,
            encode_png,
            encode_ppm,
        )

        encoders = [encode_bmp, encode_png, encode_ppm]
        need = 32 * 32 * 3
        i = np.arange(32)[:, None, None]
        j = np.arange(32)[None, :, None]
        c = np.arange(3)[None, None, :]
        noise = (((i * 31 + j * 17 + c * 7) % 5) - 2) * 3  # ±6, high-freq
        for pdf in batches:
            ids, blobs = [], []
            for did, raw, prev in zip(pdf["doc_id"], pdf["raw"], pdf["prev_raw"]):
                planted = int(did) % 10 == 9 and prev is not None
                src = prev if planted else raw
                b = bytes(src) or b"\x00"
                b = (b * (need // len(b) + 1))[:need]
                arr = np.frombuffer(b, dtype=np.uint8).reshape(32, 32, 3)
                if planted:
                    arr = np.clip(arr.astype(np.int32) + noise, 0, 255).astype(
                        np.uint8
                    )
                ids.append(did)
                blobs.append(encoders[int(did) % 3](arr))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    imgs = base.mapInPandas(to_image, "media_id long, content binary")
    return image_neardup_pairs_phash(imgs, max_hamming=4).orderBy("id_a", "id_b")


@_q(
    "copurchase_cheapest_path",
    """
    WITH RECURSIVE lp AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), co AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb,
               GREATEST(1, 11 - count(*)) AS w
        FROM lp a JOIN lp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ), sym AS (
        SELECT pa AS s, pb AS d, w FROM co
        UNION ALL SELECT pb, pa, w FROM co
    ), src AS (SELECT min(s) AS s FROM sym),
    walk(node, cost, depth) AS (
        SELECT s, CAST(0 AS BIGINT), 0 FROM src
        UNION
        SELECT sym.d, walk.cost + sym.w, walk.depth + 1
        FROM walk JOIN sym ON sym.s = walk.node WHERE walk.depth < 3
    )
    SELECT node AS part, CAST(min(cost) AS BIGINT) AS cost
    FROM walk GROUP BY 1
    """,
    tags=("graph", "iterative", "shortest-path"),
)
def copurchase_cheapest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted cheapest-path costs (Bellman-Ford, ≤3 relaxation
    rounds) from the smallest part in the co-purchase graph, edge cost
    = GREATEST(1, 11 − shared_orders) so strong affinities are cheap —
    the weighted sibling of `copurchase_bfs_hops` (graph.py::
    bellman_ford_hops: per round one keyed join + one min aggregate,
    distance table node-sized, integer costs → exact cross-engine).
    Oracled against a DuckDB RECURSIVE CTE enumerating the same
    bounded-depth relaxations."""
    from reactionetl_etl_spark.operators.graph import bellman_ford_hops

    lp = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = lp.alias("a"), lp.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb", F.greatest(F.lit(1), F.lit(11) - F.col("n")).alias("w"))
    )
    out = bellman_ford_hops(co, src="pa", dst="pb", weight="w", max_hops=3)
    return out.select(F.col("node").alias("part"), F.col("cost"))


@_q(
    "purchase_hits_scores",
    """
    WITH RECURSIVE e AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), hits(iter, kind, id, score) AS (
        SELECT 0, 'h', c, CAST(1 AS BIGINT) FROM (SELECT DISTINCT c FROM e)
        UNION ALL
        SELECT 0, 'a', p, CAST(1 AS BIGINT) FROM (SELECT DISTINCT p FROM e)
        UNION ALL
        SELECT iter + 1, nxt.kind, nxt.id, nxt.score FROM (
            SELECT hits.iter, 'h' AS kind, e.c AS id,
                   CAST(sum(hits.score) AS BIGINT) AS score
            FROM hits JOIN e ON hits.kind = 'a' AND hits.id = e.p
            GROUP BY 1, 3
            UNION ALL
            SELECT hits.iter, 'a', e.p, CAST(sum(hits.score) AS BIGINT)
            FROM hits JOIN e ON hits.kind = 'h' AND hits.id = e.c
            GROUP BY 1, 3
        ) nxt(iter, kind, id, score)
        WHERE nxt.iter < 4
    ), final AS (
        SELECT kind, id, score,
               row_number() OVER (PARTITION BY kind
                                  ORDER BY score DESC, id) AS rn
        FROM hits WHERE iter = 4
    )
    SELECT kind, id, score FROM final WHERE rn <= 10
    """,
    tags=("graph", "iterative", "hits", "bipartite"),
)
def purchase_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the DIRECTED
    bipartite purchase graph customer→part: hubs are broad buyers,
    authorities are parts bought by strong hubs. Simultaneous (Jacobi)
    updates — h ← A·a_prev, a ← Aᵀ·h_prev — so the recurrence is one
    keyed join + sum per side per round, expressible as a RECURSIVE
    CTE on the oracle side. Scores start at 1 and stay EXACT INTEGERS
    (sums of integers, far below 2^53), so 4 unnormalized rounds are
    bit-identical cross-engine with no normalization step to drift.
    Top-10 per side, tie-broken by id. Spark shape: per round two
    edge-keyed joins + map-side-combined sums, score tables node-sized,
    checkpointed — PageRank's cost envelope on a bipartite graph."""
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"), "o_orderkey"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", F.col("l_partkey").alias("p"))
    e = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select("c", "p")
        .distinct()
        .localCheckpoint(eager=True)
    )
    h = e.select("c").distinct().withColumn("score", F.lit(1).cast("long"))
    a = e.select("p").distinct().withColumn("score", F.lit(1).cast("long"))
    for _ in range(4):
        h_new = (
            e.join(a.withColumnRenamed("score", "__as"), on="p")
            .groupBy("c")
            .agg(F.sum("__as").alias("score"))
            .localCheckpoint(eager=True)
        )
        a_new = (
            e.join(h.withColumnRenamed("score", "__hs"), on="c")
            .groupBy("p")
            .agg(F.sum("__hs").alias("score"))
            .localCheckpoint(eager=True)
        )
        h, a = h_new, a_new
    both = h.select(
        F.lit("h").alias("kind"), F.col("c").alias("id"), "score"
    ).unionByName(a.select(F.lit("a").alias("kind"), F.col("p").alias("id"), "score"))
    w = Window.partitionBy("kind").orderBy(F.col("score").desc(), F.col("id").asc())
    return (
        both.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 10)
        .select("kind", "id", "score")
    )


@_q(
    "doc_readability_scores",
    r"""
    WITH w AS (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS word
        FROM documents
    ), agg AS (
        SELECT doc_id,
               count(*) AS n_words,
               CAST(sum(GREATEST(1, len(regexp_extract_all(word, '[aeiouy]+'))))
                    AS BIGINT) AS n_syllables
        FROM w WHERE word <> '' GROUP BY 1
    ), sent AS (
        SELECT doc_id,
               GREATEST(1, len(list_filter(
                   string_split(regexp_replace(text, '[.!?]+', '.', 'g'), '.'),
                   x -> trim(x) <> ''))) AS n_sentences
        FROM documents
    )
    SELECT agg.doc_id, n_words, n_syllables, n_sentences,
           floor((206.835 - 1.015 * (n_words * 1.0 / n_sentences)
                          - 84.6 * (n_syllables * 1.0 / n_words))
                 * 10000 + 0.5) / 10000 AS flesch4
    FROM agg JOIN sent ON sent.doc_id = agg.doc_id
    """,
    tags=("text", "quality", "readability"),
)
def doc_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — the classic readability
    quality signal (joins stopword ratio / Gopher signals / perplexity
    in the filtering toolbox). Syllables via the standard vowel-group
    heuristic (GREATEST(1, count of [aeiouy]+ runs) per word — the
    same regex subset both engines execute identically), sentences by
    terminal-punctuation splits floored at 1. All counts are exact
    integers; the Flesch formula is one mirrored IEEE expression, so
    the 4-dp floor matches cross-engine. Zero shuffle beyond the
    per-doc aggregate — scan-bound at any scale."""
    docs = _t(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "),
        lambda x: x != "",
    )
    syll = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(F.lit(1), F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), 0))),
    )
    sentences = F.greatest(
        F.lit(1),
        F.size(
            F.filter(
                F.split(F.regexp_replace("text", r"[.!?]+", "."), r"\."),
                lambda x: F.trim(x) != "",
            )
        ),
    )
    base = docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        syll.alias("n_syllables"),
        sentences.cast("long").alias("n_sentences"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words") * F.lit(1.0) / F.col("n_sentences"))
        - F.lit(84.6) * (F.col("n_syllables") * F.lit(1.0) / F.col("n_words"))
    )
    return base.select(
        "doc_id",
        "n_words",
        "n_syllables",
        "n_sentences",
        (F.floor(flesch * 10_000 + F.lit(0.5)) / 10_000).alias("flesch4"),
    )


@_q(
    "part_value_concentration",
    """
    WITH pv AS (
        SELECT l_partkey AS partkey,
               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                        * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
                    AS BIGINT) AS v4
        FROM lineitem
        GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(v4) AS BIGINT) AS t4,
               CAST(count(*) AS BIGINT) AS n_parts
        FROM pv
    )
    SELECT partkey, v4 / 10000.0 AS supply_value
    FROM pv CROSS JOIN tot
    WHERE v4 * n_parts * 2 > 3 * t4
    """,
    tags=("agg", "scalar-subquery", "tpch"),
)
def part_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11-shape (testdata has no partsupp, so supply value comes
    from lineitem): parts whose discounted revenue exceeds 1.5x the
    MEAN part value — the group-vs-global-scalar HAVING pattern, with
    a scale-invariant threshold (a fixed global-share cut returns an
    ever-thinner slice as the part count grows).
    Exact end to end: prices/discounts carry 2 decimals, so
    cents × (100 − pct) is an integer in 10⁻⁴ currency units; the
    threshold compare is the cross-multiplied integer `v4·2000 > t4`
    (no division), and the only IEEE op is the final display division,
    mirrored in the oracle. The global total rides in as a broadcast
    1-row cross join — one shuffle (the partkey agg) total. At 100 TB
    the BIGINT micro-unit sum needs DECIMAL(38,0) headroom; the ANSI
    overflow raise (not a wrap) is the guard."""
    l = _t(spark, sf_dir, "lineitem")
    e_cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    d_pct = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
    pv = (
        l.select(
            F.col("l_partkey").alias("partkey"),
            (e_cents * (F.lit(100) - d_pct)).alias("item_v4"),
        )
        .groupBy("partkey")
        .agg(F.sum("item_v4").alias("v4"))
    )
    tot = pv.agg(
        F.sum("v4").alias("t4"), F.count(F.lit(1)).cast("long").alias("n_parts")
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(F.col("v4") * F.col("n_parts") * 2 > 3 * F.col("t4"))
        .select("partkey", (F.col("v4") / F.lit(10000.0)).alias("supply_value"))
    )


@_q(
    "supplier_attr_counts",
    """
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#45'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
    tags=("agg", "distinct", "anti-join", "tpch"),
)
def supplier_attr_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shape: how many DISTINCT suppliers serve each
    surviving (brand, type, size) bucket, excluding suspect suppliers
    (negative balance standing in for the complaint-comment filter;
    testdata has no partsupp, so supply pairs come from lineitem).
    The NOT IN compiles to a broadcast anti-join (s_suppkey is
    non-null, so NOT IN ≡ anti); part filters push into the part scan
    and the part side broadcasts; count(DISTINCT) is the two-level
    partial-distinct aggregate on (attrs, suppkey) — no row explosion,
    one real shuffle."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin([1, 4, 7, 10, 13, 16, 19, 22])
    )
    suspect = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    l = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(suspect),
        F.col("l_suppkey") == F.col("s_suppkey"),
        "left_anti",
    )
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@_q(
    "dominant_part_suppliers",
    """
    WITH ps AS (
        SELECT l_partkey AS partkey, l_suppkey AS suppkey,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'small%' AND l_shipdate >= TIMESTAMP '2000-01-01'
        GROUP BY 1, 2
    ), wt AS (
        SELECT suppkey, qty,
               CAST(sum(qty) OVER (PARTITION BY partkey) AS BIGINT) AS total
        FROM ps
    )
    SELECT DISTINCT s_name, s_nationkey
    FROM wt JOIN supplier ON s_suppkey = suppkey
    WHERE qty * 2 > total
    """,
    tags=("window", "semi-join", "tpch"),
)
def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20-shape (availqty recast onto lineitem): suppliers who
    shipped MORE THAN HALF of a 'small%' part's recent total — the
    nested grouped-share pattern (per-(part,supplier) agg, per-part
    window total, threshold semi-join into the dim). Quantities are
    integers, the share compare is cross-multiplied (`qty·2 > total`,
    no division) — exact. Spark shape: name/date filters push into the
    scans, one shuffle on (partkey, suppkey), the part-total window
    reuses the partkey partitioning AQE leaves behind, supplier
    broadcasts. DISTINCT output is supplier-sized."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    ps = (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        .groupBy("partkey", "suppkey")
        .agg(F.sum("q").alias("qty"))
    )
    wt = ps.withColumn("total", F.sum("qty").over(Window.partitionBy("partkey")))
    s = _t(spark, sf_dir, "supplier")
    return (
        wt.filter(F.col("qty") * 2 > F.col("total"))
        .join(F.broadcast(s), F.col("suppkey") == F.col("s_suppkey"))
        .select("s_name", "s_nationkey")
        .distinct()
    )


@_q(
    "ks_test_click_purchase",
    """
    WITH pts AS (
        SELECT value AS x,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS c1,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS c2
        FROM events
        WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
    ), g AS (
        SELECT x, CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
        FROM pts GROUP BY x
    ), tot AS (
        SELECT CAST(sum(n1) AS BIGINT) AS big_n1, CAST(sum(n2) AS BIGINT) AS big_n2
        FROM g
    ), cum AS (
        SELECT CAST(sum(n1 * big_n2 - n2 * big_n1) OVER (ORDER BY x) AS BIGINT)
               AS d_cum
        FROM g CROSS JOIN tot
    )
    SELECT big_n1 AS n_click, big_n2 AS n_purchase,
           CAST(max(abs(d_cum)) AS BIGINT) AS d_num,
           floor(max(abs(d_cum)) * 1.0 / (big_n1 * big_n2) * 1000000 + 0.5)
               / 1000000 AS ks_stat6
    FROM cum CROSS JOIN tot
    GROUP BY big_n1, big_n2
    """,
    tags=("stats", "hypothesis-test", "exact"),
)
def ks_test_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic comparing the
    `value` distributions of click vs purchase events — the standard
    distribution-drift / A-B test companion to the chi-squared and
    Welch rows. Integer-exact: group by distinct value, and since
    D = max|F₁(x) − F₂(x)| = max|A(x)·N₂ − B(x)·N₁| / (N₁·N₂), the
    per-value increment n₁·N₂ − n₂·N₁ is a pure integer whose ONE
    distributed prefix sum (operators/rank.py::global_running_sum —
    not a single-partition window) yields the unscaled curve; the only
    IEEE op is the final division, floored at 6 dp identically in the
    oracle. Tables are O(distinct values); at >2³¹ samples per side
    the N₁·N₂ product needs DECIMAL headroom (ANSI raises loudly)."""
    from reactionetl_etl_spark.operators.rank import global_running_sum

    ev = load_events(spark, sf_dir)
    pts = ev.filter(
        F.col("event_type").isin("click", "purchase") & F.col("value").isNotNull()
    ).select(
        F.col("value").alias("x"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("c1"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("c2"),
    )
    g = pts.groupBy("x").agg(
        F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2")
    ).localCheckpoint(eager=True)  # totals + increments both read this; value-cardinality-bounded
    tot = g.agg(
        F.sum("n1").cast("long").alias("big_n1"),
        F.sum("n2").cast("long").alias("big_n2"),
    )
    delta = g.crossJoin(F.broadcast(tot)).select(
        "x",
        "big_n1",
        "big_n2",
        (F.col("n1") * F.col("big_n2") - F.col("n2") * F.col("big_n1")).alias("d"),
    )
    cum = global_running_sum(
        delta,
        order_exprs=[F.col("x")],
        order_desc=[False],
        value_col="d",
        out_col="d_cum",
    )
    return (
        cum.groupBy("big_n1", "big_n2")
        .agg(F.max(F.abs("d_cum")).alias("d_num"))
        .select(
            F.col("big_n1").alias("n_click"),
            F.col("big_n2").alias("n_purchase"),
            "d_num",
            (
                F.floor(
                    F.col("d_num")
                    / (F.col("big_n1") * F.col("big_n2"))
                    * 1_000_000
                    + F.lit(0.5)
                )
                / 1_000_000
            ).alias("ks_stat6"),
        )
    )


@_q(
    "mixture_temperature_resample",
    """
    WITH tot AS (
        SELECT CAST(count(*) AS BIGINT) AS big_n FROM documents
    ), rates AS (
        SELECT lang,
               least(1.0, 0.3 * sqrt(big_n * 1.0 / count(*))) AS keep_rate
        FROM documents CROSS JOIN tot
        GROUP BY lang, big_n
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN rates USING (lang)
    WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
          / 4294967296.0 < keep_rate
    """,
    tags=("sampling", "mixture", "llm", "deterministic"),
)
def mixture_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened language mixture (the multilingual-corpus
    counterpart of `mixture_resample_uniform`): keep rate per language
    ∝ (corpus share)^(−1/2), capped at 1 — the α=0.5 temperature
    sampling that upsamples rare languages relative to their raw share
    (mT5/XLM-R style). The rate is a pure function of two INTEGER
    counts (`0.3·√(N/n_l)`: one division, one correctly-rounded sqrt,
    one multiply — bit-identical across engines, no cross-group float
    summation to drift), and selection is the engine-neutral
    md5-variate Bernoulli, so the selected SET is exactly reproducible
    anywhere. One broadcast of the per-lang rate table; zero extra
    shuffle over the corpus scan."""
    docs = _t(spark, sf_dir, "documents")
    # ONE corpus-scan agg yields the per-lang counts; the global total is
    # a window sum over that lang-sized table (not a second corpus scan)
    by_lang = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_l"))
    rates = by_lang.select(
        "lang",
        F.least(
            F.lit(1.0),
            F.lit(0.3)
            * F.sqrt(
                F.sum("n_l").over(Window.partitionBy()) * F.lit(1.0) / F.col("n_l")
            ),
        ).alias("keep_rate"),
    )
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) / F.lit(4294967296.0)
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(u < F.col("keep_rate"))
        .select("doc_id", "lang")
    )


@_q(
    "retrieval_ndcg_eval",
    """
    WITH tok AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), t AS (
        SELECT doc_id, unnest(toks) AS term FROM tok
    ), hits AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS tf_total,
               CAST(count(DISTINCT term) AS BIGINT) AS gain
        FROM t WHERE term IN ('spark', 'merge', 'window')
        GROUP BY doc_id
    ), sys10 AS (
        SELECT row_number() OVER (ORDER BY tf_total DESC, doc_id) AS rn, gain
        FROM hits ORDER BY tf_total DESC, doc_id LIMIT 10
    ), ideal10 AS (
        SELECT row_number() OVER (ORDER BY gain DESC, doc_id) AS rn, gain
        FROM hits ORDER BY gain DESC, doc_id LIMIT 10
    ), dcg AS (
        SELECT sum((power(2.0, gain) - 1.0) / (ln(rn + 1.0) / ln(2.0))) AS dcg10
        FROM sys10
    ), idcg AS (
        SELECT sum((power(2.0, gain) - 1.0) / (ln(rn + 1.0) / ln(2.0))) AS idcg10
        FROM ideal10
    )
    SELECT floor(dcg10 * 1000000 + 0.5) / 1000000 AS dcg6,
           floor(idcg10 * 1000000 + 0.5) / 1000000 AS idcg6,
           floor(dcg10 / idcg10 * 1000000 + 0.5) / 1000000 AS ndcg6
    FROM dcg CROSS JOIN idcg
    """,
    tags=("retrieval", "eval", "llm"),
)
def retrieval_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of a term-frequency ranking against graded relevance =
    distinct query terms matched (0-3) — the ranking-quality eval that
    complements the recall-based `ann_recall_report` (a TF ranking
    rewards repetition; NDCG scores how much that hurts coverage-graded
    relevance). Both the system and ideal orderings are TOP-10 via
    distributed TakeOrdered with full (score, doc_id) tie-breaks — the
    rank-assignment window then runs over ten rows, never over the
    candidate set; candidates are the 3-term posting-list union, tables
    O(matching docs). The exponential-gain DCG discount is a mirrored
    IEEE expression (ln quotients), floored at 6 dp on both sides."""
    docs = _t(spark, sf_dir, "documents")
    norm = D.normalize_text("text")
    t = docs.select("doc_id", F.explode(F.split(norm, " ")).alias("term"))
    hits = (
        t.filter(F.col("term").isin("spark", "merge", "window"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("tf_total"),
            F.count_distinct("term").alias("gain"),
        )
    )
    w_sys = Window.orderBy(F.desc("tf_total"), F.asc("doc_id"))
    w_ideal = Window.orderBy(F.desc("gain"), F.asc("doc_id"))
    sys10 = (
        hits.orderBy(F.desc("tf_total"), F.asc("doc_id"))
        .limit(10)
        .select(F.row_number().over(w_sys).alias("rn"), "gain")
    )
    ideal10 = (
        hits.orderBy(F.desc("gain"), F.asc("doc_id"))
        .limit(10)
        .select(F.row_number().over(w_ideal).alias("rn"), "gain")
    )

    def _dcg(col: str):
        return F.sum(
            (F.pow(F.lit(2.0), F.col("gain")) - F.lit(1.0))
            / (F.log(F.col("rn") + F.lit(1.0)) / F.log(F.lit(2.0)))
        ).alias(col)

    dcg = sys10.agg(_dcg("dcg10"))
    idcg = ideal10.agg(_dcg("idcg10"))
    return dcg.crossJoin(F.broadcast(idcg)).select(
        (F.floor(F.col("dcg10") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias("dcg6"),
        (F.floor(F.col("idcg10") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias("idcg6"),
        (
            F.floor(F.col("dcg10") / F.col("idcg10") * 1_000_000 + F.lit(0.5))
            / 1_000_000
        ).alias("ndcg6"),
    )


@_q(
    "bigram_llr_collocations",
    """
    WITH t AS (
        SELECT string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), pairs AS (
        SELECT p[1] AS w1, p[2] AS w2, CAST(count(*) AS BIGINT) AS k11
        FROM t, UNNEST(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS u(p)
        WHERE len(toks) >= 2
        GROUP BY 1, 2
    ), heads AS (
        SELECT w1, CAST(sum(k11) AS BIGINT) AS h FROM pairs GROUP BY 1
    ), tails AS (
        SELECT w2, CAST(sum(k11) AS BIGINT) AS t FROM pairs GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(k11) AS BIGINT) AS big_n FROM pairs
    ), cells AS (
        SELECT w1, w2, k11, h - k11 AS k12, t - k11 AS k21,
               big_n - h - t + k11 AS k22, h, t, big_n
        FROM pairs JOIN heads USING (w1) JOIN tails USING (w2) CROSS JOIN tot
    )
    SELECT w1, w2, k11,
           floor(2.0 * (
               CASE WHEN k11 > 0 THEN k11 * ln(k11 * 1.0 * big_n / (h * t)) ELSE 0.0 END
             + CASE WHEN k12 > 0 THEN k12 * ln(k12 * 1.0 * big_n / (h * (big_n - t))) ELSE 0.0 END
             + CASE WHEN k21 > 0 THEN k21 * ln(k21 * 1.0 * big_n / ((big_n - h) * t)) ELSE 0.0 END
             + CASE WHEN k22 > 0 THEN k22 * ln(k22 * 1.0 * big_n / ((big_n - h) * (big_n - t))) ELSE 0.0 END
           ) * 10000 + 0.5) / 10000 AS llr4
    FROM cells
    ORDER BY llr4 DESC, w1, w2
    LIMIT 20
    """,
    tags=("text", "collocations", "stats", "llm"),
)
def bigram_llr_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood-ratio collocations (Dunning 1993) — the
    statistically-grounded upgrade of raw `token_pair_stats` counts:
    G² over each bigram's 2×2 contingency table (pair count, head
    total, tail total, corpus total), which surfaces SURPRISING
    adjacencies instead of merely frequent ones. All four cell counts
    are exact integers from two vocabulary-bounded aggregates; the G²
    expression is mirrored IEEE (ln of identical integer rationals),
    floored at 4 dp both sides; top-20 with full (w1, w2) tie-break.
    Pairs are built row-locally (transform over the token array) —
    only (w1, w2, count) reaches the shuffle."""
    docs = _t(spark, sf_dir, "documents")
    norm = D.normalize_text("text")
    tok = docs.select(F.split(norm, " ").alias("toks")).filter(F.size("toks") >= 2)
    pairs = (
        tok.select(
            F.explode(
                F.expr(
                    "transform(slice(toks, 1, size(toks) - 1),"
                    " (x, i) -> struct(x AS w1, toks[i + 1] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("k11"))
        # four consumers (heads/tails/total/cells) would each re-scan and
        # re-tokenize the corpus; the pair table is vocabulary²-bounded
        .localCheckpoint(eager=True)
    )
    heads = pairs.groupBy("w1").agg(F.sum("k11").alias("h"))
    tails = pairs.groupBy("w2").agg(F.sum("k11").alias("t"))
    tot = pairs.agg(F.sum("k11").alias("big_n"))
    cells = (
        pairs.join(heads, "w1")
        .join(tails, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "k11",
            (F.col("h") - F.col("k11")).alias("k12"),
            (F.col("t") - F.col("k11")).alias("k21"),
            (F.col("big_n") - F.col("h") - F.col("t") + F.col("k11")).alias("k22"),
            "h",
            "t",
            "big_n",
        )
    )

    def _term(k: str, num_row, num_col):
        return F.when(
            F.col(k) > 0,
            F.col(k)
            * F.log(F.col(k) * F.lit(1.0) * F.col("big_n") / (num_row * num_col)),
        ).otherwise(F.lit(0.0))

    g2 = F.lit(2.0) * (
        _term("k11", F.col("h"), F.col("t"))
        + _term("k12", F.col("h"), F.col("big_n") - F.col("t"))
        + _term("k21", F.col("big_n") - F.col("h"), F.col("t"))
        + _term("k22", F.col("big_n") - F.col("h"), F.col("big_n") - F.col("t"))
    )
    return (
        cells.select(
            "w1",
            "w2",
            "k11",
            (F.floor(g2 * 10_000 + F.lit(0.5)) / 10_000).alias("llr4"),
        )
        .orderBy(F.desc("llr4"), "w1", "w2")
        .limit(20)
    )


@_q(
    "token_cms_estimates",
    """
    WITH t AS (
        SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
        FROM documents
    ), counts AS (
        SELECT token, CAST(count(*) AS BIGINT) AS exact_n FROM t GROUP BY 1
    ), hashes AS (
        SELECT token, exact_n, j,
               ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || token), 1, 8))::BIGINT % 64
                   AS bucket
        FROM counts CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS j)
    ), cms AS (
        SELECT j, bucket, CAST(sum(exact_n) AS BIGINT) AS cell
        FROM hashes GROUP BY 1, 2
    ), top10 AS (
        SELECT token, exact_n FROM counts
        ORDER BY exact_n DESC, token LIMIT 10
    )
    SELECT t10.token, t10.exact_n,
           CAST(min(cms.cell) AS BIGINT) AS cms_est,
           CAST(min(cms.cell) - t10.exact_n AS BIGINT) AS overcount
    FROM top10 t10
    JOIN hashes h ON h.token = t10.token
    JOIN cms ON cms.j = h.j AND cms.bucket = h.bucket
    GROUP BY t10.token, t10.exact_n
    """,
    tags=("sketch", "heavy-hitters", "deterministic"),
)
def token_cms_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode-Muthukrishnan) token frequencies,
    audited against exact counts: a 4×64 CMS built with md5-derived
    row hashes (engine-neutral, unlike xxhash64 — which is what buys
    the computed oracle), point-queried for the top-10 exact heavy
    hitters. `overcount = est − exact ≥ 0` is the sketch's one-sided
    error, visible per token. The sketch TABLE is 256 rows regardless
    of corpus size and merges by cell addition (the mergeable-summary
    property that makes CMS the 100 TB streaming/partial-agg shape);
    building it is one map-side-combined aggregate over (row, bucket).
    The vocabulary-bounded exact counts table is computed once and
    feeds the sketch build, the top-k probe, and the audit join."""
    docs = _t(spark, sf_dir, "documents")
    norm = D.normalize_text("text")
    counts = (
        docs.select(F.explode(F.split(norm, " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .localCheckpoint(eager=True)
    )
    hashes = counts.select(
        "token",
        "exact_n",
        F.explode(F.array([F.lit(j) for j in (1, 2, 3, 4)])).alias("j"),
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("j").cast("string"), F.lit(":"), F.col("token"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 64,
    )
    cms = hashes.groupBy("j", "bucket").agg(F.sum("exact_n").alias("cell"))
    top10 = counts.orderBy(F.desc("exact_n"), "token").limit(10)
    return (
        top10.join(hashes.select("token", "j", "bucket"), "token")
        .join(cms, ["j", "bucket"])
        .groupBy("token", "exact_n")
        .agg(F.min("cell").alias("cms_est"))
        .select(
            "token",
            "exact_n",
            "cms_est",
            (F.col("cms_est") - F.col("exact_n")).alias("overcount"),
        )
    )


@_q(
    "event_markov_stationary",
    """
    WITH RECURSIVE ordered AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ), c AS (
        SELECT event_type AS cur, nxt, CAST(count(*) AS BIGINT) AS n
        FROM ordered WHERE nxt IS NOT NULL GROUP BY 1, 2
    ), r AS (
        SELECT cur, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1
    ), it(iter, state, xv) AS (
        SELECT 0, cur, CAST(1000000000000 AS BIGINT) FROM r
        UNION ALL
        SELECT nxt.iter + 1, nxt.state, nxt.xv FROM (
            SELECT it.iter, c.nxt AS state,
                   CAST(sum((it.xv * c.n) // r.tot) AS BIGINT) AS xv
            FROM it JOIN c ON it.state = c.cur JOIN r ON r.cur = c.cur
            GROUP BY 1, 2
        ) nxt(iter, state, xv)
        WHERE nxt.iter < 8
    ), fin AS (
        SELECT state, xv FROM it WHERE iter = 8
    ), z AS (
        SELECT CAST(sum(xv) AS BIGINT) AS z FROM fin
    )
    SELECT state, xv,
           floor(xv * 1.0 / z * 1000000 + 0.5) / 1000000 AS prob6
    FROM fin CROSS JOIN z
    """,
    tags=("stats", "markov", "iterative", "behavior"),
)
def event_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-behavior Markov chain — the
    long-run state mix implied by `event_transition_matrix`'s counts
    (where does a user's session settle?). Eight Jacobi power-iteration
    rounds in TRUNCATED INTEGER arithmetic: state mass starts at 10¹²
    micro-units and each round routes `(x·c) DIV r` along every
    transition — integer ops only, so the result is bit-identical
    across engines AND partitionings (a float recurrence would drift
    with summation order), expressible as a DuckDB RECURSIVE CTE. The
    data-scale stage is the ONE transition-count aggregation (per-user
    lead window); the chain itself is |event types|² cells — metadata
    by construction — so the rounds run as exact Python integers on
    the driver (guarded collect; the k-means-centroid discipline)
    instead of 8 checkpointed state-sized Spark rounds whose fixed
    stage latency the r9 curves measured at ~1.3 s."""
    import math

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_ntz", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    c = pairs.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    # The ONE data-scale stage ends here. The chain itself is
    # |event types|² cells — metadata by construction (the domain of a
    # categorical column) — so the 8 Jacobi rounds run as exact Python
    # integers on the driver (the k-means-centroid discipline; r9
    # measured 8 checkpointed state-sized rounds costing a fixed
    # ~1.3 s of pure stage latency). Arithmetic is IDENTICAL
    # truncated-integer ops, so the result is bit-equal to the
    # distributed loop and to the RECURSIVE oracle. Guarded: a
    # non-categorical state column would make this collect data-sized.
    cells = c.collect()
    if len(cells) > 10_000:
        raise ValueError(
            f"{len(cells)} transition cells — state column is not "
            "categorical-sized; use a distributed iteration for this input"
        )
    tot: dict[str, int] = {}
    for row in cells:
        tot[row["cur"]] = tot.get(row["cur"], 0) + row["n"]
    x = {s: 1_000_000_000_000 for s in tot}
    for _ in range(8):
        nx: dict[str, int] = {}
        for row in cells:
            if row["cur"] in x:
                nx[row["nxt"]] = nx.get(row["nxt"], 0) + (
                    x[row["cur"]] * row["n"]
                ) // tot[row["cur"]]
        x = nx
    z = sum(x.values())
    out = [
        (s, xv, math.floor(xv * 1.0 / z * 1_000_000 + 0.5) / 1_000_000)
        for s, xv in sorted(x.items())
    ]
    return spark.createDataFrame(
        out, "state string, xv bigint, prob6 double"
    )


@_q(
    "purchase_attribution_credit",
    """
    WITH clicks AS (
        SELECT user_id, event_id AS click_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ), purchases AS (
        SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ), touch AS (
        SELECT p.purchase_id, c.click_id, c.click_ts,
               row_number() OVER (PARTITION BY p.purchase_id
                                  ORDER BY c.click_ts, c.click_id) AS rn,
               count(*) OVER (PARTITION BY p.purchase_id) AS k
        FROM purchases p
        JOIN clicks c ON c.user_id = p.user_id
         AND c.click_ts >= p.purchase_ts - INTERVAL 30 MINUTE
         AND c.click_ts < p.purchase_ts
    ), credit AS (
        SELECT click_id, click_ts,
               CASE WHEN k = 1 THEN 1000000
                    WHEN rn = 1 OR rn = k THEN CASE WHEN k = 2 THEN 500000 ELSE 400000 END
                    ELSE 200000 // (k - 2)
               END AS credit_micro
        FROM touch
    )
    SELECT CAST(hour(click_ts) AS BIGINT) AS click_hour,
           CAST(count(*) AS BIGINT) AS n_credited,
           CAST(sum(credit_micro) AS BIGINT) AS credit_micro_total
    FROM credit
    GROUP BY 1
    """,
    tags=("analytics", "attribution", "window"),
)
def purchase_attribution_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution — the
    marketing-analytics sibling of the as-of join's last-touch rule:
    each purchase distributes credit over the same-user clicks of its
    preceding 30 minutes (40% first touch, 40% last, 20% split across
    the middle; 100%/50-50 for one/two touches), reported by click
    hour. Credit is INTEGER micro-units with truncating division for
    the middle split, so every sum is exact and order-independent —
    no float accumulation to drift cross-engine. The time band
    executes as a user-keyed equi-join with the band as a post-filter
    (the `interval_join` shape — no range explosion); the position
    window partitions by purchase_id, whose group size is bounded by
    the 30-minute band."""
    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts_ntz").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts_ntz").alias("purchase_ts"),
    )
    touch = purchases.join(clicks, F.col("cu") == F.col("pu")).filter(
        (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("click_ts") < F.col("purchase_ts"))
    )
    w_pos = Window.partitionBy("purchase_id").orderBy("click_ts", "click_id")
    w_cnt = Window.partitionBy("purchase_id")
    pos = touch.select(
        "click_id",
        "click_ts",
        F.row_number().over(w_pos).alias("rn"),
        F.count(F.lit(1)).over(w_cnt).alias("k"),
    )
    credit = pos.select(
        "click_id",
        "click_ts",
        F.when(F.col("k") == 1, F.lit(1_000_000))
        .when(
            (F.col("rn") == 1) | (F.col("rn") == F.col("k")),
            F.when(F.col("k") == 2, F.lit(500_000)).otherwise(F.lit(400_000)),
        )
        .otherwise(F.expr("200000 DIV (k - 2)"))
        .alias("credit_micro"),
    )
    return (
        credit.groupBy(F.hour("click_ts").cast("long").alias("click_hour"))
        .agg(
            F.count(F.lit(1)).alias("n_credited"),
            F.sum("credit_micro").alias("credit_micro_total"),
        )
    )


@_q(
    "nation_theilsen_trend",
    """
    WITH monthly AS (
        SELECT n.n_name AS nation,
               (year(o.o_orderdate) * 12 + month(o.o_orderdate)) AS m,
               CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                        * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT)))
                    AS BIGINT) AS rev4
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    ), pairs AS (
        SELECT a.nation, a.m AS m1, b.m AS m2,
               (b.rev4 - a.rev4) * 1.0 / ((b.m - a.m) * 10000.0) AS slope
        FROM monthly a JOIN monthly b
          ON a.nation = b.nation AND b.m > a.m
    ), ranked AS (
        SELECT nation, slope,
               row_number() OVER (PARTITION BY nation
                                  ORDER BY slope, m1, m2) AS rn,
               count(*) OVER (PARTITION BY nation) AS cnt
        FROM pairs
    )
    SELECT nation, CAST(cnt AS BIGINT) AS n_pairs,
           floor(slope * 1000000 + 0.5) / 1000000 AS theilsen_slope6
    FROM ranked
    WHERE rn = (cnt + 1) // 2
    """,
    tags=("stats", "robust", "trend"),
)
def nation_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per nation — the outlier-resistant
    sibling of `nation_revenue_trend`'s OLS slope: the (lower) median
    of all pairwise month-over-month revenue slopes. The pair
    explosion is bounded by months², NOT by data size (monthly revenue
    is aggregated FIRST — the data-scale stage is that one keyed agg;
    the self-join runs on the nation×month grid, ~84 rows per nation),
    so the 'quadratic' step is metadata-sized at any corpus scale.
    Revenue carries exact 10⁻⁴-unit integers into the slope division
    (one mirrored IEEE op); the median element is selected by
    row_number with a full (slope, m1, m2) tie-break, making the
    selection — not just the value — deterministic cross-engine."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    e_cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    d_pct = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
    monthly = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m"),
            (e_cents * (F.lit(100) - d_pct)).alias("item_v4"),
        )
        .groupBy("nation", "m")
        .agg(F.sum("item_v4").alias("rev4"))
        # both self-join sides consume this; without the checkpoint the
        # 4-table join re-executes per side. Grid is nation×month-sized.
        .localCheckpoint(eager=True)
    )
    a = monthly.alias("a")
    b = monthly.alias("b")
    pairs = a.join(
        b,
        (F.col("a.nation") == F.col("b.nation")) & (F.col("b.m") > F.col("a.m")),
    ).select(
        F.col("a.nation").alias("nation"),
        F.col("a.m").alias("m1"),
        F.col("b.m").alias("m2"),
        (
            (F.col("b.rev4") - F.col("a.rev4"))
            * F.lit(1.0)
            / ((F.col("b.m") - F.col("a.m")) * F.lit(10000.0))
        ).alias("slope"),
    )
    w = Window.partitionBy("nation").orderBy("slope", "m1", "m2")
    wc = Window.partitionBy("nation")
    ranked = pairs.select(
        "nation",
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    return ranked.filter(F.col("rn") == F.expr("(cnt + 1) DIV 2")).select(
        "nation",
        F.col("cnt").cast("long").alias("n_pairs"),
        (F.floor(F.col("slope") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias(
            "theilsen_slope6"
        ),
    )


@_q(
    "event_value_bootstrap_ci",
    """
    WITH vals AS (
        SELECT event_id,
               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v6
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
    ), reps AS (
        SELECT b, event_id, v6,
               ('0x' || substr(md5(CAST(event_id AS VARCHAR) || '#' || CAST(b AS VARCHAR)), 1, 8))::BIGINT
                   / 4294967296.0 AS u
        FROM vals CROSS JOIN (SELECT unnest(range(1, 41)) AS b)
    ), weighted AS (
        SELECT b,
               CASE WHEN u < 0.36787944117144233 THEN 0
                    WHEN u < 0.7357588823428847 THEN 1
                    WHEN u < 0.9196986029286058 THEN 2
                    WHEN u < 0.9810118431238462 THEN 3
                    WHEN u < 0.9963401531726563 THEN 4
                    ELSE 5 END AS w,
               v6
        FROM reps
    ), means AS (
        SELECT b,
               CAST(sum(w * v6) AS BIGINT) * 1.0
                   / (CAST(sum(w) AS BIGINT) * 1000000.0) AS mean_b
        FROM weighted
        GROUP BY b
    ), ranked AS (
        SELECT mean_b, row_number() OVER (ORDER BY mean_b, b) AS rn FROM means
    ), base AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v6) AS BIGINT) * 1.0 / (count(*) * 1000000.0) AS mean_full
        FROM vals
    )
    SELECT base.n,
           floor(mean_full * 1000000 + 0.5) / 1000000 AS mean6,
           floor((SELECT mean_b FROM ranked WHERE rn = 2) * 1000000 + 0.5) / 1000000 AS boot_lo6,
           floor((SELECT mean_b FROM ranked WHERE rn = 39) * 1000000 + 0.5) / 1000000 AS boot_hi6
    FROM base
    """,
    tags=("stats", "bootstrap", "deterministic"),
)
def event_value_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean purchase
    value — THE bootstrap that scales: instead of drawing n samples
    with replacement per replicate (a global operation), every row
    gets an independent Poisson(1) weight per replicate, computed here
    from an md5 variate through the literal Poisson CDF thresholds —
    fully deterministic, engine-neutral, embarrassingly parallel (one
    scan, map-side-combined sums, B=40 output rows). Values ride as
    exact micro-unit integers so each replicate's weighted sum is
    exact; the replicate means' rank-2/rank-39 order statistics give
    the ~95% percentile CI (tie-broken by replicate id so the SELECTED
    elements are deterministic). Cost is B hash evaluations per row in
    one pass — no resample shuffle, no global state."""
    from reactionetl_etl_spark.operators.experiment import micro_units

    ev = load_events(spark, sf_dir)
    vals = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        "event_id",
        micro_units("value").alias("v6"),
    )
    reps = vals.select(
        "event_id",
        "v6",
        F.explode(F.array([F.lit(b) for b in range(1, 41)])).alias("b"),
    ).withColumn(
        "u",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("event_id").cast("string"),
                        F.lit("#"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0),
    )
    w = (
        F.when(F.col("u") < 0.36787944117144233, 0)
        .when(F.col("u") < 0.7357588823428847, 1)
        .when(F.col("u") < 0.9196986029286058, 2)
        .when(F.col("u") < 0.9810118431238462, 3)
        .when(F.col("u") < 0.9963401531726563, 4)
        .otherwise(5)
    )
    means = (
        reps.select("b", w.alias("w"), "v6")
        .groupBy("b")
        .agg(
            (
                F.sum(F.col("w") * F.col("v6")).cast("long")
                * F.lit(1.0)
                / (F.sum("w").cast("long") * F.lit(1_000_000.0))
            ).alias("mean_b")
        )
    )
    ranked = means.select(
        "mean_b", F.row_number().over(Window.orderBy("mean_b", "b")).alias("rn")
    )
    lo = ranked.filter(F.col("rn") == 2).select(F.col("mean_b").alias("lo"))
    hi = ranked.filter(F.col("rn") == 39).select(F.col("mean_b").alias("hi"))
    base = vals.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.sum("v6").cast("long")
            * F.lit(1.0)
            / (F.count(F.lit(1)) * F.lit(1_000_000.0))
        ).alias("mean_full"),
    )
    return (
        base.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n",
            (F.floor(F.col("mean_full") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias(
                "mean6"
            ),
            (F.floor(F.col("lo") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias(
                "boot_lo6"
            ),
            (F.floor(F.col("hi") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias(
                "boot_hi6"
            ),
        )
    )


@_q(
    "events_ewma_features",
    """
    WITH v AS (
        SELECT event_id, user_id,
               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v6,
               ts, 
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
        FROM events WHERE value IS NOT NULL
    ), lagged AS (
        SELECT event_id, user_id, v6,
               lag(v6, 1) OVER w AS l1, lag(v6, 2) OVER w AS l2,
               lag(v6, 3) OVER w AS l3, lag(v6, 4) OVER w AS l4,
               lag(v6, 5) OVER w AS l5, lag(v6, 6) OVER w AS l6,
               lag(v6, 7) OVER w AS l7
        FROM v
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id,
           floor(
             (0.25 * v6 + 0.1875 * coalesce(l1, 0) + 0.140625 * coalesce(l2, 0)
              + 0.10546875 * coalesce(l3, 0) + 0.0791015625 * coalesce(l4, 0)
              + 0.059326171875 * coalesce(l5, 0) + 0.04449462890625 * coalesce(l6, 0)
              + 0.0333709716796875 * coalesce(l7, 0))
             / (0.25 + CASE WHEN l1 IS NULL THEN 0.0 ELSE 0.1875 END
                + CASE WHEN l2 IS NULL THEN 0.0 ELSE 0.140625 END
                + CASE WHEN l3 IS NULL THEN 0.0 ELSE 0.10546875 END
                + CASE WHEN l4 IS NULL THEN 0.0 ELSE 0.0791015625 END
                + CASE WHEN l5 IS NULL THEN 0.0 ELSE 0.059326171875 END
                + CASE WHEN l6 IS NULL THEN 0.0 ELSE 0.04449462890625 END
                + CASE WHEN l7 IS NULL THEN 0.0 ELSE 0.0333709716796875 END)
             / 1000000.0 * 1000000 + 0.5) / 1000000 AS ewma6
    FROM lagged
    """,
    tags=("timeseries", "features", "window"),
)
def events_ewma_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated exponentially-weighted moving average of event value
    per user (α = 0.25 over the last 8 observations, renormalized over
    the lags that exist) — the standard leakage-free feature-
    engineering smoother. EWMA's recurrence is non-associative, so the
    distributed form is the TRUNCATED expansion: 8 lag windows with
    LITERAL weights α(1−α)^j — every weight is an exact binary double
    (3^j/4^(j+1)), values ride as micro-unit integers, and both
    engines evaluate the identical left-associated chain, so the
    result is bit-deterministic with no recurrence to order-drift.
    One user-keyed window partitioning serves all 8 lags; weight mass
    beyond 8 lags is < 10%, renormalized away."""
    from reactionetl_etl_spark.operators.experiment import micro_units

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_ntz", "event_id")
    v = ev.filter(F.col("value").isNotNull()).select(
        "event_id",
        "user_id",
        micro_units("value").alias("v6"),
        "ts_ntz",
    )
    lags = v.select(
        "event_id",
        "user_id",
        "v6",
        *[F.lag("v6", j).over(w).alias(f"l{j}") for j in range(1, 8)],
    )
    ws = [0.25, 0.1875, 0.140625, 0.10546875, 0.0791015625, 0.059326171875,
          0.04449462890625, 0.0333709716796875]
    num = F.lit(ws[0]) * F.col("v6")
    for j in range(1, 8):
        num = num + F.lit(ws[j]) * F.coalesce(F.col(f"l{j}"), F.lit(0))
    den = F.lit(ws[0])
    for j in range(1, 8):
        den = den + F.when(F.col(f"l{j}").isNull(), F.lit(0.0)).otherwise(F.lit(ws[j]))
    return lags.select(
        "event_id",
        "user_id",
        (F.floor(num / den / F.lit(1_000_000.0) * 1_000_000 + F.lit(0.5)) / 1_000_000).alias(
            "ewma6"
        ),
    )


@_q(
    "quality_lift_deciles",
    """
    WITH scored AS (
        SELECT doc_id, n_chars AS score,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ), ranked AS (
        SELECT y,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rn,
               count(*) OVER () AS big_n
        FROM scored
    ), deciled AS (
        SELECT CAST((rn - 1) * 10 // big_n + 1 AS BIGINT) AS decile, y, big_n
        FROM ranked
    ), tot AS (
        SELECT CAST(sum(y) AS BIGINT) AS big_p FROM deciled
    )
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(y) AS BIGINT) AS n_pos,
           floor(CAST(sum(y) AS BIGINT) * 1.0 * max(big_n)
                 / (count(*) * max(big_p)) * 1000000 + 0.5) / 1000000 AS lift6
    FROM deciled CROSS JOIN tot
    GROUP BY decile
    """,
    tags=("eval", "lift", "classifier"),
)
def quality_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift-by-decile table for a score/label pair (doc length as a
    predictor of lang='en' — the same pair the exact-AUC row
    evaluates): rank all docs by score, cut into SQL-standard deciles,
    and report each decile's positive count and lift over the base
    rate. The global ranking uses the DISTRIBUTED two-pass rank
    (rank.global_order_ranks), not a single-partition window — the
    oracle's `row_number() OVER (ORDER BY …)` is semantics, not plan.
    The decile cut ((rn−1)·10 DIV n) and all counts are exact
    integers; lift = (pos·N)/(n·P) is an integer-products ratio with
    one final IEEE division, floored at 6 dp."""
    from reactionetl_etl_spark.operators.rank import global_order_ranks

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    ranked = global_order_ranks(
        scored,
        rank_exprs=[F.col("score")],
        rank_desc=[True],
        tie_exprs=[F.col("doc_id")],
        tie_desc=[False],
        keep_total=True,
    )
    deciled = ranked.select(
        F.expr("(global_row_number - 1) * 10 DIV global_total + 1").alias("decile"),
        "y",
        F.col("global_total").alias("big_n"),
    )
    # big_p from the BASE table — deriving it from `deciled` would run
    # the whole two-pass rank pipeline a second time (plan audit: 20
    # exchanges -> 12)
    tot = scored.agg(F.sum("y").cast("long").alias("big_p"))
    return (
        deciled.crossJoin(F.broadcast(tot))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("y").cast("long").alias("n_pos"),
            (
                F.floor(
                    F.sum("y").cast("long")
                    * F.lit(1.0)
                    * F.max("big_n")
                    / (F.count(F.lit(1)) * F.max("big_p"))
                    * 1_000_000
                    + F.lit(0.5)
                )
                / 1_000_000
            ).alias("lift6"),
        )
    )


@_q(
    "incremental_cms_rollup",
    """
    WITH t AS (
        SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
        FROM documents
    ), counts AS (
        SELECT token, CAST(count(*) AS BIGINT) AS exact_n FROM t GROUP BY 1
    ), hashes AS (
        SELECT token, exact_n, j,
               ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || token), 1, 8))::BIGINT % 64
                   AS bucket
        FROM counts CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS j)
    ), cms AS (
        SELECT j, bucket, CAST(sum(exact_n) AS BIGINT) AS cell
        FROM hashes GROUP BY 1, 2
    ), top10 AS (
        SELECT token, exact_n FROM counts
        ORDER BY exact_n DESC, token LIMIT 10
    )
    SELECT t10.token, t10.exact_n,
           CAST(min(cms.cell) AS BIGINT) AS cms_est,
           CAST(min(cms.cell) - t10.exact_n AS BIGINT) AS overcount
    FROM top10 t10
    JOIN hashes h ON h.token = t10.token
    JOIN cms ON cms.j = h.j AND cms.bucket = h.bucket
    GROUP BY t10.token, t10.exact_n
    """,
    tags=("sketch", "incremental", "deterministic"),
)
def incremental_cms_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-min sketch maintained INCREMENTALLY: documents fold in
    as three batches whose per-(row, bucket) cell increments merge
    through the mergeable-rollup state machinery
    (etl/incremental_agg.py — idempotent batch ids, exact integer
    sums), then the folded sketch serves the same top-10 point queries
    as `token_cms_estimates`. The DuckDB oracle computes the ONE-SHOT
    sketch from the raw table, so the hash match proves the defining
    property in the driver's gate: fold(batch sketches) ==
    sketch(full corpus), cell-exactly — CMS's cell addition is the
    mergeable-summary property that makes it the streaming/partial-agg
    frequency sketch at 100 TB."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from reactionetl_etl_spark.etl.incremental_agg import (
        merge_aggregate_state,
        read_aggregate_view,
    )

    docs = _t(spark, sf_dir, "documents")
    norm = D.normalize_text("text")
    occurrences = docs.select(
        "doc_id", F.explode(F.split(norm, " ")).alias("token")
    )
    cells = occurrences.select(
        "doc_id",
        "token",
        F.explode(F.array([F.lit(j) for j in (1, 2, 3, 4)])).alias("j"),
    ).select(
        "doc_id",
        "j",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.col("j").cast("string"), F.lit(":"), F.col("token"))
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 64
        ).alias("bucket"),
        F.lit(1).cast("long").alias("inc"),
    )
    work = _tempfile.mkdtemp(prefix="inc_cms_")
    try:
        state = _os.path.join(work, "state")
        for i in range(3):
            merge_aggregate_state(
                spark,
                state,
                cells.filter(F.col("doc_id") % 3 == i).drop("doc_id"),
                ["j", "bucket"],
                {"inc": ["sum"]},
                "j",
                batch_id=f"b{i}",
            )
        cms = (
            read_aggregate_view(spark, state, {"inc": ["sum"]})
            .select("j", "bucket", F.col("inc__sum").alias("cell"))
            .localCheckpoint(eager=True)
        )
    finally:
        _shutil.rmtree(work, ignore_errors=True)
    counts = (
        occurrences.groupBy("token").agg(F.count(F.lit(1)).alias("exact_n"))
    )
    hashes = counts.select(
        "token",
        "exact_n",
        F.explode(F.array([F.lit(j) for j in (1, 2, 3, 4)])).alias("j"),
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("j").cast("string"), F.lit(":"), F.col("token"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 64,
    )
    top10 = counts.orderBy(F.desc("exact_n"), "token").limit(10)
    return (
        top10.join(hashes.select("token", "j", "bucket"), "token")
        .join(cms, ["j", "bucket"])
        .groupBy("token", "exact_n")
        .agg(F.min("cell").alias("cms_est"))
        .select(
            "token",
            "exact_n",
            "cms_est",
            (F.col("cms_est") - F.col("exact_n")).alias("overcount"),
        )
    )


@_q(
    "promo_did_estimate",
    """
    WITH cells AS (
        SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS treated,
               CASE WHEN o.o_orderdate >= TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END AS post,
               CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), m AS (
        SELECT treated, post,
               CAST(count(*) AS BIGINT) AS n,
               CAST((CAST(sum(cents) AS HUGEINT) * 10000) // count(*) AS BIGINT)
                   AS mean_micro
        FROM cells GROUP BY 1, 2
    )
    SELECT max(CASE WHEN treated = 1 AND post = 0 THEN n END) AS n_treat_pre,
           max(CASE WHEN treated = 1 AND post = 1 THEN n END) AS n_treat_post,
           max(CASE WHEN treated = 0 AND post = 0 THEN n END) AS n_ctrl_pre,
           max(CASE WHEN treated = 0 AND post = 1 THEN n END) AS n_ctrl_post,
           max(CASE WHEN treated = 1 AND post = 0 THEN mean_micro END) AS treat_pre_micro,
           max(CASE WHEN treated = 1 AND post = 1 THEN mean_micro END) AS treat_post_micro,
           max(CASE WHEN treated = 0 AND post = 0 THEN mean_micro END) AS ctrl_pre_micro,
           max(CASE WHEN treated = 0 AND post = 1 THEN mean_micro END) AS ctrl_post_micro,
           max(CASE WHEN treated = 1 AND post = 1 THEN mean_micro END)
             - max(CASE WHEN treated = 1 AND post = 0 THEN mean_micro END)
             - max(CASE WHEN treated = 0 AND post = 1 THEN mean_micro END)
             + max(CASE WHEN treated = 0 AND post = 0 THEN mean_micro END) AS did_micro
    FROM m
    """,
    tags=("stats", "causal", "experimentation"),
)
def promo_did_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the causal-inference workhorse the
    hypothesis-test family (chi²/Welch/AUC/KS) didn't yet cover:
    treatment effect of a notional 1998 promotion on BUILDING-segment
    customers, estimated as (treated post−pre) − (control post−pre)
    mean order value. Prices enter as exact integer cents
    (`floor(p·100+0.5)`, the Welch discipline) and each cell mean is a
    TRUNCATED micro-dollar integer (`(Σcents·10⁴) DIV n` in DECIMAL
    headroom), so the 2×2 cell table and the DiD contrast are exact,
    order-independent integers — bit-identical cross-engine. One
    broadcast-dim join + one 4-group aggregate; scales as a single
    map-side-combinable pass."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cells = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select(
        F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("treated"),
        F.when(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"), 1)
        .otherwise(0)
        .alias("post"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    m = cells.groupBy("treated", "post").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "CAST((CAST(sum(cents) AS DECIMAL(38,0)) * 10000) DIV count(*) AS BIGINT)"
        ).alias("mean_micro"),
    )

    def cell(col: str, t: int, p: int) -> Column:
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col(col))
        )

    return m.agg(
        cell("n", 1, 0).alias("n_treat_pre"),
        cell("n", 1, 1).alias("n_treat_post"),
        cell("n", 0, 0).alias("n_ctrl_pre"),
        cell("n", 0, 1).alias("n_ctrl_post"),
        cell("mean_micro", 1, 0).alias("treat_pre_micro"),
        cell("mean_micro", 1, 1).alias("treat_post_micro"),
        cell("mean_micro", 0, 0).alias("ctrl_pre_micro"),
        cell("mean_micro", 0, 1).alias("ctrl_post_micro"),
        (
            cell("mean_micro", 1, 1)
            - cell("mean_micro", 1, 0)
            - cell("mean_micro", 0, 1)
            + cell("mean_micro", 0, 0)
        ).alias("did_micro"),
    )


@_q(
    "event_value_cuped",
    """
    WITH pm AS (
        SELECT user_id,
               CAST(user_id % 2 AS BIGINT) AS arm,
               CAST((CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN
                       CAST(floor(value * 1000000 + 0.5) AS BIGINT) END) AS HUGEINT))
                    // count(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 END)
                    AS BIGINT) AS x,
               CAST((CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN
                       CAST(floor(value * 1000000 + 0.5) AS BIGINT) END) AS HUGEINT))
                    // count(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 END)
                    AS BIGINT) AS y
        FROM events
        GROUP BY 1, 2
        HAVING count(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 END) > 0
           AND count(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 END) > 0
    ), mom AS (
        SELECT CAST(count(*) AS BIGINT) AS nn,
               CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
               CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(sum(CASE WHEN arm = 1 THEN CAST(x AS HUGEINT) ELSE 0 END) AS DOUBLE) AS sx1,
               CAST(sum(CASE WHEN arm = 0 THEN CAST(x AS HUGEINT) ELSE 0 END) AS DOUBLE) AS sx0,
               CAST(sum(CASE WHEN arm = 1 THEN CAST(y AS HUGEINT) ELSE 0 END) AS DOUBLE) AS sy1,
               CAST(sum(CASE WHEN arm = 0 THEN CAST(y AS HUGEINT) ELSE 0 END) AS DOUBLE) AS sy0
        FROM pm
    )
    SELECT n1, n0,
           floor(((nn * sxy - sx * sy) / (nn * sxx - sx * sx)) * 1000000 + 0.5)
             / 1000000 AS theta6,
           floor((sy1 / n1 - sy0 / n0) * 10000 + 0.5) / 10000 AS raw_diff_micro4,
           floor((sy1 / n1 - sy0 / n0
                  - ((nn * sxy - sx * sy) / (nn * sxx - sx * sx))
                    * (sx1 / n1 - sx0 / n0)) * 10000 + 0.5) / 10000
             AS adj_diff_micro4
    FROM mom
    """,
    tags=("stats", "experimentation", "variance-reduction"),
)
def event_value_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction — the experimentation-platform
    completion of Welch's t: the Jan-16 split makes a pre-period
    covariate (per-user mean event value) and a post-period metric;
    θ = cov(X,Y)/var(X) from EXACT integer moment sums (per-user means
    are truncated micro-integers, so Σx, Σxy, Σx² are exact in DECIMAL
    headroom), and the adjusted arm difference uses the algebraic form
    (Ȳ₁−Ȳ₀) − θ(X̄₁−X̄₀) — aggregates first, floats last, so the only
    float ops are correctly-rounded IEEE divisions/multiplies mirrored
    verbatim in the oracle (no order-dependent float summation
    anywhere). One user-keyed aggregate + one global moment pass;
    map-side combinable, scales."""
    from reactionetl_etl_spark.operators.experiment import arm_assignment, micro_units

    ev = load_events(spark, sf_dir)
    micro = micro_units("value")
    pre = F.col("ts_ntz") < F.lit("2024-01-16").cast("timestamp")
    pm = (
        ev.groupBy("user_id")
        .agg(
            arm_assignment().alias("arm"),
            F.sum(F.when(pre, micro)).alias("sxm"),
            F.count(F.when(pre, F.lit(1))).alias("nx"),
            F.sum(F.when(~pre, micro)).alias("sym"),
            F.count(F.when(~pre, F.lit(1))).alias("ny"),
        )
        .filter((F.col("nx") > 0) & (F.col("ny") > 0))
        .select(
            "arm",
            F.expr("CAST(CAST(sxm AS DECIMAL(38,0)) DIV nx AS BIGINT)").alias("x"),
            F.expr("CAST(CAST(sym AS DECIMAL(38,0)) DIV ny AS BIGINT)").alias("y"),
        )
    )
    mom = pm.agg(
        F.count(F.lit(1)).alias("nn"),
        F.expr("CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE)").alias("sx"),
        F.expr("CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE)").alias("sy"),
        F.expr("CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE)").alias("sxy"),
        F.expr("CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE)").alias("sxx"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 1 THEN CAST(x AS DECIMAL(38,0)) ELSE 0 END) AS DOUBLE)"
        ).alias("sx1"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 0 THEN CAST(x AS DECIMAL(38,0)) ELSE 0 END) AS DOUBLE)"
        ).alias("sx0"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 1 THEN CAST(y AS DECIMAL(38,0)) ELSE 0 END) AS DOUBLE)"
        ).alias("sy1"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 0 THEN CAST(y AS DECIMAL(38,0)) ELSE 0 END) AS DOUBLE)"
        ).alias("sy0"),
    )
    theta = (F.col("nn") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("nn") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    raw_diff = F.col("sy1") / F.col("n1") - F.col("sy0") / F.col("n0")
    x_diff = F.col("sx1") / F.col("n1") - F.col("sx0") / F.col("n0")
    return mom.select(
        "n1",
        "n0",
        (F.floor(theta * 1_000_000 + F.lit(0.5)) / 1_000_000).alias("theta6"),
        (F.floor(raw_diff * 10_000 + F.lit(0.5)) / 10_000).alias("raw_diff_micro4"),
        (F.floor((raw_diff - theta * x_diff) * 10_000 + F.lit(0.5)) / 10_000).alias(
            "adj_diff_micro4"
        ),
    )


@_q(
    "conformal_event_value",
    """
    WITH split AS (
        SELECT CAST(hour(ts) AS BIGINT) AS hr,
               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vm,
               ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 100
                   AS bucket
        FROM events
    ), model AS (
        SELECT hr, CAST(CAST(sum(vm) AS HUGEINT) // count(*) AS BIGINT) AS mean_vm
        FROM split WHERE bucket < 60 GROUP BY 1
    ), calib AS (
        SELECT abs(s.vm - m.mean_vm) AS score
        FROM split s JOIN model m ON m.hr = s.hr
        WHERE s.bucket >= 60 AND s.bucket < 80
    ), k AS (
        SELECT CAST(count(*) AS BIGINT) AS n_calib,
               (9 * (count(*) + 1) + 9) // 10 AS kth
        FROM calib
    ), ranked AS (
        SELECT score, sum(c) OVER (ORDER BY score
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS cum
        FROM (SELECT score, CAST(count(*) AS BIGINT) AS c FROM calib GROUP BY 1)
    ), qhat AS (
        SELECT min(score) AS qhat_micro FROM ranked CROSS JOIN k WHERE cum >= kth
    ), test AS (
        SELECT abs(s.vm - m.mean_vm) AS score
        FROM split s JOIN model m ON m.hr = s.hr
        WHERE s.bucket >= 80
    )
    SELECT q.qhat_micro,
           k.n_calib,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN t.score <= q.qhat_micro THEN 1 ELSE 0 END) AS BIGINT)
               AS n_covered,
           (CAST(sum(CASE WHEN t.score <= q.qhat_micro THEN 1 ELSE 0 END) AS BIGINT)
            * 1000000) // count(*) AS coverage_micro
    FROM test t CROSS JOIN qhat q CROSS JOIN k
    GROUP BY 1, 2
    """,
    tags=("stats", "uncertainty", "conformal"),
    bench=True,
)
def conformal_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval — distribution-free
    uncertainty quantification for the per-hour mean-value predictor:
    a deterministic md5 three-way split (train 60 / calibration 20 /
    test 20) trains truncated-integer hourly means, takes the
    ⌈0.9(n+1)⌉-th smallest absolute residual on calibration as q̂ (the
    finite-sample 90% guarantee), and reports empirical test coverage.
    Every quantity is an exact integer (micro-value residuals, ceil as
    integer arithmetic, the order statistic via a distinct-score
    prefix sum), so the result is engine- and partitioning-
    independent. Scale shape: micro-granular residuals are near-unique,
    so the distinct-score table is DATA-sized — the prefix sum runs
    through `rank.global_running_sum` (distributed two-level cumsum,
    the KS discipline), never a single-partition window; calibration
    and test residuals group in ONE pass over one scan (n_calib,
    n_test, coverage all derive from the checkpointed grouped table),
    and the 24-row model broadcasts."""
    from reactionetl_etl_spark.operators.experiment import micro_units
    from reactionetl_etl_spark.operators.rank import global_running_sum

    ev = load_events(spark, sf_dir)
    split = ev.select(
        F.hour("ts_ntz").cast("long").alias("hr"),
        micro_units("value").alias("vm"),
        (
            F.conv(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
            ).cast("bigint")
            % 100
        ).alias("bucket"),
    )
    model = (
        split.filter(F.col("bucket") < 60)
        .groupBy("hr")
        .agg(
            F.expr("CAST(CAST(sum(vm) AS DECIMAL(38,0)) DIV count(*) AS BIGINT)").alias(
                "mean_vm"
            )
        )
        .localCheckpoint(eager=True)  # hour-grid-sized; calib+test both read it
    )
    g = (
        split.filter(F.col("bucket") >= 60)
        .join(F.broadcast(model), "hr")
        .select(
            F.abs(F.col("vm") - F.col("mean_vm")).alias("score"),
            F.when(F.col("bucket") >= 80, 1).otherwise(0).alias("is_test"),
        )
        .groupBy("score")
        .agg(
            F.sum(F.expr("1 - is_test")).cast("long").alias("c"),
            F.sum("is_test").cast("long").alias("t"),
        )
        .localCheckpoint(eager=True)  # distinct-score-sized; totals + cumsum + coverage all read it
    )
    k = g.agg(
        F.sum("c").cast("long").alias("n_calib"),
        F.expr("(9 * (sum(c) + 1) + 9) DIV 10").alias("kth"),
        F.sum("t").cast("long").alias("n_test"),
    )
    cum = global_running_sum(
        g, order_exprs=[F.col("score")], order_desc=[False], value_col="c",
        out_col="cum",
    )
    qhat = (
        cum.crossJoin(F.broadcast(k))
        .filter(F.col("cum") >= F.col("kth"))
        .agg(F.min("score").alias("qhat_micro"))
    )
    return (
        g.crossJoin(F.broadcast(qhat))
        .crossJoin(F.broadcast(k.select("n_calib", "n_test")))
        .groupBy("qhat_micro", "n_calib", "n_test")
        .agg(
            F.sum(F.when(F.col("score") <= F.col("qhat_micro"), F.col("t")).otherwise(0))
            .cast("long")
            .alias("n_covered"),
        )
        .select(
            "qhat_micro",
            "n_calib",
            "n_test",
            "n_covered",
            F.expr("(n_covered * 1000000) DIV n_test").alias("coverage_micro"),
        )
    )


@_q(
    "km_reorder_survival",
    """
    WITH RECURSIVE nxt AS (
        SELECT o_orderdate AS d0,
               lead(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey) AS d1
        FROM orders
    ), gm AS (
        SELECT max(o_orderdate) AS g FROM orders
    ), dur AS (
        SELECT CAST(date_diff('day', d0, coalesce(d1, g)) // 7 AS BIGINT) AS wk,
               CASE WHEN d1 IS NULL THEN 0 ELSE 1 END AS ev
        FROM nxt CROSS JOIN gm
    ), wc AS (
        SELECT wk, CAST(count(*) AS BIGINT) AS all_n, CAST(sum(ev) AS BIGINT) AS d
        FROM dur GROUP BY 1
    ), atrisk AS (
        SELECT wk, d,
               CAST(sum(all_n) OVER (ORDER BY wk DESC
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) AS n
        FROM wc
    ), steps AS (
        SELECT wk, d, n, row_number() OVER (ORDER BY wk) AS rn
        FROM atrisk WHERE d > 0 AND wk <= 52
    ), km(rn, wk, d, n, s) AS (
        SELECT rn, wk, d, n,
               CAST((CAST(1000000000000 AS HUGEINT) * (n - d)) // n AS BIGINT)
        FROM steps WHERE rn = 1
        UNION ALL
        SELECT st.rn, st.wk, st.d, st.n,
               CAST((CAST(km.s AS HUGEINT) * (st.n - st.d)) // st.n AS BIGINT)
        FROM km JOIN steps st ON st.rn = km.rn + 1
    )
    SELECT wk AS week, d AS deaths, n AS at_risk, s AS surv_micro FROM km
    """,
    tags=("stats", "survival", "analytics"),
    bench=True,
)
def km_reorder_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve with right censoring — the
    product-limit estimator of customer reorder time: each order's
    duration is weeks until the customer's next order, censored at the
    dataset horizon for last orders. Risk sets n_t and death counts d_t
    are exact integers (per-customer lead window → bounded week-grid
    aggregate → one descending prefix sum); the survival product
    Ŝ(t)=Π(1−d/n) runs in TRUNCATED INTEGER arithmetic (micro-units,
    `(s·(n−d)) DIV n` per step in DECIMAL headroom) over the ≤53-step
    week grid — bit-identical across engines and partitionings, a
    DuckDB RECURSIVE CTE on the oracle side and a single-row bounded
    array fold (`aggregate` over `slice`) on the Spark side. The
    O(steps²) fold is grid-bounded metadata work; the data-scale
    stages are the window and one aggregate. Scales."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = orders.select(
        F.col("o_orderdate").alias("d0"),
        F.lead("o_orderdate").over(w).alias("d1"),
    )
    gm = orders.agg(F.max("o_orderdate").alias("g"))
    dur = nxt.crossJoin(F.broadcast(gm)).select(
        F.expr("CAST(datediff(coalesce(d1, g), d0) DIV 7 AS BIGINT)").alias("wk"),
        F.when(F.col("d1").isNull(), 0).otherwise(1).alias("ev"),
    )
    wc = dur.groupBy("wk").agg(
        F.count(F.lit(1)).alias("all_n"), F.sum("ev").cast("long").alias("d")
    )
    atrisk = wc.select(
        "wk",
        "d",
        F.sum("all_n")
        .over(Window.orderBy(F.desc("wk")).rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("n"),
    )
    steps = atrisk.filter((F.col("d") > 0) & (F.col("wk") <= 52))
    arr = steps.agg(
        F.sort_array(F.collect_list(F.struct("wk", "d", "n"))).alias("a")
    )
    return arr.select(
        F.explode(
            F.expr(
                """
                transform(a, (st, i) -> struct(
                    st.wk AS week, st.d AS deaths, st.n AS at_risk,
                    aggregate(
                        slice(a, 1, i + 1),
                        CAST(1000000000000 AS DECIMAL(38,0)),
                        (acc, x) -> CAST((acc * (x.n - x.d)) DIV x.n AS DECIMAL(38,0)),
                        acc -> CAST(acc AS BIGINT)) AS surv_micro))
                """
            )
        ).alias("r")
    ).select("r.week", "r.deaths", "r.at_risk", "r.surv_micro")


@_q(
    "markov_removal_attribution",
    """
    WITH RECURSIVE ordered AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ), c AS (
        SELECT event_type AS cur, nxt, CAST(count(*) AS BIGINT) AS n
        FROM ordered
        WHERE nxt IS NOT NULL AND event_type <> 'purchase'
        GROUP BY 1, 2
    ), r AS (
        SELECT cur, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1
    ), rem AS (
        SELECT * FROM (VALUES ('view'), ('click'), ('signup'), ('error'),
                              ('none')) AS t(m)
    ), kc AS (
        SELECT rem.m, c.cur, c.nxt, c.n, r.tot
        FROM rem CROSS JOIN c JOIN r ON r.cur = c.cur
        WHERE c.cur <> rem.m AND c.nxt <> rem.m
        UNION ALL
        SELECT m, 'purchase', 'purchase', CAST(1 AS BIGINT), CAST(1 AS BIGINT)
        FROM rem
    ), it(iter, m, state, pv) AS (
        SELECT 0, m, 'purchase', CAST(1000000000000 AS BIGINT) FROM rem
        UNION ALL
        SELECT nx.iter, nx.m, nx.state, nx.pv FROM (
            SELECT it.iter + 1 AS iter, kc.m AS m, kc.cur AS state,
                   CAST(sum((it.pv * kc.n) // kc.tot) AS BIGINT) AS pv
            FROM it JOIN kc ON kc.m = it.m AND kc.nxt = it.state
            WHERE it.iter < 8
            GROUP BY 1, 2, 3
        ) nx
    ), fin AS (
        SELECT m, state, pv FROM it WHERE iter = 8
    ), firsts AS (
        SELECT state FROM (
            SELECT event_type AS state,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ) WHERE rn = 1
    ), starts AS (
        SELECT state, CAST(count(*) AS BIGINT) AS sn FROM firsts GROUP BY 1
    ), nn AS (
        SELECT CAST(sum(sn) AS BIGINT) AS nu FROM starts
    ), conv AS (
        SELECT f.m, CAST(sum((s.sn * f.pv) // nn.nu) AS BIGINT) AS conv_p12
        FROM fin f JOIN starts s ON s.state = f.state CROSS JOIN nn
        GROUP BY 1
    ), base AS (
        SELECT conv_p12 AS b FROM conv WHERE m = 'none'
    )
    SELECT m AS removed_state, conv_p12,
           1000000 - (conv_p12 * 1000000) // b AS removal_effect_micro
    FROM conv CROSS JOIN base
    WHERE m <> 'none'
    """,
    tags=("analytics", "attribution", "markov", "iterative"),
)
def markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven (Markov removal-effect) attribution — the
    model-based counterpart of the U-shaped heuristic
    (`purchase_attribution_credit`): channel importance = how much the
    8-step purchase-absorption probability drops when that channel is
    deleted from the user-behavior chain (its traffic becomes lost
    mass — row totals keep the original denominator). The absorption
    probabilities run per removal variant as truncated-integer Jacobi
    rounds (the `event_markov_stationary` discipline: `(p·c) DIV r`
    micro-unit terms, bit-identical across engines/partitionings;
    purchase held absorbing by a unit self-loop so the DuckDB
    RECURSIVE mirror needs a single recursive reference). Data-scale
    work is ONE events pass (lead window + a (cur,nxt,is-first)
    aggregate); the chain is |event types|² cells — metadata by
    construction — so all five removal variants solve as exact Python
    integers on the driver (guarded collect), bit-equal to the
    distributed keyed loop they replace (which cost a fixed ~3.4 s of
    per-round stage latency, r9 curves)."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_ntz", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
        F.row_number().over(w).alias("rn"),
    )
    cells = (
        seq.groupBy("cur", "nxt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("long").alias("n_first"),
        )
        .collect()
    )
    if len(cells) > 10_000:
        raise ValueError(
            f"{len(cells)} transition cells — state column is not "
            "categorical-sized; use a distributed iteration for this input"
        )
    trans: dict[tuple[str, str], int] = {}
    tot: dict[str, int] = {}
    starts: dict[str, int] = {}
    for row in cells:
        if row["nxt"] is not None and row["cur"] != "purchase":
            trans[(row["cur"], row["nxt"])] = row["n"]
            tot[row["cur"]] = tot.get(row["cur"], 0) + row["n"]
        if row["n_first"]:
            starts[row["cur"]] = starts.get(row["cur"], 0) + row["n_first"]
    big_n = sum(starts.values())
    conv: dict[str, int] = {}
    for m in ("view", "click", "signup", "error", "none"):
        p = {"purchase": 1_000_000_000_000}
        for _ in range(8):
            np_: dict[str, int] = {}
            for (cur, nxt), n in trans.items():
                if cur != m and nxt != m and nxt in p:
                    np_[cur] = np_.get(cur, 0) + (p[nxt] * n) // tot[cur]
            np_["purchase"] = 1_000_000_000_000
            p = np_
        conv[m] = sum(
            (sn * p[s]) // big_n for s, sn in starts.items() if s in p
        )
    base = conv["none"]
    out = [
        (m, conv[m], 1_000_000 - (conv[m] * 1_000_000) // base)
        for m in ("click", "error", "signup", "view")
    ]
    return spark.createDataFrame(
        out, "removed_state string, conv_p12 bigint, removal_effect_micro bigint"
    )


@_q(
    "mutual_nearest_pairs",
    """
    WITH pairs AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 6) AS c
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ), directed AS (
        SELECT ia AS src, ib AS dst, c FROM pairs
        UNION ALL
        SELECT ib AS src, ia AS dst, c FROM pairs
    ), t1 AS (
        SELECT src, dst, c FROM (
            SELECT src, dst, c,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY c DESC, dst ASC) AS rn
            FROM directed
        ) WHERE rn = 1
    )
    SELECT x.src AS id_a, x.dst AS id_b, x.c AS cosine_sim
    FROM t1 x JOIN t1 y ON y.src = x.dst AND y.dst = x.src
    WHERE x.src < x.dst
    """,
    tags=("similarity", "alignment", "ann"),
    bench=True,
)
def mutual_nearest_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-nearest-neighbor (MNN) pairs over the embedding corpus —
    the dataset-alignment / cross-corpus anchor primitive: a pair
    survives only if EACH side is the other's top-1 cosine neighbor,
    which suppresses hub vectors that are one-directional neighbors to
    everything. Exact all-pairs baseline (size-guarded, the
    `embedding_neardup_pairs` discipline); the operator's `lsh_dim`
    switch is the bucketed 100 TB path. Top-1 argmax on the 6-dp
    cosine with id tie-break = deterministic cross-engine; the rank
    runs as WindowGroupLimit partials."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.mutual_nearest_pairs(emb)


@_q(
    "rake_keyphrases",
    """
    WITH norm AS (
        SELECT regexp_replace(
                   regexp_replace(
                       regexp_replace(lower(text), '[^a-z]+', ' ', 'g'),
                       '\\b(a|an|and|are|as|at|be|but|by|for|from|has|have|in|is|it|its|of|on|or|that|the|this|to|was|were|will|with|not)\\b',
                       '|', 'g'),
                   '\\s+', ' ', 'g') AS marked
        FROM documents
    ), phrases AS (
        SELECT trim(p) AS phrase
        FROM norm, UNNEST(string_split(marked, '|')) AS u(p)
        WHERE trim(p) <> ''
          AND len(string_split(trim(p), ' ')) BETWEEN 1 AND 3
    ), pw AS (
        SELECT phrase, len(string_split(phrase, ' ')) AS plen, w
        FROM phrases, UNNEST(string_split(phrase, ' ')) AS u(w)
    ), ws AS (
        SELECT w,
               (CAST(sum(plen) AS BIGINT) * 1000000) // count(*) AS score_micro
        FROM pw GROUP BY w
    ), ps AS (
        SELECT pw.phrase, CAST(sum(ws.score_micro) AS BIGINT) AS phrase_score_micro
        FROM pw JOIN ws ON ws.w = pw.w
        GROUP BY pw.phrase
    ), pn AS (
        SELECT phrase, CAST(count(*) AS BIGINT) AS n FROM phrases GROUP BY 1
    )
    SELECT ps.phrase,
           pn.n,
           ps.phrase_score_micro // pn.n AS score_micro
    FROM ps JOIN pn ON pn.phrase = ps.phrase
    ORDER BY score_micro DESC, ps.phrase ASC
    LIMIT 15
    """,
    tags=("text", "keyphrase", "nlp"),
    bench=True,
)
def rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) — stopword-
    delimited candidate phrases scored by Σ deg(w)/freq(w) over their
    words, the classic unsupervised keyword miner. Phrase cutting is
    pure row-local regex (stopwords become delimiters via word-
    boundary replace — RE2∩Java-safe); word degree/frequency are
    vocabulary-bounded aggregates, and scores are TRUNCATED integer
    micro-units (`(Σlen·10⁶) DIV freq`, summed exactly per phrase) so
    ranking is bit-deterministic cross-engine. Note `ps` sums the
    word-score over every phrase OCCURRENCE, so the reported
    score_micro divides back by the phrase count — exact integers
    throughout. Shuffles: two bounded aggs + one vocabulary join."""
    docs = load_table(spark, sf_dir, "documents")
    stop = (
        "a|an|and|are|as|at|be|but|by|for|from|has|have|in|is|it|its|of|on|or|"
        "that|the|this|to|was|were|will|with|not"
    )
    marked = docs.select(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower("text"), "[^a-z]+", " "),
                rf"\b({stop})\b",
                "|",
            ),
            r"\s+",
            " ",
        ).alias("marked")
    )
    phrases = (
        marked.select(F.explode(F.split("marked", r"\|")).alias("p"))
        .select(F.trim("p").alias("phrase"))
        .filter(
            (F.col("phrase") != "")
            & (F.size(F.split("phrase", " ")).between(1, 3))
        )
    )
    pw = phrases.select(
        "phrase",
        F.size(F.split("phrase", " ")).cast("long").alias("plen"),
        F.explode(F.split("phrase", " ")).alias("w"),
    )
    ws = pw.groupBy("w").agg(
        F.expr("(CAST(sum(plen) AS BIGINT) * 1000000) DIV count(*)").alias(
            "score_micro"
        )
    )
    ps = (
        pw.join(ws, "w")
        .groupBy("phrase")
        .agg(F.sum("score_micro").cast("long").alias("phrase_score_micro"))
    )
    pn = phrases.groupBy("phrase").agg(F.count(F.lit(1)).alias("n"))
    return (
        ps.join(pn, "phrase")
        .select(
            "phrase",
            "n",
            F.expr("phrase_score_micro DIV n").alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), F.asc("phrase"))
        .limit(15)
    )


@_q(
    "classifier_calibration_bins",
    None,  # replaced by a PINNED VALUES oracle (driver hashes it): model training is not SQL-expressible
    tags=("text", "quality", "classifier", "calibration", "llm"),
)
def classifier_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the trained quality classifier — the
    calibration completion of the eval family (TPR/TNR/AUC say how
    often the model is right; this says whether its CONFIDENCE means
    anything): held-out scores cut into ten confidence bins, each
    reporting mean predicted probability vs empirical keep rate and
    the |gap| that an expected-calibration-error (ECE) sum weights.
    Per-row scores are deterministic (decimal-fold features, per-row
    sigmoid), and every aggregate is a TRUNCATED-integer micro-unit
    (`Σscore_micro DIV n`), so the table is partition-order-proof —
    the pinned VALUES contract holds under any session. One scan +
    one 10-group aggregate; same memoized model as the other
    classifier queries (re-pin together if its knobs change)."""
    from reactionetl_etl_spark.operators import classifier as C
    from reactionetl_etl_spark.operators.split import split_bucket

    docs = _t(spark, sf_dir, "documents")
    w = _quality_classifier_model(spark, sf_dir)
    test_ids = docs.select("doc_id").filter(split_bucket(F.col("doc_id")) % 5 == 0)
    scored = (
        C.score_text(docs, w)
        .join(test_ids, "doc_id")
        .join(_quality_labels(docs), "doc_id")
        .select(
            F.floor(F.col("score") * 1_000_000 + F.lit(0.5)).cast("long").alias("sm"),
            F.col("y").cast("long").alias("y"),
        )
    )
    return (
        scored.groupBy(
            F.least(F.expr("sm DIV 100000"), F.lit(9)).cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("sum(sm) DIV count(*)").alias("conf_micro"),
            F.expr("(sum(y) * 1000000) DIV count(*)").alias("acc_micro"),
        )
        .select(
            "bin",
            "n",
            "conf_micro",
            "acc_micro",
            F.abs(F.col("conf_micro") - F.col("acc_micro")).alias("gap_micro"),
        )
        .orderBy("bin")
    )


@_q(
    "copurchase_betweenness",
    """
    WITH lp AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), co AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lp a JOIN lp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ), sym AS (
        SELECT pa AS s, pb AS d FROM co UNION SELECT pb, pa FROM co
    ), srcs AS (
        SELECT s AS k FROM (SELECT DISTINCT s FROM sym) ORDER BY s LIMIT 4
    ), l1 AS (
        SELECT srcs.k, sym.d AS v, CAST(count(*) AS BIGINT) AS sigma
        FROM srcs JOIN sym ON sym.s = srcs.k
        GROUP BY 1, 2
    ), l2 AS (
        SELECT l1.k, sym.d AS v, CAST(sum(l1.sigma) AS BIGINT) AS sigma
        FROM l1 JOIN sym ON sym.s = l1.v
        WHERE sym.d <> l1.k
          AND NOT EXISTS (SELECT 1 FROM l1 x WHERE x.k = l1.k AND x.v = sym.d)
        GROUP BY 1, 2
    ), l3 AS (
        SELECT l2.k, sym.d AS v, CAST(sum(l2.sigma) AS BIGINT) AS sigma
        FROM l2 JOIN sym ON sym.s = l2.v
        WHERE sym.d <> l2.k
          AND NOT EXISTS (SELECT 1 FROM l1 x WHERE x.k = l2.k AND x.v = sym.d)
          AND NOT EXISTS (SELECT 1 FROM l2 y WHERE y.k = l2.k AND y.v = sym.d)
        GROUP BY 1, 2
    ), d2 AS (
        SELECT l2.k, l2.v,
               CAST(sum((l2.sigma * 1000000) // l3.sigma) AS BIGINT) AS delta
        FROM l2 JOIN sym ON sym.s = l2.v
        JOIN l3 ON l3.k = l2.k AND l3.v = sym.d
        GROUP BY 1, 2
    ), d1 AS (
        SELECT l1.k, l1.v,
               CAST(sum((l1.sigma * (1000000 + coalesce(d2.delta, 0)))
                        // l2.sigma) AS BIGINT) AS delta
        FROM l1 JOIN sym ON sym.s = l1.v
        JOIN l2 ON l2.k = l1.k AND l2.v = sym.d
        LEFT JOIN d2 ON d2.k = l2.k AND d2.v = l2.v
        GROUP BY 1, 2
    ), deltas AS (
        SELECT k, v, delta FROM d1 UNION ALL SELECT k, v, delta FROM d2
    )
    SELECT v AS part, CAST(sum(delta) AS BIGINT) AS bc_micro
    FROM deltas GROUP BY 1 HAVING sum(delta) > 0
    """,
    tags=("graph", "centrality", "betweenness"),
)
def copurchase_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-source betweenness centrality (Brandes 2001, bounded) over the
    co-purchase graph — the broker metric the graph suite lacked: how
    much shortest-path traffic flows THROUGH each part, from 4
    deterministic sources (smallest node ids) to depth ≤ 3. Both
    Brandes passes unroll level-by-level (the depth bound makes them
    THREE explicit keyed join+agg stages, no recursion): forward
    accumulates integer path counts σ per (source, node); backward
    accumulates dependencies δ = Σ (σᵥ·(10⁶+δ_w)) DIV σ_w in
    TRUNCATED-integer micro-units — per-term division, so every sum is
    order- and partition-independent and the DuckDB mirror is plain
    SQL. State is (sources × nodes) rows; each stage is an equi-join
    on node id — the graph family's 100 TB shape. Full-graph/unbounded
    betweenness needs sampling (k sources IS the standard estimator;
    Brandes-Pich 2007)."""
    from reactionetl_etl_spark.operators.graph import betweenness_ksource

    lp = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = lp.alias("a"), lp.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
    )
    out = betweenness_ksource(co, src="pa", dst="pb", n_sources=4)
    return out.select(F.col("node").alias("part"), "bc_micro")


@_q(
    "monthly_revenue_mase",
    """
    WITH m AS (
        SELECT CAST(strftime(date_trunc('month', o_orderdate), '%Y-%m') AS VARCHAR)
                   AS mon,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ), lagged AS (
        SELECT mon, cents,
               lag(cents, 1) OVER (ORDER BY mon) AS prev1,
               lag(cents, 12) OVER (ORDER BY mon) AS prev12
        FROM m
    ), ae AS (
        SELECT CASE WHEN mon < '1998-01' THEN 0 ELSE 1 END AS is_test,
               abs(cents - prev1) AS ae1,
               abs(cents - prev12) AS ae12
        FROM lagged
    ), agg AS (
        SELECT CAST(count(CASE WHEN is_test = 0 AND ae1 IS NOT NULL THEN 1 END)
                    AS BIGINT) AS n_train,
               CAST(count(CASE WHEN is_test = 1 AND ae12 IS NOT NULL THEN 1 END)
                    AS BIGINT) AS n_test,
               CAST(CAST(sum(CASE WHEN is_test = 0 THEN ae1 END) AS HUGEINT)
                    // count(CASE WHEN is_test = 0 AND ae1 IS NOT NULL THEN 1 END)
                    AS BIGINT) AS mae_naive_train_cents,
               CAST(CAST(sum(CASE WHEN is_test = 1 THEN ae12 END) AS HUGEINT)
                    // count(CASE WHEN is_test = 1 AND ae12 IS NOT NULL THEN 1 END)
                    AS BIGINT) AS mae_seasonal_test_cents
        FROM ae
    )
    SELECT n_train, n_test, mae_naive_train_cents, mae_seasonal_test_cents,
           (mae_seasonal_test_cents * 1000000) // mae_naive_train_cents AS mase_micro
    FROM agg
    """,
    tags=("stats", "forecast", "evaluation", "timeseries"),
)
def monthly_revenue_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE forecast evaluation (Hyndman-Koehler 2006) — the
    scale-free metric that completes the trend/forecast family
    (OLS + Theil-Sen fit trends; this scores a forecast): a
    seasonal-naive forecast (ŷ_t = y_{t−12}) on the post-1998 test
    months, scaled by the in-sample one-step naive MAE. Every error is
    an exact integer cents value; both MAEs are truncated integer
    means and the final ratio is integer micro-units — bit-identical
    cross-engine. The series is the MONTH GRID (bounded), so the lag
    windows are metadata-sized; the one data-scale stage is the
    monthly revenue aggregate. MASE < 1 ⇔ the seasonal model beats
    naive persistence."""
    m = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("mon"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.orderBy("mon")
    lagged = m.select(
        "mon",
        "cents",
        F.lag("cents", 1).over(w).alias("prev1"),
        F.lag("cents", 12).over(w).alias("prev12"),
    )
    ae = lagged.select(
        F.when(F.col("mon") < "1998-01", 0).otherwise(1).alias("is_test"),
        F.abs(F.col("cents") - F.col("prev1")).alias("ae1"),
        F.abs(F.col("cents") - F.col("prev12")).alias("ae12"),
    )
    agg = ae.agg(
        F.count(F.when((F.col("is_test") == 0) & F.col("ae1").isNotNull(), 1))
        .cast("long")
        .alias("n_train"),
        F.count(F.when((F.col("is_test") == 1) & F.col("ae12").isNotNull(), 1))
        .cast("long")
        .alias("n_test"),
        F.expr(
            "CAST(CAST(sum(CASE WHEN is_test = 0 THEN ae1 END) AS DECIMAL(38,0))"
            " DIV count(CASE WHEN is_test = 0 AND ae1 IS NOT NULL THEN 1 END)"
            " AS BIGINT)"
        ).alias("mae_naive_train_cents"),
        F.expr(
            "CAST(CAST(sum(CASE WHEN is_test = 1 THEN ae12 END) AS DECIMAL(38,0))"
            " DIV count(CASE WHEN is_test = 1 AND ae12 IS NOT NULL THEN 1 END)"
            " AS BIGINT)"
        ).alias("mae_seasonal_test_cents"),
    )
    return agg.select(
        "n_train",
        "n_test",
        "mae_naive_train_cents",
        "mae_seasonal_test_cents",
        F.expr(
            "(mae_seasonal_test_cents * 1000000) DIV mae_naive_train_cents"
        ).alias("mase_micro"),
    )


@_q(
    "webdataset_roundtrip",
    """
    SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
               AS shard_id,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS payload_bytes,
           CAST(sum(n_chars) AS BIGINT) AS meta_nchars
    FROM documents
    GROUP BY 1
    """,
    tags=("io", "multimodal", "webdataset", "llm"),
)
def webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset tar-shard export/import proven END-TO-END: the
    documents table is written as 8 `shard-%05d.tar` files (payload =
    utf-8 text bytes, metadata = {lang, n_chars} JSON members), read
    back through the binaryFile + Arrow tar parser, and aggregated per
    shard — counts, payload BYTES, and n_chars re-extracted FROM THE
    METADATA MEMBERS. The oracle computes the same totals straight
    from the source table (shard id is the engine-neutral md5 bucket),
    so a hash match proves nothing was lost, altered, or misrouted in
    the tar round trip. io/webdataset.py; shard bytes themselves are
    reproducible (pinned tar attrs, sorted members — tested)."""
    import shutil as _shutil
    import tempfile as _tempfile

    from reactionetl_etl_spark.io.webdataset import (
        read_webdataset_shards,
        write_webdataset_shards,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload"), "lang", "n_chars"
    )
    work = _tempfile.mkdtemp(prefix="wds_rt_")
    try:
        write_webdataset_shards(
            docs,
            work,
            key_col="doc_id",
            payload_col="payload",
            meta_cols=("lang", "n_chars"),
            ext="txt",
            n_shards=8,
        )
        back = read_webdataset_shards(spark, work)
        out = (
            back.select(
                F.col("shard_id").cast("long").alias("shard_id"),
                F.length("payload").alias("nb"),
                F.get_json_object("meta", "$.n_chars").cast("long").alias("mc"),
            )
            .groupBy("shard_id")
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("nb").cast("long").alias("payload_bytes"),
                F.sum("mc").cast("long").alias("meta_nchars"),
            )
            .localCheckpoint(eager=True)  # materialize before the tmp dir dies
        )
    finally:
        _shutil.rmtree(work, ignore_errors=True)
    return out


@_q(
    "event_value_sequential_test",
    """
    WITH micro AS (
        SELECT CAST(user_id % 2 AS BIGINT) AS arm,
               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vm,
               CAST(ceil(day(ts) / 5.0) AS BIGINT) AS stage
        FROM events
    ), looks AS (
        SELECT s.stage, m.arm,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(m.vm AS HUGEINT)) AS DOUBLE) AS sv,
               CAST(sum(CAST(m.vm AS HUGEINT) * m.vm) AS DOUBLE) AS svv
        FROM (SELECT DISTINCT stage FROM micro) s
        JOIN micro m ON m.stage <= s.stage
        GROUP BY 1, 2
    ), z AS (
        SELECT a.stage,
               a.n AS n1, b.n AS n0,
               (a.sv / a.n - b.sv / b.n)
               / sqrt( (a.svv / a.n - (a.sv / a.n) * (a.sv / a.n)) / a.n
                     + (b.svv / b.n - (b.sv / b.n) * (b.sv / b.n)) / b.n )
                   AS zval
        FROM looks a JOIN looks b ON a.stage = b.stage
        WHERE a.arm = 1 AND b.arm = 0
    )
    SELECT stage, n1, n0,
           floor(zval * 10000 + 0.5) / 10000 AS z4,
           CASE WHEN abs(zval) > 2.361 THEN 1 ELSE 0 END AS crossed
    FROM z
    """,
    tags=("stats", "experimentation", "sequential"),
)
def event_value_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B monitoring (Pocock 1977) — the interim-look
    discipline the one-shot Welch/CUPED rows lack: six cumulative looks
    (every 5 days of the event month) compute the two-sample z on ALL
    data so far, compared against the constant Pocock boundary ±2.361
    (K=6, α=0.05 literal — the point of Pocock is that the per-look
    boundary is flat). Cumulative moments come from exact integer
    micro-value sums (DECIMAL headroom) via a stage-grid join — the
    month grid bounds the fan-out at 6×, the same Theil-Sen discipline
    — and the z expression is mirrored IEEE (divisions, one sqrt — all
    correctly-rounded ops) floored at 4 dp. One events scan; grid-sized
    everything after."""
    from reactionetl_etl_spark.operators.experiment import arm_assignment, micro_units

    ev = load_events(spark, sf_dir)
    micro = ev.select(
        arm_assignment().alias("arm"),
        micro_units("value").alias("vm"),
        F.ceil(F.dayofmonth("ts_ntz") / 5.0).cast("long").alias("stage"),
    )
    stages = micro.select("stage").distinct()
    looks = (
        stages.alias("s")
        .join(micro.alias("m"), F.col("m.stage") <= F.col("s.stage"))
        .groupBy(F.col("s.stage").alias("stage"), F.col("m.arm").alias("arm"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("CAST(sum(CAST(vm AS DECIMAL(38,0))) AS DOUBLE)").alias("sv"),
            F.expr("CAST(sum(CAST(vm AS DECIMAL(38,0)) * vm) AS DOUBLE)").alias("svv"),
        )
    )
    a = looks.filter(F.col("arm") == 1).select(
        "stage", F.col("n").alias("n1"), F.col("sv").alias("sv1"), F.col("svv").alias("svv1")
    )
    b = looks.filter(F.col("arm") == 0).select(
        F.col("stage").alias("bstage"),
        F.col("n").alias("n0"),
        F.col("sv").alias("sv0"),
        F.col("svv").alias("svv0"),
    )
    j = a.join(b, a.stage == b.bstage)
    m1, m0 = F.col("sv1") / F.col("n1"), F.col("sv0") / F.col("n0")
    v1 = (F.col("svv1") / F.col("n1") - m1 * m1) / F.col("n1")
    v0 = (F.col("svv0") / F.col("n0") - m0 * m0) / F.col("n0")
    zval = (m1 - m0) / F.sqrt(v1 + v0)
    return j.select(
        "stage",
        "n1",
        "n0",
        (F.floor(zval * 10_000 + F.lit(0.5)) / 10_000).alias("z4"),
        F.when(F.abs(zval) > 2.361, 1).otherwise(0).alias("crossed"),
    )


@_q(
    "event_value_quantile_effects",
    """
    WITH micro AS (
        SELECT CAST(user_id % 2 AS BIGINT) AS arm,
               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vm
        FROM events
    ), g AS (
        SELECT arm, vm, CAST(count(*) AS BIGINT) AS c FROM micro GROUP BY 1, 2
    ), cum AS (
        SELECT arm, vm,
               sum(c) OVER (PARTITION BY arm ORDER BY vm
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cw,
               sum(c) OVER (PARTITION BY arm) AS n
        FROM g
    ), q AS (
        SELECT p.q, c.arm, min(c.vm) AS q_micro
        FROM (VALUES (25), (50), (75)) AS p(q)
        JOIN cum c ON c.cw * 100 >= p.q * c.n
        GROUP BY 1, 2
    )
    SELECT a.q,
           a.q_micro AS treat_q_micro,
           b.q_micro AS ctrl_q_micro,
           a.q_micro - b.q_micro AS qte_micro
    FROM q a JOIN q b ON a.q = b.q
    WHERE a.arm = 1 AND b.arm = 0
    """,
    tags=("stats", "causal", "quantile", "robust"),
)
def event_value_quantile_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects — the robust companion to the mean
    contrasts (DiD/Welch/CUPED): the P25/P50/P75 gap between arms,
    where each quantile is the EXACT type-1 order statistic (smallest
    value whose cumulative weight reaches ⌈q·n⌉ — pure integer
    comparison `cw·100 ≥ q·n`, no interpolation, no float), so every
    output is an exact integer micro-value, identical across engines
    and partitionings. Distinct-value tables keep the prefix sums
    O(distinct values) (the KS/AUC axis); the quantile probe is a
    3-row grid join. QTE reads where in the distribution an effect
    lives — means hide tail-only movements. The per-arm cumulative
    weight runs as ONE distributed prefix sum over the (arm, value)
    total order (`rank.global_running_sum` — micro-granular values make
    the distinct table data-sized, so a per-arm single-partition window
    would bottleneck at 100×; the KS/conformal discipline), with the
    2-row arm offsets broadcast back off the top."""
    from reactionetl_etl_spark.operators.experiment import arm_assignment, micro_units
    from reactionetl_etl_spark.operators.rank import global_running_sum

    ev = load_events(spark, sf_dir)
    micro = ev.select(
        arm_assignment().alias("arm"),
        micro_units("value").alias("vm"),
    )
    g = micro.groupBy("arm", "vm").agg(F.count(F.lit(1)).alias("c"))
    gcum = global_running_sum(
        g,
        order_exprs=[F.col("arm"), F.col("vm")],
        order_desc=[False, False],
        value_col="c",
        out_col="gcw",
    )
    totals = g.groupBy("arm").agg(F.sum("c").alias("n"))
    w_prior = Window.orderBy("arm").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "arm", "n", F.coalesce(F.sum("n").over(w_prior), F.lit(0)).alias("off")
    )  # 2 rows — the only single-partition window runs over the ARM list
    cum = gcum.join(F.broadcast(offsets), "arm").select(
        "arm", "vm", (F.col("gcw") - F.col("off")).alias("cw"), "n"
    )
    probes = spark.createDataFrame([(25,), (50,), (75,)], "q long")
    q = (
        F.broadcast(probes)
        .join(cum, F.col("cw") * 100 >= F.col("q") * F.col("n"))
        .groupBy("q", "arm")
        .agg(F.min("vm").alias("q_micro"))
    )
    a = q.filter(F.col("arm") == 1).select("q", F.col("q_micro").alias("treat_q_micro"))
    b = q.filter(F.col("arm") == 0).select(
        F.col("q").alias("bq"), F.col("q_micro").alias("ctrl_q_micro")
    )
    return (
        a.join(b, a.q == b.bq)
        .select(
            "q",
            "treat_q_micro",
            "ctrl_q_micro",
            (F.col("treat_q_micro") - F.col("ctrl_q_micro")).alias("qte_micro"),
        )
    )


@_q(
    "event_value_mde",
    """
    WITH micro AS (
        SELECT CAST(user_id % 2 AS BIGINT) AS arm,
               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vm
        FROM events
    ), m AS (
        SELECT arm, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(vm AS HUGEINT)) AS DOUBLE) AS sv,
               CAST(sum(CAST(vm AS HUGEINT) * vm) AS DOUBLE) AS svv
        FROM micro GROUP BY 1
    )
    SELECT a.n AS n1, b.n AS n0,
           floor((2.8023742
                  * sqrt( (a.svv / a.n - (a.sv / a.n) * (a.sv / a.n)) / a.n
                        + (b.svv / b.n - (b.sv / b.n) * (b.sv / b.n)) / b.n ))
                 * 10000 + 0.5) / 10000 AS mde_micro4,
           floor((2.8023742
                  * sqrt( (a.svv / a.n - (a.sv / a.n) * (a.sv / a.n)) / a.n
                        + (b.svv / b.n - (b.sv / b.n) * (b.sv / b.n)) / b.n )
                  / (b.sv / b.n)) * 1000000 + 0.5) / 1000000 AS mde_rel6
    FROM m a JOIN m b ON a.arm = 1 AND b.arm = 0
    """,
    tags=("stats", "experimentation", "power"),
)
def event_value_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect at the CURRENT sample — the power
    question every experiment review asks before reading the p-value:
    MDE = (z_{α/2}+z_β)·SE with the literal constant 2.8023742
    (α=0.05 two-sided, 80% power), reported absolute (micro-units) and
    relative to the control mean. Moments are exact integer sums
    (DECIMAL headroom); floats appear only in the final mirrored IEEE
    expression (divisions + one sqrt — correctly-rounded ops), floored
    at fixed widths. One map-side-combinable aggregate over one scan."""
    from reactionetl_etl_spark.operators.experiment import arm_assignment, micro_units

    ev = load_events(spark, sf_dir)
    micro = ev.select(
        arm_assignment().alias("arm"),
        micro_units("value").alias("vm"),
    )
    m = micro.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("CAST(sum(CAST(vm AS DECIMAL(38,0))) AS DOUBLE)").alias("sv"),
        F.expr("CAST(sum(CAST(vm AS DECIMAL(38,0)) * vm) AS DOUBLE)").alias("svv"),
    )
    a = m.filter(F.col("arm") == 1).select(
        F.col("n").alias("n1"), F.col("sv").alias("sv1"), F.col("svv").alias("svv1")
    )
    b = m.filter(F.col("arm") == 0).select(
        F.col("n").alias("n0"), F.col("sv").alias("sv0"), F.col("svv").alias("svv0")
    )
    j = a.crossJoin(F.broadcast(b))
    m1, m0 = F.col("sv1") / F.col("n1"), F.col("sv0") / F.col("n0")
    se = F.sqrt(
        (F.col("svv1") / F.col("n1") - m1 * m1) / F.col("n1")
        + (F.col("svv0") / F.col("n0") - m0 * m0) / F.col("n0")
    )
    mde = F.lit(2.8023742) * se
    return j.select(
        "n1",
        "n0",
        (F.floor(mde * 10_000 + F.lit(0.5)) / 10_000).alias("mde_micro4"),
        (F.floor(mde / m0 * 1_000_000 + F.lit(0.5)) / 1_000_000).alias("mde_rel6"),
    )


# ---------------------------------------------------------------------------
# r10 additions: community detection, forecasting, inequality, retrieval
# eval, embedding truncation, corpus entropy
# ---------------------------------------------------------------------------


@_q(
    "copurchase_label_propagation",
    """
    WITH RECURSIVE lp AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), co AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lp a JOIN lp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ), e AS (
        SELECT pa AS s, pb AS d FROM co UNION SELECT pb, pa FROM co
    ), nodes AS (
        SELECT DISTINCT s AS node FROM e
    ), e2 AS (
        SELECT s, d FROM e UNION SELECT node, node FROM nodes
    ), lab AS (
        SELECT node, node AS community, 0 AS it FROM nodes
        UNION ALL
        SELECT node, community, it FROM (
            SELECT e2.d AS node, min(p.community) AS community,
                   max(p.it) + 1 AS it
            FROM lab p JOIN e2 ON e2.s = p.node
            GROUP BY e2.d
        ) WHERE it <= 4
    )
    SELECT community, CAST(count(*) AS BIGINT) AS n_parts
    FROM lab WHERE it = 4
    GROUP BY 1 ORDER BY n_parts DESC, community LIMIT 20
    """,
    tags=("graph", "community", "iterative"),
    bench=True,
)
def copurchase_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label propagation communities over the co-purchase graph
    (parts sharing >=2 orders), 4 synchronous rounds
    (operators/community.py) — the bounded-round community primitive
    (spam-ring / dup-cluster neighborhoods without running components
    to convergence). Deterministic: integer min, fixed rounds, no RNG —
    value-oracled against a DuckDB RECURSIVE-CTE of the SAME recurrence
    (self-loops folded into the edge set so min(own, neighbors) is one
    aggregate = one recursive reference). One edge-keyed shuffle per
    round; labels stay node-sized; top-20 communities by size.

    Edge build (r12): groupBy(l_orderkey) + collect_set (dedups in the
    aggregate) + an in-row pair HOF, instead of self-joining the
    deduped fact on l_orderkey — two shuffles instead of three, no
    join, and the basket stays one row until the (tiny) pair explode.
    At 100 TB the fact is the big side: never self-join it when a
    per-key aggregate bounds the blow-up (baskets are ~7 items)."""
    from reactionetl_etl_spark.operators.community import label_propagation

    li = _t(spark, sf_dir, "lineitem")
    sets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.expr(
                    "transform(ps, (x, i) -> transform("
                    "slice(ps, i + 2, size(ps)), y -> struct(x AS pa, y AS pb)))"
                )
            )
        ).alias("p")
    ).select("p.pa", "p.pb")
    co = (
        pairs.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
    )
    labels = label_propagation(co, src="pa", dst="pb", rounds=4)
    return (
        labels.groupBy("community")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy(F.desc("n_parts"), "community")
        .limit(20)
    )


@_q(
    "monthly_revenue_holt",
    """
    WITH RECURSIVE m AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) AS y
        FROM orders GROUP BY 1
    ), idx AS (
        SELECT month, y, row_number() OVER (ORDER BY month) AS i FROM m
    ), holt AS (
        SELECT 1 AS i,
               (SELECT y FROM idx WHERE i = 1) AS l,
               (SELECT y FROM idx WHERE i = 2)
                   - (SELECT y FROM idx WHERE i = 1) AS b,
               CAST(NULL AS DOUBLE) AS fit
        UNION ALL
        SELECT h.i + 1,
               0.5 * x.y + 0.5 * (h.l + h.b),
               0.5 * ((0.5 * x.y + 0.5 * (h.l + h.b)) - h.l) + 0.5 * h.b,
               h.l + h.b
        FROM holt h JOIN idx x ON x.i = h.i + 1
    )
    SELECT x.month,
           CAST(floor(h.l + 0.5) AS BIGINT) AS level_c,
           CAST(floor(h.b + 0.5) AS BIGINT) AS trend_c,
           CAST(floor(h.fit + 0.5) AS BIGINT) AS fitted_c
    FROM holt h JOIN idx x ON x.i = h.i
    ORDER BY x.month
    """,
    tags=("timeseries", "forecast", "analytics"),
)
def monthly_revenue_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing over monthly order
    revenue (operators/forecast.py) — the trend-capable forecaster the
    MASE-baseline row lacks. The recurrence is sequential and
    non-associative, but its input is the MONTH GRID (~80 rows):
    metadata-sized by construction, so Spark runs the one data-sized
    aggregate and the driver runs the O(grid) loop — the Markov-solver
    discipline (PERF_NOTES r9). alpha=beta=1/2 makes every multiply
    exact in binary64; each recurrence line performs one rounded IEEE
    add in fixed order, mirrored literally by the oracle's RECURSIVE
    CTE over the same integer-cent inputs — bit-identical cross-engine
    with no tolerance. Outputs level/trend/one-step-ahead fit as
    half-up integer cents per month."""
    from reactionetl_etl_spark.operators.forecast import holt_linear_fit

    o = _t(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM").alias(
                "month"
            )
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("y")
        )
        .orderBy("month")
        .collect()
    )
    months = [r["month"] for r in monthly]
    fit = holt_linear_fit([float(r["y"]) for r in monthly])

    def half_up(x: float | None) -> int | None:
        import math

        return None if x is None else int(math.floor(x + 0.5))

    rows = [
        (m, half_up(l), half_up(b), half_up(f))
        for m, (l, b, f) in zip(months, fit)
    ]
    return spark.createDataFrame(
        rows, "month string, level_c bigint, trend_c bigint, fitted_c bigint"
    ).orderBy("month")


@_q(
    "nation_revenue_gini",
    """
    WITH rev AS (
        SELECT o_custkey AS custkey,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ), nr AS (
        SELECT n.n_name AS nation, r.custkey, r.x,
               row_number() OVER (PARTITION BY n.n_name ORDER BY r.x, r.custkey) AS i
        FROM rev r
        JOIN customer c ON c.c_custkey = r.custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    ), agg AS (
        SELECT nation, CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
               CAST(sum(CAST(i AS DECIMAL(38,0)) * x) AS DOUBLE) AS six
        FROM nr GROUP BY 1
    )
    SELECT nation, n_customers,
           floor((2.0 * six - (n_customers + 1.0) * sx)
                 / (n_customers * 1.0 * sx) * 1000000 + 0.5) / 1000000 AS gini6
    FROM agg ORDER BY nation
    """,
    tags=("agg", "inequality", "analytics"),
)
def nation_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer order revenue within each
    nation — the revenue-inequality monitor (is one nation's demand
    concentrated in a few whales?). Prefix-rank formulation
    G = (2*SUM(i*x) - (n+1)*SUM(x)) / (n*SUM(x)) on revenues sorted
    ascending with custkey tie-break — tie-order-invariant (swapping
    equal x leaves SUM(i*x) unchanged). Revenues are exact integer
    cents; both moment sums fold in DECIMAL headroom and convert to
    double once, so the only IEEE ops are the final mirrored
    expression. The rank window partitions by nation over the CUSTOMER
    dimension (dim-sized per partition — facts were already reduced by
    the per-customer agg); the per-nation moment agg is map-side
    combinable."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")).alias(
            "x"
        )
    )
    nr = (
        rev.join(F.broadcast(c), rev.custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(F.col("n_name").alias("nation"), "custkey", "x")
        .withColumn(
            "i",
            F.row_number().over(
                Window.partitionBy("nation").orderBy("x", "custkey")
            ),
        )
    )
    agg = nr.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.expr("CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE)").alias("sx"),
        F.expr("CAST(sum(CAST(i AS DECIMAL(38,0)) * x) AS DOUBLE)").alias("six"),
    )
    gini = (
        F.lit(2.0) * F.col("six") - (F.col("n_customers") + F.lit(1.0)) * F.col("sx")
    ) / (F.col("n_customers") * F.lit(1.0) * F.col("sx"))
    return agg.select(
        "nation",
        "n_customers",
        (F.floor(gini * 1_000_000 + F.lit(0.5)) / 1_000_000).alias("gini6"),
    ).orderBy("nation")


@_q(
    "search_mrr_eval",
    r"""
    WITH tok AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), top10 AS (
        SELECT doc_id, toks,
               row_number() OVER (ORDER BY len(toks) DESC, doc_id) AS rnk
        FROM tok ORDER BY len(toks) DESC, doc_id LIMIT 10
    ), terms AS (
        SELECT unnest(['merge', 'spark', 'window']) AS term
    ), firsts AS (
        SELECT t.term, CAST(min(s.rnk) AS BIGINT) AS first_rank
        FROM terms t LEFT JOIN top10 s ON list_contains(s.toks, t.term)
        GROUP BY 1
    ), rr AS (
        SELECT term, first_rank,
               CASE WHEN first_rank IS NULL THEN 0.0
                    ELSE floor(1000000.0 / first_rank + 0.5) / 1000000 END AS rr6
        FROM firsts
    )
    SELECT term, first_rank, rr6,
           floor((SELECT avg(rr6) FROM rr) * 1000000 + 0.5) / 1000000 AS mrr6
    FROM rr ORDER BY term
    """,
    tags=("retrieval", "eval", "llm"),
)
def search_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean Reciprocal Rank of a deliberately weak length-prior
    retriever (rank ALL queries by document token count — the
    no-signal baseline every retrieval eval needs) against per-term
    relevance = "document contains the term". Complements
    `retrieval_ndcg_eval` (graded coverage) and `ann_recall_report`
    (set recall) with the first-relevant-position metric. Candidates
    are the global top-10 longest documents via distributed
    TakeOrdered (full (len, doc_id) tie-break); the rank window runs
    over ten rows; each term left-joins the 10-row candidate list, so
    absent terms keep a NULL first_rank and contribute rr=0 to the
    mean — the standard MRR convention."""
    docs = _t(spark, sf_dir, "documents")
    norm = D.normalize_text("text")
    tok = docs.select("doc_id", F.split(norm, " ").alias("toks"))
    w = Window.orderBy(F.desc(F.size("toks")), F.asc("doc_id"))
    top10 = (
        tok.orderBy(F.desc(F.size("toks")), F.asc("doc_id"))
        .limit(10)
        .select(F.row_number().over(w).alias("rnk"), "toks")
    )
    terms = spark.createDataFrame([("merge",), ("spark",), ("window",)], "term string")
    firsts = (
        terms.join(
            top10, F.array_contains(F.col("toks"), F.col("term")), "left"
        )
        .groupBy("term")
        .agg(F.min("rnk").cast("bigint").alias("first_rank"))
    )
    rr = firsts.select(
        "term",
        "first_rank",
        F.when(F.col("first_rank").isNull(), F.lit(0.0))
        .otherwise(F.floor(F.lit(1_000_000.0) / F.col("first_rank") + F.lit(0.5)) / 1_000_000)
        .alias("rr6"),
    )
    mrr = rr.agg(F.avg("rr6").alias("m"))
    return (
        rr.crossJoin(F.broadcast(mrr))
        .select(
            "term",
            "first_rank",
            "rr6",
            (F.floor(F.col("m") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias("mrr6"),
        )
        .orderBy("term")
    )


@_q(
    "matryoshka_truncation_profile",
    """
    WITH r AS (
        -- len()=0 guard: list_reduce RAISES on an empty list, while the
        -- Spark side's aggregate(0.0, ...) folds to 0.0 — an empty-array
        -- embedding must profile as ratio 0 on both engines, not abort
        -- the oracle run (r10 advice). list_reduce is kept for the
        -- non-empty path so the IEEE add sequence stays a left fold in
        -- storage order, identical to Spark's aggregate().
        SELECT vec_id,
               CASE WHEN len(embedding) = 0 THEN 0.0
                    ELSE list_reduce(list_transform(embedding[1:16],
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                           (a, b) -> a + b) END AS s16,
               CASE WHEN len(embedding) = 0 THEN 0.0
                    ELSE list_reduce(list_transform(embedding,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                           (a, b) -> a + b) END AS sall
        FROM embeddings
    ), ratio AS (
        SELECT vec_id,
               CASE WHEN sall = 0.0 THEN 0.0
                    ELSE floor(sqrt(s16) / sqrt(sall) * 1000000 + 0.5) / 1000000
               END AS r6
        FROM r
    )
    SELECT least(CAST(floor(r6 * 10) AS BIGINT), 9) AS bin,
           CAST(count(*) AS BIGINT) AS n_vecs,
           min(r6) AS min_r6,
           max(r6) AS max_r6
    FROM ratio GROUP BY 1 ORDER BY bin
    """,
    tags=("embedding", "vector", "quality"),
    bench=True,
)
def matryoshka_truncation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation quality profile: for every
    embedding, the cosine between the full vector and its first-16-dim
    truncation reduces algebraically to ||x[:16]|| / ||x|| — the
    retained-norm ratio that decides whether a cheap truncated index
    (16 of 64 dims = 4x less candidate I/O) is viable for this corpus
    (Kusupati et al. 2022, Matryoshka Representation Learning).
    Histogram by ratio decile (floor-binned on the 6-dp ratio, top bin
    clamped) instead of ntile — pure map + bounded agg, NO global
    sort. Both norms are row-local left folds over the array in
    storage order (identical IEEE add sequence to the oracle's
    list_reduce); sqrt and one division are correctly-rounded ops;
    zero vectors profile as ratio 0."""
    emb = _t(spark, sf_dir, "embeddings")
    s16 = F.expr(
        "aggregate(slice(embedding, 1, 16), CAST(0 AS DOUBLE),"
        " (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"
    )
    sall = F.expr(
        "aggregate(embedding, CAST(0 AS DOUBLE),"
        " (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"
    )
    r6 = F.when(sall == 0.0, F.lit(0.0)).otherwise(
        F.floor(F.sqrt(s16) / F.sqrt(sall) * 1_000_000 + F.lit(0.5)) / 1_000_000
    )
    return (
        emb.select(r6.alias("r6"))
        .groupBy(
            F.least(F.floor(F.col("r6") * 10).cast("bigint"), F.lit(9).cast("bigint")).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("r6").alias("min_r6"),
            F.max("r6").alias("max_r6"),
        )
        .orderBy("bin")
    )


@_q(
    "lang_unigram_entropy",
    r"""
    WITH tok AS (
        SELECT lang,
               unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS t
        FROM documents
    ), cnt AS (
        SELECT lang, t, CAST(count(*) AS BIGINT) AS c
        FROM tok WHERE length(t) > 0 GROUP BY 1, 2
    ), agg AS (
        SELECT lang,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS vocab_size,
               sum(c * ln(c * 1.0)) AS s
        FROM cnt GROUP BY 1
    )
    SELECT lang, n_tokens, vocab_size,
           floor((ln(n_tokens * 1.0) - s / n_tokens) * 10000 + 0.5) / 10000
               AS entropy4,
           floor((ln(n_tokens * 1.0) - s / n_tokens) / ln(vocab_size * 1.0) * 10000 + 0.5) / 10000
               AS norm_entropy4
    FROM agg ORDER BY lang
    """,
    tags=("text", "quality", "stats", "llm"),
)
def lang_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram (Shannon) entropy of each language's token distribution
    in nats, with the Hartley-normalized variant H/ln(V) — the
    corpus-diversity monitor (a language slice whose entropy collapses
    is shipping boilerplate or a single crawled site; the CCNet-style
    complement to the per-source KL drift row). H = ln(n) - SUM(c*ln c)/n
    from exact integer token counts — one map-side-combined (lang,
    token) count, then a lang-sized moment agg; the ln-sum follows the
    `corpus_drift_kl` discipline (mirrored IEEE over identical integer
    inputs, floored at 4 dp, where accumulated ulp drift is orders of
    magnitude below the rounding grid)."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(F.split(F.lower("text"), r"\s+")).alias("t")
    ).filter(F.length("t") > 0)
    cnt = tok.groupBy("lang", "t").agg(F.count(F.lit(1)).alias("c"))
    agg = cnt.groupBy("lang").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum(F.col("c") * F.log(F.col("c") * F.lit(1.0))).alias("s"),
    )
    h = F.log(F.col("n_tokens") * F.lit(1.0)) - F.col("s") / F.col("n_tokens")
    return agg.select(
        "lang",
        "n_tokens",
        "vocab_size",
        (F.floor(h * 10_000 + F.lit(0.5)) / 10_000).alias("entropy4"),
        (
            F.floor(
                h / F.log(F.col("vocab_size") * F.lit(1.0)) * 10_000 + F.lit(0.5)
            )
            / 10_000
        ).alias("norm_entropy4"),
    ).orderBy("lang")


@_q(
    "lang_id_confusion",
    """
    WITH h AS (
        -- coalesce to 0 so a NULL text mirrors Spark's lang_id fold
        -- ('und'), instead of NULL counts falling through CASE to 'es'
        SELECT doc_id, lang,
               coalesce(len(list_filter(string_split(text,' '), t -> list_contains(['the','a','and','of','to'], t))), 0) AS he,
               coalesce(len(list_filter(string_split(text,' '), t -> list_contains(['der','die','und','das','ein'], t))), 0) AS hd,
               coalesce(len(list_filter(string_split(text,' '), t -> list_contains(['le','la','et','les','des'], t))), 0) AS hf,
               coalesce(len(list_filter(string_split(text,' '), t -> list_contains(['el','los','las','una','y'], t))), 0) AS hs
        FROM documents
    ), pred AS (
        SELECT lang,
               CASE WHEN greatest(he, hd, hf, hs) = 0 THEN 'und'
                    WHEN he = greatest(he, hd, hf, hs) THEN 'en'
                    WHEN hd = greatest(he, hd, hf, hs) THEN 'de'
                    WHEN hf = greatest(he, hd, hf, hs) THEN 'fr'
                    ELSE 'es' END AS lang_pred
        FROM h
    ), cells AS (
        SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
        FROM pred GROUP BY 1, 2
    ), per_class AS (
        SELECT g.lang,
               CAST(coalesce(sum(CASE WHEN c.lang_pred = g.lang THEN c.n END), 0) AS BIGINT) AS tp,
               CAST(coalesce(sum(CASE WHEN c.lang_pred != g.lang THEN c.n END), 0) AS BIGINT) AS fn,
               CAST(coalesce((SELECT sum(c2.n) FROM cells c2
                              WHERE c2.lang_pred = g.lang AND c2.lang != g.lang), 0) AS BIGINT) AS fp
        FROM (SELECT DISTINCT lang FROM cells) g
        LEFT JOIN cells c ON c.lang = g.lang
        GROUP BY 1
    ), scored AS (
        SELECT lang, tp, fp, fn,
               CASE WHEN tp + fp = 0 THEN 0.0
                    ELSE floor(tp * 1.0 / (tp + fp) * 1000000 + 0.5) / 1000000 END AS precision6,
               CASE WHEN tp + fn = 0 THEN 0.0
                    ELSE floor(tp * 1.0 / (tp + fn) * 1000000 + 0.5) / 1000000 END AS recall6,
               CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
                    ELSE floor(2.0 * tp / (2 * tp + fp + fn) * 1000000 + 0.5) / 1000000 END AS f16
        FROM per_class
    )
    SELECT lang, tp, fp, fn, precision6, recall6, f16,
           floor((SELECT avg(f16) FROM scored) * 1000000 + 0.5) / 1000000 AS macro_f16
    FROM scored ORDER BY lang
    """,
    tags=("text", "langid", "eval"),
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion-matrix evaluation of the marker-token language-ID
    heuristic against the gold `lang` labels: per-gold-class tp/fp/fn,
    precision/recall/F1, and macro-F1 over the gold classes — the eval
    row the `lang_id_heuristic` operator lacked (the quality classifier
    already has AUC + calibration; language ID gets the same treatment,
    and the matrix makes the known blind spot visible: zh has no latin
    marker tokens, so it predicts 'und' with recall 0). All counts are
    exact integers from one (gold, pred) cell aggregate (classes x
    classes rows); divisions are the only IEEE ops, floored at 6 dp;
    macro-F1 averages the ALREADY-floored per-class F1s, so the 5-value
    mean is reproducible cross-engine."""
    docs = _t(spark, sf_dir, "documents")
    pred = docs.select("lang", TX.lang_id("text").alias("lang_pred"))
    cells = pred.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n"))
    cells = cells.localCheckpoint(eager=True)  # classes² rows, 3 consumers
    tp_fn = cells.groupBy("lang").agg(
        F.coalesce(
            F.sum(F.when(F.col("lang_pred") == F.col("lang"), F.col("n"))), F.lit(0)
        ).cast("bigint").alias("tp"),
        F.coalesce(
            F.sum(F.when(F.col("lang_pred") != F.col("lang"), F.col("n"))), F.lit(0)
        ).cast("bigint").alias("fn"),
    )
    fp = (
        cells.alias("c2")
        .join(
            cells.select(F.col("lang").alias("g")).distinct(),
            (F.col("c2.lang_pred") == F.col("g")) & (F.col("c2.lang") != F.col("g")),
        )
        .groupBy(F.col("g").alias("lang"))
        .agg(F.sum("n").cast("bigint").alias("fp"))
    )
    per_class = tp_fn.join(fp, "lang", "left").withColumn(
        "fp", F.coalesce("fp", F.lit(0)).cast("bigint")
    )

    def _ratio6(num, den):
        return F.when(den == 0, F.lit(0.0)).otherwise(
            F.floor(num * F.lit(1.0) / den * 1_000_000 + F.lit(0.5)) / 1_000_000
        )

    scored = per_class.select(
        "lang",
        "tp",
        "fp",
        "fn",
        _ratio6(F.col("tp"), F.col("tp") + F.col("fp")).alias("precision6"),
        _ratio6(F.col("tp"), F.col("tp") + F.col("fn")).alias("recall6"),
        F.when(F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn") == 0, F.lit(0.0))
        .otherwise(
            F.floor(
                F.lit(2.0) * F.col("tp")
                / (F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn"))
                * 1_000_000
                + F.lit(0.5)
            )
            / 1_000_000
        )
        .alias("f16"),
    )
    macro = scored.agg(F.avg("f16").alias("m"))
    return (
        scored.crossJoin(F.broadcast(macro))
        .select(
            "lang",
            "tp",
            "fp",
            "fn",
            "precision6",
            "recall6",
            "f16",
            (F.floor(F.col("m") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias(
                "macro_f16"
            ),
        )
        .orderBy("lang")
    )


@_q(
    "weekly_ltv_cohorts",
    """
    WITH firsts AS (
        SELECT user_id,
               min(CAST(floor(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7.0) AS BIGINT)) AS cohort_w
        FROM events GROUP BY 1
    ), sizes AS (
        SELECT cohort_w, CAST(count(*) AS BIGINT) AS n_users FROM firsts GROUP BY 1
    ), rev AS (
        SELECT f.cohort_w,
               CAST(floor(date_diff('day', DATE '2024-01-01', CAST(e.ts AS DATE)) / 7.0) AS BIGINT)
                   - f.cohort_w AS offset_w,
               CAST(sum(CAST(floor(e.value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS rev_micro
        FROM events e JOIN firsts f ON f.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
        GROUP BY 1, 2
    ), o AS (
        -- DENSE offset axis 0..last-observed-week: an offset no cohort
        -- purchased at must appear as a zero cell, so cumulative curves
        -- are flat where a cohort goes quiet, never missing a row
        SELECT unnest(generate_series(0, (SELECT max(cohort_w + offset_w) FROM rev))) AS offset_w
    ), grid AS (
        SELECT s.cohort_w, o.offset_w, s.n_users, coalesce(r.rev_micro, 0) AS rev_micro
        FROM sizes s
        JOIN o ON o.offset_w <= (SELECT max(cohort_w + offset_w) FROM rev) - s.cohort_w
        LEFT JOIN rev r ON r.cohort_w = s.cohort_w AND r.offset_w = o.offset_w
    )
    SELECT cohort_w, offset_w, n_users,
           CAST(sum(rev_micro) OVER (PARTITION BY cohort_w ORDER BY offset_w) AS BIGINT)
               AS cum_rev_micro,
           CAST(sum(rev_micro) OVER (PARTITION BY cohort_w ORDER BY offset_w)
                // n_users AS BIGINT) AS ltv_micro
    FROM grid ORDER BY cohort_w, offset_w
    """,
    tags=("events", "cohort", "analytics", "ltv"),
)
def weekly_ltv_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle: users cohorted by FIRST-event week, then
    cumulative purchase revenue per user at each week offset — the
    value-dimension complement of `weekly_retention_triangle` (the
    lifetime-value curve a growth team reads cohort health from).
    Exact integers end to end: week index = floor(days-since-anchor/7)
    with floor() spelled out on BOTH engines (anchor-independent),
    revenues in micro-units, cumulative sums and the per-user division
    all integer (non-negative, so DIV truncation == floor). The running sum's window
    partitions by cohort over the WEEK-OFFSET GRID (weeks², not data) —
    the triangle is complete (zero-revenue cells kept) so cumulative
    curves are flat where a cohort goes quiet, not missing. One events
    scan + one user-keyed agg + grid-sized everything after."""
    ev = load_events(spark, sf_dir)
    # FLOOR division on both engines (not Spark DIV / DuckDB //, whose
    # negative-operand rounding is engine- and version-dependent): week
    # indices stay aligned cross-engine even for pre-anchor timestamps,
    # instead of silently relying on the generator never emitting one
    # (r10 advice). datediff is far below 2^52, so the double divide is
    # exact.
    week = F.expr(
        "CAST(floor(datediff(to_date(ts_ntz), DATE'2024-01-01') / 7.0) AS BIGINT)"
    )
    firsts = ev.groupBy("user_id").agg(F.min(week).alias("cohort_w"))
    sizes = firsts.groupBy("cohort_w").agg(F.count(F.lit(1)).alias("n_users"))
    from reactionetl_etl_spark.operators.experiment import micro_units

    rev = (
        ev.filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        # firsts is USER-sized (data, not grid) — plain keyed join, the
        # user_retention_cohorts precedent; a broadcast hint here would
        # ship every user to every executor at scale
        .join(firsts, "user_id")
        .groupBy(
            "cohort_w", (week - F.col("cohort_w")).alias("offset_w")
        )
        .agg(F.sum(micro_units("value")).cast("bigint").alias("rev_micro"))
    )
    rev = rev.localCheckpoint(eager=True)  # grid-sized, 3 consumers
    max_w = rev.agg(
        F.max(F.col("cohort_w") + F.col("offset_w")).alias("mw")
    )
    offsets = max_w.select(
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("mw"))).alias("offset_w")
    )
    grid = (
        sizes.crossJoin(F.broadcast(offsets))
        .crossJoin(F.broadcast(max_w))
        .filter(F.col("offset_w") <= F.col("mw") - F.col("cohort_w"))
        .join(rev, ["cohort_w", "offset_w"], "left")
        .select(
            "cohort_w",
            "offset_w",
            "n_users",
            F.coalesce("rev_micro", F.lit(0)).alias("rev_micro"),
        )
    )
    w = Window.partitionBy("cohort_w").orderBy("offset_w")
    cum = F.sum("rev_micro").over(w)
    return grid.select(
        "cohort_w",
        "offset_w",
        "n_users",
        cum.cast("bigint").alias("cum_rev_micro"),
        F.expr(
            "CAST(sum(rev_micro) OVER (PARTITION BY cohort_w ORDER BY offset_w)"
            " DIV n_users AS BIGINT)"
        ).alias("ltv_micro"),
    ).orderBy("cohort_w", "offset_w")


@_q(
    "pack_efficiency_report",
    """
    WITH t AS (
        SELECT doc_id,
               len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
        FROM documents
    ), c AS (
        SELECT doc_id, tok,
               coalesce(sum(tok) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        FROM t
    ), s AS (
        SELECT CAST(floor(cum / 2048.0) AS BIGINT) AS shard_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(tok) AS BIGINT) AS sum_tokens,
               min(cum) AS first_start,
               max(cum + tok) AS last_end,
               CAST(sum(CASE WHEN cum + tok
                             > (CAST(floor(cum / 2048.0) AS BIGINT) + 1) * 2048
                        THEN 1 ELSE 0 END) AS BIGINT) AS split_docs
        FROM c GROUP BY 1
    )
    SELECT shard_id, n_docs, sum_tokens,
           CAST(first_start - shard_id * 2048 AS BIGINT) AS carry_in_tokens,
           CAST(greatest(last_end - (shard_id + 1) * 2048, 0) AS BIGINT)
               AS overshoot_tokens,
           split_docs,
           floor((least(last_end, (shard_id + 1) * 2048) - first_start)
                 / 2048.0 * 1000000 + 0.5) / 1000000 AS fill6
    FROM s ORDER BY shard_id
    """,
    tags=("packing", "training-export", "quality", "llm"),
    bench=True,
)
def pack_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack-efficiency report for the training exporter — the first
    question a training consumer asks of a shard layout: how much of
    each 2048-token budget window is real data? Per shard (same greedy
    contiguous layout as `token_budget_packing`, same distributed
    prefix sum — no single-partition window):

    - ``carry_in_tokens``: tokens of the PREVIOUS shard's boundary-
      crossing document occupying this window's head — exactly the
      padding a no-split trainer that truncates at the boundary pays;
    - ``overshoot_tokens``: tokens of this shard's last document past
      its own boundary — the truncation waste (or, for a splitting
      trainer, the carry-over into the next sequence);
    - ``split_docs``: documents crossing the boundary (0 or 1 under
      the greedy layout with docs shorter than the budget);
    - ``fill6``: fraction of the budget window covered by documents
      that START in the shard, truncated at the boundary — 1 minus
      the padding fraction everywhere except the corpus tail.

    Everything is exact integer arithmetic off the prefix sum; the one
    division is mirrored 6-dp floor rounding. Pure aggregation over
    `packing.pack_by_token_budget`'s output — grid-sized (one row per
    shard), and at 100 TB the report costs one shard-keyed aggregate
    over columns the pack step already carries."""
    from reactionetl_etl_spark.operators.packing import pack_by_token_budget

    docs = _t(spark, sf_dir, "documents")
    norm = D.normalize_text("text")
    t = docs.select("doc_id", F.size(F.split(norm, " ")).alias("tok"))
    packed = pack_by_token_budget(
        t,
        order_col="doc_id",
        token_col="tok",
        budget=2048,
        bucket_expr=F.expr("doc_id div 2000"),
    )
    end = F.col("tokens_before") + F.col("tok")
    boundary = (F.col("shard_id") + 1) * 2048
    s = packed.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").cast("bigint").alias("sum_tokens"),
        F.min("tokens_before").alias("first_start"),
        F.max(end).alias("last_end"),
        F.sum(F.when(end > boundary, 1).otherwise(0)).cast("bigint").alias("split_docs"),
    )
    return s.select(
        "shard_id",
        "n_docs",
        "sum_tokens",
        (F.col("first_start") - F.col("shard_id") * 2048)
        .cast("bigint")
        .alias("carry_in_tokens"),
        F.greatest(F.col("last_end") - boundary, F.lit(0))
        .cast("bigint")
        .alias("overshoot_tokens"),
        "split_docs",
        (
            F.floor(
                (F.least(F.col("last_end"), boundary) - F.col("first_start"))
                / F.lit(2048.0)
                * 1_000_000
                + F.lit(0.5)
            )
            / 1_000_000
        ).alias("fill6"),
    ).orderBy("shard_id")


@_q(
    "pack_length_tradeoff_curve",
    """
    WITH t AS (
        SELECT doc_id,
               len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
        FROM documents
    ), c AS (
        SELECT doc_id, tok,
               coalesce(sum(tok) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        FROM t
    ), per AS (
        SELECT b.budget, c.tok, c.cum,
               CAST(floor(c.cum / (1.0 * b.budget)) AS BIGINT) AS w0,
               CAST(floor((c.cum + c.tok - 1) / (1.0 * b.budget)) AS BIGINT) AS w1
        FROM c JOIN (VALUES (512), (1024), (2048), (4096)) b(budget) ON true
    )
    SELECT budget,
           CAST(ceil(sum(tok) / (1.0 * budget)) AS BIGINT) AS n_shards,
           CAST(sum(CASE WHEN w1 > w0 THEN 1 ELSE 0 END) AS BIGINT) AS split_docs,
           CAST(sum(CASE WHEN w1 > w0
                         THEN cum + tok - (w0 + 1) * budget ELSE 0 END)
                AS BIGINT) AS truncated_tokens,
           CAST(floor(sum(CASE WHEN w1 > w0
                               THEN cum + tok - (w0 + 1) * budget ELSE 0 END)
                      * 1000000.0 / sum(tok) + 0.5) AS BIGINT) AS waste_micro
    FROM per GROUP BY 1 ORDER BY 1
    """,
    tags=("packing", "training-export", "eval", "llm"),
)
def pack_length_tradeoff_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER packing dial (r12, companion to
    `pack_efficiency_report`, which fixes budget=2048): sweep the
    sequence-length budget L ∈ {512, 1024, 2048, 4096} and report, per
    L, shard count, boundary-crossing docs, and the token mass past
    each crossing doc's first boundary (`truncated_tokens` — what a
    no-split trainer discards; `waste_micro` is its corpus fraction).
    Longer sequences mean fewer crossings but costlier attention —
    this curve is the data half of that tradeoff. The distributed
    prefix sum (`rank.global_running_sum`, exclusive) is computed
    ONCE — it is budget-independent — and a broadcast L-grid evaluates
    every sweep point from the same frame in one aggregate: the
    single-pass sweep discipline (`ivf_tuning_curve`). Exact integer
    arithmetic off (cum, tok, L) everywhere; the one division is
    mirrored floor micro-rounding."""
    from reactionetl_etl_spark.operators.rank import global_running_sum

    docs = _t(spark, sf_dir, "documents")
    norm = D.normalize_text("text")
    t = docs.select("doc_id", F.size(F.split(norm, " ")).alias("tok"))
    c = global_running_sum(
        t,
        [F.col("doc_id")],
        [False],
        "tok",
        out_col="cum",
        exclusive=True,
        bucket_expr=F.expr("doc_id div 2000"),
    )
    grid = spark.createDataFrame([(512,), (1024,), (2048,), (4096,)], "budget int")
    per = c.crossJoin(F.broadcast(grid)).select(
        "budget",
        "tok",
        "cum",
        F.floor(F.col("cum") / (F.col("budget") * 1.0)).cast("bigint").alias("w0"),
        F.floor((F.col("cum") + F.col("tok") - 1) / (F.col("budget") * 1.0))
        .cast("bigint")
        .alias("w1"),
    )
    crossing = F.col("w1") > F.col("w0")
    trunc = F.when(
        crossing, F.col("cum") + F.col("tok") - (F.col("w0") + 1) * F.col("budget")
    ).otherwise(F.lit(0))
    return (
        per.groupBy("budget")
        .agg(
            F.ceil(F.sum("tok") / (F.col("budget") * 1.0)).cast("bigint").alias("n_shards"),
            F.sum(crossing.cast("bigint")).cast("bigint").alias("split_docs"),
            F.sum(trunc).cast("bigint").alias("truncated_tokens"),
            F.floor(F.sum(trunc) * 1_000_000.0 / F.sum("tok") + F.lit(0.5))
            .cast("bigint")
            .alias("waste_micro"),
        )
        .orderBy("budget")
    )


@_q(
    "bpe_fertility_by_lang",
    None,  # trained-tokenizer replay — deterministic output pinned
    tags=("text", "tokenizer", "bpe", "quality", "llm"),
)
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-quality audit: per-language fertility (tokens per
    whitespace word), bytes-per-token, and OOV rate for the trained
    BPE — the standard multilingual eval a training-data pipeline runs
    before committing a vocabulary (high fertility / low bytes-per-
    token for a language means the vocab under-serves it and its
    documents burn more sequence budget per character).

    Vocabulary = the 8 learned merge products plus every character
    seen in the TRAINING quarter-sample (`_bpe_corpus_merges`' split);
    a token is OOV iff it is outside that set — with greedy char-level
    BPE that means exactly the single characters the training sample
    never saw (the byte-fallback-rate analogue). OOV counting is a
    broadcast anti-join of exploded tokens against the vocab table
    (vocab is alphabet+merges-sized, never corpus-sized); the three
    ratios are 6-dp floor-rounded from exact integer sums. Encode is
    the same one Arrow-batched pass as `bpe_encode_tokens`, here over
    the full corpus. Deterministic end to end (deterministic trainer,
    sorted collected charset, greedy leftmost encode) — pinned at
    sf0.01 and sf0.1."""
    from reactionetl_etl_spark.operators.bpe import apply_bpe_merges

    merges = _bpe_corpus_merges(spark, sf_dir)
    products = {a + b for a, b, _ in merges}
    train_chars = {
        r["ch"]
        for r in _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 4 == 0)
        .select(
            F.explode(
                F.split(F.regexp_replace(D.normalize_text("text"), " ", ""), "")
            ).alias("ch")
        )
        .filter(F.col("ch") != "")
        .distinct()
        .collect()
    }
    vocab = sorted(train_chars | products)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    enc = apply_bpe_merges(docs, merges, "text", out_col="toks")
    norm = D.normalize_text("text")
    per_doc = enc.select(
        "lang",
        "toks",
        F.size(F.split(norm, " ")).alias("w"),
        F.octet_length(F.regexp_replace(norm, " ", "")).alias("b"),
    )
    base = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").cast("bigint").alias("n_words"),
        F.sum(F.size("toks")).cast("bigint").alias("n_tokens"),
        F.sum("b").cast("bigint").alias("n_bytes"),
    )
    vocab_df = spark.createDataFrame([(v,) for v in vocab], "t string")
    oov = (
        per_doc.select("lang", F.explode("toks").alias("t"))
        .join(F.broadcast(vocab_df), "t", "left_anti")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("oov"))
    )
    return (
        base.join(oov, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_tokens",
            "n_bytes",
            F.coalesce("oov", F.lit(0)).cast("bigint").alias("n_oov"),
            (
                F.floor(F.col("n_tokens") / F.col("n_words") * 1_000_000 + F.lit(0.5))
                / 1_000_000
            ).alias("fertility6"),
            (
                F.floor(F.col("n_bytes") / F.col("n_tokens") * 1_000_000 + F.lit(0.5))
                / 1_000_000
            ).alias("bytes_per_token6"),
            (
                F.floor(F.col("n_oov") / F.col("n_tokens") * 1_000_000 + F.lit(0.5))
                / 1_000_000
            ).alias("oov_rate6"),
        )
        .orderBy("lang")
    )


@_q(
    "corpus_funnel_report",
    """
    WITH tok AS (
        SELECT doc_id, n_chars,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        FROM documents
    ), s1 AS (
        SELECT doc_id, n_chars, toks, fp FROM tok
    ), keepers AS (
        SELECT fp, min(doc_id) AS keeper FROM s1 GROUP BY 1
    ), s2 AS (
        SELECT s1.* FROM s1 JOIN keepers ON s1.fp = keepers.fp AND s1.doc_id = keepers.keeper
    ), band AS (
        SELECT ceil(quantile_cont(n_chars, 0.05))  AS lo,
               floor(quantile_cont(n_chars, 0.95)) AS hi
        FROM s2
    ), s3 AS (
        SELECT s2.* FROM s2, band WHERE n_chars BETWEEN lo AND hi
    ), g AS (
        SELECT doc_id, array_to_string(toks[i:i+3], ' ') AS gram
        FROM (
            SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks) - 3, 1))) AS i
            FROM tok
        )
    ), ev AS (
        SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
    ), hits AS (
        SELECT DISTINCT g.doc_id FROM g
        JOIN s3 ON s3.doc_id = g.doc_id
        WHERE g.doc_id % 97 <> 0 AND gram IN (SELECT gram FROM ev)
    ), s4 AS (
        SELECT s3.* FROM s3
        WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM hits)
    ), stages AS (
        SELECT 1 AS stage_no, 'raw' AS stage,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(toks)) AS BIGINT) AS n_tokens FROM s1
        UNION ALL
        SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT), CAST(sum(len(toks)) AS BIGINT) FROM s2
        UNION ALL
        SELECT 3, 'length_band', CAST(count(*) AS BIGINT), CAST(sum(len(toks)) AS BIGINT) FROM s3
        UNION ALL
        SELECT 4, 'decontaminated', CAST(count(*) AS BIGINT), CAST(sum(len(toks)) AS BIGINT) FROM s4
    )
    SELECT stage_no, stage, n_docs, n_tokens,
           CAST(coalesce(lag(n_docs) OVER (ORDER BY stage_no) - n_docs, 0) AS BIGINT)
               AS dropped_docs,
           floor(n_docs / (CAST(coalesce(lag(n_docs) OVER (ORDER BY stage_no), n_docs) AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS retention6
    FROM stages ORDER BY stage_no
    """,
    tags=("text", "pipeline", "quality", "llm"),
    bench=True,
)
def corpus_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage retention funnel for the curation pipeline — the
    one-page answer to "where did my tokens go": raw → exact dedup
    (full-text md5 fingerprint, min-id keeper) → length band (5th–95th
    percentile of n_chars over the dedup survivors) → benchmark
    decontamination (eval slice removed + any 4-gram overlap with it,
    the `decontaminated_corpus` machinery over stage-3 survivors).
    Each row carries surviving doc/token counts, docs dropped by that
    stage, and the 6-dp stage retention rate. Complements
    `training_corpus_build` (the rows-only full pipeline): this is the
    SQL-mirrorable audit of the funnel shape itself.

    100 TB posture: every stage is the already-proven shape — digest
    groupBy, one percentile over the dedup survivors' n_chars (exact
    interpolated percentile on a column, not a sort of the corpus),
    and a broadcast anti-join against the benchmark-sized flagged set;
    the report itself is 4 rows."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    norm = D.normalize_text("text")
    # r14: the checkpoints carry n_toks (an int) instead of the token
    # ARRAY — every consumer downstream only ever needs the count
    # (stage aggregates sum sizes; the contamination pass re-tokenizes
    # from text itself), so materializing the array tripled the
    # checkpoint bytes for nothing. sum(size(toks)) == sum(n_toks)
    # exactly.
    s1 = docs.select(
        "doc_id",
        "n_chars",
        "text",
        F.size(F.split(norm, " ")).alias("n_toks"),
        F.md5(norm).alias("fp"),
    ).localCheckpoint(eager=True)  # 3 stage scans + the gram pass reuse it
    keepers = s1.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    s2 = s1.join(
        keepers,
        (s1["fp"] == keepers["fp"]) & (s1["doc_id"] == keepers["keeper"]),
    ).select(s1["doc_id"], s1["n_chars"], s1["text"], s1["n_toks"])
    band = s2.agg(
        F.ceil(F.expr("percentile(n_chars, 0.05)")).alias("lo"),
        F.floor(F.expr("percentile(n_chars, 0.95)")).alias("hi"),
    )
    s3 = s2.crossJoin(F.broadcast(band)).filter(
        F.col("n_chars").between(F.col("lo"), F.col("hi"))
    ).select("doc_id", "n_chars", "text", "n_toks")
    s3 = s3.localCheckpoint(eager=True)  # contamination + count reuse
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    flagged = (
        TX.ngram_contamination(
            s3.filter(F.col("doc_id") % 97 != 0), ev, "text", "doc_id", k=4
        )
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
    )
    s4 = s3.filter(F.col("doc_id") % 97 != 0).join(flagged, "doc_id", "left_anti")

    def stage(no: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(no).alias("stage_no"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )

    stages = (
        stage(1, "raw", s1)
        .unionByName(stage(2, "exact_dedup", s2))
        .unionByName(stage(3, "length_band", s3))
        .unionByName(stage(4, "decontaminated", s4))
    )
    w = W.orderBy("stage_no")
    prev = F.lag("n_docs").over(w)
    return stages.select(
        "stage_no",
        "stage",
        "n_docs",
        "n_tokens",
        F.coalesce(prev - F.col("n_docs"), F.lit(0)).cast("bigint").alias("dropped_docs"),
        (
            F.floor(
                F.col("n_docs") / F.coalesce(prev, F.col("n_docs")).cast("double")
                * 1_000_000
                + F.lit(0.5)
            )
            / 1_000_000
        ).alias("retention6"),
    ).orderBy("stage_no")


@_q(
    "cross_lang_template_report",
    """
    WITH t AS (
        SELECT doc_id, lang,
               md5(array_to_string(
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')[1:16],
                   ' ')) AS fp
        FROM documents
    )
    SELECT fp,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(*) AS BIGINT) AS n_docs,
           string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
           min(doc_id) AS keeper_id
    FROM t GROUP BY fp
    HAVING count(DISTINCT lang) > 1
    ORDER BY fp
    """,
    tags=("text", "dedup", "multilingual", "llm"),
)
def cross_lang_template_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language template/boilerplate detector: documents whose
    normalized 16-token PREFIX is byte-identical across ≥2 language
    tags — the translated-boilerplate and template-leak signal a
    multilingual curation pipeline checks before computing language
    mixture weights (shared templates inflate every language's
    apparent unique content; full-text fingerprints miss them because
    the tails diverge). Per shared prefix: language count, document
    count, the sorted language list, and the min-id keeper.

    Only 32-char digests shuffle (the `dedup_fingerprint_md5`
    discipline); the group-by is fingerprint-keyed with map-side
    partial aggregation and the output is bounded by the number of
    SHARED templates, never the corpus."""
    docs = _t(spark, sf_dir, "documents")
    norm = D.normalize_text("text")
    fp = F.md5(F.concat_ws(" ", F.slice(F.split(norm, " "), 1, 16)))
    return (
        docs.select("doc_id", "lang", fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.countDistinct("lang").alias("n_langs"),
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(F.array_sort(F.collect_set("lang")), ",").alias("langs"),
            F.min("doc_id").alias("keeper_id"),
        )
        .filter(F.col("n_langs") > 1)
        .orderBy("fp")
    )


@_q(
    "join_key_skew_profile",
    """
    WITH lc AS (
        SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1
    ), ec AS (
        SELECT user_id AS k, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1
    ), both_keys AS (
        SELECT 'lineitem.l_partkey' AS join_key, k, c FROM lc
        UNION ALL
        SELECT 'events.user_id', k, c FROM ec
    ), ranked AS (
        SELECT join_key, c,
               row_number() OVER (PARTITION BY join_key ORDER BY c DESC, k ASC) AS rn
        FROM both_keys
    )
    SELECT join_key,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(max(c) AS BIGINT) AS max_rows_per_key,
           floor(quantile_cont(c, 0.5) * 1000000 + 0.5) / 1000000 AS p50_6,
           floor(quantile_cont(c, 0.99) * 1000000 + 0.5) / 1000000 AS p99_6,
           floor(max(c) / (sum(c) * 1.0 / count(*)) * 1000000 + 0.5) / 1000000
               AS skew_ratio6,
           floor(sum(CASE WHEN rn <= 10 THEN c ELSE 0 END) / (sum(c) * 1.0)
                 * 1000000 + 0.5) / 1000000 AS top10_share6
    FROM ranked GROUP BY join_key ORDER BY join_key
    """,
    tags=("diagnostics", "skew", "join", "scale"),
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler — the measurement the engine's own skew
    mitigations (AQE skew split, salting — SCALING.md § skew) are
    chosen FROM: per candidate join key, the key count, row count,
    heaviest key, exact p50/p99 rows-per-key, max/mean skew ratio, and
    the share of rows held by the 10 heaviest keys. A skew_ratio near
    1 says hash partitions balance; a large top10_share says the
    heavy-hitter keys need a broadcast, salt, or AQE split before the
    join is attempted at scale.

    Shape: per-key counts are one map-side-combined groupBy per table;
    everything after runs over the KEY-sized count table (dimension-
    bounded), including the top-10 rank window (partitioned per
    join_key, WindowGroupLimit-friendly). Profiled here: the fact-side
    part key and the events user key — the two hot join axes in this
    schema."""
    from pyspark.sql import Window as W

    li = _t(spark, sf_dir, "lineitem").groupBy(
        F.col("l_partkey").alias("k")
    ).agg(F.count(F.lit(1)).alias("c"))
    evc = load_events(spark, sf_dir).groupBy(
        F.col("user_id").alias("k")
    ).agg(F.count(F.lit(1)).alias("c"))
    both = li.select(F.lit("lineitem.l_partkey").alias("join_key"), "k", "c").unionByName(
        evc.select(F.lit("events.user_id").alias("join_key"), "k", "c")
    )
    rn = F.row_number().over(
        W.partitionBy("join_key").orderBy(F.col("c").desc(), F.col("k").asc())
    )
    ranked = both.withColumn("rn", rn)
    mean = F.sum("c") * 1.0 / F.count(F.lit(1))
    return (
        ranked.groupBy("join_key")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("c").cast("bigint").alias("n_rows"),
            F.max("c").cast("bigint").alias("max_rows_per_key"),
            (F.floor(F.expr("percentile(c, 0.5)") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias("p50_6"),
            (F.floor(F.expr("percentile(c, 0.99)") * 1_000_000 + F.lit(0.5)) / 1_000_000).alias("p99_6"),
            (F.floor(F.max("c") / mean * 1_000_000 + F.lit(0.5)) / 1_000_000).alias("skew_ratio6"),
            (
                F.floor(
                    F.sum(F.when(F.col("rn") <= 10, F.col("c")).otherwise(0))
                    / (F.sum("c") * 1.0)
                    * 1_000_000
                    + F.lit(0.5)
                )
                / 1_000_000
            ).alias("top10_share6"),
        )
        .orderBy("join_key")
    )


@_q(
    "ngram_coverage_curve",
    """
    WITH tok AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), g AS (
        SELECT array_to_string(toks[i:i+3], ' ') AS gram
        FROM (
            SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks) - 3, 1))) AS i
            FROM tok
        )
    ), cnt AS (
        SELECT gram, CAST(count(*) AS BIGINT) AS cf FROM g GROUP BY gram
    ), tot AS (
        SELECT CAST(sum(cf) AS BIGINT) AS total FROM cnt
    ), top AS (
        SELECT cf, row_number() OVER (ORDER BY cf DESC, gram ASC) AS rk
        FROM cnt QUALIFY rk <= 1000
    )
    SELECT k.k AS top_k,
           CAST(sum(t.cf) AS BIGINT) AS covered,
           (SELECT total FROM tot) AS total_grams,
           CAST(floor(sum(t.cf) * 1000000.0 / (SELECT total FROM tot) + 0.5)
                AS BIGINT) AS coverage_micro
    FROM (VALUES (10), (100), (1000)) k(k) JOIN top t ON t.rk <= k.k
    GROUP BY 1 ORDER BY 1
    """,
    tags=("dedup", "text", "eval", "llm"),
)
def ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-ROI curve (r12): what fraction of the corpus's 4-gram
    occurrences the top-k most-repeated 4-grams cover, k ∈ {10, 100,
    1000} — the number that says whether span-cut dedup
    (`cut_duplicated_spans`) is worth a pass: a corpus where 1000
    grams cover half the mass is template-ridden; a flat curve means
    near-unique text and dedup buys little. One corpus scan →
    per-gram counts (map-side combined) → distributed TakeOrdered
    top-1000 (bounded by the PARAMETER, not the data) → the grid
    evaluates every k from that one frame. The post-limit rank window
    runs on ≤1000 rows — parameter-bounded, never data-sized. Short
    docs (<4 tokens) contribute their whole text as one gram
    (slice clamps identically in both engines)."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    grams = docs.select(
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(split(trim(regexp_replace("
                "lower(text), '\\\\s+', ' ')), ' ')) - 3, 1)),"
                " i -> concat_ws(' ', slice(split(trim(regexp_replace(lower(text),"
                " '\\\\s+', ' ')), ' '), i, 4)))"
            )
        ).alias("gram")
    )
    cnt = grams.groupBy("gram").agg(F.count(F.lit(1)).cast("bigint").alias("cf"))
    tot = cnt.agg(F.sum("cf").cast("bigint").alias("total"))
    top = (
        cnt.orderBy(F.desc("cf"), F.asc("gram"))
        .limit(1000)
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("cf"), F.asc("gram"))),
        )
    )
    ks = spark.createDataFrame([(10,), (100,), (1000,)], "k int")
    return (
        F.broadcast(ks)
        .join(top, F.col("rk") <= F.col("k"))
        .groupBy(F.col("k").alias("top_k"))
        .agg(F.sum("cf").cast("bigint").alias("covered"))
        .crossJoin(F.broadcast(tot))
        .select(
            "top_k",
            "covered",
            F.col("total").alias("total_grams"),
            F.floor(F.col("covered") * 1_000_000.0 / F.col("total") + F.lit(0.5))
            .cast("bigint")
            .alias("coverage_micro"),
        )
        .orderBy("top_k")
    )


@_q(
    "semantic_contamination_report",
    """
    WITH sp AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               CASE WHEN b < 9000 THEN 'train'
                    WHEN b < 9500 THEN 'val' ELSE 'test' END AS split
        FROM (
          SELECT vec_id, embedding,
                 CAST(('0x' || substring(md5('s42:' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 10000 AS b
          FROM embeddings
        )
    ), q AS (
        SELECT vec_id, split,
               list_transform(e, x -> CAST(floor(x * 10000 + 0.5) AS BIGINT)) AS qe
        FROM sp
    ), ev AS (SELECT vec_id, qe FROM q WHERE split <> 'train'),
    tr AS (SELECT qe FROM q WHERE split = 'train'),
    cos AS (
        SELECT ev.vec_id,
               CAST(list_sum(list_transform(list_zip(tr.qe, ev.qe),
                                            p -> p[1] * p[2])) AS DOUBLE)
                 / (sqrt(CAST(list_sum(list_transform(tr.qe, x -> x * x)) AS DOUBLE))
                    * sqrt(CAST(list_sum(list_transform(ev.qe, x -> x * x)) AS DOUBLE)))
                 AS c
        FROM ev CROSS JOIN tr
    ), mx AS (
        SELECT vec_id,
               max(CAST(floor(c * 1000000 + 0.5) AS BIGINT)) AS mc_micro
        FROM cos GROUP BY vec_id
    )
    SELECT CAST(floor(mc_micro / 100000.0) AS BIGINT) AS band10,
           CAST(count(*) AS BIGINT) AS n_eval,
           CAST(sum(mc_micro) AS BIGINT) AS sum_mc_micro
    FROM mx GROUP BY 1 ORDER BY 1
    """,
    tags=("similarity", "quality", "sampling", "llm"),
)
def semantic_contamination_report(
    spark: SparkSession, sf_dir: str, max_eval_rows: int | None = 5_000_000
) -> DataFrame:
    """SEMANTIC decontamination report (r12) — the embedding-space
    sibling of the n-gram/bloom contamination checks: for every doc
    the hash split assigns to an EVAL slice (val/test, the same 90/5/5
    md5 assignment every split query ships), the maximum cosine to any
    TRAIN-split embedding, histogrammed in 0.1 bands with exact
    micro-unit sums. A band at >= 0.9 means eval examples are semantic
    near-copies of training data — the leak n-gram checks can't see
    (paraphrases). Scale shape: the EVAL side of a decontamination run
    is bounded (benchmarks are small), so it broadcasts and the train
    corpus streams past it in ONE scan — max-cosine folds map-side
    under the partial agg; the broadcast is GUARDED (``max_eval_rows``,
    r13) so an oversized eval side refuses with the escape hatch named
    instead of OOMing the driver: for unbounded eval sets use
    `semantic_contamination_ann`, the shipped IVF-probed composition
    with recall accounting. Exactness (the PCA Gram lesson applied to
    cosine): a float dot product's SUMMATION ORDER differs between
    engines, and of 2.25M pairs at sf0.1 one reliably lands within an
    ulp of a rounding boundary — no decimal rounding of a float dot
    survives cross-engine. Components are therefore quantized to
    integer 10⁻⁴ units FIRST; dot and norms are exact int64 sums
    (≤ ~10¹¹, inside both int64 and double), and num/(√na·√nb) on
    IDENTICAL integers is identical IEEE doubles everywhere — so the
    micro-unit max/sum/band are integers both engines agree on."""
    from reactionetl_etl_spark.operators.split import split_bucket

    emb = _t(spark, sf_dir, "embeddings")
    b = split_bucket(F.col("vec_id"))
    qe = F.expr(
        "transform(embedding, x -> CAST(floor(x * 10000 + 0.5) AS BIGINT))"
    )
    sp = emb.select(
        "vec_id",
        qe.alias("qe"),
        F.when(b < 9000, "train").when(b < 9500, "val").otherwise("test").alias("split"),
    )
    # norms precomputed PER SIDE before the join: inside the pair
    # project Catalyst does not CSE them across rows, so leaving them
    # pairwise triples the per-pair array folds (measured ~2× on the
    # sf0.1 2.25M-pair frame); identical integer sums either way
    sq = "aggregate(transform({0}, x -> x * x), 0L, (acc, v) -> acc + v)"
    ev = sp.filter(F.col("split") != "train").select(
        F.col("vec_id").alias("eval_id"),
        F.col("qe").alias("ev_q"),
        F.sqrt(F.expr(sq.format("qe")).cast("double")).alias("ev_norm"),
    )
    tr = sp.filter(F.col("split") == "train").select(
        F.col("qe").alias("tr_q"),
        F.sqrt(F.expr(sq.format("qe")).cast("double")).alias("tr_norm"),
    )
    # guarded broadcast (r13): the exact report's scale contract is a
    # BOUNDED eval side — without a bound, an oversized "eval" slice
    # hits a driver OOM mid-broadcast instead of the instructive error
    # every other exact path raises (_guard_exact_collect discipline).
    # The count is column-pruned to the id scan; the refusal names the
    # ANN escape hatch.
    if max_eval_rows is not None:
        n_eval = ev.count()
        if n_eval > max_eval_rows:
            raise ValueError(
                f"semantic_contamination_report: eval split has {n_eval} "
                f"rows > max_eval_rows={max_eval_rows}; the exact report "
                "broadcasts the eval side. For unbounded eval sets use "
                "semantic_contamination_ann (persisted-IVF probe, no "
                "broadcast), or raise max_eval_rows explicitly."
            )
    num = F.expr(
        "aggregate(zip_with(tr_q, ev_q, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    )
    c = num.cast("double") / (F.col("tr_norm") * F.col("ev_norm"))
    mx = (
        tr.crossJoin(F.broadcast(ev))
        .select(
            "eval_id",
            F.floor(c * 1_000_000 + F.lit(0.5)).cast("bigint").alias("c_micro"),
        )
        .groupBy("eval_id")
        .agg(F.max("c_micro").alias("mc_micro"))
    )
    return (
        mx.groupBy(
            F.floor(F.col("mc_micro") / 100_000.0).cast("bigint").alias("band10")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            F.sum("mc_micro").cast("bigint").alias("sum_mc_micro"),
        )
        .orderBy("band10")
    )


@_q(
    "semantic_contamination_ann",
    None,  # seeded k-means IVF geometry — deterministic output pinned
    tags=("similarity", "contamination", "index", "llm"),
)
def semantic_contamination_ann(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """UNBOUNDED-eval semantic decontamination (r13) — the composition
    `semantic_contamination_report`'s scale contract promises: instead
    of broadcasting the eval set against every train embedding, the
    TRAIN split is signed once into a persisted IVF index
    (`write_ivf_index`) and the eval side probes it with
    ``broadcast_queries=False`` — eval rows explode to their n_probe
    nearest cells and meet the index in a plain hash-partitioned
    equi-join on the cell id, so NEITHER side broadcasts and the eval
    set may be corpus-sized. Per flag threshold tau in {0.30, 0.35,
    0.40} — chosen where the near-uniform fixture embeddings actually
    discriminate (max eval cosines land in 0.2-0.49 bands here; real
    corpora cluster, and a production run flags at 0.8/0.9): eval docs
    the exact report flags (max train-cosine >= tau), docs the ANN
    probe flags, hits, and 4-dp precision/recall — the
    `ann_recall_report` accounting applied to the decontamination
    decision itself, so the n_probe recall trade is measured, not
    guessed.

    Exactness: both sides run on the SAME integer-quantized components
    (10^-4 units) the exact report uses; products and 64-term sums stay
    < 2^53, so the JVM's float folds are exact integer arithmetic and
    the ANN cosine of a probed pair is BIT-IDENTICAL to the exact
    path's — precision is provably 1.0 (an ANN flag implies the exact
    max is at least that pair's cosine) and recall < 1 isolates exactly
    the eval docs whose nearest train neighbor lives outside the
    probed cells. Deterministic (seeded k-means, md5 split), so the
    output is a pinned VALUES contract at sf0.01 and sf0.1."""
    import shutil as _shutil
    import tempfile as _tempfile

    from reactionetl_etl_spark.operators.similarity import (
        probe_ivf_index,
        read_ivf_centroids,
        write_ivf_index,
    )
    from reactionetl_etl_spark.operators.split import split_bucket

    emb = _t(spark, sf_dir, "embeddings")
    b = split_bucket(F.col("vec_id"))
    # same 10^-4 integer quantization as the exact report, carried as
    # doubles (cosine is scale-invariant; exact-int folds per docstring)
    qe = F.expr(
        "transform(embedding, x -> CAST(CAST(floor(x * 10000 + 0.5) AS BIGINT) AS DOUBLE))"
    )
    sp = emb.select(
        "vec_id",
        qe.alias("embedding"),
        (b < 9000).alias("is_train"),
    )
    tr = sp.filter(F.col("is_train")).select("vec_id", "embedding")
    ev = sp.filter(~F.col("is_train")).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    work = _tempfile.mkdtemp(prefix="sem_ann_")
    try:
        write_ivf_index(tr, dim=64, path=work, n_cells=n_cells)
        cents = read_ivf_centroids(spark, work)
        ann = (
            probe_ivf_index(
                ev,
                spark.read.parquet(f"{work}/vectors"),
                cents,
                k=1,
                n_probe=n_probe,
                exclude_self=False,
                broadcast_queries=False,
            )
            .select(
                F.col("query_id").alias("eval_id"),
                F.floor(F.col("cosine_sim") * 1_000_000 + F.lit(0.5))
                .cast("bigint")
                .alias("ann_micro"),
            )
            .localCheckpoint(eager=True)  # materialize before the tmp dir dies
        )
    finally:
        _shutil.rmtree(work, ignore_errors=True)
    # exact max-cosine per eval doc: the report's own integer-micro
    # arithmetic (broadcast here is the MEASUREMENT side — the ANN path
    # above is the production shape being certified)
    qi = F.expr(
        "transform(embedding, x -> CAST(floor(x * 10000 + 0.5) AS BIGINT))"
    )
    spi = emb.select("vec_id", qi.alias("qe"), (b < 9000).alias("is_train"))
    sq = "aggregate(transform({0}, x -> x * x), 0L, (acc, v) -> acc + v)"
    ev_i = spi.filter(~F.col("is_train")).select(
        F.col("vec_id").alias("eval_id"),
        F.col("qe").alias("ev_q"),
        F.sqrt(F.expr(sq.format("qe")).cast("double")).alias("ev_norm"),
    )
    tr_i = spi.filter(F.col("is_train")).select(
        F.col("qe").alias("tr_q"),
        F.sqrt(F.expr(sq.format("qe")).cast("double")).alias("tr_norm"),
    )
    num = F.expr(
        "aggregate(zip_with(tr_q, ev_q, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    )
    c = num.cast("double") / (F.col("tr_norm") * F.col("ev_norm"))
    exact = (
        tr_i.crossJoin(F.broadcast(ev_i))
        .select(
            "eval_id",
            F.floor(c * 1_000_000 + F.lit(0.5)).cast("bigint").alias("c_micro"),
        )
        .groupBy("eval_id")
        .agg(F.max("c_micro").alias("exact_micro"))
    )
    # eval docs with no probed candidate at all retrieve nothing → never
    # ANN-flagged (left join keeps them on the exact side)
    both = exact.join(ann, "eval_id", "left").localCheckpoint(eager=True)
    out = None
    for tau in (0.30, 0.35, 0.40):
        cut = int(tau * 1_000_000 + 0.5)
        row = both.agg(
            F.lit(tau).alias("tau"),
            F.sum((F.col("exact_micro") >= cut).cast("long")).alias("n_exact"),
            F.sum(
                (F.coalesce(F.col("ann_micro"), F.lit(-(10**9))) >= cut).cast("long")
            ).alias("n_ann"),
            F.sum(
                (
                    (F.col("exact_micro") >= cut)
                    & (F.coalesce(F.col("ann_micro"), F.lit(-(10**9))) >= cut)
                ).cast("long")
            ).alias("n_hit"),
        ).select(
            "tau",
            "n_exact",
            "n_ann",
            "n_hit",
            F.when(
                F.col("n_ann") > 0,
                F.floor(F.col("n_hit") / F.col("n_ann") * 10_000 + F.lit(0.5)) / 10_000,
            ).alias("precision4"),
            F.when(
                F.col("n_exact") > 0,
                F.floor(F.col("n_hit") / F.col("n_exact") * 10_000 + F.lit(0.5))
                / 10_000,
            ).alias("recall4"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("tau")


@_q(
    "split_leakage_audit",
    """
    WITH norm AS (
        SELECT doc_id,
               substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 32) AS pfx
        FROM documents
    ), fam AS (
        SELECT pfx FROM norm GROUP BY pfx HAVING count(*) >= 2
    ), mem AS (
        SELECT n.doc_id, n.pfx FROM norm n JOIN fam USING (pfx)
    ), sp AS (
        SELECT doc_id, pfx,
               CASE WHEN bd < 9000 THEN 'train'
                    WHEN bd < 9500 THEN 'val' ELSE 'test' END AS s_doc,
               CASE WHEN bc < 9000 THEN 'train'
                    WHEN bc < 9500 THEN 'val' ELSE 'test' END AS s_clu
        FROM (
          SELECT doc_id, pfx,
                 CAST(('0x' || substring(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 10000 AS bd,
                 CAST(('0x' || substring(md5('s42:' || pfx), 1, 8)) AS BIGINT)
                   % 10000 AS bc
          FROM mem
        )
    ), j AS (
        SELECT a.s_doc AS sda, b.s_doc AS sdb, a.s_clu AS sca, b.s_clu AS scb
        FROM sp a JOIN sp b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
    )
    SELECT method, n_pairs, n_straddle FROM (
        SELECT 'cluster_key' AS method, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN sca <> scb THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle
        FROM j
        UNION ALL
        SELECT 'doc_key', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN sda <> sdb THEN 1 ELSE 0 END) AS BIGINT)
        FROM j
    ) ORDER BY method
    """,
    tags=("sampling", "dedup", "quality", "llm"),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval leakage audit (r12): near-dup FAMILIES (docs sharing
    the normalized 32-char text prefix — the corpus's planted-dup
    blocking key) must not straddle the split boundary, or eval docs
    are near-copies of training docs and the benchmark is contaminated.
    Compares the per-doc `hash_split` (leaks: family members hash
    independently) against `split_by_cluster` keyed on the family id
    (leak count PROVABLY zero — co-assignment by construction, and the
    oracle re-derives both assignments to confirm). Output: within-
    family pair counts + straddling-pair counts per method. Scale:
    family grouping is one groupBy on a 32-char key; pairs explode
    only inside families (bounded, 2-3 docs); splits are pure md5
    column exprs — no shuffle beyond the family join."""
    from reactionetl_etl_spark.operators.split import hash_split, split_by_cluster

    W = {"train": 0.9, "val": 0.05, "test": 0.05}
    docs = _t(spark, sf_dir, "documents")
    pfx = F.substring(
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), 1, 32
    )
    norm = docs.select("doc_id", pfx.alias("pfx"))
    fam = (
        norm.groupBy("pfx")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("pfx")
    )
    mem = norm.join(fam, "pfx")
    clusters = mem.select(
        F.col("doc_id").alias("node"), F.col("pfx").alias("component")
    )
    sp = hash_split(mem, "doc_id", W).withColumnRenamed("split", "s_doc")
    sp = split_by_cluster(sp, "doc_id", clusters, W).withColumnRenamed(
        "split", "s_clu"
    )
    a = sp.select(
        F.col("pfx"),
        F.col("doc_id").alias("ida"),
        F.col("s_doc").alias("sda"),
        F.col("s_clu").alias("sca"),
    )
    b = sp.select(
        F.col("pfx"),
        F.col("doc_id").alias("idb"),
        F.col("s_doc").alias("sdb"),
        F.col("s_clu").alias("scb"),
    )
    j = a.join(b, "pfx").filter(F.col("ida") < F.col("idb"))
    row_clu = j.agg(
        F.lit("cluster_key").alias("method"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum((F.col("sca") != F.col("scb")).cast("bigint"))
        .cast("bigint")
        .alias("n_straddle"),
    )
    row_doc = j.agg(
        F.lit("doc_key").alias("method"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum((F.col("sda") != F.col("sdb")).cast("bigint"))
        .cast("bigint")
        .alias("n_straddle"),
    )
    return row_clu.unionByName(row_doc).orderBy("method")


@_q(
    "contamination_report",
    """
    WITH tok AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), g AS (
        SELECT doc_id, array_to_string(toks[i:i+3], ' ') AS gram
        FROM (
            SELECT doc_id, toks,
                   unnest(generate_series(1, greatest(len(toks) - 3, 1))) AS i
            FROM tok
        )
    ), gev AS (
        SELECT DISTINCT doc_id AS eval_id, gram FROM g WHERE doc_id % 97 = 0
    ), gtr AS (
        SELECT doc_id AS train_id, gram FROM g WHERE doc_id % 97 <> 0
    ), ng AS (
        SELECT CAST(count(DISTINCT train_id) AS BIGINT) AS n_flagged
        FROM gtr JOIN gev USING (gram)
    ), ntr AS (
        SELECT CAST(count(*) AS BIGINT) AS n
        FROM documents WHERE doc_id % 97 <> 0
    ), esp AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(floor(x * 10000 + 0.5) AS BIGINT)) AS qe,
               CAST(('0x' || substring(md5('s42:' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
                 % 10000 AS b
        FROM embeddings
    ), eev AS (SELECT vec_id, qe FROM esp WHERE b >= 9000),
    etr AS (SELECT qe FROM esp WHERE b < 9000),
    ecos AS (
        SELECT eev.vec_id,
               CAST(list_sum(list_transform(list_zip(etr.qe, eev.qe),
                                            p -> p[1] * p[2])) AS DOUBLE)
                 / (sqrt(CAST(list_sum(list_transform(etr.qe, x -> x * x)) AS DOUBLE))
                    * sqrt(CAST(list_sum(list_transform(eev.qe, x -> x * x)) AS DOUBLE)))
                 AS c
        FROM eev CROSS JOIN etr
    ), emx AS (
        SELECT vec_id,
               max(CAST(floor(c * 1000000 + 0.5) AS BIGINT)) AS mc_micro
        FROM ecos GROUP BY vec_id
    ), sem AS (
        SELECT CAST(sum(CASE WHEN mc_micro >= 400000 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
               CAST(count(*) AS BIGINT) AS n_universe
        FROM emx
    ), snorm AS (
        SELECT doc_id,
               substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 32) AS pfx
        FROM documents
    ), sfam AS (
        SELECT pfx FROM snorm GROUP BY pfx HAVING count(*) >= 2
    ), smem AS (
        SELECT n.doc_id, n.pfx,
               CASE WHEN CAST(('0x' || substring(md5('s42:' || CAST(n.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                         % 10000 < 9000 THEN 'train'
                    WHEN CAST(('0x' || substring(md5('s42:' || CAST(n.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                         % 10000 < 9500 THEN 'val' ELSE 'test' END AS s_doc
        FROM snorm n JOIN sfam USING (pfx)
    ), spairs AS (
        SELECT a.s_doc AS sda, b.s_doc AS sdb
        FROM smem a JOIN smem b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
    ), spl AS (
        SELECT CAST(sum(CASE WHEN sda <> sdb THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
               CAST(count(*) AS BIGINT) AS n_universe
        FROM spairs
    )
    SELECT method, n_flagged, n_universe FROM (
        SELECT 'ngram_4gram' AS method, ng.n_flagged, ntr.n AS n_universe FROM ng, ntr
        UNION ALL
        SELECT 'ngram_bloom', ng.n_flagged, ntr.n FROM ng, ntr
        UNION ALL
        SELECT 'semantic_band40', n_flagged, n_universe FROM sem
        UNION ALL
        SELECT 'split_family_straddle', n_flagged, n_universe FROM spl
    ) ORDER BY method
    """,
    tags=("text", "similarity", "contamination", "quality", "llm"),
)
def contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-STOP contamination audit (r13): the three leak regimes each
    answer "is eval leaking into train" with a different blind spot —
    exact n-gram overlap misses paraphrases, embedding cosine misses
    verbatim spans shorter than its pooling window, and both miss the
    subtler failure of near-dup FAMILIES straddling the split boundary
    (each member clean against the other side's grams yet a near-copy
    of one). This report unions all of them into one (method,
    n_flagged, n_universe) table so the methods cross-check each other
    in a single artifact:

      ngram_4gram            train docs sharing a 4-gram with the eval
                             slice, over the train-doc universe
      ngram_bloom            the SAME check through the Bloom
                             pre-filter regime — its row must equal
                             ngram_4gram exactly (false positives cost
                             a lookup, never a row); a divergence means
                             the fast path is broken
      semantic_band40        eval embeddings whose max train-cosine
                             lands at band >= 0.4 (derived from
                             `semantic_contamination_report`'s own
                             output, so the two artifacts can never
                             disagree), over the eval-embedding
                             universe
      split_family_straddle  near-dup-family pairs the per-doc hash
                             split severs across train/eval
                             (`split_leakage_audit`'s doc_key row),
                             over the within-family pair universe

    Composition, not re-implementation: every row is a small aggregate
    over an existing oracled builder, so this report stays consistent
    with the standalone queries by construction. Scale: the component
    shapes are unchanged (broadcast/bloom gram probes, guarded
    broadcast eval, bounded family pairs); the report adds only 1-row
    aggregates and a 4-row union."""
    from reactionetl_etl_spark.operators import text as _TX

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    tr = docs.filter(F.col("doc_id") % 97 != 0)
    n_train = tr.agg(F.count(F.lit(1)).cast("bigint").alias("n_universe"))

    def _ngram_row(method: str, hits: DataFrame) -> DataFrame:
        return (
            hits.agg(F.count_distinct(F.col("train_id")).cast("bigint").alias("n_flagged"))
            .crossJoin(F.broadcast(n_train))
            .select(F.lit(method).alias("method"), "n_flagged", "n_universe")
        )

    row_4g = _ngram_row(
        "ngram_4gram", _TX.ngram_contamination(tr, ev, "text", "doc_id", k=4)
    )
    row_bl = _ngram_row(
        "ngram_bloom", _TX.ngram_contamination_bloom(tr, ev, "text", "doc_id", k=4)
    )
    row_sem = (
        semantic_contamination_report(spark, sf_dir)
        .agg(
            F.sum(F.when(F.col("band10") >= 4, F.col("n_eval")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_flagged"),
            F.sum("n_eval").cast("bigint").alias("n_universe"),
        )
        .select(F.lit("semantic_band40").alias("method"), "n_flagged", "n_universe")
    )
    row_spl = (
        split_leakage_audit(spark, sf_dir)
        .filter(F.col("method") == "doc_key")
        .select(
            F.lit("split_family_straddle").alias("method"),
            F.col("n_straddle").cast("bigint").alias("n_flagged"),
            F.col("n_pairs").cast("bigint").alias("n_universe"),
        )
    )
    return (
        row_4g.unionByName(row_bl)
        .unionByName(row_sem)
        .unionByName(row_spl)
        .orderBy("method")
    )


@_q(
    "split_lang_balance_chi2",
    """
    WITH sp AS (
        SELECT lang,
               CASE WHEN b < 9000 THEN 'train'
                    WHEN b < 9500 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
          SELECT lang,
                 CAST(('0x' || substring(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 10000 AS b
          FROM documents
        )
    ), obs AS (
        SELECT lang, split, count(*) AS o FROM sp GROUP BY 1, 2
    ), rl AS (SELECT lang, count(*) AS r FROM sp GROUP BY 1),
    cs AS (SELECT split, count(*) AS c FROM sp GROUP BY 1),
    n AS (SELECT count(*) AS n FROM sp),
    grid AS (
        SELECT rl.lang, cs.split, rl.r, cs.c, n.n, coalesce(obs.o, 0) AS o
        FROM rl CROSS JOIN cs CROSS JOIN n
        LEFT JOIN obs ON obs.lang = rl.lang AND obs.split = cs.split
    ), cells AS (
        SELECT CAST(floor(
                   (o * n - r * c) * (o * n - r * c) * 1000000.0 / (n * r * c)
                   + 0.5) AS BIGINT) AS chi2_scaled
        FROM grid
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM rl) AS n_langs,
           (SELECT CAST(count(*) AS BIGINT) FROM cs) AS n_splits,
           CAST(((SELECT count(*) FROM rl) - 1) * ((SELECT count(*) FROM cs) - 1) AS BIGINT)
               AS dof,
           CAST(sum(chi2_scaled) AS BIGINT) AS chi2_micro
    FROM cells
    """,
    tags=("sampling", "quality", "stats", "llm"),
)
def split_lang_balance_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-balance audit for the hash splitter: Pearson chi² of
    language × split over the SAME deterministic md5 assignment
    `train_val_test_split` ships (90/5/5) — the check that the split
    preserved the language mixture (a skewed val slice silently
    mis-ranks multilingual checkpoints). Same exactness discipline as
    `lang_source_chi2`: each cell's (o·n − r·c)²·10⁶/(n·r·c) is
    floor-rounded to integer micro-units BEFORE the sum, so the
    statistic is an exact BIGINT both engines agree on. Contingency
    table is langs × 3 — dimension-bounded; one corpus scan."""
    docs = _t(spark, sf_dir, "documents")
    b = F.conv(F.substring(F.md5(F.concat(F.lit("s42:"), F.col("doc_id").cast("string"))), 1, 8), 16, 10).cast("bigint") % 10000
    sp = docs.select(
        "lang",
        F.when(b < 9000, "train").when(b < 9500, "val").otherwise("test").alias("split"),
    )
    obs = sp.groupBy("lang", "split").agg(F.count(F.lit(1)).alias("o"))
    rl = sp.groupBy("lang").agg(F.count(F.lit(1)).alias("r"))
    cs = sp.groupBy("split").agg(F.count(F.lit(1)).alias("c"))
    n = sp.agg(F.count(F.lit(1)).alias("n"))
    grid = (
        rl.crossJoin(F.broadcast(cs))
        .crossJoin(F.broadcast(n))
        .join(obs, ["lang", "split"], "left")
        .select("r", "c", "n", F.coalesce("o", F.lit(0)).alias("o"))
    )
    cell = F.floor(
        (F.col("o") * F.col("n") - F.col("r") * F.col("c"))
        * (F.col("o") * F.col("n") - F.col("r") * F.col("c"))
        * 1_000_000.0
        / (F.col("n") * F.col("r") * F.col("c"))
        + F.lit(0.5)
    ).cast("bigint")
    n_langs = rl.agg(F.count(F.lit(1)).alias("nl"))
    n_splits = cs.agg(F.count(F.lit(1)).alias("ns"))
    return (
        grid.agg(F.sum(cell).cast("bigint").alias("chi2_micro"))
        .crossJoin(F.broadcast(n_langs))
        .crossJoin(F.broadcast(n_splits))
        .select(
            F.col("nl").cast("bigint").alias("n_langs"),
            F.col("ns").cast("bigint").alias("n_splits"),
            ((F.col("nl") - 1) * (F.col("ns") - 1)).cast("bigint").alias("dof"),
            "chi2_micro",
        )
    )


@_q(
    "split_embedding_drift",
    """
    WITH sp AS (
        SELECT CASE WHEN b < 9000 THEN 'train' ELSE 'heldout' END AS split, embedding
        FROM (
          SELECT CAST(('0x' || substring(md5('s42:' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 10000 AS b,
                 embedding
          FROM embeddings WHERE embedding IS NOT NULL
        )
    ), comp AS (
        -- generate_series index, not WITH ORDINALITY (unsupported in
        -- the gate's DuckDB) — the decontaminated_corpus gram pattern
        SELECT split, i,
               CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS s
        FROM (
            SELECT split, embedding,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM sp
        )
        GROUP BY 1, 2
    ), counts AS (
        SELECT CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
               CAST(sum(CASE WHEN split = 'heldout' THEN 1 ELSE 0 END) AS BIGINT) AS ch
        FROM sp
    ), dims AS (
        SELECT i,
               max(CASE WHEN split = 'train' THEN s END) AS st,
               max(CASE WHEN split = 'heldout' THEN s END) AS sh
        FROM comp GROUP BY 1
    ), moments AS (
        SELECT CAST(sum(CAST(st AS HUGEINT) * sh) AS DOUBLE) AS dot,
               CAST(sum(CAST(st AS HUGEINT) * st) AS DOUBLE) AS nt,
               CAST(sum(CAST(sh AS HUGEINT) * sh) AS DOUBLE) AS nh
        FROM dims
    )
    SELECT ct AS n_train, ch AS n_heldout,
           floor(dot / (sqrt(nt) * sqrt(nh)) * 1000000 + 0.5) / 1000000
               AS centroid_cosine6,
           floor(sqrt(nt) / ct + 0.5) / 1000000 AS train_norm6,
           floor(sqrt(nh) / ch + 0.5) / 1000000 AS heldout_norm6
    FROM moments, counts
    """,
    tags=("embedding", "sampling", "quality", "llm"),
)
def split_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between hash splits: the cosine between
    the train and held-out split CENTROIDS (and each centroid's norm)
    under the same deterministic md5 split the corpus ships — near-1
    cosine says the splitter didn't shear the embedding distribution;
    a drifted centroid flags leakage-prone or skewed sampling before
    any model sees the data.

    Exactness discipline: components quantize to integer micro-units
    per row, per-dimension sums are exact BIGINTs, and the dot/norm
    moments accumulate those sums in DECIMAL/HUGEINT — every float op
    after that point runs on identical exact integers through mirrored
    expressions, so the 6-dp outputs are deterministic by construction
    (the `linalg.gram_partials` fixed-point lesson, in pure SQL). NULL
    embeddings are excluded per the engine convention. Shape: one
    posexplode scan -> (split, dim)-keyed integer sums (dims×2 rows),
    then O(dims) arithmetic — nothing row-scale leaves the scan."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    b = F.conv(F.substring(F.md5(F.concat(F.lit("s42:"), F.col("vec_id").cast("string"))), 1, 8), 16, 10).cast("bigint") % 10000
    sp = emb.select(
        F.when(b < 9000, "train").otherwise("heldout").alias("split"), "embedding"
    )
    comp = (
        sp.select("split", F.posexplode("embedding").alias("i0", "x"))
        .select(
            "split",
            (F.col("i0") + 1).alias("i"),
            F.floor(F.col("x").cast("double") * 1_000_000 + F.lit(0.5)).cast("bigint").alias("m"),
        )
        .groupBy("split", "i")
        .agg(F.sum("m").cast("bigint").alias("s"))
    )
    counts = sp.agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).cast("bigint").alias("ct"),
        F.sum(F.when(F.col("split") == "heldout", 1).otherwise(0)).cast("bigint").alias("ch"),
    )
    dims = comp.groupBy("i").agg(
        F.max(F.when(F.col("split") == "train", F.col("s"))).alias("st"),
        F.max(F.when(F.col("split") == "heldout", F.col("s"))).alias("sh"),
    )
    moments = dims.agg(
        F.sum(F.col("st").cast("decimal(38,0)") * F.col("sh")).cast("double").alias("dot"),
        F.sum(F.col("st").cast("decimal(38,0)") * F.col("st")).cast("double").alias("nt"),
        F.sum(F.col("sh").cast("decimal(38,0)") * F.col("sh")).cast("double").alias("nh"),
    )
    return moments.crossJoin(F.broadcast(counts)).select(
        F.col("ct").alias("n_train"),
        F.col("ch").alias("n_heldout"),
        (
            F.floor(F.col("dot") / (F.sqrt("nt") * F.sqrt("nh")) * 1_000_000 + F.lit(0.5))
            / 1_000_000
        ).alias("centroid_cosine6"),
        (F.floor(F.sqrt("nt") / F.col("ct") + F.lit(0.5)) / 1_000_000).alias("train_norm6"),
        (F.floor(F.sqrt("nh") / F.col("ch") + F.lit(0.5)) / 1_000_000).alias("heldout_norm6"),
    )


@_q(
    "split_length_psi",
    """
    WITH sp AS (
        SELECT doc_id, n_chars,
               CASE WHEN CAST(('0x' || substring(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                         % 10000 < 9000
                    THEN 'train' ELSE 'heldout' END AS split
        FROM documents
    ), cnt AS (
        SELECT n_chars AS v, count(*) AS c FROM sp WHERE split = 'train' GROUP BY 1
    ), cum AS (
        SELECT v, sum(c) OVER (ORDER BY v) AS cc FROM cnt
    ), nt AS (
        SELECT count(*) AS n FROM sp WHERE split = 'train'
    ), edges AS (
        -- exact type-1 order statistics (integer edges): smallest train
        -- value whose cumulative count reaches ceil(q*n/10) — no
        -- interpolation, so no float edge can flip a bin cross-engine
        SELECT q, min(v) AS edge
        FROM cum, nt, (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS q)
        WHERE cc >= ceil(q * n / 10.0)
        GROUP BY q
    ), binned AS (
        SELECT s.doc_id, s.split,
               CAST(1 + sum(CASE WHEN e.edge < s.n_chars THEN 1 ELSE 0 END) AS BIGINT) AS bin
        FROM sp s CROSS JOIN edges e
        GROUP BY s.doc_id, s.split
    ), cells AS (
        SELECT b.bin,
               CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS train_n,
               CAST(sum(CASE WHEN split = 'heldout' THEN 1 ELSE 0 END) AS BIGINT) AS heldout_n
        FROM binned b GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(train_n) AS BIGINT) AS nt, CAST(sum(heldout_n) AS BIGINT) AS nh,
               CAST(count(*) AS BIGINT) AS nb
        FROM cells
    )
    SELECT bin, train_n, heldout_n,
           floor(((train_n + 0.5) / (nt + 0.5 * nb) - (heldout_n + 0.5) / (nh + 0.5 * nb))
                 * ln(((train_n + 0.5) / (nt + 0.5 * nb)) / ((heldout_n + 0.5) / (nh + 0.5 * nb)))
                 * 1000000 + 0.5) / 1000000 AS psi_contrib6
    FROM cells, tot ORDER BY bin
    """,
    tags=("sampling", "quality", "stats", "drift", "llm"),
)
def split_length_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability index of document length across the hash
    split — the scalar-feature drift complement to
    `split_embedding_drift`: train-decile bins (EXACT type-1 order
    statistics, so bin edges are integers and no interpolated float
    can flip a boundary document cross-engine), heldout counts binned
    against them, per-bin PSI contribution (pt−ph)·ln(pt/ph) with
    add-half smoothing so empty heldout bins stay finite. Total PSI =
    sum of the 10 rows; > 0.2 is the classic retrain/investigate
    threshold. Shape: one scan + a distinct-value prefix sum for the
    edges (the conformal/QTE order-statistic machinery), then a
    9-row broadcast cross join to bin — nothing row-scale shuffles
    twice."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    b = F.conv(F.substring(F.md5(F.concat(F.lit("s42:"), F.col("doc_id").cast("string"))), 1, 8), 16, 10).cast("bigint") % 10000
    sp = docs.select(
        "doc_id", "n_chars", F.when(b < 9000, "train").otherwise("heldout").alias("split")
    )
    cnt = sp.filter(F.col("split") == "train").groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    cum = cnt.withColumn("cc", F.sum("c").over(W.orderBy("v")))
    nt = sp.filter(F.col("split") == "train").agg(F.count(F.lit(1)).alias("n"))
    qs = spark.range(1, 10).select(F.col("id").alias("q"))
    edges = (
        cum.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(qs))
        .filter(F.col("cc") >= F.ceil(F.col("q") * F.col("n") / 10.0))
        .groupBy("q")
        .agg(F.min("v").alias("edge"))
    )
    binned = (
        sp.crossJoin(F.broadcast(edges))
        .groupBy("doc_id", "split")
        .agg(
            (1 + F.sum(F.when(F.col("edge") < F.col("n_chars"), 1).otherwise(0)))
            .cast("bigint")
            .alias("bin")
        )
    )
    cells = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).cast("bigint").alias("train_n"),
        F.sum(F.when(F.col("split") == "heldout", 1).otherwise(0)).cast("bigint").alias("heldout_n"),
    )
    tot = cells.agg(
        F.sum("train_n").cast("bigint").alias("nt"),
        F.sum("heldout_n").cast("bigint").alias("nh"),
        F.count(F.lit(1)).cast("bigint").alias("nb"),
    )
    pt = (F.col("train_n") + 0.5) / (F.col("nt") + 0.5 * F.col("nb"))
    ph = (F.col("heldout_n") + 0.5) / (F.col("nh") + 0.5 * F.col("nb"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "train_n",
            "heldout_n",
            (F.floor((pt - ph) * F.log(pt / ph) * 1_000_000 + F.lit(0.5)) / 1_000_000).alias(
                "psi_contrib6"
            ),
        )
        .orderBy("bin")
    )


@_q(
    "referential_integrity_report",
    """
    WITH rels AS (
        SELECT 'lineitem->orders' AS relationship,
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS child_rows,
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
                   AS orphan_child_rows,
               (SELECT CAST(count(*) AS BIGINT) FROM orders) AS parent_rows,
               (SELECT CAST(count(*) AS BIGINT) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey))
                   AS childless_parent_rows
        UNION ALL
        SELECT 'lineitem->part',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)),
               (SELECT count(*) FROM part),
               (SELECT count(*) FROM part p
                WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey))
        UNION ALL
        SELECT 'lineitem->supplier',
               (SELECT count(*) FROM lineitem),
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)),
               (SELECT count(*) FROM supplier),
               (SELECT count(*) FROM supplier s
                WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey))
        UNION ALL
        SELECT 'orders->customer',
               (SELECT count(*) FROM orders),
               (SELECT count(*) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
               (SELECT count(*) FROM customer),
               (SELECT count(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
        UNION ALL
        SELECT 'customer->nation',
               (SELECT count(*) FROM customer),
               (SELECT count(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)),
               (SELECT count(*) FROM nation),
               (SELECT count(*) FROM nation n
                WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_nationkey = n.n_nationkey))
        UNION ALL
        SELECT 'nation->region',
               (SELECT count(*) FROM nation),
               (SELECT count(*) FROM nation n
                WHERE NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey)),
               (SELECT count(*) FROM region),
               (SELECT count(*) FROM region r
                WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_regionkey = r.r_regionkey))
    )
    SELECT relationship, child_rows, orphan_child_rows, parent_rows, childless_parent_rows
    FROM rels ORDER BY relationship
    """,
    tags=("diagnostics", "quality", "etl"),
)
def referential_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key integrity audit across the warehouse schema — the
    first data-quality gate an ingest pipeline runs after load (the
    reference trusted PostgreSQL FKs implicitly; a lake has to CHECK):
    per parent-child relationship, the child/parent row counts, orphan
    children (FK with no parent), and childless parents. All six
    relationships in one LAZY plan (no driver-side count actions at
    build time): each side is a left join against the other side's
    distinct key set folded into one aggregate — count(*) plus a
    conditional sum of missing matches — and the six 1-row reports
    union. Distinct key sets are key-column-only (dimension sides
    broadcast; the fact-side distinct is keyed and map-side-combined).
    Zero orphans everywhere is the expected (and asserted-by-oracle)
    steady state on the shipped testdata."""

    def report(name: str, child: DataFrame, ck: str, parent: DataFrame, pk: str) -> DataFrame:
        ckeys = child.select(F.col(ck).alias("__k")).distinct()
        pkeys = parent.select(F.col(pk).alias("__k")).distinct()
        c = (
            child.join(pkeys, child[ck] == pkeys["__k"], "left")
            .agg(
                F.count(F.lit(1)).alias("child_rows"),
                F.sum(F.when(F.col("__k").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("orphan_child_rows"),
            )
        )
        p = (
            parent.join(ckeys, parent[pk] == ckeys["__k"], "left")
            .agg(
                F.count(F.lit(1)).alias("parent_rows"),
                F.sum(F.when(F.col("__k").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("childless_parent_rows"),
            )
        )
        return c.crossJoin(F.broadcast(p)).select(
            F.lit(name).alias("relationship"),
            "child_rows",
            "orphan_child_rows",
            "parent_rows",
            "childless_parent_rows",
        )

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    rels = [
        ("customer->nation", cust, "c_nationkey", nation, "n_nationkey"),
        ("lineitem->orders", li, "l_orderkey", orders, "o_orderkey"),
        ("lineitem->part", li, "l_partkey", part, "p_partkey"),
        ("lineitem->supplier", li, "l_suppkey", supp, "s_suppkey"),
        ("nation->region", nation, "n_regionkey", region, "r_regionkey"),
        ("orders->customer", orders, "o_custkey", cust, "c_custkey"),
    ]
    rows = None
    for args in rels:
        row = report(*args)
        rows = row if rows is None else rows.unionByName(row)
    return rows.orderBy("relationship")


@_q(
    "minhash_eval_report",
    None,  # xxhash64 MinHash — deterministic output pinned
    tags=("dedup", "lsh", "eval", "llm"),
)
def minhash_eval_report(
    spark: SparkSession,
    sf_dir: str,
    sample_mod: int = 8,
    full_exact: bool = False,
) -> DataFrame:
    """Candidate-generation quality of the PRODUCTION MinHash-LSH
    near-dup path (32 perms x 8 bands, 3-token shingles, bucket caps —
    the `minhash_neardup_pairs` configuration), measured against EXACT
    ground truth — the dedup analogue of `ann_recall_report`
    ("measure, don't guess" applied to the recall dial every LSH
    deployment turns). Ground truth: each document is re-expressed as
    its 3-token shingles (underscore-joined, one derived token per
    shingle — the same `sequence/slice` shingling expression the
    MinHash signature hashes), and `dedup.jaccard_prefix_join` runs
    its exact no-false-negative set-similarity join over those derived
    token sets — i.e. EXACT shingle-set Jaccard, the very quantity
    MinHash estimates. Per threshold tau in {0.7, 0.8, 0.9}:
    true/predicted/hit pair counts with 4-dp precision/recall/F1.

    On the shipped corpus the planted near-dup pairs are recovered
    perfectly at 0.7/0.8 and the single 0.9 miss is estimator
    variance (a true pair whose 32-perm estimate rounds below the
    cut) — exactly the effect the report exists to make visible.
    Caveat (documented, not hidden): the underscore re-encoding is
    bijective only for tokens without underscores; an adversarial
    token like "a_b" could alias two different shingles.

    Both sides run ONCE at tau=0.7 and filter per threshold (PPJoin is
    exact above its tau; estimates are multiples of 1/32).
    Deterministic end to end — pinned at sf0.01 and sf0.1. Scale:
    truth is the df-bounded prefix join over shingle tokens (rarer
    than words, so prefixes are even more selective), prediction the
    band equi-join; the eval adds one pair-keyed join per threshold.

    DEFAULT-SAMPLED (r12): the exact-PPJoin truth side cost ~8× the
    candidates it certified at sf0.1 (SCALING.md r11), so by default
    BOTH sides run on a deterministic 1/``sample_mod`` md5 slice of
    the corpus, keyed on the doc's normalized 32-char text PREFIX —
    near-dup families share that prefix (it is `neardup_yield_curve`'s
    blocking key), so a slice keeps whole families together instead
    of severing pairs the way an id-keyed slice would, and precision/
    recall are measured on a complete sub-universe. A family whose
    edit touches the first 32 chars can still split (documented, not
    hidden — the same prefix-locality assumption the yield curve
    makes). ``full_exact=True`` restores the whole-corpus eval. The
    report carries its own ``universe`` column ('sampled_1_8' / 'full')
    so sampled and full runs are distinguishable FROM THE DATA — r12
    changed the default universe under an unchanged query name, and a
    consumer diffing r11 vs r12 precision/recall had no in-band signal
    of the population change (ADVICE r12)."""
    docs = _t(spark, sf_dir, "documents")
    universe = "full" if full_exact else f"sampled_1_{sample_mod}"
    if not full_exact:
        pfx = F.substring(
            F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), 1, 32
        )
        docs = docs.filter(
            F.conv(F.substring(F.md5(pfx), 1, 8), 16, 10).cast("long") % sample_mod
            == 0
        )
    shingle_text = F.expr(
        "array_join(transform(sequence(1, greatest(size(split(trim("
        "regexp_replace(lower(text), '\\\\s+', ' ')), ' ')) - 2, 1)),"
        " i -> concat_ws('_', slice(split(trim(regexp_replace(lower(text),"
        " '\\\\s+', ' ')), ' '), i, 3))), ' ')"
    )
    sdocs = docs.select("doc_id", shingle_text.alias("text"))
    truth = D.jaccard_prefix_join(
        sdocs, tau=0.7, id_col="doc_id", text_col="text"
    ).localCheckpoint(eager=True)
    pred = D.minhash_lsh_candidates(
        docs, "text", "doc_id", num_perm=32, bands=8, k_shingle=3, min_jaccard=0.7
    ).localCheckpoint(eager=True)
    out = None
    for tau in (0.7, 0.8, 0.9):
        t = truth.filter(F.col("jaccard4") >= tau)
        p = pred.filter(F.col("est_jaccard") >= tau)
        hit = t.join(p, ["id_a", "id_b"])
        row = (
            t.agg(F.count(F.lit(1)).alias("n_true"))
            .crossJoin(p.agg(F.count(F.lit(1)).alias("n_pred")))
            .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
            .select(
                F.lit(tau).alias("tau"),
                F.lit(universe).alias("universe"),
                "n_true",
                "n_pred",
                "n_hit",
                F.when(
                    F.col("n_pred") > 0,
                    F.floor(F.col("n_hit") / F.col("n_pred") * 10_000 + F.lit(0.5)) / 10_000,
                ).alias("precision4"),
                F.when(
                    F.col("n_true") > 0,
                    F.floor(F.col("n_hit") / F.col("n_true") * 10_000 + F.lit(0.5)) / 10_000,
                ).alias("recall4"),
                F.when(
                    (F.col("n_pred") > 0) & (F.col("n_true") > 0) & (F.col("n_hit") > 0),
                    F.floor(
                        2.0
                        * F.col("n_hit")
                        / (F.col("n_pred") + F.col("n_true"))
                        * 10_000
                        + F.lit(0.5)
                    )
                    / 10_000,
                ).alias("f1_4"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("tau")


@_q(
    "neardup_yield_curve",
    """
    WITH RECURSIVE t0 AS (
        SELECT doc_id,
               list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS toks,
               substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 32) AS pfx
        FROM documents
    ), t AS (
        SELECT * FROM t0 QUALIFY count(*) OVER (PARTITION BY pfx) <= 64
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               floor(CAST(len(list_filter(a.toks, tk -> list_contains(b.toks, tk))) AS DOUBLE)
                     / (len(a.toks) + len(b.toks)
                        - len(list_filter(a.toks, tk -> list_contains(b.toks, tk))))
                     * 1e4 + 0.5) / 1e4 AS jacc
        FROM t a JOIN t b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
    ), sym5 AS (
        SELECT id_a AS s, id_b AS d FROM pairs WHERE jacc >= 0.5
        UNION SELECT id_b, id_a FROM pairs WHERE jacc >= 0.5
    ), reach5 AS (
        SELECT DISTINCT s AS node, s AS root FROM sym5
        UNION
        SELECT sym5.d, reach5.root FROM reach5 JOIN sym5 ON sym5.s = reach5.node
    ), comp5 AS (
        SELECT node, min(root) AS root FROM reach5 GROUP BY node
    ), sym7 AS (
        SELECT id_a AS s, id_b AS d FROM pairs WHERE jacc >= 0.95
        UNION SELECT id_b, id_a FROM pairs WHERE jacc >= 0.95
    ), reach7 AS (
        SELECT DISTINCT s AS node, s AS root FROM sym7
        UNION
        SELECT sym7.d, reach7.root FROM reach7 JOIN sym7 ON sym7.s = reach7.node
    ), comp7 AS (
        SELECT node, min(root) AS root FROM reach7 GROUP BY node
    ), sym9 AS (
        SELECT id_a AS s, id_b AS d FROM pairs WHERE jacc >= 1.0
        UNION SELECT id_b, id_a FROM pairs WHERE jacc >= 1.0
    ), reach9 AS (
        SELECT DISTINCT s AS node, s AS root FROM sym9
        UNION
        SELECT sym9.d, reach9.root FROM reach9 JOIN sym9 ON sym9.s = reach9.node
    ), comp9 AS (
        SELECT node, min(root) AS root FROM reach9 GROUP BY node
    ), n AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
    ), stats AS (
        SELECT 0.5 AS tau,
               CAST(count(*) AS BIGINT) AS n_dup_docs,
               CAST(count(DISTINCT root) AS BIGINT) AS n_clusters FROM comp5
        UNION ALL
        SELECT 0.95, CAST(count(*) AS BIGINT), CAST(count(DISTINCT root) AS BIGINT) FROM comp7
        UNION ALL
        SELECT 1.0, CAST(count(*) AS BIGINT), CAST(count(DISTINCT root) AS BIGINT) FROM comp9
    )
    SELECT tau, n_docs, n_dup_docs, n_clusters,
           CAST(n_dup_docs - n_clusters AS BIGINT) AS n_dropped,
           CAST(n_docs - (n_dup_docs - n_clusters) AS BIGINT) AS n_retained,
           floor((n_docs - (n_dup_docs - n_clusters)) / (n_docs * 1.0) * 1000000 + 0.5)
               / 1000000 AS retention6
    FROM stats, n ORDER BY tau
    """,
    tags=("dedup", "graph", "quality", "llm"),
)
def neardup_yield_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup yield curve — the corpus-size consequence of the near-dup
    threshold, which is the number the curation owner actually decides
    with ("how much data do I lose if I tighten to 0.7?"): at each
    Jaccard threshold τ ∈ {0.5, 0.95, 1.0} (the band where this
    corpus's planted near-dups actually differentiate — 0.5–0.9 are
    indistinguishable here because templated rewrites sit above 0.9),
    near-dup pairs collapse to
    connected-component clusters (the `duplicate_clusters` machinery —
    cluster-level keeper selection, never pairwise double-drops) and
    the row reports docs-in-any-cluster, cluster count, docs dropped
    under keep-one-per-cluster, and the 6-dp retention rate.

    The blocked exact-Jaccard pair set is computed ONCE (prefix-
    blocked self-join, 4-dp floor-rounded scores) and filtered per τ;
    each threshold runs its own min-label propagation (components can
    only split as τ rises, but recomputing is simpler than an
    incremental split and the edge set is candidate-bounded). Oracle:
    one recursive CTE per threshold over the same rounded pair scores.
    Scale: pair generation is the prefix-blocked join (df-bounded
    buckets); components shuffle edge-keyed per round; everything
    after is cluster-sized."""
    from reactionetl_etl_spark.operators.graph import connected_components

    pairs = ngram_jaccard_pairs(spark, sf_dir).localCheckpoint(eager=True)
    n_docs = _t(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    out = None
    for tau in (0.5, 0.95, 1.0):
        comps = connected_components(
            pairs.filter(F.col("jaccard") >= tau), src="id_a", dst="id_b"
        )
        row = (
            comps.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_dup_docs"),
                F.countDistinct("component").cast("bigint").alias("n_clusters"),
            )
            .crossJoin(F.broadcast(n_docs))
            .select(
                F.lit(tau).alias("tau"),
                "n_docs",
                "n_dup_docs",
                "n_clusters",
                (F.col("n_dup_docs") - F.col("n_clusters")).cast("bigint").alias("n_dropped"),
                (F.col("n_docs") - (F.col("n_dup_docs") - F.col("n_clusters")))
                .cast("bigint")
                .alias("n_retained"),
                (
                    F.floor(
                        (F.col("n_docs") - (F.col("n_dup_docs") - F.col("n_clusters")))
                        / (F.col("n_docs") * 1.0)
                        * 1_000_000
                        + F.lit(0.5)
                    )
                    / 1_000_000
                ).alias("retention6"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("tau")


@_q(
    "ivf_tuning_curve",
    None,  # seeded k-means cells — deterministic output pinned
    tags=("embedding", "vector", "eval", "ann"),
)
def ivf_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning dial as a queryable artifact: recall@10 vs
    n_probe ∈ {1, 2, 4, 8, 16} against the exact batch baseline, with
    the probed cell fraction each setting pays — `ann_recall_report`
    fixes one configuration per method; THIS is the curve an operator
    actually reads to pick n_probe (where recall saturates, stop
    paying scan). Centroids train ONCE (seeded spherical k-means, the
    shared `train_ivf_centroids` discipline). At n_probe = n_cells the
    probe set is every cell — recall is exactly 1.0 by construction,
    pinning the curve's ceiling. Deterministic end to end — pinned at
    sf0.01 and sf0.1.

    SINGLE-PASS sweep (r12 — was 5 sequential probe jobs): every
    query's cells are ranked ONCE (posexplode of the sorted cell list
    — rank r means "probed when n_probe ≥ r"), the celled corpus joins
    that frame once, and all five sweep points are evaluated from the
    same candidate frame via a broadcast n_probe grid + per-(query,
    n_probe) window — identical candidate sets and tie-breaks to the
    explicit `ivf_cosine_topk_batch` calls (the unchanged pins prove
    it), at one corpus scan instead of five (10.8 → ~4 s at sf0.1, measured under concurrent load)."""
    from pyspark.sql import Window

    from reactionetl_etl_spark.functions.vectors import (
        as_double_array,
        cosine_similarity,
        dot,
        lit_double_array,
    )
    from reactionetl_etl_spark.operators.similarity import (
        cosine_topk_batch,
        train_ivf_centroids,
        with_ivf_cell,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    k = 10
    n_cells = 16
    exact = cosine_topk_batch(qs, emb, k=k).select("query_id", "vec_id")
    exact = exact.localCheckpoint(eager=True)
    n_exact = exact.count()
    cents = train_ivf_centroids(emb, n_cells, "embedding")
    celled = with_ivf_cell(emb, 64, n_cells, "embedding", centroids=cents)
    qvec = as_double_array("embedding")
    cell_scores = F.array(*[dot(qvec, lit_double_array(c)) for c in cents])
    ranked_cells = F.expr(
        f"transform(array_sort(zip_with(__cscores, sequence(0, {n_cells - 1}),"
        f" (s, i) -> named_struct('s', -s, 'i', i))), x -> x.i)"
    )
    q = (
        qs.select(
            F.col("query_id").alias("__qid"),
            qvec.alias("__q"),
            cell_scores.alias("__cscores"),
        )
        .select(
            "__qid", "__q", F.posexplode(ranked_cells).alias("__pos", "__probe_cell")
        )
    )
    pairs = celled.join(
        F.broadcast(q), on=F.col("ivf_cell") == F.col("__probe_cell"), how="inner"
    ).filter(F.col("vec_id") != F.col("__qid"))
    scored = pairs.select(
        F.col("__qid").alias("query_id"),
        "vec_id",
        F.round(cosine_similarity(as_double_array("embedding"), F.col("__q")), 6).alias(
            "cosine_sim"
        ),
        (F.col("__pos") + 1).alias("__cell_rank"),
    )
    grid = spark.createDataFrame([(1,), (2,), (4,), (8,), (16,)], "n_probe int")
    w = Window.partitionBy("query_id", "n_probe").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    topk = (
        scored.join(F.broadcast(grid), F.col("__cell_rank") <= F.col("n_probe"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
    )
    hits = (
        topk.join(exact, ["query_id", "vec_id"], "left_semi")
        .groupBy("n_probe")
        .agg(F.count(F.lit(1)).alias("hit"))
    )
    return (
        F.broadcast(grid)
        .join(hits, "n_probe", "left")
        .select(
            "n_probe",
            (F.floor(F.col("n_probe") * 10000 / n_cells) / 10000.0).alias(
                "cell_fraction"
            ),
            (
                F.floor(F.coalesce("hit", F.lit(0)) * 10000 / F.lit(n_exact)) / 10000.0
            ).alias("recall"),
        )
        .orderBy("n_probe")
    )


@_q(
    "hamming_topk_bits",
    """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id < 8),
    d AS (
        SELECT q.query_id, e.vec_id,
               CAST(len(list_filter(range(1, len(q.qe) + 1),
                         i -> (q.qe[i] > 0) <> (e.embedding[i] > 0)))
                    AS INT) AS hamming_dist
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, hamming_dist
    FROM (SELECT d.*,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY hamming_dist ASC, vec_id ASC) AS rn
          FROM d)
    WHERE rn <= 5
    """,
    tags=("similarity", "batch", "quantization", "llm"),
    # not bench-flagged by NAME (the compact stdout line is
    # budget-bound, test_bench_contract) — r14: the same serving shape
    # IS in the headline as the short-named `bits_topk` entry
    # (bench.py::bench_index_probes), alongside `bits_probe` for the
    # persisted-index path
)
def hamming_topk_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit-quantized batch ANN: sign-pack each 64-dim embedding into
    ONE int64 word (32x smaller than float32), score with
    `bit_count(xor)` — integer built-ins inside whole-stage codegen, no
    UDF, no Arrow hop — and keep each query's 5 nearest sign patterns
    via the WindowGroupLimit top-k (map-side partial top-k before the
    exchange, same skeleton as `cosine_topk_batch_exact`).

    This is the opposite trade from the LSH/IVF/PQ indexes: no
    candidate pruning at all, but the scan payload drops to 8 B per 64
    dims, so a brute pass stays viable at corpus sizes where float
    scans thrash memory bandwidth (~3 TB of packed bits per 100 TB of
    float32 vectors). Distances are exact integers — the oracle match
    needs no rounding protocol at all, unlike every cosine query.

    No reference analogue (SURVEY.md §2.13 north-star surface); the
    sign-bit construction is the deterministic coordinate-basis case of
    Charikar's SimHash (cf. `simhash_neardup_pairs`, which hashes text
    tokens instead of embedding components)."""
    from reactionetl_etl_spark.operators import hamming as _H

    emb = _t(spark, sf_dir, "embeddings")
    return _H.hamming_topk_batch(_batch_queries(emb), emb, k=5)


@_q(
    "hamming_rerank_cosine",
    """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id < 8),
    d AS (
        SELECT q.query_id, e.vec_id, e.embedding, q.qe,
               CAST(len(list_filter(range(1, len(q.qe) + 1),
                         i -> (q.qe[i] > 0) <> (e.embedding[i] > 0)))
                    AS INT) AS hd
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    ),
    sl AS (
        SELECT query_id, vec_id, embedding, qe
        FROM (SELECT d.*,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY hd ASC, vec_id ASC) AS rn
              FROM d)
        WHERE rn <= 20
    ),
    sc AS (
        SELECT query_id, vec_id,
               round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe), 6)
                   AS cosine_sim
        FROM sl
    )
    SELECT query_id, vec_id, cosine_sim
    FROM (SELECT sc.*,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine_sim DESC, vec_id ASC) AS rn
          FROM sc)
    WHERE rn <= 5
    """,
    tags=("similarity", "batch", "quantization", "llm"),
)
def hamming_rerank_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN serving path: packed-bits Hamming scan shortlists
    20 candidates per query (`hamming_topk_bits`' kernel), then exact
    cosine re-ranks ONLY the shortlist to a top-5 — full float vectors
    are fetched for |queries|x20 rows via a broadcast-shortlist hash
    join against the corpus scan (the corpus never shuffles), which is
    the "fetch by id from the vector store" step of a real serving
    stack. Full-precision work is O(|queries|*shortlist), not
    O(|corpus|).

    Recall vs the exact scan is stage-1-bounded (sign quantization
    drops magnitudes); the shortlist width is the recall/cost dial.
    Both stages are deterministic (integer distances, round-6 cosine,
    id tie-breaks), so the composition is value-oracled end-to-end —
    the same two-stage shape the PQ index probes use (`pq_index_probe`)
    with ADC swapped for XOR/POPCNT."""
    from reactionetl_etl_spark.operators import hamming as _H

    emb = _t(spark, sf_dir, "embeddings")
    return _H.hamming_rerank_topk(_batch_queries(emb), emb, k=5, shortlist=20)


@_q(
    "source_overlap_matrix",
    """
    WITH tok AS (
        SELECT source,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
    ), g AS (
        SELECT DISTINCT source, array_to_string(toks[i:i+7], ' ') AS gram
        FROM (SELECT source, toks,
                     unnest(generate_series(1, greatest(len(toks) - 7, 1))) AS i
              FROM tok)
    ), sz AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY source
    ), it AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared, x.n AS n_a, y.n AS n_b,
           CAST(floor(1000.0 * n_shared / (x.n + y.n - n_shared) + 0.5) AS BIGINT)
               AS jaccard_milli,
           CAST(floor(1000.0 * n_shared / least(x.n, y.n) + 0.5) AS BIGINT)
               AS containment_milli
    FROM it JOIN sz x ON x.source = source_a JOIN sz y ON y.source = source_b
    ORDER BY source_a, source_b
    """,
    tags=("text", "dedup", "quality", "llm"),
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-pair overlap matrix: for every pair of sources, the
    EXACT count of shared distinct 8-token shingles plus Jaccard and
    max-containment (both in deterministic milli units) — the
    curation-planning question "which sources duplicate each other"
    that decides whether dedup must run globally or can run per-source,
    and which acquisitions add content vs re-buy existing data.

    Shape: explode to (source, shingle-digest), distinct (map-side
    combined), then ONE shuffle on the digest to build each shingle's
    source set — bounded by |sources|, never by corpus size — and
    explode that set's within-row pairs (i<j) into pair counts.
    Pair-count rows are <= |sources|^2 and the size sidecar is
    broadcast, so nothing downstream of the digest shuffle scales with
    data volume. The digest set per source IS the dedup universe
    (`dedup.shingle` semantics: truncated shingle for docs shorter than
    k), so the matrix's diagonal-free counts reconcile with
    `cross_doc_dup_rate`'s shared-digest machinery.

    Pairs with zero shared shingles are absent (inner join on the
    digest), matching the oracle's join semantics — at 20 sources the
    dense complement is derivable client-side; emitting it would
    manufacture |sources|^2 rows of zeros at no analytic gain."""
    grams = (
        TX.token_ngrams(
            _t(spark, sf_dir, "documents").select("source", "text"), "text", k=8
        )
        .select("source", F.md5("gram").alias("g"))
        .distinct()
    )
    sizes = grams.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    per = (
        grams.groupBy("g")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    pairs = per.select(
        F.explode(
            F.expr(
                "flatten(transform(ss, (a, i) ->"
                " transform(slice(ss, i + 2, size(ss)), b ->"
                " struct(a AS source_a, b AS source_b))))"
            )
        ).alias("p")
    ).select("p.source_a", "p.source_b")
    inter = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared")
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    union_n = F.col("n_a") + F.col("n_b") - F.col("n_shared")
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.floor(1000.0 * F.col("n_shared") / union_n + 0.5)
            .cast("bigint")
            .alias("jaccard_milli"),
            F.floor(1000.0 * F.col("n_shared") / F.least("n_a", "n_b") + 0.5)
            .cast("bigint")
            .alias("containment_milli"),
        )
        .orderBy("source_a", "source_b")
    )


@_q(
    "corpus_cluster_map",
    None,  # pinned VALUES oracle (plans/pinned.py) — k-means cells are
    # not ANSI-SQL-re-derivable; the output is a deterministic constant
    # (TakeOrdered training sample + seeded numpy Lloyd's + pure-expr
    # assignment + integer-quantized per-cell stats)
    tags=("similarity", "text", "quality", "llm"),
)
def corpus_cluster_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus data map: k-means-cluster the embeddings (the SemDeDup /
    IVF trainer, `similarity.train_ivf_centroids` — bounded sample,
    seeded, deterministic) and report, per cluster, what actually
    lives there: size, dominant source and its share, dominant
    language, mean document length, and mean cosine-to-centroid
    (cluster tightness). This is the exploration artifact a curation
    team builds FIRST — "what are the natural regions of this corpus,
    which sources dominate each, and which clusters are diffuse enough
    to need a second look" — the batch analogue of an embedding-atlas
    UI, as one catalog query.

    Scale shape: training reads a bounded sample (one TakeOrdered
    job); assignment is a zero-shuffle pure-expression argmax over
    broadcast centroid literals; the doc join is id-keyed; every
    per-cell statistic is an associative integer sum or count (cosine
    quantized to 10⁻⁴ per ROW before summing, so the mean is exact
    int arithmetic — partition-order-independent, pinnable), and the
    dominant source/lang windows run over ≤ cells × |sources| count
    rows. Nothing after the sample collect scales with anything but
    the one doc-keyed shuffle.

    Inner join on vec_id = doc_id: docs without an embedding are not
    mappable and are excluded (at sf0.1 that is 2000 of 5000 — the
    embedded slice IS the map's universe, stated here so the n_docs
    column is read correctly)."""
    from reactionetl_etl_spark.functions.vectors import (
        as_double_array,
        dot,
        l2_norm,
        lit_double_array,
    )

    n_cells = 8
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "lang", "n_chars")
    cents = S.train_ivf_centroids(emb, n_cells=n_cells)
    celled = S.with_ivf_cell(emb, dim=64, n_cells=n_cells, centroids=cents)
    v = as_double_array("embedding")
    scores = F.array(*[dot(v, lit_double_array(c)) for c in cents])
    # zero-norm guard (r13 ADVICE): a zero-norm embedding would make
    # the division NULL and silently drop the row from the sim sum
    # while still counting in n_docs — define its similarity as 0.0
    # (cosine_similarity's convention) so numerators and denominators
    # cover the same rows. No fixture row triggers it; pins unchanged.
    sim = F.when(l2_norm(v) == 0.0, F.lit(0.0)).otherwise(
        F.array_max(scores) / l2_norm(v)
    )
    sim_q4 = F.floor(sim * 10000 + 0.5).cast("bigint")
    base = (
        celled.select(
            F.col("ivf_cell").alias("cell"),
            F.col("vec_id").alias("doc_id"),
            sim_q4.alias("__sim_q4"),
        )
        .join(docs, "doc_id")
    )
    stats = base.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.floor(F.sum("n_chars") / F.count(F.lit(1))).cast("bigint").alias("mean_chars"),
        F.floor(F.sum("__sim_q4") / F.count(F.lit(1))).cast("bigint").alias("mean_sim_q4"),
    )

    def _dominant(col: str, out: str, share: str | None) -> DataFrame:
        counts = base.groupBy("cell", col).agg(F.count(F.lit(1)).alias("__c"))
        w = Window.partitionBy("cell").orderBy(F.col("__c").desc(), F.col(col).asc())
        top = counts.withColumn("__rn", F.row_number().over(w)).filter(
            F.col("__rn") == 1
        )
        cols = [F.col("cell"), F.col(col).alias(out)]
        if share:
            cols.append(F.col("__c").alias(share))
        return top.select(*cols)

    top_src = _dominant("source", "top_source", "__src_c")
    top_lang = _dominant("lang", "top_lang", None)
    return (
        stats.join(top_src, "cell")
        .join(top_lang, "cell")
        .select(
            "cell",
            "n_docs",
            "top_source",
            F.floor(1000.0 * F.col("__src_c") / F.col("n_docs") + 0.5)
            .cast("bigint")
            .alias("top_source_share_milli"),
            "top_lang",
            "mean_chars",
            "mean_sim_q4",
        )
        .orderBy("cell")
    )


@_q(
    "semdedup_incremental",
    None,  # pinned VALUES oracle (plans/pinned.py) — k-means geometry
    # and the Arrow gram prefilter are not ANSI-SQL-re-derivable; the
    # output is deterministic (fixed centroids, id tie-breaks)
    tags=("dedup", "similarity", "semantic", "incremental", "llm"),
)
def semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup maintenance (`semdedup.semdedup_append`):
    an already-deduped corpus (vec_id % 4 != 0, deduped under its own
    signed-once k-means geometry) absorbs an append batch
    (vec_id % 4 == 0) WITHOUT re-deduping the world — batch rows meet
    incumbents in a cell equi-join under the FIXED geometry (keep-first:
    the incumbent always wins, so corpus membership is monotone under
    appends), then survivors dedup among themselves with the standard
    within-batch rule. One verdict row per batch row with provenance:
    origin 'corpus_dup' (dup_of = most-similar incumbent),
    'batch_dup' (dup_of = component keeper), or 'unique'.

    This closes the maintenance story for the semantic dedup rung the
    way the streaming sinks closed it for LSH/IVF/PQ: sign the
    geometry once, then every nightly append costs only its own dirty
    cells — cells the batch never touches are never read. Same 0.40
    threshold as `semdedup_prune` (this corpus's near-dup band).

    Scale: the probe shuffles both sides on the cell id only (the
    `semantic_contamination_ann` shape — neither side broadcasts);
    the within-batch quadratic term is per-cell over the BATCH only."""
    from reactionetl_etl_spark.operators.semdedup import (
        semantic_dedup,
        semdedup_append,
    )

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    cents = S.train_ivf_centroids(base, 8)
    base_v = semantic_dedup(base, dim=64, n_cells=8, threshold=0.40, centroids=cents)
    kept = base.join(base_v.filter(F.col("keep")).select("vec_id"), "vec_id")
    return semdedup_append(
        kept, batch, dim=64, centroids=cents, threshold=0.40
    ).orderBy("vec_id")


@_q(
    "bits_index_probe",
    """
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id < 8),
    d AS (
        SELECT q.query_id, e.vec_id,
               CAST(len(list_filter(range(1, len(q.qe) + 1),
                         i -> (q.qe[i] > 0) <> (e.embedding[i] > 0)))
                    AS INT) AS hamming_dist
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, hamming_dist
    FROM (SELECT d.*,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY hamming_dist ASC, vec_id ASC) AS rn
          FROM d)
    WHERE rn <= 5
    """,
    tags=("similarity", "batch", "quantization", "index", "llm"),
)
def bits_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted packed-bits index, full round trip per invocation:
    write the (id, bits) table from HALF the corpus, APPEND the other
    half (sign packing is stateless — no trained geometry to version,
    so appends are always consistent; the property every other index
    here must enforce with stored-sidecar checks comes for free), then
    probe with the standard query batch. The probe reads ONLY the 8-B
    index rows — floats never leave the write path.

    The oracle is the SAME computed SQL as `hamming_topk_bits` — the
    round trip must be value-invisible (probe ≡ in-plan scan), which
    makes this the only persisted index in the engine whose probe is
    fully ANSI-SQL-re-derivable (LSH/IVF/PQ geometries are seeded
    training artifacts and pin instead). Completes the persisted-index
    family: LSH / IVF / PQ / IVF-PQ / bits."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from reactionetl_etl_spark.operators import hamming as _H

    emb = _t(spark, sf_dir, "embeddings")
    work = _tempfile.mkdtemp(prefix="bits_idx_")
    try:
        path = _os.path.join(work, "bits")
        _H.write_bits_index(emb.filter(F.col("vec_id") % 2 == 0), path)
        _H.write_bits_index(emb.filter(F.col("vec_id") % 2 != 0), path, mode="append")
        return _H.probe_bits_index(
            spark, path, _batch_queries(emb), k=5
        ).localCheckpoint(eager=True)
    finally:
        _shutil.rmtree(work, ignore_errors=True)


@_q(
    "dedup_method_agreement",
    None,  # pinned VALUES oracle (plans/pinned.py) — the MinHash and
    # SimHash flag sets are xxhash64-seeded (not ANSI-SQL-re-derivable);
    # output is deterministic integer counts
    tags=("dedup", "quality", "llm"),
)
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-validation of the LEXICAL dedup ladder: for every pair of
    methods, the 2×2 agreement counts over the per-doc "flagged as
    having a near-duplicate" verdicts — the `contamination_report`
    consolidation pattern applied to dedup. The methods deliberately
    overlap:

      exact      identical normalized text (fingerprint group ≥ 2)
      minhash    MinHash-LSH candidates, est. Jaccard ≥ 0.5
      jaccard    exact token-set Jaccard ≥ 0.5 on prefix-blocked pairs
      simhash    SimHash Hamming ≤ 3 via 16-bit chunk blocking

    so the off-diagonal counts are diagnostic: docs `minhash` flags
    that `jaccard` doesn't are LSH estimation noise (est ≥ 0.5, true
    < 0.5); `jaccard`-only docs are blocking misses (shared content,
    different 32-char prefix reaches minhash's bands but not the
    prefix block — or vice versa); `simhash`-only docs have similar
    token DISTRIBUTIONS without set overlap. A healthy corpus shows a
    large `both` diagonal among the set-based methods; divergence
    localizes which knob (bands, threshold, blocking) drifted.
    (`semdedup` is excluded: its universe is the EMBEDDED slice, and
    mixing universes would make every count ambiguous — the semantic
    rung cross-checks through `contamination_report` instead.)

    One row per unordered method pair: (method_a, method_b, n_both,
    n_only_a, n_only_b, n_universe). Composition, not
    re-implementation: every flag set re-aggregates an existing
    oracled builder, so this report can never disagree with the
    standalone queries. Scale: each component keeps its own bounded
    blocked shape; the agreement pass is ONE scan over the per-doc
    boolean frame with map-side-combined integer sums."""
    docs = _t(spark, sf_dir, "documents")
    norm = D.normalize_text("text")
    fp = docs.select("doc_id", F.md5(norm).alias("__fp"))
    wf = Window.partitionBy("__fp")
    exact_ids = (
        fp.withColumn("__n", F.count(F.lit(1)).over(wf))
        .filter(F.col("__n") >= 2)
        .select("doc_id")
    )

    def _pair_ids(pairs: DataFrame, a: str = "id_a", b: str = "id_b") -> DataFrame:
        return (
            pairs.select(F.col(a).alias("doc_id"))
            .unionByName(pairs.select(F.col(b).alias("doc_id")))
            .distinct()
        )

    flagged = {
        "exact": exact_ids.distinct(),
        "minhash": _pair_ids(minhash_neardup_pairs(spark, sf_dir)),
        "jaccard": _pair_ids(
            ngram_jaccard_pairs(spark, sf_dir).filter(F.col("jaccard") >= 0.5)
        ),
        "simhash": _pair_ids(simhash_neardup_pairs(spark, sf_dir)),
    }
    flags = docs.select("doc_id")
    for name, ids in flagged.items():
        flags = flags.join(
            ids.withColumn(f"__{name}", F.lit(True)), on="doc_id", how="left"
        )
    flags = flags.select(
        "doc_id",
        *[F.coalesce(f"__{n}", F.lit(False)).alias(n) for n in flagged],
    )
    methods = sorted(flagged)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, a in enumerate(methods):
        for b in methods[i + 1 :]:
            aggs.append(
                F.sum(F.when(F.col(a) & F.col(b), 1).otherwise(0))
                .cast("bigint")
                .alias(f"both_{a}_{b}")
            )
            aggs.append(
                F.sum(F.when(F.col(a) & ~F.col(b), 1).otherwise(0))
                .cast("bigint")
                .alias(f"onlya_{a}_{b}")
            )
            aggs.append(
                F.sum(F.when(~F.col(a) & F.col(b), 1).otherwise(0))
                .cast("bigint")
                .alias(f"onlyb_{a}_{b}")
            )
    row = flags.agg(*aggs).collect()[0]
    out = []
    for i, a in enumerate(methods):
        for b in methods[i + 1 :]:
            out.append(
                (
                    a,
                    b,
                    int(row[f"both_{a}_{b}"]),
                    int(row[f"onlya_{a}_{b}"]),
                    int(row[f"onlyb_{a}_{b}"]),
                    int(row["__n"]),
                )
            )
    return spark.createDataFrame(
        out,
        "method_a string, method_b string, n_both bigint, n_only_a bigint,"
        " n_only_b bigint, n_universe bigint",
    ).orderBy("method_a", "method_b")


@_q(
    "kmeans_elbow_curve",
    None,  # pinned VALUES oracle (plans/pinned.py) — seeded k-means
    # geometries are not ANSI-SQL-re-derivable; all reported stats are
    # per-row-quantized integer sums (partition-order-independent)
    tags=("similarity", "quality", "llm"),
)
def kmeans_elbow_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k dial for `corpus_cluster_map` / SemDeDup / IVF, measured:
    for k ∈ {2, 4, 8, 16}, spherical-k-means inertia (Σ(1 − cosine to
    own centroid), in exact 10⁻⁴ integer units summed per row) plus
    cell-balance stats (cells used, largest/smallest cell) — the elbow
    read and the skew read in one artifact. Inertia says when more
    cells stop buying tightness; balance says whether a k that looks
    good on inertia hides a mega-cell that would blow up SemDeDup's
    per-cell quadratic term or IVF probe selectivity. The clustering
    analogue of `ivf_tuning_curve` (which dials n_probe at fixed k).

    Shape: each k's fit is the bounded-sample driver-side trainer (one
    TakeOrdered job each — data-size-independent); ALL k's assignments
    are evaluated in ONE corpus scan (per-row argmax over each of the
    four broadcast centroid grids), and the per-(k, cell) counts
    shuffle on ≤ Σk = 30 keys. Nothing but that single scan touches
    the data."""
    from reactionetl_etl_spark.functions.vectors import (
        as_double_array,
        dot,
        l2_norm,
        lit_double_array,
    )

    emb = _t(spark, sf_dir, "embeddings")
    ks = (2, 4, 8, 16)
    cents = {k: S.train_ivf_centroids(emb, n_cells=k) for k in ks}
    v = as_double_array("embedding")
    cols = []
    for k in ks:
        scores = F.array(*[dot(v, lit_double_array(c)) for c in cents[k]])
        # zero-norm guard (r13 ADVICE, as corpus_cluster_map): sim 0.0
        # instead of NULL, so the row contributes (1-0)*10⁴ inertia
        # rather than silently vanishing from the sum while still
        # counting in the cell sizes. No fixture row triggers it.
        sim = F.when(l2_norm(v) == 0.0, F.lit(0.0)).otherwise(
            F.array_max(scores) / l2_norm(v)
        )
        cols.append((F.array_position(scores, F.array_max(scores)) - 1).cast("int").alias(f"cell_{k}"))
        cols.append(F.floor((1.0 - sim) * 10000 + 0.5).cast("bigint").alias(f"inertia_{k}"))
    from reactionetl_etl_spark.functions.vectors import non_null_vectors

    base = non_null_vectors(emb, "embedding").select(*cols).localCheckpoint(eager=True)
    out = []
    for k in ks:
        per_cell = base.groupBy(f"cell_{k}").agg(
            F.count(F.lit(1)).cast("bigint").alias("__n")
        )
        stats = per_cell.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells_used"),
            F.max("__n").alias("max_cell_rows"),
            F.min("__n").alias("min_cell_rows"),
        ).collect()[0]
        inertia = base.agg(F.sum(f"inertia_{k}").cast("bigint")).collect()[0][0]
        out.append(
            (
                k,
                int(inertia),
                int(stats["n_cells_used"]),
                int(stats["max_cell_rows"]),
                int(stats["min_cell_rows"]),
            )
        )
    return spark.createDataFrame(
        out,
        "k int, inertia_q4 bigint, n_cells_used bigint,"
        " max_cell_rows bigint, min_cell_rows bigint",
    ).orderBy("k")
