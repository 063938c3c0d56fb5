"""Physical-plan regression tests.

Correctness tests prove the right rows come out; these prove the right
PLAN produces them — the properties that matter at 100 TB. If a
refactor silently turns a broadcast join into a shuffle join or stops
filters reaching the parquet scan, these fail before any benchmark
notices.
"""

from __future__ import annotations

import pytest

from reactionetl_etl_spark.plans.catalog import all_queries


def plan_of(spark, sf_dir, name: str) -> str:
    df = all_queries()[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_pushdown(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "filter_scan_pushdown")
    assert "PushedFilters: [" in plan
    # quantity range must reach the scan
    assert "GreaterThanOrEqual(l_quantity,30.0)" in plan
    # column pruning: the scan schema must not include unused columns
    assert "l_tax" not in plan.split("ReadSchema")[1]


def test_pricing_summary_partial_agg_and_pushdown(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "pricing_summary")
    # date filter pushed to parquet
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # two-phase aggregate: map-side partial before the exchange
    assert plan.index("partial_sum") > plan.index("Exchange") or "partial_sum" in plan


def test_enrichment_join_broadcasts_dim(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "enrich_orders_customer")
    assert "BroadcastHashJoin" in plan
    # the fact side must NOT be exchanged for the join (only broadcast
    # exchange of the dim side is allowed)
    assert "Exchange hashpartitioning(o_custkey" not in plan


def test_semi_join_used_for_exists(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "customers_with_orders")
    assert "LeftSemi" in plan


def test_topk_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "top10_orders_global")
    assert "TakeOrderedAndProject" in plan
    # no global sort operator
    assert "Sort [o_totalprice" not in plan


def test_multi_join_broadcasts_small_dims(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 2


def test_whole_stage_codegen_active(spark, sf_dir):
    # AQE shows codegen spans only in the FINAL plan — execute first
    df = all_queries()["revenue_forecast"].builder(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark whole-stage-codegen stages in the simple form
    assert "*(1)" in plan


@pytest.mark.parametrize(
    "name", ["dedup_fingerprint_md5", "text_stats_by_lang", "doc_quality_scores"]
)
def test_text_ops_have_no_python_stage(spark, sf_dir, name):
    """Text operators must stay JVM-side: no Python/Arrow eval nodes."""
    plan = plan_of(spark, sf_dir, name)
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan


def test_global_rank_is_distributed(spark, sf_dir):
    """price_rank_ntile must use the two-pass distributed global rank.

    A Window.orderBy with no partitionBy plans as Sort(table order key)
    over Exchange SinglePartition — one task sorts the whole table. In
    the distributed plan the only SinglePartition exchange carries the
    per-partition stats rows (sorted by __pid), never the data."""
    plan = plan_of(spark, sf_dir, "price_rank_ntile")
    assert "Exchange rangepartitioning" in plan  # the distributed key pass
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            parent_sorts = [l for l in lines[max(0, i - 3) : i] if "Sort [" in l]
            assert all("o_totalprice" not in s for s in parent_sorts), (
                "full-table sort funnels through a single partition:\n" + "\n".join(parent_sorts)
            )


def test_doc_chunking_zero_shuffle(spark, sf_dir):
    """Chunking is a pure map (split + explode + slice): no Exchange,
    no Python stage — it must stream through the scan at any scale."""
    plan = plan_of(spark, sf_dir, "doc_chunking_overlap")
    assert "Exchange" not in plan
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan


def test_binned_range_join_is_equi(spark, sf_dir):
    """The binned range join must never plan a nested loop: the bin-id
    equi-join (hash or broadcast-hash) carries the candidates and the
    exact range predicate re-filters them."""
    plan = plan_of(spark, sf_dir, "quantity_band_range_join_binned")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "Join" in plan  # an actual equi-join happened


def test_dedup_earliest_windowgrouplimit(spark, sf_dir):
    """The watermark-dedup batch twin must plan its rank-1 filter as
    WindowGroupLimit: each map task emits only its local first row per
    key before the shuffle."""
    plan = plan_of(spark, sf_dir, "events_dedup_earliest")
    assert "WindowGroupLimit" in plan


def test_promo_revenue_plan_pinned(spark, sf_dir):
    """promo_revenue_pct's intended physical strategy, pinned after the
    r4 bench drift investigation (PERF_NOTES.md): month filter pushed
    to the parquet scan, part side broadcast (never a shuffle join),
    map-side partial aggregation. Any real plan change fails here
    before a benchmark has to notice."""
    plan = plan_of(spark, sf_dir, "promo_revenue_pct")
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning(l_partkey" not in plan
    assert "partial_sum" in plan


def test_batch_ann_windowgrouplimit_and_broadcast(spark, sf_dir):
    """cosine_topk_batch: the Arrow exact path must (a) score inside a
    distributed Python map stage (the query matrix rides the closure —
    the corpus NEVER shuffles for a join) and (b) finish the per-query
    rank as WindowGroupLimit over the local-top-k survivors. The Arrow
    scorer is the only formulation; its rows are pinned equal to the
    HOF reference (`_score_and_topk` over a broadcast crossJoin) by
    `test_properties.py::test_arrow_exact_topk_equals_hof_path`."""
    plan = plan_of(spark, sf_dir, "cosine_topk_batch_exact")
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "Exchange hashpartitioning(__id" not in plan  # corpus unshuffled


def test_dense_sequence_is_distributed(spark, sf_dir):
    """dense_sequence must never plan a single-partition sort of the
    data (it is reachable from fact-sized inputs via etl/enrich); the
    distributed rebase keys the row-number window on the rank key."""
    plan = plan_of(spark, sf_dir, "dense_sequence_customer")
    assert "Exchange rangepartitioning" in plan
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            parent_sorts = [l for l in lines[max(0, i - 3) : i] if "Sort [" in l]
            assert all("c_custkey" not in s for s in parent_sorts), (
                "full-table sort funnels through a single partition:\n" + "\n".join(parent_sorts)
            )


def test_sole_late_supplier_semi_anti_chain(spark, sf_dir):
    """The Q21-shape EXISTS / NOT EXISTS chain must compile to one
    semi-join and one anti-join — never a correlated per-row subquery
    or a cartesian."""
    plan = plan_of(spark, sf_dir, "sole_late_supplier")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_top_revenue_supplier_no_second_scan(spark, sf_dir):
    """The Q15-shape scalar max must come from the aggregated revenue
    view (1-row broadcast), not a rank/global sort; exactly one
    lineitem scan in the plan."""
    plan = plan_of(spark, sf_dir, "top_revenue_supplier")
    assert "BroadcastHashJoin" in plan
    assert plan.count("lineitem.parquet") <= 2  # reused scan, never a third pass
    assert "Window" not in plan


def test_minhash_signature_fans_out_small_scan(spark, sf_dir):
    """CPU-bound signature work over a single-split corpus must gain
    task parallelism via repartition (no-op on already-parallel scans)."""
    from reactionetl_etl_spark.operators.dedup import minhash_signature
    from reactionetl_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signature(docs, "text")
    target = spark.sparkContext.defaultParallelism
    assert sig.rdd.getNumPartitions() >= min(target, 2)


def test_intra_doc_repetition_zero_shuffle(spark, sf_dir):
    """Repetition is computed inside each row — the plan must contain
    no Exchange at all (pure map over the scan)."""
    plan = plan_of(spark, sf_dir, "intra_doc_repetition")
    assert "Exchange" not in plan
    assert "PythonUDF" not in plan


def test_contamination_broadcasts_eval_side(spark, sf_dir):
    """The benchmark (eval) gram set must be broadcast; the train gram
    stream must not be shuffled before the join."""
    plan = plan_of(spark, sf_dir, "contamination_check_4gram")
    assert "BroadcastHashJoin" in plan


def test_contamination_shuffle_path_joins_on_hash(spark, sf_dir):
    """The fallback must shuffle 8-byte gram hashes, not gram strings:
    a hash-partitioned equi-join keyed on __gh, no broadcast of either
    side, no gram column in the exchange."""
    plan = plan_of(spark, sf_dir, "contamination_check_shuffle")
    assert "Exchange hashpartitioning(__gh" in plan
    assert "BroadcastHashJoin" not in plan


def test_pii_redaction_is_pure_map(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "pii_redaction_stats")
    assert "Exchange" not in plan
    assert "PythonUDF" not in plan


def test_tfidf_single_corpus_scan(spark, sf_dir):
    """The df-per-term branch must reuse the tf exchange instead of
    re-scanning and re-exploding the corpus (runtime AQE plan)."""
    df = all_queries()["tfidf_top_terms"].builder(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_frequent_tokens_exact_pass_shape(spark, sf_dir):
    """The heavy-hitter EXACT pass must semi-join the broadcast
    candidate set BEFORE the count aggregation — the shuffle carries
    candidate tokens only, never the vocabulary. (The candidate pass
    itself is pre-checkpointed at build time and absent from this
    plan.)"""
    plan = plan_of(spark, sf_dir, "frequent_tokens_exact")
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("Scan parquet") == 1  # one data pass in the exact stage


def test_token_budget_packing_no_range_exchange(spark, sf_dir):
    """Monotone-bucket prefix sum: no sampled range partitioning, and
    the only single-partition exchange feeds the per-bucket TOTALS
    aggregate (≤ n_buckets rows), never raw data."""
    plan = plan_of(spark, sf_dir, "token_budget_packing")
    assert "Exchange rangepartitioning" not in plan
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            below = "\n".join(lines[i + 1 : i + 3])
            assert "HashAggregate" in below, below


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir, session_confs):
    """Runtime bloom-filter join pruning: a selective dim-side filter
    injects a `might_contain` semi-filter on the FACT side before the
    shuffle — rows that cannot join are dropped at the scan, which at
    100 TB is the difference between shuffling the fact table and
    shuffling the matches. Thresholds are scaled down to fixture size;
    the feature itself ships enabled at defaults on real clusters."""
    from pyspark.sql import functions as F

    from reactionetl_etl_spark.sources.tables import load_table

    session_confs(
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        }
    )
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400_000
    )
    j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).agg(
        F.count("*").alias("n")
    )
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan


def test_mixture_resample_zero_corpus_shuffle(spark, sf_dir):
    """The corpus side of mixture resampling must never shuffle: the
    per-lang rate table joins back by broadcast, and the accept
    predicate is a per-row expression over the scan."""
    plan = plan_of(spark, sf_dir, "mixture_resample_uniform")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # no hash exchange keyed on the corpus rows (lang-key aggregates
    # over the tiny rate side are the only exchanges allowed)
    assert "Exchange hashpartitioning(doc_id" not in plan


def test_cross_doc_dup_rate_shuffles_digests_not_text(spark, sf_dir):
    """The wide exchange of the cross-doc dup-rate query must carry
    md5 digests, never the document text: `text` may appear only at
    the scan, not in any exchange's output schema."""
    plan = plan_of(spark, sf_dir, "cross_doc_dup_rate")
    for frag in plan.split("Exchange ")[1:]:
        header = frag.split("\n", 1)[0]
        assert "text" not in header, header


def test_corpus_drift_broadcasts_vocab_and_baseline(spark, sf_dir):
    """The drift monitor's joins against the top-V vocabulary and the
    O(1) baseline totals must be broadcasts — the corpus-sized side
    never shuffles on a token key — and no real cartesian product may
    appear (the #sources × V grid builds from broadcast nested loop
    over the V-row side, which is the intended O(sources·V) shape)."""
    plan = plan_of(spark, sf_dir, "corpus_drift_kl")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_semdedup_pair_join_is_keyed_never_cartesian(spark, sf_dir):
    """SemDeDup's quadratic term must stay scoped to cells: the pair
    stage (pinned directly — the full operator checkpoints it away
    behind a LogicalRDD) is an EQUI-join on the cell id, never a
    cartesian/nested-loop over the corpus."""
    from pyspark.sql import functions as F

    from reactionetl_etl_spark.operators.semdedup import _cell_pairs
    from reactionetl_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    celled = emb.select(
        F.col("vec_id").alias("__id"),
        F.expr("transform(cast(embedding as array<double>), x -> x)").alias("__v"),
        (F.col("vec_id") % 4).cast("int").alias("cell"),
    )
    plan = _cell_pairs(celled, 0.4)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan and "cell" in plan


def test_expectations_fuse_row_local_rules_into_one_scan(spark, sf_dir):
    """The expectations report's plan scans orders exactly 3× — ONE
    fused pass for all four row-local rules, plus the unavoidable
    uniqueness and foreign-key passes. A fourth scan means rule fusion
    broke and every added rule would cost a table pass at 100 TB."""
    plan = plan_of(spark, sf_dir, "orders_expectations_report")
    assert plan.count("orders.parquet") == 3
    assert plan.count("customer.parquet") == 1


def test_domain_cap_windowgrouplimit(spark, sf_dir):
    """cap_per_group's rank filter must plan as WindowGroupLimit — the
    partial per-group limit BEFORE the exchange is what keeps a
    mega-domain from funneling its entire row set through one reducer."""
    plan = plan_of(spark, sf_dir, "domain_cap_sample")
    assert "WindowGroupLimit" in plan


def test_decontaminated_corpus_no_cartesian(spark, sf_dir):
    """The decontamination rescan is an anti-join against the (rare)
    flagged-id set: never a cartesian/nested-loop, and the gram match
    inside stays an equi-join."""
    plan = plan_of(spark, sf_dir, "decontaminated_corpus")
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan


def test_html_extraction_is_single_scan_zero_exchange(spark, sf_dir):
    """HTML→text extraction must stay a pure narrow map: one parquet
    scan, zero Exchange — the 100 TB plan is 'regex over the scan'."""
    plan = plan_of(spark, sf_dir, "html_text_extraction")
    assert "Exchange" not in plan
    assert plan.count("FileScan parquet") == 1


def test_span_corruption_is_pure_map(spark, sf_dir):
    """Span-corruption pair construction is per-row HOFs + one fold —
    no shuffle at any scale, and no Python stage (all JVM exprs)."""
    plan = plan_of(spark, sf_dir, "span_corruption_pairs")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_gopher_top_bigram_is_algebraic_not_windowed(spark, sf_dir):
    """The per-doc top-bigram pick must plan as a map-side-combinable
    aggregate (max(struct)) — never a row_number window, whose per-doc
    sort adds a rangepartitioning-free but sort-heavy stage."""
    plan = plan_of(spark, sf_dir, "gopher_repetition_signals")
    assert "Window" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "partial_max" in plan  # two-phase max(struct)


def test_dsir_ratio_table_broadcasts(spark, sf_dir):
    """DSIR's per-bucket ratio table is n_buckets rows regardless of
    corpus size — the corpus-side gram join must be broadcast, never a
    corpus-wide SortMergeJoin."""
    plan = plan_of(spark, sf_dir, "dsir_importance_weights")
    assert "BroadcastHashJoin" in plan


def test_zipf_rank_window_is_topk_bounded(spark, sf_dir):
    """The Zipf rank window may be single-partition ONLY because the
    distributed top-k bounds its input to 200 rows first — the plan
    must show TakeOrderedAndProject feeding it, and exactly one
    SinglePartition exchange (over the bounded set, never the
    vocabulary)."""
    plan = plan_of(spark, sf_dir, "zipf_slope_fit")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange SinglePartition") <= 1


def test_pca_projection_is_pure_expression(spark, sf_dir):
    """Projection onto fitted components must stay a narrow map: no
    Exchange, no Python stage — components are literal arrays folded
    JVM-side."""
    from reactionetl_etl_spark.operators.linalg import PCAModel, pca_project

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = PCAModel(
        mean=[0.0] * 64,
        components=[[1.0 / 8.0] * 64, [-1.0 / 8.0] * 64],
        eigenvalues=[1.0, 0.5],
        total_variance=4.0,
    )
    plan = (
        pca_project(emb.select("vec_id", "embedding"), "embedding", model)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pca_gram_partials_are_one_arrow_stage(spark, sf_dir):
    """The Gram pass is ONE Arrow-batched python stage over the scan;
    the partial merge exchanges only (i, j)-keyed metadata rows."""
    from pyspark.sql import functions as F

    from reactionetl_etl_spark.operators.linalg import gram_partials

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    merged = (
        gram_partials(emb, "embedding", 64)
        .groupBy("i", "j")
        .agg(F.sum(F.col("partial").cast("decimal(38,0)")).alias("total"))
    )
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert plan.count("Exchange hashpartitioning") == 1  # (i, j) partial merge only


def test_classifier_scoring_broadcasts_weights(spark, sf_dir):
    """Scoring must broadcast the weight table (n_buckets+4 rows by
    construction) and shuffle only on doc ids — never a SortMergeJoin
    against the corpus, never a cartesian."""
    from decimal import Decimal

    from reactionetl_etl_spark.operators.classifier import score_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = {b: Decimal("0.01") for b in range(-1, 35)}
    plan = score_text(docs, w)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_triangle_count_no_cartesian_all_keyed(spark, sf_dir):
    """Triangle counting never plans a cartesian product — every join
    (wedge self-join, closing pair join, degree joins) is hash-keyed."""
    plan = plan_of(spark, sf_dir, "part_triangle_clustering")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_skyline_no_self_join(spark, sf_dir):
    """2-D skyline is the single-sort formulation: one window over the
    per-group mins plus one key join back — never the O(n^2) dominance
    self-join (no nested-loop operator in the plan)."""
    plan = plan_of(spark, sf_dir, "supplier_pareto_frontier")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window") >= 1


def test_rm3_feedback_and_term_joins_broadcast(spark, sf_dir):
    """RM3's corpus-side scans join against the fb-doc id set and the
    expansion-term table via BROADCAST joins only — the corpus is never
    hash-exchanged to meet a 10-row table."""
    plan = plan_of(spark, sf_dir, "rm3_expanded_search")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_correlation_matrix_single_aggregate_pass(spark, sf_dir):
    """The 4x4 correlation matrix is ONE aggregation over lineitem (15
    power sums) unpivoted row-free — exactly one exchange pair for the
    global agg, no per-pair scans."""
    plan = plan_of(spark, sf_dir, "lineitem_correlation_matrix")
    assert plan.count("Scan parquet") == 1


def test_prefix_join_candidates_are_equi_join(spark, sf_dir):
    """The PPJoin candidate stage is a hash equi-join on the prefix
    token — never a cartesian pair enumeration."""
    plan = plan_of(spark, sf_dir, "jaccard_prefix_join_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cusum_stays_in_codegen_no_python(spark, sf_dir):
    """CUSUM's recurrence folds into windows: the plan has NO Python
    stage and exactly one source scan — the point of the prefix-sum
    identity over an applyInPandas fold."""
    plan = plan_of(spark, sf_dir, "events_cusum_alarms")
    assert "Pandas" not in plan and "PythonUDF" not in plan
    assert plan.count("Scan parquet") == 1


def test_trimmed_mean_is_grouped_agg_pandas(spark, sf_dir):
    """The trimmed mean exercises the GROUPED_AGG pandas UDF surface;
    the plain count stays a JVM hash aggregate."""
    plan = plan_of(spark, sf_dir, "events_trimmed_mean_udaf")
    assert "ArrowAggregatePython" in plan  # Spark 4 grouped-agg operator name
    assert "HashAggregate" in plan


def test_asof_cogroup_is_cogrouped_map(spark, sf_dir):
    """The cogroup as-of join plans as FlatMapCoGroupsInPandas over the
    two key-shuffled sides — no join fallback, no cartesian."""
    plan = plan_of(spark, sf_dir, "asof_cogroup_pandas")
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_cosine_pairs_keyed_join_topk(spark, sf_dir):
    """The sparse dot product is a term-keyed equi-join (never a pair
    enumeration) and the final top-20 is TakeOrderedAndProject. The
    only nested-loop is the 1-row corpus-count scalar attach — a
    data-scale NLJ would show up as a second one."""
    plan = plan_of(spark, sf_dir, "tfidf_cosine_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # checkpointed sparse
    assert "Scan parquet" not in plan  # vectors materialized once
    assert "TakeOrderedAndProject" in plan


def test_event_funnel_single_scan_single_user_shuffle(spark, sf_dir):
    """The ordered funnel must stay one events scan + stacked windows
    over one user_id partitioning — the per-step aggregate+join chain
    this replaced re-scanned the fact six times (PLANS.md r8). The
    distinct-count fold adds its own bounded aggregate exchanges, so
    the pin is on scan count and window count, plus no join at all."""
    plan = plan_of(spark, sf_dir, "event_funnel_steps")
    assert plan.count("Scan parquet") <= 1, "events must be scanned once"
    assert plan.count("Window") >= 3  # the three stacked step windows
    assert "Join" not in plan


def test_matryoshka_profile_no_global_sort(spark, sf_dir):
    """The truncation-ratio histogram must be a pure map + bounded
    10-group aggregate: an ntile-based decile formulation would plan a
    full-table Sort over Exchange SinglePartition. Only the final
    10-row ORDER BY may funnel to one partition; no Window, no Join,
    one embeddings scan with the embedding column pruned in."""
    plan = plan_of(spark, sf_dir, "matryoshka_truncation_profile")
    assert plan.count("Scan parquet") == 1
    assert "Window" not in plan and "Join" not in plan
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            near = "\n".join(lines[max(0, i - 3) : i])
            assert "embedding" not in near, (
                "data-sized rows funnel through a single partition:\n" + near
            )


def test_label_propagation_keyed_joins_only(spark, sf_dir):
    """Each propagation round must be an edge-keyed equi-join + dst
    min-aggregate — never a cartesian; labels stay node-sized. The
    per-round localCheckpoint truncates lineage, so the executed plan
    contains only the LAST round's shape plus the community-size agg."""
    plan = plan_of(spark, sf_dir, "copurchase_label_propagation")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pack_report_prefix_sum_stays_distributed(spark, sf_dir):
    """The report rides global_running_sum: the full data's cumsum
    window partitions on the monotone bucket (__pid); the ONLY
    SinglePartition exchange allowed is over the per-bucket TOTALS
    aggregate (≤ n_buckets rows), never the raw doc stream."""
    plan = plan_of(spark, sf_dir, "pack_efficiency_report")
    assert "Exchange hashpartitioning(__pid" in plan
    assert plan.count("Exchange SinglePartition") == 1
    assert "PythonUDF" not in plan


def test_funnel_report_broadcasts_flagged_ids(spark, sf_dir):
    """The decontamination stage's flagged-id set is benchmark-sized
    and must broadcast into the anti-join; the whole funnel runs
    JVM-side (no Python stage); stage totals are the only scalar
    aggregates."""
    plan = plan_of(spark, sf_dir, "corpus_funnel_report")
    assert "BroadcastHashJoin" in plan
    assert "PythonUDF" not in plan
    assert "CartesianProduct" not in plan


def test_skew_profile_windows_stay_keyed(spark, sf_dir):
    """Everything after the map-side per-key counts runs over the
    KEY-sized table: the top-10 rank window partitions by join_key and
    no SinglePartition exchange appears anywhere (the final sort is a
    range partitioning)."""
    plan = plan_of(spark, sf_dir, "join_key_skew_profile")
    assert "windowspecdefinition(join_key" in plan
    assert "Exchange SinglePartition" not in plan
    assert "PythonUDF" not in plan


def test_template_report_shuffles_digests_only(spark, sf_dir):
    """Cross-language template grouping is fingerprint-keyed: every
    exchange carries the 32-char md5 digest, never the document text
    (the dedup_fingerprint_md5 discipline)."""
    plan = plan_of(spark, sf_dir, "cross_lang_template_report")
    assert "Exchange hashpartitioning(fp" in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line


def test_embedding_drift_sums_are_dim_keyed(spark, sf_dir):
    """The drift moments accumulate per (split, dim) integer sums —
    the exploded component stream shuffles on those keys with map-side
    partial aggregation, and no Python stage exists anywhere."""
    plan = plan_of(spark, sf_dir, "split_embedding_drift")
    assert "Exchange hashpartitioning(split" in plan
    assert "partial_sum" in plan
    assert "PythonUDF" not in plan


def test_ivf_probe_broadcast_flag_is_a_hint_not_a_strategy(spark, sf_dir, tmp_path):
    """The unbounded-query probe shape (broadcast_queries=False) must
    not FORCE a broadcast of the query side — the declared plan is a
    plain cell-key equi-join and AQE picks the physical strategy from
    actual sizes (at fixture scale it legitimately broadcasts the tiny
    INDEX side; at 100 TB both sides exceed the threshold and it
    becomes a shuffled join). The pin is therefore on the HINT, not the
    physical operator: True plants a ResolvedHint on the query side,
    False plants none."""
    from pyspark.sql import functions as F

    from reactionetl_etl_spark.operators.similarity import (
        probe_ivf_index,
        write_ivf_index,
    )
    from reactionetl_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_hint")
    cents = write_ivf_index(emb, dim=64, path=path, n_cells=8)
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    vectors = spark.read.parquet(f"{path}/vectors")

    def analyzed(broadcast):
        df = probe_ivf_index(
            qs, vectors, cents, k=3, n_probe=2, broadcast_queries=broadcast
        )
        return df._jdf.queryExecution().analyzed().toString()

    assert "ResolvedHint" in analyzed(True)
    assert "ResolvedHint" not in analyzed(False)
