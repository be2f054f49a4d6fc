"""Plan-shape contracts: scale properties asserted, not hoped for.

Every registered query must compile to a plan that survives a 100x
scale-up: no nested-loop joins (the brute-force ANN baseline is the
one deliberate exception — broadcasting Q query rows against a single
corpus scan IS the definition of brute force), dims broadcast, scans
pruned to the columns actually used.
"""

from __future__ import annotations

import pytest

from data_pipeline_for_e_commerce_shop_spark import queries as Q
from tests.plan_utils import (
    broadcast_join_count,
    has_nested_loop_join,
    physical_plan,
    scan_pushed_filters,
    scan_read_schemas,
)

SF = "/root/testdata/sf0.001"

# Brute-force ANN: broadcast-NL of a handful of query vectors against
# one corpus scan is the intended physical shape (similarity.py).
# IVF ANN: nearest-centroid assignment broadcasts the model-sized
# centroid table (k rows) against the corpus — also intended; the
# pair-scoring join itself is equi-keyed on cluster_id.
# TF-IDF: the corpus doc count rides the plan as a ONE-ROW broadcast
# crossJoin (the scalar-subquery shape) instead of an eager count() —
# a 1-row broadcast NL is O(n), not O(n^2).
NESTED_LOOP_OK = {"ann_brute_topk", "ann_ivf_topk", "text_tfidf_topk",
                  # composes all three top-k pipelines, including brute
                  "ann_recall",
                  # composes brute + three IVF probe depths (brute +
                  # centroid-model crossJoins, both declared shapes)
                  "ann_ivf_nprobe_curve",
                  # brute-force at several prefix widths: broadcast-NL
                  # of the query rows is the intended plan (like brute)
                  "ann_matryoshka_recall",
                  # bottleneck-source reduction rides the plan as a
                  # ONE-ROW broadcast crossJoin (scalar-subquery shape)
                  "corpus_source_mix",
                  # corpus totals (1 row) crossJoin onto the vocabulary
                  # table — same scalar-subquery shape as tfidf
                  "text_rare_tokens",
                  # Lloyd assignment broadcasts the k-row centroid
                  # model against the corpus — same shape as IVF
                  "embedding_kmeans",
                  # PQ ships the one-row codebook/query model as a
                  # broadcast crossJoin (scalar-subquery shape)
                  "ann_pq_topk",
                  # 1-row totals crossJoin (scalar-subquery shape)
                  "events_key_skew",
                  # 1-row distinct-counts x 1-row break-counts crossJoin
                  # (scalar-subquery shape; r7 split-branch rewrite)
                  "lineitem_encoding_advisor",
                  # 1-row (N, sqrt-sum) totals crossJoin over the
                  # |sources|-row aggregate (scalar-subquery shape)
                  "corpus_temperature_mix",
                  # frozen k-row centroid model broadcast against both
                  # assignment passes + 1-row totals (IVF model shape)
                  "ann_ivf_incremental",
                  # |langs|-row stats + 1-row vocab-size ride the token
                  # stream as broadcast crossJoins (model-scoring shape)
                  "text_nb_classifier",
                  # same NB model-scoring shape (shared per-doc preds)
                  "mcnemar_lang_classifiers",
                  # hour-spine x type-vocabulary grid: both sides are
                  # aggregate-reduced (|hours|, |types| rows) — the
                  # cross product is the OUTPUT size, not a pair scan
                  "events_gap_fill",
                  # 1-row global-bounds crossJoin (scalar-subquery
                  # shape)
                  "part_price_histogram",
                  # three 1-row sketch summaries + 1-row exact audit
                  # cross-joined (scalar-subquery shape)
                  "hll_overlap",
                  # 1-row estimate x 1-row audit crossJoin
                  "cms_join_size",
                  # 1-row total crossJoin (scalar-subquery shape)
                  "benford_digit_audit",
                  # 1-row (n_days, total) crossJoin onto the daily
                  # series (scalar-subquery shape)
                  "revenue_runs_test",
                  # 1-row mean/denominator crossJoins + 7-row lag
                  # spine onto the daily series (revenue_acf shape)
                  "revenue_ljung_box",
                  # 1-row pre-period totals crossJoin onto the
                  # |parts|-sized pre table (scalar-subquery shape)
                  "discount_did_revenue",
                  # 1-row corpus-total crossJoin onto the vocabulary
                  # table (tfidf shape)
                  "text_js_source_divergence",
                  # brute pool scan (ann_brute shape) + pool-sized
                  # (20x20) pairwise re-rank join
                  "embedding_mmr_topk",
                  # |sources| x 30-term grid + 190-pair z join — all
                  # operands aggregate-reduced (gap_fill grid shape)
                  "text_burrows_delta",
                  # two 1-row scalars (horizon, cohort total) ride as
                  # broadcast crossJoins
                  "survival_km",
                  # same shape (horizon + arm totals 1-row scalars)
                  "ab_logrank",
                  # same shape (horizon + cohort total 1-row scalars)
                  "survival_nelson_aalen",
                  # composes the KM curve (same 1-row scalars)
                  "survival_rmst",
                  # 1-row corpus-total crossJoin (scalar-subquery shape)
                  "corpus_kfold_assign",
                  # 1-row mass-total crossJoin (scalar-subquery shape)
                  "events_markov_stationary",
                  # four 1-row capture/recapture counts assembled via
                  # crossJoins (scalar-subquery shape)
                  "dedup_capture_recapture",
                  # 1-row global return-rate crossJoin (scalar-subquery
                  # shape)
                  "order_return_clustering",
                  # 1-row first-order span crossJoin (scalar-subquery
                  # shape)
                  "first_order_ltv_signal",
                  # 1-row digit-total crossJoin (scalar-subquery shape)
                  "orders_benford_second_digit",
                  # 4-row lag spine crossJoin onto the day aggregate
                  # (aggregate-reduced grid shape)
                  "error_conversion_xcorr",
                  # 1-row revenue-total crossJoin (scalar-subquery
                  # shape)
                  "part_age_revenue_mix",
                  # 1-row distinct-day crossJoin (scalar-subquery
                  # shape)
                  "peak_hour_erlang_b",
                  # 1-row VaR-cut crossJoin (scalar-subquery shape)
                  "revenue_cvar",
                  # 1-row grand-total crossJoin (scalar-subquery shape)
                  "nation_rca_matrix",
                  # 1-row digit-total crossJoin (scalar-subquery shape)
                  "benford_mad_conformity",
                  # 3-row k spine rank-range join + 1-row totals
                  # (aggregate-reduced grid shape)
                  "token_coverage_curve",
                  # 1-row rank-bound crossJoin (scalar-subquery shape)
                  "order_value_median_ci",
                  # 1-row moment crossJoin (scalar-subquery shape)
                  "order_count_geometric_fit",
                  # 3-row threshold spine x 1-row break counts
                  # (aggregate-reduced grid shape)
                  "session_gap_sweep",
                  # 1-row customer-total crossJoin (scalar-subquery
                  # shape)
                  "customer_time_to_1k",
                  # 1-row (n_users, n_conv) totals crossJoin
                  # (scalar-subquery shape)
                  "events_mutual_information",
                  # 1-row balance-threshold crossJoin (scalar-subquery
                  # shape)
                  "dormant_capital_screen",
                  # 1-row grand-total crossJoin (scalar-subquery shape)
                  "orders_priority_mix_stability",
                  # 1-row grand-total crossJoin (scalar-subquery shape)
                  "doc_lang_source_gtest",
                  # pooled totals 1-row crossJoin
                  "events_drift_chi2",
                  # bounds + totals 1-row crossJoins
                  "events_ks_drift",
                  # basket-total 1-row crossJoin
                  "basket_rules",
                  # revenue-total 1-row crossJoin
                  "part_abc_classes",
                  # basket-total 1-row crossJoin
                  "category_cross_sell",
                  # revenue-total + shortfall 1-row crossJoins
                  "budget_allocation",
                  # catalog-size 1-row crossJoin
                  "recsys_negative_samples",
                  # 1-row percentile scalars crossJoin
                  "fulfillment_lag",
                  # corpus-stats (N, avgdl, dfs) 1-row crossJoin
                  "text_bm25_topk",
                  # corpus-total 1-row crossJoin
                  "text_unigram_ce",
                  # corpus-total 1-row crossJoin (same shape)
                  "text_bigram_ce",
                  # bigram-type/vocab-size 1-row crossJoins (same shape)
                  "text_kneser_ney_ce",
                  # duration-side x timeline-side 1-row audit crossJoin
                  "orders_little_law_audit",
                  # composes the CE gates, inheriting their 1-row
                  # corpus-total crossJoins
                  "corpus_gate_verdicts",
                  # 1-row keyspace audit crossJoin (scalar-subquery
                  # shape)
                  "customer_pseudonymize_audit",
                  # 1-row percentile-boundary set crossJoin
                  # (scalar-subquery shape)
                  "lineitem_price_equidepth",
                  # 1-row price-bounds crossJoin feeding the bucket
                  # assignment (scalar-subquery shape); dominance
                  # itself is window+broadcast-equi, never pairwise
                  "part_skyline",
                  # hour-spine bounds (1 row) + type-vocabulary grid —
                  # same aggregate-reduced grid shape as events_gap_fill
                  "events_gap_interpolate",
                  # 1-row time-midpoint + 1-row conversion totals ride
                  # as broadcast crossJoins (scalar-subquery shape)
                  "purchase_propensity_lift",
                  # 1-row replicate-CI crossJoin onto the 1-row full
                  # mean (scalar-subquery shape)
                  "revenue_bootstrap_ci",
                  # |labels| x |labels| centroid pair join (10x10,
                  # label-vocabulary-sized on both sides)
                  "embedding_label_separation",
                  # 3-row policy-vocabulary broadcast crossJoin
                  # (model-scoring shape)
                  "offline_policy_ips",
                  # same 3-row policy-vocabulary broadcast crossJoin
                  "policy_snips",
                  # 1-row median-split-point crossJoin + 2x9 decile
                  # grid explode (scalar-subquery shape)
                  "order_value_qq_shift",
                  # 1-row sampled estimate x 1-row exact audit
                  # crossJoin (cms_join_size shape)
                  "join_size_sampled_estimate",
                  # 1-row horizon crossJoin (scalar-subquery shape)
                  "stale_parts",
                  # 1-row midpoint + 1-row theta/moments crossJoins
                  # (scalar-subquery shape)
                  "ab_cuped_adjusted",
                  # 1-row corpus-total crossJoin (tfidf shape)
                  "text_collocation_lift",
                  # 1-row median-split crossJoin (scalar-subquery shape)
                  "customer_segment_migration",
                  # 1-row horizon crossJoin (scalar-subquery shape)
                  "orders_aging_buckets",
                  # 10-row checkpoint-set range joins (aggregate-
                  # reduced grid shape)
                  "corpus_vocab_growth",
                  # 1-row revenue-total crossJoin (scalar-subquery
                  # shape)
                  "revenue_concentration_curve",
                  # inherits the unigram-CE gate's 1-row corpus-total
                  # crossJoin
                  "filter_agreement_matrix",
                  # 1-row median-pair crossJoin (scalar-subquery shape)
                  "basket_size_value_quadrants",
                  # 1-row pooled-rate crossJoin (scalar-subquery shape)
                  "returns_p_chart",
                  # 1-row corpus-count crossJoin onto the 4096-cell
                  # gram table (scalar-subquery shape)
                  "embedding_top_pc",
                  # 14-row lag-spine broadcast crossJoin fanning the
                  # |days|-row daily table (aggregate-reduced grid
                  # shape, reused by two downstream branches)
                  "revenue_acf",
                  # 1-row centroid-sums crossJoin (scalar-subquery
                  # shape)
                  "embedding_centroid_outliers",
                  # calendar-bounded |days| x |days| inequality pair
                  # grid (both sides aggregate-reduced) + 1-row
                  # result-assembly crossJoins
                  "revenue_trend_robust",
                  # 3-row quantile-position spine crossJoin
                  # (aggregate-reduced grid shape)
                  "category_quantile_bands",
                  # 1-row weight-total crossJoin (scalar-subquery
                  # shape)
                  "neyman_allocation",
                  # 1-row grand-total + three 1-row explained-sum
                  # crossJoins (scalar-subquery shape)
                  "anova_nation_priority",
                  # 4-row context-size spine crossJoin
                  # (aggregate-reduced grid shape)
                  "corpus_packing_efficiency",
                  # broadcast query set vs one corpus scan — the
                  # intended brute-force shape (like ann_brute_topk)
                  "embedding_hard_negatives",
                  # 1-row consecutive-pair total crossJoin
                  # (scalar-subquery shape)
                  "part_sequence_rules",
                  # 16 1-row cardinality crossJoins (2 per audited FK
                  # pair; scalar-subquery shape)
                  "fk_inclusion_audit",
                  # 4-channel x 16-cell lattice joins on bit
                  # predicates (aggregate-reduced grid shape)
                  "events_shapley_attribution",
                  # composes brute (intended broadcast-NL baseline)
                  # like ann_recall
                  "ann_ndcg",
                  # composes brute twice (panel + retrieved) plus a
                  # 5x3 panel-x-methods crossJoin (scalar shape)
                  "ann_mrr",
                  # 1-row credit-total crossJoin (scalar-subquery
                  # shape)
                  "events_time_decay_attribution",
                  # 1-row global-prior crossJoin (scalar-subquery
                  # shape)
                  "part_return_shrinkage",
                  # 1-row means crossJoin (scalar-subquery shape)
                  "graph_assortativity",
                  # 20-probe x |files| zone-map containment grid
                  # (both sides aggregate-reduced)
                  "layout_zorder_pruning_audit",
                  # 1-row grand-total crossJoin (scalar-subquery
                  # shape)
                  "discount_tax_independence",
                  # 1-row (N, tie_sum) totals crossJoin onto the 1-row
                  # H fold (scalar-subquery shape)
                  "priority_kruskal_wallis",
                  # 1-row (n, nr, nc) totals crossJoin onto the 125-cell
                  # contingency grid (scalar-subquery shape)
                  "nation_segment_cramers_v",
                  # 1-row grand-total crossJoin onto the 25-row nation
                  # rollup (scalar-subquery shape)
                  "nation_theil_inequality",
                  # 1-row horizon crossJoin (scalar-subquery shape)
                  "customer_overdue_alarm",
                  # 1-row means crossJoin (scalar-subquery shape)
                  "error_purchase_correlation",
                  # 1-row horizon crossJoin (scalar-subquery shape)
                  "part_lifecycle_stages",
                  # 1-row stats x 5-row gap list crossJoin
                  # (scalar-subquery shape)
                  "orderkey_density_audit",
                  # 1-row horizon crossJoin (scalar-subquery shape)
                  "revenue_trailing_windows",
                  # 1-row revenue-total crossJoin (part_abc_classes
                  # shape)
                  "part_abc_xyz_matrix",
                  # broadcast query set vs corpus scan (brute shape)
                  "ann_int8_recall",
                  # broadcast panel vs corpus scan (brute shape) +
                  # 1-row median crossJoin
                  "embedding_twonn_ratio",
                  # 1-row per-dim-stats crossJoin (scalar-subquery shape)
                  "embedding_mahalanobis_ood",
                  # 1-row corpus-total crossJoin (scalar-subquery shape)
                  "corpus_anneal_schedule",
                  # 1-row group-totals crossJoin (scalar-subquery shape)
                  "events_wasserstein_drift",
                  # 1-row global-range crossJoin (scalar-subquery shape)
                  "segment_quantile_sketch_audit",
                  # 1-row anchor-day crossJoin (scalar-subquery shape)
                  "user_activity_bitmaps",
                  # broadcast panel vs corpus scan (brute shape)
                  "embedding_hubness",
                  # 1-row test-total crossJoin (scalar-subquery shape)
                  "conversion_calibration_ece",
                  # two 1-row MAD-fence crossJoins (scalar-subquery
                  # shape)
                  "daily_health_certificate",
                  # 1-row totals crossJoin (scalar-subquery shape)
                  "corpus_mix_tv_distance",
                  # 3-row percentile-cut spine crossJoin
                  # (aggregate-reduced grid shape)
                  "user_value_pareto",
                  # 1-row grand-total crossJoin (scalar-subquery
                  # shape)
                  "price_qty_dependence_grid",
                  # three 1-row boundary-bounds crossJoins (bucket-walk
                  # ntile binning — scalar-subquery shape)
                  "customer_rfm",
                  # 1-row adaptive-bucket-bounds crossJoin inside
                  # bucketed_global_rank (scalar-subquery shape)
                  "revenue_gini",
                  # two chained bucket-walk ranks: 1-row bounds
                  # crossJoins (scalar-subquery shape)
                  "balance_spend_mismatch",
                  # bucket-walk rank bounds crossJoin (same shape)
                  "customer_spend_quartiles",
                  # fused rank+prefix-moment walk bounds + 1-row totals
                  # crossJoin (scalar-subquery shape)
                  "order_value_bimodal_split",
                  # 1-row peak-total crossJoin (scalar-subquery shape)
                  "user_peak_hour_profile",
                  # 1-row size-count crossJoin (scalar-subquery shape)
                  "assortment_gap_grid",
                  # 1-row grand-total crossJoin (scalar-subquery
                  # shape)
                  "doc_length_quality_grid",
                  # classes x band-vocabulary dense grid (both sides
                  # aggregate-reduced — the EMD needs absent bands as
                  # explicit zeros) + 1-row (N, m) totals crossJoin
                  "customer_t_closeness",
                  # 1-row seasonal-center crossJoin (scalar-subquery
                  # shape)
                  "revenue_classical_decomposition",
                  # 1-row tau-threshold crossJoin onto the k-row
                  # sample (scalar-subquery shape)
                  "corpus_priority_sample",
                  # composes the sample + 1-row est x exact crossJoin
                  "corpus_priority_sample_audit",
                  # days x 5-arm vocabulary crossJoin + 1-row best-arm
                  # broadcast (scalar-subquery shape)
                  "bandit_replay_egreedy",
                  # O(B^3) minimax grid over the <= 16-row bucket
                  # table: bounded-by-construction range joins
                  "conversion_isotonic_curve",
                  # calendar-bounded day-pair spine (span^2 rows) +
                  # 1-row n_days crossJoin (scalar-subquery shape)
                  "revenue_theil_sen",
                  # 1-row decile-bounds crossJoin (bucket-walk ntile
                  # binning — scalar-subquery shape)
                  "ab_qini_curve",
                  # 1-row global-max crossJoin onto the checkpointed
                  # per-supplier revenue table (scalar-subquery shape)
                  "tpch_q15_top_supplier",
                  # 1-row (sum, count) balance stats crossJoin for the
                  # exact above-average cross-multiply (scalar-subquery
                  # shape)
                  "tpch_q22_dormant_customers",
                  # the r5 density-derived support threshold rides both
                  # the pair and triple gates as 1-row broadcast
                  # crossJoins (scalar-subquery shape; the pair scan
                  # itself stays the equi-keyed in-basket expansion)
                  "basket_triples_apriori",
                  # r5 data-derived block geometry: the 1-row
                  # corpus-count rule (w / P / psem) rides each scan
                  # branch as a broadcast crossJoin (scalar-subquery
                  # shape); the pair stages remain bucket-keyed — the
                  # dedicated plan tests below assert exactly that
                  "dedup_simhash_pairs",
                  "dedup_embedding_cosine",
                  "dedup_semantic",
                  "dedup_semantic_sweep"}


@pytest.mark.parametrize("name", sorted(Q.QUERIES))
def test_no_nested_loop_joins(spark, name):
    if name in NESTED_LOOP_OK:
        pytest.skip("broadcast-NL is the intended brute-force plan")
    df = Q.QUERIES[name](spark, SF)
    assert not has_nested_loop_join(df), f"{name} plans a nested-loop join"


def test_flagship_broadcasts_dims(spark):
    """category_kpis: both dimension joins must be broadcast — a
    shuffle join against part/orders wastes a full fact shuffle."""
    df = Q.QUERIES["category_kpis"](spark, SF)
    assert broadcast_join_count(df) >= 1


def test_flagship_scan_pruned(spark):
    """The lineitem scan must read only the columns the query uses,
    not the full 16-column schema."""
    df = Q.QUERIES["category_kpis"](spark, SF)
    schemas = scan_read_schemas(df)
    li = [s for s in schemas if "l_extendedprice" in s]
    assert li, f"no lineitem scan found: {schemas}"
    assert "l_comment" not in li[0] and "l_shipmode" not in li[0]


def test_filter_pushdown_reaches_scan(spark):
    """events filtered by event_type: the predicate must appear in the
    parquet scan's PushedFilters, not only in a post-scan Filter."""
    df = Q.QUERIES["asof_purchase_click"](spark, SF)
    pushed = " ".join(scan_pushed_filters(df))
    assert "event_type" in pushed, physical_plan(df)


def test_q6_conjunctive_ranges_reach_scan(spark):
    """tpch_q6_discount_uplift exists to pin the pushdown contract on
    a conjunctive-range filter: the shipdate bounds must appear in the
    lineitem scan's PushedFilters (the floor()-derived discount and
    quantity predicates stay post-scan — expressions don't push)."""
    df = Q.QUERIES["tpch_q6_discount_uplift"](spark, SF)
    pushed = " ".join(scan_pushed_filters(df))
    assert "l_shipdate" in pushed, physical_plan(df)


def test_tpch_topk_is_take_ordered(spark):
    """Q3/Q10/Q18's ORDER BY + LIMIT must compile to
    TakeOrderedAndProject — a global Sort materializing all groups
    before the limit does not survive 100x."""
    for name in (
        "tpch_q3_unshipped_topk",
        "tpch_q10_returned_items",
        "tpch_q18_large_volume_customers",
    ):
        plan = physical_plan(Q.QUERIES[name](spark, SF))
        assert "TakeOrderedAndProject" in plan, f"{name}: global sort"


def test_tpch_q1_scan_pruned_and_pushed(spark):
    """Q1: the lineitem scan must read only the 7 used columns and
    carry the shipdate bound in PushedFilters."""
    df = Q.QUERIES["tpch_q1_pricing_summary"](spark, SF)
    schemas = [s for s in scan_read_schemas(df) if "l_returnflag" in s]
    assert schemas and "l_orderkey" not in schemas[0], schemas
    assert "l_shipdate" in " ".join(scan_pushed_filters(df))


def test_tpch_q5_broadcasts_reduced_nations(spark):
    """Q5: the ASIA-reduced nation dim must ride as a broadcast; the
    plan must stay nested-loop-free (the co-location predicate
    c_nationkey = s_nationkey is an equi-key, not a residual NL)."""
    df = Q.QUERIES["tpch_q5_local_supplier_volume"](spark, SF)
    assert broadcast_join_count(df) >= 1, physical_plan(df)
    assert not has_nested_loop_join(df)


def test_regional_revenue_broadcasts_all_dims(spark):
    """The 6-table chain must broadcast all four dimension tables
    (customer, supplier, nation, region); only the lineitem⋈orders
    fact join and the final agg may shuffle."""
    df = Q.QUERIES["regional_revenue"](spark, SF)
    assert broadcast_join_count(df) >= 4, physical_plan(df)
    assert not has_nested_loop_join(df)


def test_embedding_dedup_pair_join_is_bucket_keyed(spark):
    """The near-dup pair stage must be keyed on the LSH bucket — the
    probe/home rows meet in a groupBy(`probe`) Arrow group, never an
    all-pairs join; that's the whole 100 TB story of the operator.
    Since r6 the data-derived plane count is a plan literal from
    parquet footer metadata (schemas.table_rowcount), so the r5-era
    1-row-rule BroadcastNestedLoopJoin crosses are gone entirely —
    assert NO nested loop of any kind remains."""
    df = Q.QUERIES["dedup_embedding_cosine"](spark, SF)
    plan = physical_plan(df)
    assert "probe" in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_interval_join_is_equi_keyed(spark):
    """The range join must hash/broadcast on user_id with the time
    range as residual — never a pure cross product."""
    df = Q.QUERIES["events_interval_join"](spark, SF)
    plan = physical_plan(df)
    assert "NestedLoopJoin" not in plan
    assert "Join" in plan


def test_repetition_is_shuffle_free_projection(spark):
    """Gopher repetition scoring must stay a pure map-side projection:
    zero exchanges, scan pruned to (doc_id, text)."""
    from tests.plan_utils import (
        exchange_count,
    )

    df = Q.QUERIES["text_repetition"](spark, SF)
    assert exchange_count(df) == 0
    schemas = scan_read_schemas(df)
    assert schemas and all("lang" not in s and "source" not in s for s in schemas)


def test_scd2_single_shuffle(spark):
    """The SCD2 builder must shuffle the change log exactly once (hash
    on the dimension key); both windows and the island aggregation
    reuse that partitioning."""
    from tests.plan_utils import (
        exchange_count,
    )

    df = Q.QUERIES["scd2_priority_history"](spark, SF)
    assert exchange_count(df) == 1


def test_frame_sampling_no_shuffle(spark):
    """The 1:N frame sampler inherits scan partitioning — any Exchange
    means the mapInPandas stage was accidentally repartitioned."""
    from tests.plan_utils import (
        exchange_count,
    )

    df = Q.QUERIES["multimodal_frames"](spark, SF)
    assert exchange_count(df) == 0


def test_corpus_ops_plan_shapes(spark):
    """Corpus-assembly plan contracts: shuffle/split and the
    quality-weighted sample are ZERO-shuffle projections; packing
    shuffles exactly once (on the shard key); the random projection is
    a zero-shuffle scan pruned to (vec_id, embedding)."""
    from tests.plan_utils import (
        exchange_count,
    )

    assert exchange_count(Q.QUERIES["corpus_shuffle_split"](spark, SF)) == 0
    assert exchange_count(Q.QUERIES["corpus_quality_sample"](spark, SF)) == 0
    assert exchange_count(Q.QUERIES["corpus_pack_sequences"](spark, SF)) == 1

    rp = Q.QUERIES["embedding_random_projection"](spark, SF)
    assert exchange_count(rp) == 0
    schemas = scan_read_schemas(rp)
    assert schemas and all("label" not in s for s in schemas)


def test_source_mix_broadcasts_cut_table(spark):
    """The per-source threshold table must broadcast onto the corpus
    rescan — a shuffle join keyed on `source` (20 values) would both
    shuffle the corpus AND skew."""
    df = Q.QUERIES["corpus_source_mix"](spark, SF)
    assert broadcast_join_count(df) >= 1, physical_plan(df)


def test_split_leakage_no_corpus_shuffle_on_text(spark):
    """The leakage check's split-map joins must be equi-joins; the
    documents text column is read only by the shingle pipeline, never
    by the split projection."""
    df = Q.QUERIES["corpus_split_leakage"](spark, SF)
    assert not has_nested_loop_join(df)
    split_scans = [
        s for s in scan_read_schemas(df) if "text" not in s
    ]
    assert split_scans, "expected a text-free documents scan for the split map"


# Shuffle budgets for the round-2 continuation operators: the exact
# exchange count a reviewer would sign off for each plan shape.  A
# regression that adds a shuffle fails here before it costs anything
# at scale.  (AQE reuse/coalesce does not change the static count.)
EXCHANGE_BUDGETS = {
    # distinct on (user, day) + window on user: 2
    "user_activity_streaks": 2,
    # hourly agg + bounds agg + types distinct + ffill window: <= 5
    "events_gap_fill": 5,
    # name-vocabulary groupBy; block join is broadcast: <= 2
    "part_fuzzy_names": 2,
    # single scan-aggregate over the broadcast-joined fact: <= 2
    "category_price_trend": 2,
    # base partial + delta partial + merge groupBy: <= 3
    "kpi_incremental_refresh": 3,
    # pure projection: 0
    "text_stopword_clean": 0,
    "arrow_byte_stats": 0,
    # pivot agg + zero-shuffle unpivot Expand: <= 2
    "status_unpivot_roundtrip": 2,
    # dim-sized window: 1
    "segment_balance_profile": 1,
    # (type,user) distinct + register agg + per-type agg + exact: <= 4
    "hll_distinct_users": 4,
    # window-hash groupBy + dup-filter join + island window + span
    # agg + final per-doc agg over the checkpointed window table: <= 5
    "dedup_exact_spans": 5,
    # fact join shuffle + final agg (customer is broadcast): <= 3
    "shipping_priority": 3,
    # broadcast part join + 1-row global agg: <= 1
    "promo_revenue_share": 1,
    # 1-row max agg + output sort over the checkpointed per-supplier
    # aggregate: <= 2
    "top_supplier": 2,
    # postings groupBy + output sort: <= 2
    "text_phrase_search": 2,
    # 1-row totals agg + output sort over the checkpointed
    # |sources|-row aggregate: <= 2
    "corpus_temperature_mix": 2,
}


@pytest.mark.parametrize("name", sorted(EXCHANGE_BUDGETS))
def test_exchange_budget(spark, name):
    from tests.plan_utils import (
        exchange_count,
    )

    df = Q.QUERIES[name](spark, SF)
    n = exchange_count(df)
    assert n <= EXCHANGE_BUDGETS[name], (
        f"{name}: {n} exchanges (budget {EXCHANGE_BUDGETS[name]})"
    )


def test_mrr_panel_joins_are_broadcast(spark):
    """ann_mrr's grading panel (labels, reciprocal weights, methods,
    rel) must ride as broadcasts — a shuffle join keyed on the 5-row
    panel would shuffle the index outputs for nothing."""
    df = Q.QUERIES["ann_mrr"](spark, SF)
    assert broadcast_join_count(df) >= 4, physical_plan(df)


def test_raking_is_bounded_projection(spark):
    """Round 7: the IPF weight trajectory is a function of the bounded
    (segment, region) contingency cell (w0 constant, factors per-axis),
    so the returned plan must be a projection over ONE checkpointed
    cell table — no factor joins, no row-scale exchange.  The previous
    persisted-panel + 4-broadcast-factor-join form executed as ~32
    serialized single-task broadcast jobs and left an entity-scale
    cache block behind per run."""
    df = Q.QUERIES["survey_raking_ipf"](spark, SF)
    plan = physical_plan(df)
    assert "ExistingRDD" in plan, plan
    assert "Join" not in plan, plan
    assert not has_nested_loop_join(df), plan


def test_merkle_leaf_diff_is_node_gated(spark):
    """The merkle leaf comparison must be gated by a broadcast
    left-semi on the differing top nodes — the O(divergence) descend
    — and read orders once through the columnar cache."""
    df = Q.QUERIES["orders_merkle_range_diff"](spark, SF)
    plan = physical_plan(df)
    assert "LeftSemi" in plan, plan
    assert broadcast_join_count(df) >= 1, plan
    assert not has_nested_loop_join(df), plan


def test_quantile_sketch_uses_window_group_limit(spark):
    """The bottom-k-by-hash sketch's rank filter must compile to
    WindowGroupLimit (per-group k-row heaps BEFORE the shuffle) —
    without it the per-segment window is a full fact sort."""
    df = Q.QUERIES["segment_quantile_sketch_bottomk"](spark, SF)
    assert "WindowGroupLimit" in physical_plan(df)


def test_salted_join_shape(spark):
    """The salted join must compile to a real SHUFFLED join keyed on
    (event_type, _salt) — no broadcast on the replicated build side
    (replication exists precisely because broadcast wasn't an option)
    and no nested loop.  The salt must appear in the join keys, or the
    'salting' silently degenerated to the plain hot-key join."""
    df = Q.QUERIES["event_type_salted_join"](spark, SF)
    plan = physical_plan(df)
    assert "ShuffledHashJoin" in plan
    assert not has_nested_loop_join(df)
    keys_line = next(
        l for l in plan.splitlines() if l.startswith("Left keys")
    )
    assert "_salt" in keys_line and "event_type" in keys_line


def test_aqe_skew_join_splits_hot_key(spark):
    """The OTHER half of the skew story (SURVEY §4.4): for plain
    sort-merge joins, AQE's runtime skew split — not manual salting —
    is the production mitigation.  Seed a hot key (7/8 of the fact
    rows on one key), force the shuffle path, and assert the EXECUTED
    adaptive plan marks the join skew-split.  Runs on a scoped
    newSession so the aggressive thresholds never leak."""
    s = spark.newSession()
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8192",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8192",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.shuffle.partitions": "8",
    }.items():
        s.conf.set(k, v)
    left = s.range(0, 400000).selectExpr(
        "CASE WHEN id < 350000 THEN CAST(0 AS LONG) ELSE id END AS k",
        "id AS v",
    )
    right = s.range(0, 50000).selectExpr("id % 64 AS k", "id AS w")
    cnt = left.join(right.hint("merge"), "k").groupBy().count()
    # execute THIS dataset so its AQE plan finalizes, then inspect it
    assert cnt.collect()[0][0] == 350000 * (50000 // 64 + 1) + 0
    plan = physical_plan(cnt, mode="simple")
    assert "isFinalPlan=true" in plan
    assert "SortMergeJoin(skew=true)" in plan
    assert "skewed" in plan  # the AQEShuffleRead that split the hot key
