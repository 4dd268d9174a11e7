"""Split-invariance: query results must not depend on the INPUT FILE
LAYOUT (round 7).

The driver fixtures are single-file/single-row-group; a 100 TB corpus
arrives as thousands of splits with a different row order per task and a
different accumulation order per partial aggregate. The engine's output
conventions (round-to-6, BIGINT casts, deterministic tiebreaks) exist
precisely so that layout cannot move a hashed cell — this test pins the
claim by re-writing every sf0.001 table as 4 shuffled parquet files and
asserting a representative query per operator family returns the
IDENTICAL frame (values after the convention rounding, not just rows).

A failure here means a query's output depends on partial-agg order —
driver-green today on one file, red on the real cluster layout.

The per-query tables below (``_SPLIT_CASES``, ``_CONF_CASES``) each
re-lay out one input table, or re-run under a second shuffle-partition
count and the other AQE setting, and need the frame bit-for-bit. Each
representative computes its base frame once and compares it with every
axis on its own."""

from __future__ import annotations

import pytest

from talkinghead_datapipeline_spark.catalog import TPCH_TABLES
from talkinghead_datapipeline_spark.queries import all_queries
from tests.oracle_harness import (
    _canon_frame,
    assert_conf_axis_invariance,
    assert_split_invariance,
    conf_axes,
    session_conf,
    write_split_layout,
)

_SPECS = all_queries()

# (query, the one input table that is re-laid out as 4 files)
_SPLIT_CASES = (
    ("acf_ljung_box_daily", "orders"),
    ("attribution_first_last_touch", "events"),
    ("auc_mann_whitney_lang", "documents"),
    ("gini_revenue_concentration", "orders"),
    ("bh_fdr_lang_source", "documents"),
    ("changepoint_daily_revenue", "orders"),
    ("conformal_coverage_lang", "documents"),
    ("cuped_adjusted_lift", "events"),
    ("dbscan_grid_roles", "embeddings"),
    ("isotonic_calibration_lang", "documents"),
    ("k_anonymity_audit", "documents"),
    ("kfold_linreg_cv", "documents"),
    ("kaplan_meier_survival", "events"),
    ("ks_two_sample_chars", "documents"),
    ("mann_kendall_daily_trend", "orders"),
    ("theil_sen_daily_slope", "orders"),
    ("pca_power_doc_features", "documents"),
    ("reliability_bins_lang", "documents"),
    ("n17_render_mask_zbuffer", "embeddings"),
    ("n17_render_shaded_checksum", "embeddings"),
    ("n17_render_texture_checksum", "embeddings"),
    ("seasonal_dow_backtest", "orders"),
    ("nelson_aalen_conversion_hazard", "events"),
)

_CONF_CASES = (
    "acf_ljung_box_daily",
    "attribution_first_last_touch",
    "auc_mann_whitney_lang",
    "basket_association_rules",
    "gini_revenue_concentration",
    "bh_fdr_lang_source",
    "changepoint_daily_revenue",
    "conformal_coverage_lang",
    "cuped_adjusted_lift",
    "dbscan_grid_roles",
    "isotonic_calibration_lang",
    "k_anonymity_audit",
    "kfold_linreg_cv",
    "kaplan_meier_survival",
    "ks_two_sample_chars",
    "logrank_segment_survival",
    "mann_kendall_daily_trend",
    "theil_sen_daily_slope",
    "pca_power_doc_features",
    "reliability_bins_lang",
    "n17_render_mask_zbuffer",
    "n17_render_shaded_checksum",
    "n17_render_texture_checksum",
    "seasonal_dow_backtest",
    "nelson_aalen_conversion_hazard",
    "triangle_count_brand_graph",
)

# One representative per family, leaning on the shapes most exposed to
# accumulation order: float aggregation, window + rolling stats, dedup
# banding (collect_list order), ANN scoring, text folds, sketches.
_REPRESENTATIVES = (
    "flagship_segment_leaders",  # money agg — CAUGHT flipping a cent under
    # a 4-split layout before its round-7 exact-decimal fix; stays pinned
    "q1_pricing_summary",  # wide money agg (r8: full integer-units form)
    "rollup_nation_revenue",  # hierarchical float agg
    # round-8 integer-cents migrations (VERDICT r7 #3/#7): every migrated
    # money query joins the pinned set with its migration.
    "q3_top_revenue_orders",  # top-k ranked ON the money sum
    "q5_join_chain_revenue",  # 6-way join revenue rollup
    "q10_returned_item_customers",  # top-20 ranked on money sum
    "grouping_sets_order_stats",  # multi-grain money rollup
    "date_orders_by_month",  # calendar money rollup
    "q15_top_supplier",  # argmax ON the money sum (thinnest boundary cell)
    # round-8 landing-dir fix: the streaming fixture-ingest shim silently
    # read ZERO files from a directory-layout events table (every real
    # corpus's layout) — this representative pins the fixed path end-to-end
    # (multi-file stream → watermark → window state → sink read-back).
    "streaming_hourly_event_counts",
    "s9_tumbling_volume",  # event-time window agg
    "rolling_mad_anomalies",  # order statistics over frames
    "minhash_lsh_near_dups",  # banding + collect_list buckets
    "simhash_hamming_near_dups",  # vote folds + buckets
    "sim_brute_cosine_topk",  # float dot scoring + top-k tiebreak
    "text_quality_score",  # per-doc text folds
    "hll_distinct_users",  # register merge order
    "emb_covariance_upper",  # per-partition partial outer products
    # The highest-risk class — sketches and iterative programs whose merge
    # order genuinely varies with splits (probed EQUAL at 4 splits before
    # being pinned here):
    "ngram_jaccard_exact_pairs",  # prefix-index join + exact verify
    "approx_quantiles_certified",  # GK sketch merge
    "cms_heavy_hitters",  # count-min register merge
    "equi_depth_deciles",  # boundary discovery
    "substring_dup_coverage",  # gram wordcount shuffle
    "bpe_top_merge_pairs",  # global pair counts + top-k tiebreak
    "pagerank_trade_network",  # 3 Pregel iterations
    # round-8 additions — classes whose merge order genuinely varies with
    # layout, promoted from the clean 208/208 three-axis sweep:
    "weighted_topk_sample_es",  # seeded ES-key sampling + top-k
    "sim_ivf_trained_topk",  # iterative k-means centroid partial sums
    "fuzzy_name_clusters",  # iterative pointer-jumping components
    "ols_normal_equations",  # float normal-equation folds
    # round-9 integer-unit migrations (VERDICT r8 #1/#2): every migrated
    # money/tie query joins the pinned set with its migration.
    "q6_forecast_revenue",  # pushdown + 1e-4-unit sum, floor-cents
    "q7_volume_shipping",  # per-group 1e-4-unit sums, floor-cents
    "q8_market_share",  # conditional ratio of exact sums, floor-ppm
    "q9_product_type_profit",  # signed exact 1e-4-unit profit sums
    "q14_promo_revenue_ratio",  # ratio of exact sums, floor-ppm
    "q19_disjunctive_revenue",  # disjunctive pushdown + floor-cents
    "q22_dormant_rich_customers",  # exact integer threshold + cent sums
    "q17_below_avg_quantity",  # cent-sum revenue per brand
    "revenue_mom_growth",  # cent totals + floor-ppm lag ratio
    "winsorized_price_stats",  # floor-cents percentile bounds
    # round-9 tie-audit migrations (floor-ppm/micro outputs):
    "gopher_repetition_signals",
    "bpe_apply_merges",
    "source_overlap_matrix",
    "dedup_keep_best_quality",
    "a2en_feature_assembly",
    # round-9 addition (VERDICT r8 #6): the explicit skew-salting
    # operators certified at the largest fixture — the salted plans must
    # reproduce the UNsalted plans' frames bit-for-bit under every axis.
    "skew_salted_join_revenue",
    "skew_salted_quantity_rollup",
    # round-10 display-idiom migrations + registrations: every changed or
    # newly registered query joins the pinned set with its change (house
    # rule). flagship/q1/q3/q5/q10/winsorized_price_stats were already
    # pinned above and carry their r10 floor-display forms.
    "time_to_convert_stats",  # floor-µs mean/median/p90
    "logreg_newton_lang",  # 3 iterations of 5-stat aggregate folds
    "bootstrap_ci_order_value",  # seeded replicate means + quantiles
    "doc_chunk_overlap",  # map-only chunk grid + substring
    "winsorized_bounds_sketch_certified",  # GK sketch merge + rank verify
    "streaming_session_late_metrics",  # session-state late-drop counts
    "streaming_session_late_sink",  # session evict/restart emission
)


@pytest.mark.parametrize("name, table", _SPLIT_CASES)
def test_query_split_invariance(spark, sf_dir, tmp_path, name, table):
    assert_split_invariance(spark, sf_dir, tmp_path, _SPECS[name].spark, table)


@pytest.mark.parametrize("name", _CONF_CASES)
def test_query_conf_axis_invariance(spark, sf_dir, name):
    assert_conf_axis_invariance(spark, sf_dir, _SPECS[name].spark)


@pytest.fixture(scope="module")
def split_sf_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sf_split"))
    write_split_layout(spark, sf_dir, out, TPCH_TABLES)
    return out


@pytest.mark.parametrize("name", _REPRESENTATIVES)
def test_representative_is_invariant_on_each_axis(spark, sf_dir, split_sf_dir, name):
    """One base frame, three axes, each on its own: every table laid out
    as 4 files; a second shuffle-partition count (AQE re-plans partition
    counts at runtime, so partial-aggregate merge order varies run to run
    on a cluster even with a fixed layout); and AQE flipped (runtime
    coalescing, skew-join splitting and broadcast demotion change merge
    order and join shape). Each must reproduce the frame exactly."""
    query = _SPECS[name].spark

    def frame(data_dir):
        return _canon_frame(query(spark, data_dir).toPandas())

    base = frame(sf_dir)
    alt = {"split": frame(split_sf_dir)}
    for axis, settings in conf_axes(spark).items():
        with session_conf(spark, settings):
            alt[axis] = frame(sf_dir)
    diverged = [axis for axis, other in alt.items() if not base.equals(other)]
    assert not diverged, f"{name}: result depends on {diverged}"
