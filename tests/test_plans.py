"""Physical-plan regression tests — the "designed for 100 TB" assertions.

Correctness says what a query returns; these pin HOW: filters reach the
parquet scan, projections prune columns, dims broadcast, top-k uses
WindowGroupLimit, map-only kernels stay shuffle-free, grouping sets expand
once. A regression here is a performance bug even while results stay right.
"""

from __future__ import annotations

import pytest

from talkinghead_datapipeline_spark.queries import all_queries

_SPECS = all_queries()


def _plan(spark, sf_dir, name: str) -> str:
    df = _SPECS[name].spark(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


# Queries whose plan INTENTIONALLY contains a nested-loop join: each joins
# against a broadcast side of at most a handful of rows (1-row query
# vector, tiny anchor table), where BroadcastNestedLoopJoin IS the right
# plan — a per-row loop over <10 broadcast rows, not an O(n*m) blowup.
_NESTED_LOOP_OK = {
    "sim_brute_cosine_topk",
    "sim_lsh_bucket_topk",
    "emb_near_dup_pairs",  # 1-row broadcast hyperplane-anchor crossJoin
    "zorder_data_skipping",  # 1-row broadcast global-min/max stats row
    "sim_sq8_quant_topk",  # 1-row broadcast codec bounds + query vector
    "tfidf_top_terms",  # 1-row broadcast corpus-size (N) crossJoin
    "bm25_topk_docs",  # 1-row broadcast corpus-stats (N, avgdl, df) crossJoin
    "approx_quantiles_certified",  # 1-row broadcast sketch-result crossJoin
    "bloom_filter_semi_join",  # 1-row broadcast n_probe-aggregate crossJoin
    # (r14: replaced the eager probe.count() job; both sides single rows)
    "isotonic_calibration_lang",  # PAV minimax sj<=sk over the broadcast
    # <=100-row distinct-score frame (score = n_chars % 100) — deliberately
    # non-equi, cardinality-bounded by score cardinality not data size
    "k_anonymity_audit",  # 1-row broadcast grand-total crossJoin onto the
    # <=|quasi-identifier classes| ladder frame
    "mann_kendall_daily_trend",  # calendar-bounded d1<d2 daily pair join
    # (~2.9M pairs at EVERY SF) + 1-row stat crossJoins
    "theil_sen_daily_slope",  # same calendar-bounded pair join
    "seasonal_dow_backtest",  # 1-row grand-mean crossJoin onto the 7-row
    # weekday frame
    "basket_association_rules",  # 1-row order-count crossJoin onto the
    # brand-pair frame (<= C(|brands|, 2) rows)
    "gini_revenue_concentration",  # 1-row (n, s0, s1) stats crossJoin onto
    # the 10-row decile frame
    "kaplan_meier_survival",  # 1-row broadcast sorted-steps-array crossJoin
    # onto the calendar-bounded event-step frame
    "bh_fdr_lang_source",  # 1-row broadcast (nt, kt) totals crossJoin onto
    # the |langs|x|sources| cell frame
    "dbscan_grid_roles",  # 9-row broadcast cell-offset crossJoin fanning
    # each point to its 3x3 probe neighborhood; the candidate joins are
    # equi-joins on cell keys
    "triangle_count_brand_graph",  # 1-row order-count gate crossJoin +
    # 1-row edge/triangle aggregate crossJoins onto the single output row
    "logrank_segment_survival",  # no crossJoin of its own, but the single
    # final-row aggregate can plan as a broadcast nested loop under AQE
    "acf_ljung_box_daily",  # 1-row span/stats broadcast crossJoins onto
    # the calendar-bounded day grid
    "pmi_top_collocations",  # 1-row broadcast (n_bg, n_tok) totals crossJoin
    "source_mixture_manifest",  # 1-row broadcast token-budget crossJoin
    "sim_ivf_probe_topk",
    "sim_ivf_trained_topk",  # nprobe=2 membership probe vs 1-row broadcast
    "sim_pq_adc_topk",  # 1-row broadcast codebook + query crossJoins
    "sim_ivfpq_topk",  # 1-row broadcast codebook/centroids + probe
    "sim_cosine_topk_per_label",
    "q11_important_part_values",  # HAVING-threshold scalar subquery (1 row)
    "q22_dormant_rich_customers",  # avg-balance scalar subquery (1 row)
    "q14_promo_revenue_ratio",
    "q8_market_share",
    "q15_top_supplier",  # max-revenue scalar subquery (1 row)
    "class_balanced_downsample",  # minority-cap scalar aggregate (1 row)
    "weighted_sample_by_length",  # max-length scalar aggregate (1 row)
    "hard_negative_mining",  # one-anchor-per-class broadcast (~10 rows),
    # label != anchor_label is deliberately non-equi
    "dsir_importance_weights",  # 1-row broadcast (t_raw, t_tgt) totals crossJoin
    "rrf_hybrid_topk",  # inherits bm25_scored's 1-row corpus-stats crossJoin
    "group_split_no_leakage",  # 1-row broadcast total + leak-count crossJoins
    "sim_lsh_recall_certified",  # three 1-row count frames crossJoined
    "llm_curation_pipeline",  # inherits DSIR's 1-row totals crossJoin
    "nb_lang_classifier_scores",  # 5-row class totals + 1-row vocab crossJoins
    "temperature_mixture_weights",  # 1-row broadcast totals crossJoin
    "nb_lang_margin",  # inherits the NB score matrix's tiny crossJoins
    "unigram_kl_per_source",  # 1-row broadcast corpus-total crossJoin
    "psi_snapshot_drift",  # 1-row broadcast decile-cuts + totals crossJoins
    "fuzzy_blocking_recall_certified",  # vocabulary-bound a<b cert join
    # + two 1-row count frames crossJoined
    "chi2_lang_source_cells",  # 1-row grand-total crossJoin
    "benford_first_digit",  # 1-row digit-total crossJoin
    "histogram_fixed_width",  # 1-row min/max extent crossJoin
    "frequent_event_trigrams",  # 1-row trigram-total crossJoin
    "bayes_smoothed_part_scores",  # 1-row global-mean crossJoin
    "churn_flags_by_cohort",  # 1-row corpus-clock crossJoin
    "diurnal_activity_profile",  # 1-row hourly-total crossJoin
}


@pytest.mark.parametrize("name", sorted(_SPECS))
def test_no_accidental_nested_loop_or_cartesian(query_builds, name):
    """Global plan-quality net: NO query may plan a CartesianProduct, and
    BroadcastNestedLoopJoin is allowed only where the broadcast side is
    provably tiny (whitelist above). A refactor that drops an equi-join
    key silently degenerates to one of these — at 100 TB that is the
    difference between a join and a job that never finishes."""
    df = query_builds.planned(name)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if name not in _NESTED_LOOP_OK:
        assert (
            "BroadcastNestedLoopJoin" not in plan
        ), f"{name} degenerated to a nested-loop join"


# Queries whose optimized plan INTENTIONALLY carries heavy expressions
# inside a Filter: the condition is a rule gate evaluated directly on the
# scan output and nothing above re-computes the same expressions, so
# there is no duplication to prevent.
_HEAVY_FILTER_OK = {
    "llm_curation_pipeline",  # Gopher gate fused into the scan by design
}

_HEAVY_FILTER_RE = __import__("re").compile(
    r"array_sort\(|transform\(|aggregate\(|zip_with\(|sort_array\("
)


@pytest.mark.parametrize("name", sorted(_SPECS))
def test_no_pushed_filter_reevaluates_heavy_projection(query_builds, name):
    """Global net for the round-7 pushdown pathology: when a query filters
    on a column built from heavy array/HOF expressions, PushDownPredicates
    alias-substitutes the column's WHOLE defining expression into the
    predicate and sinks it below the projection — the chain then runs once
    for the filter and again for the projection (measured 2.9x on
    rolling_mad_anomalies, 1.9x on minhash_signatures, 1.4-1.9x across the
    dedup family at sf0.1). The fix is catalog.pushdown_barrier (a
    CollectMetrics node predicates cannot cross). This test flags any
    OPTIMIZED plan whose Filter condition carries a large substituted HOF
    chain, so the pathology cannot silently return with a new query or a
    Catalyst upgrade."""
    df = query_builds.planned(name)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    offenders = [
        line.strip()[:120]
        for line in plan.splitlines()
        if "Filter " in line
        and len(line) > 400
        and _HEAVY_FILTER_RE.search(line)
    ]
    if name not in _HEAVY_FILTER_OK:
        assert not offenders, (
            f"{name}: pushed filter re-evaluates a heavy projection "
            f"(wrap the projection in catalog.pushdown_barrier): {offenders}"
        )


@pytest.mark.parametrize(
    "whitelist", [_NESTED_LOOP_OK, _HEAVY_FILTER_OK], ids=["nested_loop", "heavy_filter"]
)
def test_nested_loop_whitelist_names_registered_queries(whitelist):
    """Every exemption names a query the plan nets actually run."""
    assert whitelist <= set(_SPECS), sorted(whitelist - set(_SPECS))


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    assert "PushedFilters: [" in plan
    # The toString truncates the filter list; the shipdate bound is first.
    assert "GreaterThanOrEqual(l_shipda" in plan
    assert "isnotnull(l_quantity" in plan  # DataFilters carry the full set


def test_q6_column_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    # ReadSchema must not include unused wide columns.
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" in read and "l_discount" in read
    assert "l_returnflag" not in read and "l_tax" not in read


def test_q14_broadcasts_dimension(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q14_promo_revenue_ratio")
    assert "BroadcastHashJoin" in plan


def test_flagship_topk_uses_window_group_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "flagship_segment_leaders")
    assert "WindowGroupLimit" in plan  # rank<=5 pushed below the sort


def test_n10_kernel_chain_is_map_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "n10_bbox_transform_chain")
    assert "Exchange" not in plan  # zero shuffles: scan + project only
    assert plan.lstrip().startswith("*(1)")  # '*' = whole-stage codegen


def test_grouping_sets_single_expand(spark, sf_dir):
    plan = _plan(spark, sf_dir, "grouping_sets_order_stats")
    assert plan.count("Expand") >= 1
    assert plan.count("Scan parquet") == 1  # one pass, not one per grain


def test_emb_covariance_is_join_free(spark, sf_dir):
    """VERDICT r6 #7 done-criterion: X^T X comes from per-partition partial
    outer products (mapInPandas), NOT a vec-keyed self-join — the only
    exchange is 2080 partial rows onto the (i, j) agg keys."""
    plan = _plan(spark, sf_dir, "emb_covariance_upper")
    assert "Join" not in plan  # no SortMergeJoin/BroadcastHashJoin at all
    assert "MapInPandas" in plan
    assert plan.count("Exchange") == 1  # the (i, j) partial-combine only
    assert "vec_id" not in plan  # nothing keys or shuffles on the vector id
    assert plan.count("Scan parquet") == 1  # single data pass feeds the grams


def test_q1_is_two_exchange_partial_agg(spark, sf_dir):
    """r8 money migration guard: the integer-units rewrite must stay a
    plain partial/final hash agg — one shuffle on the 2 group keys plus
    the result-collection exchange, no join, filter still pushed."""
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_q3_q10_topk_avoid_global_sort(spark, sf_dir):
    """Global top-k must be TakeOrderedAndProject (per-partition heaps +
    driver merge), never a full Sort materialization — the difference
    between a bounded result and sorting the joined fact table at scale.
    Pinned through the r8 integer-cents migration: the rank key changed
    expression but must not change the selection strategy."""
    for name in ("q3_top_revenue_orders", "q10_returned_item_customers"):
        plan = _plan(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, name


def test_q4_semi_join_not_inner(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q4_priority_order_counts")
    assert "LeftSemi" in plan


def test_q22_anti_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q22_dormant_rich_customers")
    assert "LeftAnti" in plan


def test_minhash_pairs_shuffle_carries_keys_not_shingles(spark, sf_dir):
    # The band self-join must move (band, key) rows only; shingle arrays
    # rejoin after pair dedup.
    from pyspark.sql import functions as F

    from talkinghead_datapipeline_spark.catalog import load_table
    from talkinghead_datapipeline_spark.operators.dedup import (
        minhash_candidate_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        minhash_candidate_pairs(docs, "doc_id", "text")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # The distinct over candidate pairs must project only the two keys.
    assert "Deduplicate [key_a" in plan.replace("#", " #").replace(
        "key_a #", "key_a"
    ) or "key_a" in plan


def test_stratified_exact_sample_matches_window_rank(spark):
    """Distributed selection == window-rank definition, fuzzed: random
    strata/sizes, n_buckets=8 so most strata hit the pivot path; also
    fraction=1.0 (keep everything) and 1-row strata."""
    import pandas as pd

    from pyspark.sql import functions as F

    from talkinghead_datapipeline_spark.functions.portable import md5_hash
    from talkinghead_datapipeline_spark.operators.sampling import (
        stratified_exact_sample,
    )

    rng = __import__("numpy").random.default_rng(11)
    n = 3000
    pdf = pd.DataFrame(
        {
            "k": range(n),
            "g": rng.choice(["a", "b", "c", "tiny"], p=[0.5, 0.3, 0.199, 0.001], size=n),
        }
    )
    df = spark.createDataFrame(pdf)
    h = md5_hash(F.concat(F.lit("t|"), F.col("k").cast("string")), 8)

    import hashlib

    def py_hash(k):
        return int(hashlib.md5(f"t|{k}".encode()).hexdigest()[:8], 16)

    pdf["h"] = pdf["k"].map(py_hash)
    for frac in (0.25, 1.0):
        got = {
            r["k"]
            for r in stratified_exact_sample(
                df, "g", "k", h, fraction=frac, n_buckets=8
            ).collect()
        }
        want = set()
        for g, grp in pdf.groupby("g"):
            kk = -(-len(grp) * frac).__floor__() if frac != 1.0 else len(grp)
            import math

            kk = math.ceil(len(grp) * frac)
            want |= set(grp.sort_values(["h", "k"]).head(kk)["k"])
        assert got == want, f"fraction={frac}"


def test_range_join_is_equi_not_nested_loop(spark, sf_dir):
    # The binned range join must plan to a hash/sort-merge equi-join on
    # (user_id, bin); a raw non-equi join would degenerate to
    # BroadcastNestedLoopJoin (O(n*m)).
    plan = _plan(spark, sf_dir, "range_interval_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_mega_bucket_star_expansion(spark):
    """A 10k-member duplicate cluster (every member shares every band) must
    expand in O(c) star pairs under max_bucket, and the composed
    dedup_edge_graph must collapse it BEFORE banding — no single-task
    O(c²) stage anywhere (VERDICT r1 #4)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from talkinghead_datapipeline_spark.operators.components import (
        connected_components,
    )
    from talkinghead_datapipeline_spark.operators.dedup import (
        dedup_edge_graph,
        minhash_candidate_pairs,
    )

    n = 10_000
    text = "the same boilerplate paragraph repeated across the whole corpus"
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(n)), "text": [text] * n})
    )
    pairs = minhash_candidate_pairs(docs, "doc_id", "text", max_bucket=64)
    # star pairs to the bucket minimum from EVERY oversized band (both bands
    # here — identical docs share all bands); connectivity-only, flagged.
    assert pairs.filter(~F.col("star")).count() == 0
    assert pairs.count() == 2 * (n - 1)
    assert pairs.select("key_a", "key_b").distinct().count() == n - 1
    assert pairs.filter(F.col("key_a") == 0).count() == 2 * (n - 1)
    # composed form: exact-dedup pre-pass leaves ONE representative, so the
    # LSH stage sees no bucket at all — just (rep, member) edges.
    edges = dedup_edge_graph(docs, "doc_id", "text")
    assert edges.count() == n - 1
    comps = connected_components(edges)
    assert comps.count() == n
    assert comps.agg(F.countDistinct("comp")).collect()[0][0] == 1


def test_connected_components_chain_and_nonconvergence(spark):
    """Pointer jumping collapses a length-64 chain within the default
    round budget; an impossible round budget raises instead of returning
    silently-wrong labels (ADVICE r1)."""
    import pandas as pd
    import pytest as _pytest

    from talkinghead_datapipeline_spark.operators.components import (
        connected_components,
    )

    chain = pd.DataFrame({"key_a": list(range(63)), "key_b": list(range(1, 64))})
    edges = spark.createDataFrame(chain)
    comps = connected_components(edges, max_iter=10)  # needs ~log2(64) rounds
    got = {r["id"]: r["comp"] for r in comps.collect()}
    assert got == {i: 0 for i in range(64)}
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1)


@pytest.mark.parametrize(
    "name",
    ["sim_brute_cosine_topk", "q3_top_revenue_orders", "q10_returned_item_customers"],
)
def test_topk_uses_take_ordered(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "TakeOrderedAndProject" in plan  # no global sort materialization


def test_split_assignment_is_map_only(spark, sf_dir):
    # Hash-bucket splits must stay a pure projection: no Exchange at any
    # scale, so the pass parallelizes linearly with input splits.
    plan = _plan(spark, sf_dir, "split_train_val_test")
    assert "Exchange" not in plan


def test_pack_token_budget_single_shuffle(spark, sf_dir):
    # Packing shards by hash so ONE exchange (on source, shard) feeds both
    # window functions; rank and running sum must share the sort.
    plan = _plan(spark, sf_dir, "pack_token_budget")
    assert plan.count("Exchange") == 1
    assert plan.count("Sort") == 1


def test_table_profile_single_scan(spark, sf_dir):
    # All per-column metrics aggregate in one parquet pass (Expand-based
    # multi-distinct), never one scan per column like the oracle's UNION.
    plan = _plan(spark, sf_dir, "table_profile_orders")
    assert plan.count("Scan parquet") == 1


def _minhash_sig_py(text: str) -> tuple[int, ...]:
    """Python mirror of the engine's minhash signature (md5-based, exact)."""
    import hashlib
    import re

    from talkinghead_datapipeline_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
    )

    toks = re.split(r"\s+", text.lower())
    shingles = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    hs = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in shingles]
    return tuple(
        min((a * h + b) % MINHASH_P for h in hs)
        for a, b in zip(MINHASH_A, MINHASH_B)
    )


def test_oversized_bucket_keeps_cluster_connected(spark):
    """ADVICE r2 (medium) / VERDICT r4 #3: in the capped star-expansion path,
    a bucket member whose jaccard to the bucket MINIMUM is below the
    caller's threshold must not lose all its edges — star edges are
    connectivity-only (exempt from both first-band suppression and the
    similarity verify), so the cluster stays one component.

    Deterministic fixture: the minhash is pure md5 arithmetic, so we mirror
    it in Python and KEEP only tails that leave every permutation minimum
    unchanged — all docs then provably share all bands (no skip-on-miss),
    while distinct tails keep texts non-identical (they survive the exact
    pre-pass) with pairwise jaccard < 0.99."""
    import pandas as pd
    from pyspark.sql import functions as F

    from talkinghead_datapipeline_spark.operators.components import (
        connected_components,
    )
    from talkinghead_datapipeline_spark.operators.dedup import (
        dedup_edge_graph,
        minhash_candidate_pairs,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4).strip()
    base_sig = _minhash_sig_py(base)
    texts = [base]
    for i in range(2000):
        cand = f"{base} qq{i} ww{i} ee{i}"
        if _minhash_sig_py(cand) == base_sig:
            texts.append(cand)
        if len(texts) >= 16:
            break
    # The tail-selection loop is deterministic; if md5 behavior ever drifts
    # this assert fails loudly instead of the old silent skip.
    assert len(texts) >= 16, "could not assemble colliding fixture texts"
    n = len(texts)
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(n)), "text": texts})
    )
    # Precondition, hard-asserted (ADVICE r4): the fixture actually exercises
    # the oversized-bucket star path.
    pairs = minhash_candidate_pairs(docs, "doc_id", "text", max_bucket=8)
    assert pairs.filter(F.col("star")).count() > 0, "fixture produced no star rows"
    assert pairs.filter(~F.col("star")).count() == 0  # every bucket oversized
    edges = dedup_edge_graph(docs, "doc_id", "text", jaccard_min=0.99, max_bucket=8)
    # jaccard_min=0.99 rejects every verified pair (pairwise jaccard ≈ 0.9)
    # — only star edges remain; without the star exemption the edge list
    # would be EMPTY and the cluster would shatter. An empty edge list IS
    # the regression: hard-fail, never skip.
    assert edges.count() > 0, "star edges were re-filtered by jaccard_min"
    comps = connected_components(edges)
    assert comps.count() == n
    assert comps.agg(F.countDistinct("comp")).collect()[0][0] == 1


@pytest.mark.parametrize(
    "name,band_key",
    [("ngram_jaccard_near_dups", "_bval_a"), ("emb_near_dup_pairs", "_bval_a")],
)
def test_near_dup_tiers_join_on_band_not_block(spark, sf_dir, name, band_key):
    """VERDICT r3 #7: the blocked-exact near-dup tiers must join on the LSH
    band value, not the block key alone — a block-wide self-join makes the
    candidate set scale with block-population² at 100 TB."""
    df = _SPECS[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # the band value participates in an equi-join key
    assert band_key in plan, f"{name}: band value not in the optimized plan"
    joins = [ln for ln in plan.splitlines() if "Join" in ln]
    assert any(band_key in ln for ln in joins), (
        f"{name}: join does not key on the band value — block-wide self-join"
    )


def test_ivf_oracle_fallback_references_previous_iteration():
    """ADVICE r4 (medium): the oracle's empty-cell fallback in cent{it} must
    CROSS JOIN the PREVIOUS iteration's centroids (cent1 for cent2), not the
    cent0 seeds — Spark's _ivf_lloyd_step coalesces an empty cell to the
    previous iteration's centroid, and a cluster that empties in iteration 2
    after moving in iteration 1 would silently diverge otherwise."""
    from talkinghead_datapipeline_spark.queries.similarity import (
        _ivf_train_sql_ctes,
    )

    ctes = _ivf_train_sql_ctes()
    cent2 = ctes.split("cent2 AS (")[1]
    assert "CROSS JOIN cent1 c" in cent2
    assert "CROSS JOIN cent0 c" not in cent2


def test_ivf_lloyd_step_empty_cell_keeps_previous_centroid(spark):
    """Pin the Spark-side semantics the oracle must mirror: a cell with no
    assigned vectors keeps the centroid it ENTERED the iteration with."""
    import pandas as pd

    from talkinghead_datapipeline_spark.queries.similarity import _ivf_lloyd_step

    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [0, 1],
                "label": ["a", "a"],
                "embedding": [[1.0, 0.2], [1.0, -0.2]],
            }
        )
    )
    cent = spark.createDataFrame(
        pd.DataFrame({"cents": [[[1.0, 0.0], [0.25, 0.75]]]})
    )
    [row] = _ivf_lloyd_step(emb, cent).collect()
    got = [list(c) for c in row["cents"]]
    # cell 1 re-centers to the member mean; empty cell 2 keeps (0.25, 0.75) —
    # the PREVIOUS iteration's centroid, not any seed.
    assert got == [[1.0, 0.0], [0.25, 0.75]]


def test_ivf_driver_side_loop_matches_lloyd_step(spark):
    """The r14 driver-side training loop (collect ≤k cell means, coalesce
    empty cells in Python, re-inject as a literal frame) must produce the
    SAME next-iteration centroids as the all-in-plan _ivf_lloyd_step,
    including the empty-cell fallback."""
    import pandas as pd

    from talkinghead_datapipeline_spark.queries.similarity import (
        _cents_lit_frame,
        _ivf_cell_means,
        _ivf_lloyd_step,
    )

    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [0, 1, 2],
                "label": ["a", "a", "b"],
                "embedding": [[1.0, 0.2], [1.0, -0.2], [0.9, 0.1]],
            }
        )
    )
    cents_vals = [[1.0, 0.0], [0.25, 0.75]]
    cent = _cents_lit_frame(spark, cents_vals)
    [row] = _ivf_lloyd_step(emb, cent).collect()
    expect = [[float(x) for x in c] for c in row["cents"]]
    means = {
        r["cluster"]: [float(x) for x in r["cvec"]]
        for r in _ivf_cell_means(emb, cent).collect()
    }
    got = [means.get(k + 1, cents_vals[k]) for k in range(len(cents_vals))]
    assert got == expect
    # the literal frame round-trips those exact doubles
    [lit_row] = _cents_lit_frame(spark, got).collect()
    assert [[float(x) for x in c] for c in lit_row["cents"]] == got


def test_ngram_exact_pairs_prefix_filter_is_exact(spark):
    """Prefix filtering must lose NOTHING: on a fuzzed corpus the
    prefix-join listing equals the naive all-pairs-in-block listing, and
    each qualifying pair is emitted exactly once (no DISTINCT in the
    plan to hide duplicates)."""
    import itertools

    import pandas as pd
    from pyspark.sql import functions as F

    from talkinghead_datapipeline_spark.queries import all_queries

    rng = __import__("numpy").random.default_rng(5)
    words = ["lorem", "ipsum", "dolor", "sit", "amet", "consectetur"]
    texts = []
    base = " ".join(rng.choice(words, size=12))
    for i in range(30):
        # clusters of near-identical texts + singletons
        if i % 3 == 0:
            texts.append(base + f" tail{i % 2}")
        else:
            texts.append(" ".join(rng.choice(words, size=10)) + f" unique {i}")
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "lang": ["en"] * len(texts),
            "text": texts,
            "n_chars": [len(t) for t in texts],
        }
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(pdf).write.parquet(f"{d}/documents.parquet")
        got_df = all_queries()["ngram_jaccard_exact_pairs"].spark(spark, d)
        rows = got_df.collect()
        got = {(r["key_a"], r["key_b"]): r["jaccard"] for r in rows}
        assert len(rows) == len(got), "pair emitted more than once"

    # naive reference in python
    def grams(t):
        low = t.lower()
        return {low[i : i + 3] for i in range(len(low) - 2)}

    want = {}
    blk = {i: len(t) // 25 for i, t in enumerate(texts)}
    for a_i, b_i in itertools.combinations(range(len(texts)), 2):
        if blk[a_i] != blk[b_i]:
            continue
        ga, gb = grams(texts[a_i]), grams(texts[b_i])
        if not ga or not gb:
            continue
        j = len(ga & gb) / len(ga | gb)
        if round(j, 6) >= 0.8:
            want[(a_i, b_i)] = round(j, 6)
    assert got == want


def test_ngram_exact_pairs_superset_of_lsh(spark, sf_dir):
    """The exact listing must contain every pair the LSH-recall listing
    emits (banding only loses pairs, never invents them)."""
    from talkinghead_datapipeline_spark.queries import all_queries

    qs = all_queries()
    exact = {
        (r["key_a"], r["key_b"])
        for r in qs["ngram_jaccard_exact_pairs"].spark(spark, sf_dir).collect()
    }
    lsh = {
        (r["key_a"], r["key_b"])
        for r in qs["ngram_jaccard_near_dups"].spark(spark, sf_dir).collect()
    }
    assert lsh <= exact
    assert len(exact) >= len(lsh)


def test_pii_redact_is_map_only(spark, sf_dir):
    # Anonymization is a pure projection: no Exchange at any scale.
    plan = _plan(spark, sf_dir, "pii_redact_stats")
    assert "Exchange" not in plan
    assert plan.count("Scan parquet") == 1


def test_paragraph_dedup_two_uniform_shuffles(spark, sf_dir):
    # Shape pin: paragraph digest window + doc_id reassembly — exactly two
    # exchanges, both on uniform keys (md5 digest / doc_id), no join.
    plan = _plan(spark, sf_dir, "paragraph_dedup_stats")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan


def test_gopher_signals_single_gram_pass(spark, sf_dir):
    # Both repetition reductions must come from ONE gram-count subplan:
    # two scans total (gram branch + doc spine), never one per signal.
    plan = _plan(spark, sf_dir, "gopher_repetition_signals")
    assert plan.count("Scan parquet") == 2
    assert plan.count("Exchange hashpartitioning") == 2


def test_pq_encode_and_probe_never_shuffle_corpus(spark, sf_dir):
    # Product quantization: encode runs against a BROADCAST codebook and
    # the ADC probe is a projection + driver-side top-k — no operator in
    # the plan REQUIRES a corpus shuffle (no hashpartitioning exchange).
    # The one RoundRobin exchange is the opt-in single-file fixture
    # rebalance (REPARTITION_BY_NUM), a no-op on many-split inputs.
    for name in ("sim_pq_adc_topk", "sim_ivfpq_topk"):
        plan = _plan(spark, sf_dir, name)
        assert "Exchange hashpartitioning" not in plan, name
        assert "ENSURE_REQUIREMENTS" not in plan.replace(
            "Exchange SinglePartition, ENSURE_REQUIREMENTS", ""
        ), name  # only the 1-row broadcast-prep singletons remain
        assert "TakeOrderedAndProject" in plan, name


def test_doc_grain_text_queries_single_keyed_exchange(spark, sf_dir):
    # rebalance_for_compute(docs, "doc_id"): the ONLY hash exchanges in the
    # doc-grain text plans are the explicit doc_id repartitions — every
    # downstream groupBy/join reuses that partitioning (Catalyst elides
    # its exchange), so tokens shuffle once, exploded gram rows never.
    for name in (
        "gopher_dup_line_signals",
        "gopher_dup_trigram_coverage",
        "gopher_repetition_signals",
    ):
        plan = _plan(spark, sf_dir, name)
        n_hash = plan.count("Exchange hashpartitioning")
        n_explicit = plan.count("REPARTITION_BY_NUM")
        assert n_hash == n_explicit, (
            f"{name}: {n_hash} hash exchanges vs {n_explicit} explicit "
            "repartitions — an agg/join shuffle leaked back in"
        )


def test_ngram_exact_join_reuses_persisted_grams(spark, sf_dir):
    # The slim-join restructure: gram arrays live in ONE persisted
    # projection consumed four times (both sides of the candidate
    # self-join + both verify rejoin sides); losing the InMemoryRelation
    # re-hashes every gram md5 per use (measured 17% slower at sf0.1).
    # (an InMemoryRelation's toString embeds its child FileScan, so raw
    # FileScan counts are not meaningful here — the cache-scan count is)
    plan = _plan(spark, sf_dir, "ngram_jaccard_exact_pairs")
    assert plan.count("InMemoryTableScan") == 4


def test_tfidf_topk_uses_window_group_limit(spark, sf_dir):
    """The per-doc top-3 must run as WindowGroupLimit (partial top-k before
    the final shuffle), never a full per-doc sort of every (doc, term)."""
    assert "WindowGroupLimit" in _plan(spark, sf_dir, "tfidf_top_terms")


def test_scd2_single_exchange(spark, sf_dir):
    """SCD-2 is one window pass: exactly one Exchange (the user_id hash
    partitioning) — a second would mean the lead/row_number windows split."""
    plan = _plan(spark, sf_dir, "scd2_user_value_intervals")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_range_frame_single_exchange(spark, sf_dir):
    """The event-time RANGE frame is the same single-exchange shape as any
    per-key window: one user_id hash partitioning, both aggs in one pass."""
    plan = _plan(spark, sf_dir, "range_frame_trailing_30min")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_weighted_es_sample_is_map_only_topk(spark, sf_dir):
    """Efraimidis-Spirakis selection must be map-only + TakeOrdered: a
    shuffle or global sort would defeat the reservoir's merge property."""
    plan = _plan(spark, sf_dir, "weighted_topk_sample_es")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan


def test_entropy_single_shuffle(spark, sf_dir):
    """The keyed doc_id rebalance must satisfy BOTH the (doc, tok) count
    and the per-doc window/rollup: one hash exchange total."""
    plan = _plan(spark, sf_dir, "text_unigram_entropy")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_bm25_map_only_with_broadcast_stats(spark, sf_dir):
    """BM25 must score map-side against the broadcast 1-row corpus stats
    and pick the top-10 via TakeOrderedAndProject — no document-keyed
    shuffle anywhere (the only exchanges are the stats fold's
    SinglePartition + its broadcast)."""
    plan = _plan(spark, sf_dir, "bm25_topk_docs")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_substring_dup_coverage_wordcount_shape(spark, sf_dir):
    """ExactSubstr coverage: gram occurrences shuffle on the 32-bit gram
    hash (count + join back), coverage unions shuffle on doc_id — hash
    exchanges stay bounded (no quadratic pair join, no BNLJ)."""
    plan = _plan(spark, sf_dir, "substring_dup_coverage")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ewma_single_exchange(spark, sf_dir):
    """All 24 EWMA lags must share ONE window sort: one user_id hash
    exchange, one Window operator."""
    plan = _plan(spark, sf_dir, "ewma_user_values")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") == 1, plan


def test_ohlc_single_aggregate_no_window(spark, sf_dir):
    """OHLC bars are ONE hash aggregate (partial+final over the bar key):
    no Window, no self-join back to per-bar extremes."""
    plan = _plan(spark, sf_dir, "ohlc_6h_bars")
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_triangle_and_cf_broadcast_small_sides(spark, sf_dir):
    """Support-thresholded co-occurrence keeps |E| dim-sized, so the
    closing-edge / item-total joins must all be broadcast (no SMJ of the
    cached edge frame against itself)."""
    for name in ("triangle_count_copart", "item_cf_top_recs"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "InMemoryTableScan" in plan, name  # persist_once edge reuse


def test_no_row_at_a_time_python_udfs():
    """Source-level invariant the per-round reviews have grep-verified by
    hand since r2, now pinned: no `F.udf(` / `@udf` row-at-a-time Python
    UDFs anywhere in the package — Python in the hot path is always
    Arrow-batched (pandas_udf / mapInPandas / applyInPandas[WithState]).
    BatchEvalPython in a plan would mean per-row Python round trips."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / (
        "talkinghead_datapipeline_spark"
    )
    pat = re.compile(r"(?<!pandas_)\budf\s*\(|@udf\b|functions\.udf\b")
    hits = []
    for f in pkg.rglob("*.py"):
        for i, line in enumerate(f.read_text().splitlines(), 1):
            if pat.search(line) and "pandas_udf" not in line:
                hits.append(f"{f.name}:{i}: {line.strip()}")
    assert not hits, f"row-at-a-time Python UDFs found: {hits}"


def test_gopher_filter_is_map_only(spark, sf_dir):
    """The Gopher rule battery is pure column expressions over the token
    array: the plan must contain NO exchange of any kind — the decision
    inlines into the corpus scan."""
    plan = _plan(spark, sf_dir, "gopher_quality_filter")
    assert "Exchange" not in plan, plan


def test_dsir_model_joins_are_broadcast(spark, sf_dir):
    """The DSIR bucket model is at most 64 rows: both the tgt/raw count
    merge and the model join back onto the feature stream must broadcast
    (an SMJ would shuffle the full token stream on a 64-value key)."""
    plan = _plan(spark, sf_dir, "dsir_importance_weights")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_zipf_topk_uses_window_group_limit(spark, sf_dir):
    """The per-lang top-100 rank filter must run as WindowGroupLimit
    (partial top-k per partition), never a full vocabulary sort."""
    assert "WindowGroupLimit" in _plan(spark, sf_dir, "zipf_slope_per_lang")


def test_hard_negative_topk_uses_window_group_limit(spark, sf_dir):
    """Anchor scoring is map-only against the ~10-row broadcast anchor
    table; the per-anchor top-5 must be WindowGroupLimit and the corpus
    side must never hit a CartesianProduct."""
    plan = _plan(spark, sf_dir, "hard_negative_mining")
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rrf_cutoffs_are_partial_topk(spark, sf_dir):
    """Both ranker cutoffs and the fused top-10 must be
    TakeOrderedAndProject (partial per-partition top-k); the rank windows
    then run on driver-sized 20-row frames."""
    plan = _plan(spark, sf_dir, "rrf_hybrid_topk")
    assert plan.count("TakeOrderedAndProject") >= 2, plan


def test_semdedup_pairwise_stays_within_cluster(spark, sf_dir):
    """SemDeDup's quadratic pass must be keyed on the cluster id (equi
    join on label) — no CartesianProduct / BNLJ corpus blowup."""
    plan = _plan(spark, sf_dir, "semdedup_prune_stats")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_keyword_tags_is_map_only(spark, sf_dir):
    """Taxonomy tagging is pure column expressions (tokenize + per-domain
    filter + CASE argmax): the plan must contain NO exchange — tagging
    happens at scan speed inside one codegen stage."""
    plan = _plan(spark, sf_dir, "keyword_domain_tags")
    assert "Exchange" not in plan, plan


def test_fuzzy_match_blocking_is_equi_join(spark, sf_dir):
    """Both blocking passes must plan as broadcast EQUI joins on the block
    key over the distinct-name frame — a dropped key degenerates the
    linkage to all-pairs (CartesianProduct), the exact blowup blocking
    exists to prevent."""
    plan = _plan(spark, sf_dir, "fuzzy_part_match_pairs")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_nb_model_join_is_broadcast(spark, sf_dir):
    """The NB model is vocabulary x classes rows: its join back onto the
    per-(doc, word) count frame must broadcast (an SMJ would shuffle the
    whole count frame on a 31-value word key)."""
    plan = _plan(spark, sf_dir, "nb_lang_classifier_scores")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_zscore_single_exchange(spark, sf_dir):
    """Trailing z-score is one user-keyed window: exactly ONE exchange and
    one scan — the whole detector rides a single hash shuffle."""
    plan = _plan(spark, sf_dir, "trailing_zscore_anomalies")
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_rfm_single_scan(spark, sf_dir):
    """RFM reads events once; the three ntiles run over the REDUCED
    per-user frame (one user agg + one single-partition hop), never over
    raw events."""
    plan = _plan(spark, sf_dir, "rfm_segments")
    assert plan.count("Scan parquet") == 1, plan


def test_dataset_cards_single_scan(spark, sf_dir):
    """The per-source datasheet is ONE aggregation pass: a second scan
    would mean a stat was computed by re-reading the corpus."""
    plan = _plan(spark, sf_dir, "dataset_card_stats")
    assert plan.count("Scan parquet") == 1, plan


def test_knn_topk_uses_window_group_limit(spark, sf_dir):
    """The per-src top-5 must prune partially per partition
    (WindowGroupLimit below the rank sort), and the cluster-keyed pair
    join must never degenerate to a cartesian."""
    plan = _plan(spark, sf_dir, "knn_mutual_edges")
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
