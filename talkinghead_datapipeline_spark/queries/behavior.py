"""User-behavior analytics (north-star extensions; the reference has no
analogue): RFM segmentation, trailing-window anomaly detection, an
experimentation z-test, and a mutual-kNN graph over embeddings.

Cross-engine conventions follow queries/__init__.py. Two extra rules this
module leans on:
- ntile/rank inputs are ROUNDED FIRST (then id-tiebroken) so a per-user
  double accumulation can never reorder the tile sort between engines;
- window statistics are explicit sum/sum-of-squares forms, not
  stddev_samp — both engines then run plain sequential sums over the same
  frame order instead of engine-specific moment recurrences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from talkinghead_datapipeline_spark.catalog import load_table, persist_once
from talkinghead_datapipeline_spark.functions.portable import cosine_sql, dot_expr
from talkinghead_datapipeline_spark.queries import register

# ---------------------------------------------------------------------------
# RFM segmentation — the classic customer-value grid: quintile each user's
# Recency / Frequency / Monetary over purchase events, roll up the segments.
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
    WITH per_user AS (
      SELECT user_id,
             max(epoch_us(ts)) AS last_us,
             CAST(count(*) AS BIGINT) AS freq,
             round(sum(value), 2) AS monetary
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ),
    tiled AS (
      SELECT user_id, monetary,
             ntile(5) OVER (ORDER BY last_us DESC, user_id) AS r_tile,
             ntile(5) OVER (ORDER BY freq DESC, user_id) AS f_tile,
             ntile(5) OVER (ORDER BY monetary DESC, user_id) AS m_tile
      FROM per_user
    )
    SELECT CAST(r_tile AS BIGINT) AS r_tile,
           CAST(f_tile AS BIGINT) AS f_tile,
           CAST(m_tile AS BIGINT) AS m_tile,
           CAST(count(*) AS BIGINT) AS n_users,
           round(sum(monetary), 2) AS segment_value
    FROM tiled
    GROUP BY r_tile, f_tile, m_tile
"""


@register("rfm_segments", oracle=_RFM_ORACLE)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM user segmentation: per purchasing user, recency (last purchase
    time), frequency (purchase count) and monetary (summed value) are
    quintiled with ntile(5) — tile 1 = best — and the 5x5x5 segment grid
    rolls up user counts and value. The marketing-analytics workhorse.

    Determinism: ntile assigns by row position, so each sort carries a
    full tiebreak (metric, user_id); monetary is rounded to cents BEFORE
    the sort so per-user double-sum accumulation order can never flip two
    engines' tile boundaries.

    Scale: one user-keyed aggregation (map-side combinable) reduces the
    event stream to |users| rows; the three ntiles are single-partition
    windows over that REDUCED frame — the one intentionally non-scalable
    hop, shared with equi_depth_deciles: at 100 TB you'd swap ntile for
    approx-quantile boundaries (approx_quantiles_certified is that
    operator) and keep this exact form for certification. The rollup is a
    125-cell agg."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    per_user = ev.groupBy("user_id").agg(
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.round(F.sum("value"), 2).alias("monetary"),
    )
    tiled = per_user.select(
        "monetary",
        F.ntile(5).over(W.orderBy(F.desc("last_us"), "user_id")).alias("r_tile"),
        F.ntile(5).over(W.orderBy(F.desc("freq"), "user_id")).alias("f_tile"),
        F.ntile(5).over(W.orderBy(F.desc("monetary"), "user_id")).alias("m_tile"),
    )
    return tiled.groupBy("r_tile", "f_tile", "m_tile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.round(F.sum("monetary"), 2).alias("segment_value"),
    ).select(
        F.col("r_tile").cast("bigint").alias("r_tile"),
        F.col("f_tile").cast("bigint").alias("f_tile"),
        F.col("m_tile").cast("bigint").alias("m_tile"),
        "n_users",
        "segment_value",
    )


# ---------------------------------------------------------------------------
# Trailing-window z-score anomalies — monitoring-grade outlier detection:
# each event scored against its user's previous 10 values.
# ---------------------------------------------------------------------------

_ZS_WIN = 10
_ZS_MIN_STD = 0.01  # degenerate-frame guard (also kills cancellation noise)

_ZSCORE_ORACLE = f"""
    WITH framed AS (
      SELECT event_id, user_id, value,
             count(*) OVER w AS n_prev,
             sum(value) OVER w AS s1,
             sum(value * value) OVER w AS s2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN {_ZS_WIN} PRECEDING AND 1 PRECEDING)
    ),
    scored AS (
      SELECT event_id, user_id, value,
             s1 / n_prev AS mean_prev,
             sqrt(greatest((s2 - s1 * s1 / n_prev) / (n_prev - 1), 0.0)) AS std_prev
      FROM framed WHERE n_prev = {_ZS_WIN}
    )
    SELECT event_id, user_id, round(value, 2) AS value,
           round((value - mean_prev) / std_prev, 6) AS zscore
    FROM scored
    WHERE std_prev > {_ZS_MIN_STD}
      AND abs(round((value - mean_prev) / std_prev, 6)) >= 2.0
"""


@register("trailing_zscore_anomalies", oracle=_ZSCORE_ORACLE)
def trailing_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing z-score anomaly flags: each event's value scored
    against the mean/std of that user's previous 10 values (full frames
    only); |z| >= 2 rows surface. The structure every metrics-monitoring
    pipeline runs; the streaming analogue is a stateful window over the
    same frame arithmetic.

    Determinism: the frame statistics are explicit sum / sum-of-squares
    (NOT stddev_samp, whose moment recurrence differs between engines) so
    both engines fold the same 10 doubles in the same frame order; the
    anomaly cut compares the ROUNDED z on both sides so a last-ULP
    difference at the |z|=2 boundary cannot flip a row in or out.

    Scale: one user-keyed window — a single hash shuffle, then pure
    per-partition frame arithmetic; no self-joins, no collects. Skewed
    users are bounded by per-user event counts (the sessionize family
    shares this shape and its salting note)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(-_ZS_WIN, -1)
    )
    framed = ev.select(
        "event_id",
        "user_id",
        "value",
        F.count(F.lit(1)).over(w).alias("n_prev"),
        F.sum("value").over(w).alias("s1"),
        F.sum(F.col("value") * F.col("value")).over(w).alias("s2"),
    ).filter(F.col("n_prev") == _ZS_WIN)
    mean_prev = F.col("s1") / F.col("n_prev")
    var = F.greatest(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_prev"))
        / (F.col("n_prev") - 1),
        F.lit(0.0),
    )
    z = F.round((F.col("value") - mean_prev) / F.sqrt(var), 6)
    return (
        framed.withColumn("_std", F.sqrt(var))
        .filter((F.col("_std") > _ZS_MIN_STD) & (F.abs(z) >= 2.0))
        .select(
            "event_id",
            "user_id",
            F.round("value", 2).alias("value"),
            z.alias("zscore"),
        )
    )


# ---------------------------------------------------------------------------
# Experimentation: two-proportion z-test between user cohorts — the A/B
# readout every event pipeline feeds.
# ---------------------------------------------------------------------------

_AB_CONV_MIN = 14  # "heavy buyer": >= 14 purchases (~corpus mean 13.4) —
# every-user-converts saturation at >= 1 made the pooled variance 0

_AB_ORACLE = f"""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS cohort,
             count(*) FILTER (event_type = 'purchase') AS np
      FROM events GROUP BY user_id
    ),
    per_cohort AS (
      SELECT cohort,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(CASE WHEN np >= {_AB_CONV_MIN} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_converted
      FROM per_user
      GROUP BY cohort
    ),
    wide AS (
      SELECT
        max(CASE WHEN cohort = 0 THEN n_users END) AS n0,
        max(CASE WHEN cohort = 0 THEN n_converted END) AS c0,
        max(CASE WHEN cohort = 1 THEN n_users END) AS n1,
        max(CASE WHEN cohort = 1 THEN n_converted END) AS c1
      FROM per_cohort
    )
    SELECT n0 AS n_control, c0 AS conv_control,
           n1 AS n_treatment, c1 AS conv_treatment,
           round(CAST(c0 AS DOUBLE) / n0, 6) AS p_control,
           round(CAST(c1 AS DOUBLE) / n1, 6) AS p_treatment,
           round((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
                 / nullif(sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                               * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                               * (1.0 / n0 + 1.0 / n1)), 0), 6) AS z_stat
    FROM wide
"""


@register("ab_test_lift", oracle=_AB_ORACLE)
def ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: users split into control/treatment by
    user_id parity, conversion = "heavy buyer" (>= 14 purchase events —
    the corpus mean is ~13.4, so the rate is interior at every SF; >= 1
    saturates to 100% and zeroes the pooled variance); emits both
    cohorts' sizes, conversion rates, and the pooled z statistic. The
    deterministic-assignment A/B readout (a real system hashes a salt +
    user id — `functions.portable.md5_hash` is that primitive).

    Determinism: all inputs to the float math are exact BIGINT counts, so
    the z expression is a single-row computation both engines evaluate
    identically; the variance term is NULLed (try_divide) rather than
    raised if a degenerate corpus ever saturates a rate again.

    Scale: ONE user-keyed reduction (map-side partial) collapses the event
    stream to per-user purchase counts; everything after is a 2-row
    rollup and a driver-sized pivot."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("np")
    )
    per_cohort = per_user.groupBy(
        (F.col("user_id") % 2).alias("cohort")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.when(F.col("np") >= _AB_CONV_MIN, 1).otherwise(0))
        .cast("bigint")
        .alias("n_converted"),
    )
    wide = per_cohort.agg(
        F.max(F.when(F.col("cohort") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("cohort") == 0, F.col("n_converted"))).alias("c0"),
        F.max(F.when(F.col("cohort") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("cohort") == 1, F.col("n_converted"))).alias("c1"),
    )
    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")
    pool = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    z = F.try_divide(
        p1 - p0,
        F.sqrt(pool * (1 - pool) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))),
    )
    return wide.select(
        F.col("n0").alias("n_control"),
        F.col("c0").alias("conv_control"),
        F.col("n1").alias("n_treatment"),
        F.col("c1").alias("conv_treatment"),
        F.round(p0, 6).alias("p_control"),
        F.round(p1, 6).alias("p_treatment"),
        F.round(z, 6).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Mutual-kNN graph over embeddings — the neighborhood graph semantic-
# clustering and diversity-sampling passes build on (mutual = both ends
# rank each other top-k; prunes hub vertices that one-directional kNN
# over-connects).
# ---------------------------------------------------------------------------

_KNN_K = 5

_KNN_ORACLE = f"""
    WITH pairs AS (
      SELECT a.label AS label, a.vec_id AS src, b.vec_id AS dst,
             round({cosine_sql('a.embedding', 'b.embedding')}, 6) AS cos_sim
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
    ),
    both_dirs AS (
      SELECT label, src, dst, cos_sim FROM pairs
      UNION ALL
      SELECT label, dst, src, cos_sim FROM pairs
    ),
    ranked AS (
      SELECT label, src, dst, cos_sim,
             row_number() OVER (PARTITION BY src
                                ORDER BY cos_sim DESC, dst) AS rk
      FROM both_dirs
    ),
    knn AS (SELECT * FROM ranked WHERE rk <= {_KNN_K})
    SELECT k1.label, k1.src AS key_a, k1.dst AS key_b, k1.cos_sim
    FROM knn k1 JOIN knn k2 ON k2.src = k1.dst AND k2.dst = k1.src
    WHERE k1.src < k1.dst
"""


@register("knn_mutual_edges", oracle=_KNN_ORACLE)
def knn_mutual_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual top-5 cosine kNN graph within each embedding cluster:
    an edge (a, b) survives iff b is in a's top-5 neighbors AND a is in
    b's — the hub-pruned neighborhood graph semantic clustering and
    diversity sampling build on.

    Determinism: cosine is computed ONCE per unordered pair (symmetric)
    and rounded to 6 before ranking, with dst as the tiebreak — a rank
    over raw floats could flip on cross-engine ULPs, a rank over rounded
    values cannot.

    Scale shape: the quadratic pass is cluster-bounded (the SemDeDup
    argument — cell caps bound cost at n_cells x cell_size²); each
    unordered pair is scored once and mirrored by a UNION ALL (map-side),
    the per-src top-k is WindowGroupLimit-prunable, and the mutuality
    check is an equi-join of the kNN list with its own transpose —
    k·|V| rows, not |V|²."""
    emb = load_table(spark, sf_dir, "embeddings")
    normed = emb.select(
        "label",
        "vec_id",
        "embedding",
        F.expr(f"sqrt({dot_expr('embedding', 'embedding')})").alias("nrm"),
    )
    a = normed.select(
        "label",
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = normed.select(
        F.col("label").alias("_lb"),
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    # persist_once: the UNION ALL mirror consumes this frame twice —
    # unpersisted, each branch re-runs the cluster-keyed pair join and the
    # 64-dim cosine folds (embeddings scanned 4x in the executed plan;
    # once persisted, the quadratic scoring pass runs exactly once).
    # Cold-cache medians at sf0.1: 2.76s → 2.62s — modest locally because
    # the fixture's pair grid is small; the structural halving of the
    # scoring pass is the scale effect.
    pairs = persist_once(
        a.join(
            b,
            (F.col("label") == F.col("_lb")) & (F.col("src") < F.col("dst")),
        )
        .select(
            "label",
            "src",
            "dst",
            F.expr(f"round({dot_expr('ea', 'eb')} / (na * nb), 6)").alias("cos_sim"),
        )
    )
    both = pairs.unionAll(
        pairs.select(
            "label",
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            "cos_sim",
        )
    )
    rk = F.row_number().over(
        W.partitionBy("src").orderBy(F.desc("cos_sim"), F.asc("dst"))
    )
    knn = persist_once(
        both.withColumn("rk", rk).filter(F.col("rk") <= _KNN_K).select(
            "label", "src", "dst", "cos_sim"
        )
    )
    k2 = knn.select(F.col("src").alias("dst"), F.col("dst").alias("src"))
    return (
        knn.join(k2, ["src", "dst"], "left_semi")
        .filter(F.col("src") < F.col("dst"))
        .select(
            "label",
            F.col("src").alias("key_a"),
            F.col("dst").alias("key_b"),
            "cos_sim",
        )
    )


# ---------------------------------------------------------------------------
# Frequent event 3-gram mining — second-order sequential patterns (the
# market-basket/sequence-mining readout one level above the first-order
# transition matrix).
# ---------------------------------------------------------------------------

_SEQ3_TOPK = 15

_SEQ3_ORACLE = f"""
    WITH seq AS (
      SELECT event_type AS e1,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    ),
    cnt AS (
      SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE e3 IS NOT NULL
      GROUP BY e1, e2, e3
    ),
    tot AS (SELECT sum(n) AS t FROM cnt)
    SELECT e1, e2, e3, n,
           round(CAST(n AS DOUBLE) / t.t, 6) AS support
    FROM cnt CROSS JOIN tot t
    ORDER BY n DESC, e1, e2, e3
    LIMIT {_SEQ3_TOPK}
"""


@register("frequent_event_trigrams", oracle=_SEQ3_ORACLE)
def frequent_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 most frequent per-user event-type 3-grams with corpus
    support — second-order sequential pattern mining (what the transition
    matrix's first-order view can't show: 'view → click → purchase' vs
    'view → error → view' funnels).

    Scale: one user-keyed window shuffle builds the trigram stream with
    two lead()s (map-side after the shuffle), counts reduce on ≤|types|³
    keys, and the top-k is TakeOrderedAndProject over that tiny frame."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    cnt = seq.groupBy("e1", "e2", "e3").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = cnt.agg(F.sum("n").cast("double").alias("t"))
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "e1",
            "e2",
            "e3",
            "n",
            F.round(F.col("n").cast("double") / F.col("t"), 6).alias(
                "support"
            ),
        )
        .orderBy(F.desc("n"), "e1", "e2", "e3")
        .limit(_SEQ3_TOPK)
    )


# ---------------------------------------------------------------------------
# Rolling median/MAD robust anomalies — the breakdown-resistant counterpart
# of trailing_zscore_anomalies: median/MAD ignore up to 50% contaminated
# history where mean/std are dragged by the very outliers being hunted.
# ---------------------------------------------------------------------------

_MAD_WIN = 10
_MAD_K = 1.4826  # consistency constant: MAD * k estimates sigma under normality
_MAD_MIN = 0.01

_ROBUST_ORACLE = f"""
    WITH framed AS (
      SELECT event_id, user_id, value,
             list_sort(list(value) OVER w) AS prev
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN {_MAD_WIN} PRECEDING AND 1 PRECEDING)
    ),
    stats AS (
      SELECT event_id, user_id, value,
             (prev[{_MAD_WIN // 2}] + prev[{_MAD_WIN // 2 + 1}]) / 2 AS med,
             list_sort(list_transform(prev, x -> abs(x - (prev[{_MAD_WIN // 2}]
                       + prev[{_MAD_WIN // 2 + 1}]) / 2))) AS devs
      FROM framed WHERE len(prev) = {_MAD_WIN}
    ),
    scored AS (
      SELECT event_id, user_id, value, med,
             (devs[{_MAD_WIN // 2}] + devs[{_MAD_WIN // 2 + 1}]) / 2 AS mad
      FROM stats
    )
    SELECT event_id, user_id, round(value, 2) AS value,
           round((value - med) / ({_MAD_K} * mad), 6) AS robust_z
    FROM scored
    WHERE mad > {_MAD_MIN}
      AND abs(round((value - med) / ({_MAD_K} * mad), 6)) >= 3.0
"""


@register("rolling_mad_anomalies", oracle=_ROBUST_ORACLE)
def rolling_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust rolling anomalies: each event scored against the MEDIAN and
    MAD of its user's previous 10 values (|robust z| >= 3 with z =
    (v − med)/(1.4826·MAD)) — the breakdown-resistant companion to
    trailing_zscore_anomalies (a level shift that drags mean/std cannot
    mask itself here).

    Determinism: the frame materializes as a sorted 10-array, median/MAD
    are exact midpoint arithmetic on its elements (no percentile
    interpolation variance), the anomaly cut compares ROUNDED z both
    sides, and MAD <= 0.01 frames are skipped (degenerate history).

    Scale: one user-keyed window shuffle; the frame array is a bounded
    10-element buffer per row (rows x window bytes — the explicit cost of
    exact order statistics; at wider windows the approx handoff is a
    t-digest-style sketch).

    Perf: profiling attributed the 3.9s cost NOT to the
    window or the HOFs (scan 0.21s → +window+collect+sort+med 0.70s →
    +devs 0.82s) but to PREDICATE PUSHDOWN: Catalyst alias-substitutes the
    mad/robust_z filter through every projection and parks it directly
    above the Window as one expression that re-sorts the frame ~8x per row
    — then the projections above evaluate the chain AGAIN (optimized-plan
    Filter was ~4000 chars of nested array_sorts). Staged projections
    survive CollapseProject (multi-referenced non-cheap aliases) but do
    not stop filter pushdown, and Spark 4 pushes deterministic conjuncts
    even past a nondeterministic-field project. Fix: a second Window over
    the SAME partitioning (``count(1) over (partition by user_id)``,
    anchored by an always-true ``_pcount >= 1`` conjunct so column pruning
    keeps it) — non-partition-key predicates cannot cross a Window node,
    adds no shuffle and no sort (distribution already satisfied), nothing
    materializes. Cold A/B at sf0.1 (rebuilt-DF, clearCache inside timed
    reps, median-of-3, interleaved): 2.80s → 0.97-1.35s, rows identical.
    The grouped-applyInPandas alternative was measured and rejected:
    10.6-11.0s at sf0.1 (identical output) — the per-window Python median
    lambda inside pandas ``rolling(...).apply`` dominates, 10x worse than
    this JVM form."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(-_MAD_WIN, -1)
    )
    # Size-filter on the RAW frame (size is sort-invariant): filtering on
    # the sorted alias re-ran the array_sort inside the pushed predicate.
    prev_raw = F.collect_list("value").over(w)
    framed = (
        ev.select("event_id", "user_id", "value", prev_raw.alias("prev_raw"))
        .filter(F.size("prev_raw") == _MAD_WIN)
        .select(
            "event_id",
            "user_id",
            "value",
            F.array_sort("prev_raw").alias("prev"),
        )
    )
    mid, mid1 = _MAD_WIN // 2, _MAD_WIN // 2 + 1
    # try_element_at: the size filter guards every surviving row, but the
    # window stage's codegen can evaluate the projection on pre-filter
    # rows (observed ANSI INVALID_ARRAY_INDEX on a 0-element frame);
    # try_ returns NULL there and those rows are filtered anyway.
    med = (
        F.try_element_at("prev", F.lit(mid))
        + F.try_element_at("prev", F.lit(mid1))
    ) / 2
    with_med = framed.select(
        "event_id", "user_id", "value", "prev", med.alias("med")
    )
    devs = F.array_sort(
        F.transform(F.col("prev"), lambda x: F.abs(x - F.col("med")))
    )
    with_devs = with_med.select(
        "event_id", "user_id", "value", "med", devs.alias("devs")
    )
    stats = with_devs.select(
        "event_id",
        "user_id",
        "value",
        "med",
        (
            (
                F.try_element_at("devs", F.lit(mid))
                + F.try_element_at("devs", F.lit(mid1))
            )
            / 2
        ).alias("mad"),
    )
    # Pushdown barrier (see docstring): same-key Window — free in the
    # physical plan — that the anomaly filter cannot be pushed below.
    pcount = F.count(F.lit(1)).over(W.partitionBy("user_id"))
    barred = stats.select(
        "event_id", "user_id", "value", "med", "mad", pcount.alias("_pcount")
    )
    rz = F.round((F.col("value") - F.col("med")) / (_MAD_K * F.col("mad")), 6)
    return (
        barred.filter(
            (F.col("_pcount") >= 1)
            & (F.col("mad") > _MAD_MIN)
            & (F.abs(rz) >= 3.0)
        )
        .select(
            "event_id",
            "user_id",
            F.round("value", 2).alias("value"),
            rz.alias("robust_z"),
        )
    )


# ---------------------------------------------------------------------------
# Cumulative unique users — the growth curve every product dashboard leads
# with: per day, first-time users and the running distinct total.
# ---------------------------------------------------------------------------

_CUM_ORACLE = """
    WITH first_seen AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events
      GROUP BY user_id
    ),
    daily AS (
      SELECT strftime(first_day, '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS n_new
      FROM first_seen GROUP BY first_day
    )
    SELECT day, n_new,
           CAST(sum(n_new) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
    FROM daily
"""


@register("cumulative_unique_users", oracle=_CUM_ORACLE)
def cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-user counts and the cumulative distinct-user curve: each
    user attributes to their FIRST active day (one user-keyed min), the
    running total is a window sum over the day-grain frame. The standard
    growth readout — and the scalable form of "COUNT(DISTINCT) over an
    expanding window", which computed naively re-scans every prefix.

    Scale: one user-keyed reduction to |users| rows, one day-keyed count
    to |days| rows, and a single-partition running sum over the DAY-grain
    frame (driver-sized by construction)."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily = first_seen.groupBy("first_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return daily.select(
        F.date_format("first_day", "yyyy-MM-dd").alias("day"), "n_new"
    ).withColumn("cum_users", F.sum("n_new").over(w).cast("bigint"))


# ---------------------------------------------------------------------------
# Churn flags — inactivity-based churn per cohort: the retention
# complement (who STOPPED showing up), deterministic cutoff from the
# corpus's own clock.
# ---------------------------------------------------------------------------

_CHURN_DAYS = 7

_CHURN_ORACLE = f"""
    WITH clock AS (SELECT max(ts) AS max_ts FROM events),
    per_user AS (
      SELECT user_id, user_id % 2 AS cohort, max(ts) AS last_ts
      FROM events GROUP BY user_id
    )
    SELECT cohort,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN last_ts < max_ts - INTERVAL {_CHURN_DAYS} DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
           round(CAST(sum(CASE WHEN last_ts < max_ts - INTERVAL {_CHURN_DAYS} DAY
                              THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
             AS churn_rate
    FROM per_user CROSS JOIN clock
    GROUP BY cohort
"""


@register("churn_flags_by_cohort", oracle=_CHURN_ORACLE)
def churn_flags_by_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity churn per parity cohort: a user is churned when their
    last event predates the corpus clock (max ts) by more than 7 days —
    the retention complement of `retention_cohorts`, with the cutoff
    derived from the data itself so the query is reproducible at any
    snapshot age.

    Determinism: exact timestamp comparisons against a corpus-derived
    1-row clock; rates divide exact counts.

    Scale: one user-keyed max reduction, a 1-row broadcast clock, and a
    2-row rollup."""
    ev = load_table(spark, sf_dir, "events")
    clock = ev.agg(F.max("ts").alias("max_ts"))
    per_user = ev.groupBy("user_id").agg(F.max("ts").alias("last_ts"))
    churned = (
        F.col("last_ts")
        < F.col("max_ts") - F.expr(f"INTERVAL {_CHURN_DAYS} DAYS")
    ).cast("int")
    return (
        per_user.crossJoin(F.broadcast(clock))
        .groupBy((F.col("user_id") % 2).alias("cohort"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(churned).cast("bigint").alias("n_churned"),
            F.round(
                F.sum(churned).cast("double") / F.count(F.lit(1)), 6
            ).alias("churn_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Diurnal activity profile — events by hour of day: the seasonality
# readout capacity planning and anomaly baselines start from.
# ---------------------------------------------------------------------------

_DIURNAL_ORACLE = """
    WITH hourly AS (
      SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hour_of_day,
             CAST(count(*) AS BIGINT) AS n_events,
             round(sum(value), 2) AS total_value
      FROM events GROUP BY hour_of_day
    ),
    tot AS (SELECT sum(n_events) AS t FROM hourly)
    SELECT hour_of_day, n_events, total_value,
           round(CAST(n_events AS DOUBLE) / t.t, 6) AS share,
           CAST(row_number() OVER (ORDER BY n_events DESC, hour_of_day)
                AS BIGINT) AS busy_rank
    FROM hourly CROSS JOIN tot t
"""


@register("diurnal_activity_profile", oracle=_DIURNAL_ORACLE)
def diurnal_activity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day activity profile: per hour, event count, summed value,
    corpus share, and busy-rank (count tiebroken by hour) — the diurnal
    baseline capacity planning and time-aware anomaly thresholds start
    from.

    Scale: one 24-key reduction (map-side partial), a 1-row broadcast
    total, and a rank over the 24-row frame."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.hour("ts").cast("bigint").alias("hour_of_day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    tot = hourly.agg(F.sum("n_events").cast("double").alias("t"))
    rk = F.row_number().over(W.orderBy(F.desc("n_events"), "hour_of_day"))
    return (
        hourly.crossJoin(F.broadcast(tot))
        .select(
            "hour_of_day",
            "n_events",
            "total_value",
            F.round(F.col("n_events").cast("double") / F.col("t"), 6).alias(
                "share"
            ),
            rk.cast("bigint").alias("busy_rank"),
        )
    )


# ---------------------------------------------------------------------------
# Survival family: time to first purchase. The event is a user's FIRST
# purchase, clocked in hours from their first event; users who never
# purchase are right-censored at their last observed event — they count
# in every risk set up to their observed time but never as events, the
# classical treatment. (A 7-day-inactivity churn event was rejected: the
# events fixture spans ~29 days with <= 2 days of max inactivity, so that
# cutoff has ZERO events at every SF; the purchase event yields ~75
# distinct hour-grain steps at sf0.01.) nelson_aalen_conversion_hazard,
# kaplan_meier_survival and logrank_segment_survival share the user-grain
# observation and the risk set below, once per dialect. Verified by
# tests/test_survival_staged.py, test_km_staged.py and
# test_logrank_staged.py.
#
# Exactness: every column is an integer end-to-end. Event times are exact
# integer-µs arithmetic floored to hours (`div`: the spans are
# non-negative); the risk set is a total-minus-prefix of exact counts. The
# classical Kaplan-Meier product Π(1 − d_i/n_i) and the real-valued
# Nelson-Aalen cumulative hazard Σ d_i/n_i are sequential folds over
# rationals — not associative in doubles, so not certifiable bit-exactly.
# Instead each per-step hazard is quantized FIRST to an exact integer
# (d_i*1e6 div n_i — floor-ppm of a rational, deterministic), and the
# cumulative hazard is an exact associative BIGINT prefix sum of those
# integers: the standard estimator up to 1e-6 quantization per step.
#
# Scale shape: one user-grain aggregation of the event stream (the only
# data-sized shuffle), then an event-time-grain histogram whose windows
# run over distinct-hour cardinality (bounded by corpus span, not rows).
# ---------------------------------------------------------------------------


def _at_risk_sql(col: str) -> str:
    """The risk set of the per-hour counts ``col``: the total minus the
    counts at earlier event times."""
    return f"""CAST(sum({col}) OVER () AS BIGINT)
           - CAST(COALESCE(sum({col}) OVER (ORDER BY t_hours
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT)"""


_RISK_SET_CTES = f"""u AS (
  SELECT user_id,
         min(epoch_us(ts)) AS first_us,
         max(epoch_us(ts)) AS last_us,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
           AS first_buy_us
  FROM events GROUP BY 1
),
obs AS (
  SELECT (COALESCE(first_buy_us, last_us) - first_us) // 3600000000
           AS t_hours,
         CASE WHEN first_buy_us IS NOT NULL THEN 1 ELSE 0 END AS event
  FROM u
),
h AS (
  SELECT t_hours,
         CAST(count(*) AS BIGINT) AS n_here,
         CAST(sum(event) AS BIGINT) AS d_events
  FROM obs GROUP BY 1
),
risk AS (
  SELECT t_hours, n_here, d_events,
         {_at_risk_sql("n_here")} AS n_at_risk
  FROM h
)"""


def _first_purchase_obs(ev: DataFrame, *keys: str) -> DataFrame:
    """One row per user (and group ``keys``): ``t_hours`` from the first
    event to the first purchase, or to the last event for a never-buyer,
    and ``event`` 1 for a purchase, 0 for a censored user."""
    us = F.unix_micros("ts")
    u = ev.groupBy("user_id", *keys).agg(
        F.min(us).alias("first_us"),
        F.max(us).alias("last_us"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias(
            "first_buy_us"
        ),
    )
    return u.select(
        *keys,
        F.expr(
            "(COALESCE(first_buy_us, last_us) - first_us) div 3600000000"
        ).alias("t_hours"),
        F.col("first_buy_us").isNotNull().cast("bigint").alias("event"),
    )


def _at_risk(col: str):
    """The Column twin of ``_at_risk_sql``."""
    w_before = W.orderBy("t_hours").rowsBetween(W.unboundedPreceding, -1)
    return F.sum(col).over(W.partitionBy()).cast("bigint") - F.coalesce(
        F.sum(col).over(w_before), F.lit(0)
    ).cast("bigint")


def _event_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(t_hours, d_events, n_at_risk) at every event time with an event:
    the Column twin of ``_RISK_SET_CTES`` filtered to ``d_events > 0``."""
    obs = _first_purchase_obs(load_table(spark, sf_dir, "events"))
    h = obs.groupBy("t_hours").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_here"),
        F.sum("event").cast("bigint").alias("d_events"),
    )
    return h.select(
        "t_hours", "d_events", _at_risk("n_here").alias("n_at_risk")
    ).filter(F.col("d_events") > 0)


NELSON_AALEN_ORACLE = f"""
WITH {_RISK_SET_CTES},
steps AS (
  SELECT t_hours, d_events, n_at_risk,
         (d_events * 1000000) // n_at_risk AS hazard_ppm
  FROM risk WHERE d_events > 0
)
SELECT CAST(t_hours AS BIGINT) AS t_hours, d_events, n_at_risk,
       CAST(hazard_ppm AS BIGINT) AS hazard_ppm,
       CAST(sum(hazard_ppm) OVER (ORDER BY t_hours
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_hazard_ppm
FROM steps ORDER BY t_hours
"""


@register("nelson_aalen_conversion_hazard", oracle=NELSON_AALEN_ORACLE)
def nelson_aalen_conversion_hazard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nelson-Aalen-style hazard table of time to first purchase: per
    distinct event time (hours from a user's first event to their first
    purchase), the number at risk, the conversion events, the per-step
    hazard, and the cumulative hazard — the survival curve behind "how
    long does intent take to convert", with users who never purchase
    right-censored at their last observed event.

    Each hazard step is the floor-ppm integer quotient of a rational, and
    the cumulative hazard sums these quantized integers (see the survival
    family comment for why, and for the scale shape)."""
    steps = _event_steps(spark, sf_dir).withColumn(
        "hazard_ppm", F.expr("(d_events * 1000000) div n_at_risk")
    )
    w_cum = W.orderBy("t_hours").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return steps.select(
        F.col("t_hours").cast("bigint").alias("t_hours"),
        "d_events",
        "n_at_risk",
        F.col("hazard_ppm").cast("bigint").alias("hazard_ppm"),
        F.sum("hazard_ppm").over(w_cum).cast("bigint").alias(
            "cum_hazard_ppm"
        ),
    ).orderBy("t_hours")


# ---------------------------------------------------------------------------
# attribution_first_last_touch: sessionized first/last-touch revenue
# attribution — the marketing-attribution class (pairs with
# session_funnel_conversion and sessionize_users: the funnel certifies the
# path, this certifies WHO GETS CREDIT for the purchase at its end). Each
# purchase attributes its exact cent value to (a) the FIRST and (b) the
# LAST touch event (view/click) strictly before it inside its own session
# (30-minute inactivity gap, the sessionize_users contract); purchases with
# no prior touch in-session attribute to 'direct'. Verified by
# tests/test_attribution_staged.py.
#
# Determinism (fully exact): sessions split on the same integer-µs gap and
# (event_id) order as sessionize_users; the first/last-touch carries are
# ignore-nulls window functions over a frame with a full event_id tiebreak
# (the proven asof_prior_view_value idiom); revenue accumulates BIGINT
# cents (round-half-away on both engines), so the 3-row rollup is
# bit-identical under any layout and the /100.0 display is one correctly-
# rounded division of exact integers.
#
# Scale shape: one user-keyed window stage (a single hash shuffle — the
# sessionize shape, salting note shared), a map-side 2x fan-out of the
# purchase rows into (channel, which-touch) pairs, then one combinable
# ≤(channels x 2)-cell aggregation. No self-joins, no collects; at 100 TB
# the window stage dominates exactly like every other sessionized query.
# ---------------------------------------------------------------------------

ATTRIBUTION_ORACLE = """
WITH s AS (
  SELECT event_id, user_id, event_type, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
),
sess AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM s
),
tagged AS (
  SELECT *,
    first_value(CASE WHEN event_type IN ('view', 'click') THEN event_type END
                IGNORE NULLS)
      OVER (PARTITION BY user_id, session_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch,
    last_value(CASE WHEN event_type IN ('view', 'click') THEN event_type END
               IGNORE NULLS)
      OVER (PARTITION BY user_id, session_id ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
  FROM sess
),
p AS (
  SELECT COALESCE(first_touch, 'direct') AS fc,
         COALESCE(last_touch, 'direct') AS lc,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM tagged WHERE event_type = 'purchase'
),
u AS (
  SELECT fc AS channel, 0 AS is_last, cents FROM p
  UNION ALL
  SELECT lc AS channel, 1 AS is_last, cents FROM p
)
SELECT channel,
       CAST(sum(CASE WHEN is_last = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_first_touch,
       CAST(sum(CASE WHEN is_last = 0 THEN cents ELSE 0 END) AS BIGINT)
         AS first_touch_cents,
       CAST(sum(CASE WHEN is_last = 0 THEN cents ELSE 0 END) AS BIGINT) / 100.0
         AS first_touch_revenue,
       CAST(sum(CASE WHEN is_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_last_touch,
       CAST(sum(CASE WHEN is_last = 1 THEN cents ELSE 0 END) AS BIGINT)
         AS last_touch_cents,
       CAST(sum(CASE WHEN is_last = 1 THEN cents ELSE 0 END) AS BIGINT) / 100.0
         AS last_touch_revenue
FROM u GROUP BY channel
"""


@register("attribution_first_last_touch", oracle=ATTRIBUTION_ORACLE)
def attribution_first_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized first/last-touch revenue attribution per channel: every
    purchase credits its exact cent value to the first and the last
    view/click strictly before it in its 30-minute-gap session ('direct'
    when none). See the comment above for the determinism and scale
    contract."""
    from talkinghead_datapipeline_spark.functions.geometry import round_half_away

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    w = W.partitionBy("user_id").orderBy("event_id")
    gap_us = F.unix_micros("ts") - F.lag(F.unix_micros("ts"), 1).over(w)
    flagged = ev.withColumn(
        "new_s",
        F.when(F.lag("ts", 1).over(w).isNull(), 1)
        .when(gap_us > 1_800_000_000, 1)
        .otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    ws = (
        W.partitionBy("user_id", "session_id")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type").isin("view", "click"), F.col("event_type")
    )
    tagged = sess.select(
        "event_type",
        "value",
        F.first(touch, ignorenulls=True).over(ws).alias("first_touch"),
        F.last(touch, ignorenulls=True).over(ws).alias("last_touch"),
    )
    p = tagged.filter(F.col("event_type") == "purchase").select(
        F.coalesce("first_touch", F.lit("direct")).alias("fc"),
        F.coalesce("last_touch", F.lit("direct")).alias("lc"),
        round_half_away(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    # map-side 2x fan-out (explode of a 2-struct array), NOT a union of two
    # projections — a union would re-plan the whole window stage per branch
    u = p.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("fc").alias("channel"),
                    F.lit(0).alias("is_last"),
                    F.col("cents"),
                ),
                F.struct(
                    F.col("lc").alias("channel"),
                    F.lit(1).alias("is_last"),
                    F.col("cents"),
                ),
            )
        ).alias("t")
    ).select("t.channel", "t.is_last", "t.cents")
    first_cents = F.sum(F.when(F.col("is_last") == 0, F.col("cents")).otherwise(0))
    last_cents = F.sum(F.when(F.col("is_last") == 1, F.col("cents")).otherwise(0))
    return u.groupBy("channel").agg(
        F.sum(F.when(F.col("is_last") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_first_touch"),
        first_cents.cast("bigint").alias("first_touch_cents"),
        (first_cents.cast("bigint") / 100.0).alias("first_touch_revenue"),
        F.sum(F.when(F.col("is_last") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_last_touch"),
        last_cents.cast("bigint").alias("last_touch_cents"),
        (last_cents.cast("bigint") / 100.0).alias("last_touch_revenue"),
    )


# ---------------------------------------------------------------------------
# cuped_adjusted_lift: CUPED variance-reduced A/B lift — the
# experimentation-efficiency class (pairs with
# ab_test_lift: that query certifies the raw two-cohort readout, this
# certifies the industry-standard pre-period covariate adjustment that
# shrinks its variance). Cohorts split by user_id parity as in ab_test_lift;
# the experiment metric Y is each user's purchase cents in the SECOND half
# of the event window (ts >= 2024-01-16, the midpoint of the fixed 30-day
# corpus window, stable at every SF), the covariate X is the same user's
# purchase cents in the FIRST half — the pre-experiment period. Verified by
# tests/test_cuped_staged.py.
#
# CUPED (Deng et al., WSDM 2013, public): Y' = Y − θ(X − X̄) with
# θ = cov(X,Y)/var(X) estimated POOLED across cohorts; the adjusted lift is
# (Ȳ₁−Ȳ₀) − θ(X̄₁−X̄₀) and the variance shrinks by ρ²(X,Y).
#
# Determinism: every input to the float math is an exact BIGINT — per-user
# cents (round-half-away both engines) reduced to one row of exact sums
# (n, Σx, Σy, Σxx, Σxy, Σyy and the per-cohort n/Σx/Σy) — so θ, the lifts,
# and ρ² are single-row IEEE expressions over identical integers,
# bit-identical cross-engine; rounded outputs carry the +0.0
# negative-zero normalization (they sit near zero by construction when the
# parity split is null, which it is — user_id parity assigns no treatment).
# Domain note (same class as reliability_bins_lang's): Σxx/Σxy stay inside
# int64 while n·(max user cents)² ≲ 9e18 — per-user half-window cents are
# ~1e6 here, so the headroom is ~9e6 users; past that the moment sums
# widen to DECIMAL(38) or DOUBLE (one expression swap). The scalar
# combinations (n·Σxy − Σx·Σy …) are computed in DOUBLE precisely because
# they exceed int64 long before the raw sums do.
#
# Scale shape: ONE user-keyed combinable aggregation (the event stream's
# cheapest reduction) then ONE 1-row global agg — no joins, no windows, no
# second scan. At 100 TB this is two reduce stages, the minimal cost for
# any per-unit covariate-adjusted experiment readout.
# ---------------------------------------------------------------------------

_CUPED_CUT = "2024-01-16"

CUPED_ORACLE = f"""
WITH per_user AS (
  SELECT user_id, user_id % 2 AS cohort,
         CAST(COALESCE(sum(CASE WHEN event_type = 'purchase'
                                 AND ts < TIMESTAMP '{_CUPED_CUT}'
                            THEN CAST(round(value * 100, 0) AS BIGINT) END),
                       0) AS BIGINT) AS x,
         CAST(COALESCE(sum(CASE WHEN event_type = 'purchase'
                                 AND ts >= TIMESTAMP '{_CUPED_CUT}'
                            THEN CAST(round(value * 100, 0) AS BIGINT) END),
                       0) AS BIGINT) AS y
  FROM events GROUP BY user_id
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN cohort = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0,
         CAST(sum(CASE WHEN cohort = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0,
         CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN cohort = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
         CAST(sum(CASE WHEN cohort = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1
  FROM per_user
),
d AS (
  SELECT n, n0, n1,
         CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS cov_n2,
         CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS varx_n2,
         CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS vary_n2,
         (CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0) / 100.0
           AS diff_raw,
         (CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0) / 100.0
           AS xdiff
  FROM s
)
SELECT n AS n_users, n0 AS n_control, n1 AS n_treatment,
       round(cov_n2 / varx_n2, 6) + 0.0 AS theta,
       round(diff_raw, 6) + 0.0 AS diff_raw,
       round(diff_raw - (cov_n2 / varx_n2) * xdiff, 6) + 0.0 AS diff_cuped,
       round((cov_n2 * cov_n2) / (varx_n2 * vary_n2), 6) + 0.0
         AS var_reduction
FROM d
"""


@register("cuped_adjusted_lift", oracle=CUPED_ORACLE)
def cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B lift: per-user pre-period purchase cents
    (covariate X) adjust the experiment-period cents (metric Y) via the
    pooled θ = cov(X,Y)/var(X); emits cohort sizes, θ, the raw and
    CUPED-adjusted lifts (dollars), and the achieved variance-reduction
    factor ρ². See the comment above for the determinism and scale
    contract."""
    from talkinghead_datapipeline_spark.functions.geometry import round_half_away

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value"
    )
    cut = F.lit(_CUPED_CUT).cast("timestamp")
    cents = round_half_away(F.col("value") * 100).cast("bigint")
    is_p = F.col("event_type") == "purchase"
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(is_p & (F.col("ts") < cut), cents)), F.lit(0)
        )
        .cast("bigint")
        .alias("x"),
        F.coalesce(
            F.sum(F.when(is_p & (F.col("ts") >= cut), cents)), F.lit(0)
        )
        .cast("bigint")
        .alias("y"),
    )
    cohort = (F.col("user_id") % 2).alias("cohort")
    s = per_user.select("x", "y", cohort).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("cohort") == 0, F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("sx0"),
        F.sum(F.when(F.col("cohort") == 0, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("sy0"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("cohort") == 1, F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("sx1"),
        F.sum(F.when(F.col("cohort") == 1, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("sy1"),
    )
    cov_n2 = F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    varx_n2 = F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast(
        "double"
    ) * F.col("sx")
    vary_n2 = F.col("n").cast("double") * F.col("syy") - F.col("sy").cast(
        "double"
    ) * F.col("sy")
    diff_raw = (
        F.col("sy1").cast("double") / F.col("n1")
        - F.col("sy0").cast("double") / F.col("n0")
    ) / 100.0
    xdiff = (
        F.col("sx1").cast("double") / F.col("n1")
        - F.col("sx0").cast("double") / F.col("n0")
    ) / 100.0
    theta = cov_n2 / varx_n2
    return s.select(
        F.col("n").alias("n_users"),
        F.col("n0").alias("n_control"),
        F.col("n1").alias("n_treatment"),
        (F.round(theta, 6) + 0.0).alias("theta"),
        (F.round(diff_raw, 6) + 0.0).alias("diff_raw"),
        (F.round(diff_raw - theta * xdiff, 6) + 0.0).alias("diff_cuped"),
        (F.round((cov_n2 * cov_n2) / (varx_n2 * vary_n2), 6) + 0.0).alias(
            "var_reduction"
        ),
    )


# ---------------------------------------------------------------------------
# basket_association_rules: market-basket
# association-rule mining (the Apriori/FP-growth OUTPUT contract: support /
# confidence / lift over co-purchased item pairs) at brand grain. The class
# the registry lacked: rfm_segments profiles customers and
# session_funnel_conversion orders event types, but nothing certified
# co-occurrence rules, the classic recommendation/curation primitive ("what
# co-occurs with what" also drives topic-pair pruning in corpus curation).
#
# Exactness (NO floats anywhere): N (orders with line items), per-brand
# basket counts n_a, and pair counts n_ab are exact BIGINTs; support,
# the two directional confidences, and lift are integer floor divisions —
# lift_micro = n_ab*N*1e6 // (n_a*n_b), with n_ab*N*1e6 <= ~2.3e16 at
# sf0.1 (int64 headroom to ~sf30 at TPC-H rates; document the bound). A
# deterministic min-support gate (n_ab*1000 >= N, i.e. support >= 0.1%)
# keeps singleton-noise pairs out of the lift ranking; top-20 by
# (lift desc, pair asc) is fully tiebroken.
#
# Scale shape: lineitem joins the broadcast part dimension (brand lookup),
# one DISTINCT to (order, brand) — order-keyed shuffle — then the pair
# expansion is an order-keyed self-join (co-partitioned, <=C(25,2)=300
# pairs per order at 25 brands) and two combinable aggs over frames bounded
# by brand cardinality squared (300 rows), not data. At 100 TB: one
# broadcast, two order-keyed shuffles, brand-bounded reduce.
# Verified by tests/test_basket_gini_staged.py.
# ---------------------------------------------------------------------------

def _order_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o, b): every distinct (order, brand) pair of lineitem, persisted —
    the basket machinery of basket_association_rules and
    graph.triangle_count_brand_graph."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return persist_once(
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
    )


BASKET_RULES_ORACLE = """
WITH ob AS (
  SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM ob),
singles AS (
  SELECT b, CAST(count(*) AS BIGINT) AS n_b FROM ob GROUP BY b
),
pairs AS (
  SELECT a.b AS brand_a, c.b AS brand_b, CAST(count(*) AS BIGINT) AS n_ab
  FROM ob a JOIN ob c ON a.o = c.o AND a.b < c.b
  GROUP BY a.b, c.b
)
SELECT p.brand_a, p.brand_b, p.n_ab,
       sa.n_b AS n_a, sb.n_b AS n_b,
       (p.n_ab * 1000000) // n.n_orders AS support_ppm,
       (p.n_ab * 1000000) // sa.n_b AS conf_a_to_b_ppm,
       (p.n_ab * 1000000) // sb.n_b AS conf_b_to_a_ppm,
       (p.n_ab * n.n_orders * 1000000) // (sa.n_b * sb.n_b) AS lift_micro
FROM pairs p
JOIN singles sa ON sa.b = p.brand_a
JOIN singles sb ON sb.b = p.brand_b
CROSS JOIN n
WHERE p.n_ab * 1000 >= n.n_orders
ORDER BY lift_micro DESC, p.brand_a ASC, p.brand_b ASC
LIMIT 20
"""


@register("basket_association_rules", oracle=BASKET_RULES_ORACLE)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules at brand grain: for co-purchased
    brand pairs past a 0.1% support gate, the exact integer support,
    directional confidences, and lift (all floor-ppm/micro), top-20 by
    lift. See the comment above for the determinism and scale
    contract."""
    ob = _order_brands(spark, sf_dir)
    n = ob.agg(F.countDistinct("o").cast("bigint").alias("n_orders"))
    singles = ob.groupBy("b").agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))
    # Map-side pair expansion instead of the o=o2 self-join (the join
    # shuffled the cached frame twice and re-materialized every
    # basket pair through an SMJ; one collect_list shuffle + an array
    # combination explode emits the identical (brand_a < brand_b) pair
    # multiset — brands are distinct within an order by the upstream
    # distinct, so sort_array gives strictly increasing members and each
    # i<j slot is exactly one join match). Same expansion idiom as the
    # simhash/minhash bucket pair builders.
    baskets = ob.groupBy("o").agg(F.sort_array(F.collect_list("b")).alias("bs"))
    pairs = (
        baskets.filter(F.size("bs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(bs) - 1), i -> "
                    "transform(sequence(i + 1, size(bs)), j -> "
                    "named_struct('brand_a', bs[i-1], 'brand_b', bs[j-1]))))"
                )
            ).alias("p")
        )
        .select(
            F.col("p.brand_a").alias("brand_a"),
            F.col("p.brand_b").alias("brand_b"),
        )
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    sa = singles.select(F.col("b").alias("brand_a"), F.col("n_b").alias("n_a"))
    sb = singles.select(F.col("b").alias("brand_b"), F.col("n_b").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(n))
        .filter(F.col("n_ab") * 1000 >= F.col("n_orders"))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            "n_a",
            "n_b",
            F.expr("(n_ab * 1000000) div n_orders").alias("support_ppm"),
            F.expr("(n_ab * 1000000) div n_a").alias("conf_a_to_b_ppm"),
            F.expr("(n_ab * 1000000) div n_b").alias("conf_b_to_a_ppm"),
            F.expr("(n_ab * n_orders * 1000000) div (n_a * n_b)").alias(
                "lift_micro"
            ),
        )
        .orderBy(F.desc("lift_micro"), F.asc("brand_a"), F.asc("brand_b"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# gini_revenue_concentration: Gini
# coefficient + Lorenz decile table of customer revenue — the
# inequality/concentration class (how concentrated is the order book on few
# customers; the identical machinery measures source concentration when
# curating a corpus). The registry had per-entity rollups and equi-depth
# deciles of VALUES but no concentration certificate over the entity mass
# distribution.
#
# Exactness: per-customer revenue reduces to exact BIGINT dollars (cents
# summed exactly, one floor division by 100); ranks come from a fully
# tiebroken (dollars, custkey) row_number so tied values cannot move mass
# across decile boundaries; decile shares are integer floor-ppm
# (decile_dollars*1e6 <= ~2e16 at sf0.1 — int64 headroom through ~sf100);
# the Gini closed form G = (2*S1 - (n+1)*S0) / (n*S0) over S1 = sum
# rank*dollars uses int64-exact operands that stay under 2^53 through
# ~sf3 (documented; the numerator is ONE IEEE division cross-engine; S1
# is rank-order-invariant within tied values since tie blocks sum the
# same rank set either way).
#
# Scale shape: one customer-keyed combinable agg over orders (the only
# data-sized shuffle), then a global sort/rank of the customer frame — a
# distributed SortExec; the single-partition window is the local[32]
# realization of rank assignment — and a 10-row decile rollup.
# Verified by tests/test_basket_gini_staged.py.
# ---------------------------------------------------------------------------

GINI_CONCENTRATION_ORACLE = """
WITH cust AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           // 100 AS x
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS r,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST(sum(x) OVER () AS BIGINT) AS s0
  FROM cust
),
g AS (
  SELECT max(n) AS n, max(s0) AS s0,
         CAST(sum(r * x) AS BIGINT) AS s1
  FROM ranked
),
dec AS (
  SELECT ((r - 1) * 10) // n AS decile,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(x) AS BIGINT) AS revenue_dollars
  FROM ranked GROUP BY 1
)
SELECT d.decile, d.n_customers, d.revenue_dollars,
       (d.revenue_dollars * 1000000) // g.s0 AS share_ppm,
       (CAST(sum(d.revenue_dollars) OVER (ORDER BY d.decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          * 1000000) // g.s0 AS cum_share_ppm,
       CAST(floor(CAST(2 * g.s1 - (g.n + 1) * g.s0 AS DOUBLE)
                  / CAST(g.n * g.s0 AS DOUBLE) * 1000000.0) AS BIGINT)
         AS gini_ppm
FROM dec d CROSS JOIN g
ORDER BY d.decile
"""


@register("gini_revenue_concentration", oracle=GINI_CONCENTRATION_ORACLE)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-revenue concentration: the Lorenz decile table (exact
    dollar mass, floor-ppm share and cumulative share per rank decile) and
    the Gini coefficient (floor-ppm) of the per-customer revenue
    distribution. See the comment above for the determinism and
    scale contract."""
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)"
            " div 100"
        ).alias("x")
    )
    wr = W.orderBy("x", "o_custkey")
    wall = W.partitionBy()
    ranked = persist_once(
        cust.select(
            "x",
            F.row_number().over(wr).alias("r"),
            F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
            F.sum("x").over(wall).cast("bigint").alias("s0"),
        )
    )
    g = ranked.agg(
        F.max("n").alias("n"),
        F.max("s0").alias("s0"),
        F.sum(F.col("r") * F.col("x")).cast("bigint").alias("s1"),
    )
    dec = ranked.groupBy(
        F.expr("((r - 1) * 10) div n").alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("x").cast("bigint").alias("revenue_dollars"),
    )
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        dec.crossJoin(F.broadcast(g))
        .select(
            "decile",
            "n_customers",
            "revenue_dollars",
            F.expr("(revenue_dollars * 1000000) div s0").alias("share_ppm"),
            (
                F.sum("revenue_dollars").over(wc).cast("bigint") * 1000000
            ).alias("_cum"),
            F.col("s0"),
            F.floor(
                (2 * F.col("s1") - (F.col("n") + 1) * F.col("s0")).cast(
                    "double"
                )
                / (F.col("n") * F.col("s0")).cast("double")
                * 1000000.0
            )
            .cast("bigint")
            .alias("gini_ppm"),
        )
        .select(
            "decile",
            "n_customers",
            "revenue_dollars",
            "share_ppm",
            F.expr("_cum div s0").alias("cum_share_ppm"),
            "gini_ppm",
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# kaplan_meier_survival: the product-limit survival curve over the survival
# family's risk set. Π(1 − d_i/n_i) is a sequential fold over rationals;
# this query certifies it anyway by making the fold ITSELF integer: the
# survival estimate is DEFINED as the exact integer recurrence
#     S_0 = 10^9;  S_i = (S_{i-1} · (n_i − d_i)) div n_i
# over event steps in time order — the classical estimator with a floor at
# 1e-9 resolution per step, every intermediate an exact BIGINT (bound:
# 10^9 · max(n_at_risk) < 2^63 holds through ~9.2e9 subjects). Spark
# evaluates the fold with the SQL higher-order `aggregate` over the sorted
# steps array (the steps frame is distinct-event-hours-bounded —
# calendar-scale, NOT data-scale — so collecting it into one broadcast
# array row is exact and tiny); the DuckDB oracle evaluates the identical
# recurrence as a recursive CTE.
# Integer end-to-end: no float op anywhere, no rounding-boundary argument.
#
# Scale shape: the survival family's user-grain aggregation, then an
# event-time-grain frame whose array fold is O(T²) on T = distinct event
# hours (~75 at sf0.01, calendar-bounded at every SF). The 1-row
# sorted-steps array crossJoin is a broadcast nested-loop by design
# (whitelisted in tests/test_plans.py).
# ---------------------------------------------------------------------------

KAPLAN_MEIER_ORACLE = f"""
WITH RECURSIVE {_RISK_SET_CTES},
ordered AS (
  SELECT t_hours, d_events, n_at_risk,
         row_number() OVER (ORDER BY t_hours) AS rn
  FROM risk WHERE d_events > 0
),
km AS (
  SELECT rn, t_hours, d_events, n_at_risk,
         (CAST(1000000000 AS BIGINT) * (n_at_risk - d_events)) // n_at_risk
           AS s
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.rn, o.t_hours, o.d_events, o.n_at_risk,
         (km.s * (o.n_at_risk - o.d_events)) // o.n_at_risk
  FROM km JOIN ordered o ON o.rn = km.rn + 1
)
SELECT CAST(t_hours AS BIGINT) AS t_hours, d_events, n_at_risk,
       CAST(s AS BIGINT) AS km_survival_ppb
FROM km ORDER BY t_hours
"""


@register("kaplan_meier_survival", oracle=KAPLAN_MEIER_ORACLE)
def kaplan_meier_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival of time to first purchase: per
    event step (hour grain), the risk set, the events, and the survival
    estimate as the EXACT integer recurrence S_i = (S_{i-1}·(n_i−d_i)) div
    n_i at 1e-9 resolution — the sequential product made bit-exact by
    folding integers (see the comment above this query). Shares the risk
    set of nelson_aalen_conversion_hazard."""
    # persist: steps feeds BOTH the curve rows and the collected fold array
    # — without it each branch would re-run the user-grain events
    # aggregation (the only data-sized stage) from the scan.
    steps = persist_once(_event_steps(spark, sf_dir))
    # steps is calendar-bounded (distinct event hours): one sorted broadcast
    # array row carries every (t, n, d) step; the per-row prefix fold is the
    # exact integer product-limit recurrence.
    arr = steps.agg(
        F.sort_array(
            F.collect_list(F.struct("t_hours", "d_events", "n_at_risk"))
        ).alias("all_steps")
    )
    return (
        steps.crossJoin(F.broadcast(arr))
        .select(
            F.col("t_hours").cast("bigint").alias("t_hours"),
            "d_events",
            "n_at_risk",
            F.expr(
                "aggregate("
                "  filter(all_steps, y -> y.t_hours <= t_hours),"
                "  CAST(1000000000 AS BIGINT),"
                "  (acc, y) -> (acc * (y.n_at_risk - y.d_events))"
                "              div y.n_at_risk)"
            ).cast("bigint").alias("km_survival_ppb"),
        )
        .orderBy("t_hours")
    )


# ---------------------------------------------------------------------------
# logrank_segment_survival: the two-sample comparison on the survival
# family's machinery. Log-rank test of time-to-first-purchase between two
# customer cohorts (c_mktsegment < 'F' — AUTOMOBILE/BUILDING — vs the
# rest; a broadcast dim equi-join assigns groups). At each pooled event
# step: per-group risk sets by the same total-minus-prefix construction,
# the group-1 expectation E1 += d·n1/n and variance
# V += d·n1·n2·(n−d)/(n²·(n−1)) each quantized FIRST to exact floor-ppm
# integers (the sums are then associative BIGINT adds, order-free), and
# the final chi-square (O1·1e6 − ΣE1_ppm)² / (ΣV_ppm·1e6) is ONE
# fixed-order IEEE expression over exact integers, emitted floor-micro
# (NULL when ΣV_ppm = 0 — a degenerate battery, e.g. one cohort empty at
# every step — since engines disagree on casting the inf). n=1 steps
# contribute zero variance by the explicit n>1 guard (both engines).
#
# Overflow bound (asserted in tests/test_logrank_staged.py): the V-step
# numerator d·n1·n2·(n−d)·1e6 stays under 2^63 through ~6e4 subjects at
# the worst split; beyond that the quantization order would need the
# factored form — the fixture maxes at 1.5e3.
#
# Scale shape: one user-grain aggregation of events (the only data-sized
# shuffle), a broadcast customer-dim join for the cohort, then an
# event-hour-grain frame (calendar-bounded) reduced to ONE output row in
# a single combinable aggregation. No crossJoin.
# ---------------------------------------------------------------------------

LOGRANK_ORACLE = f"""
WITH u AS (
  SELECT e.user_id,
         CASE WHEN c.c_mktsegment < 'F' THEN 1 ELSE 0 END AS grp,
         min(epoch_us(e.ts)) AS first_us,
         max(epoch_us(e.ts)) AS last_us,
         min(CASE WHEN e.event_type = 'purchase' THEN epoch_us(e.ts) END)
           AS first_buy_us
  FROM events e JOIN customer c ON c.c_custkey = e.user_id
  GROUP BY e.user_id, 2
),
obs AS (
  SELECT grp,
         (COALESCE(first_buy_us, last_us) - first_us) // 3600000000
           AS t_hours,
         CASE WHEN first_buy_us IS NOT NULL THEN 1 ELSE 0 END AS event
  FROM u
),
h AS (
  SELECT t_hours,
         CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
         CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS h0,
         CAST(sum(CASE WHEN grp = 1 THEN event ELSE 0 END) AS BIGINT) AS d1,
         CAST(sum(CASE WHEN grp = 0 THEN event ELSE 0 END) AS BIGINT) AS d0
  FROM obs GROUP BY 1
),
risk AS (
  SELECT t_hours, d1, d0,
         {_at_risk_sql("h1")} AS n1,
         {_at_risk_sql("h0")} AS n0
  FROM h
),
steps AS (
  SELECT t_hours, d1, d0, n1, n0, d1 + d0 AS d, n1 + n0 AS n
  FROM risk WHERE d1 + d0 > 0
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_steps,
         CAST(sum(d1) AS BIGINT) AS o1,
         CAST(sum(d0) AS BIGINT) AS o0,
         CAST(sum((d * n1 * 1000000) // n) AS BIGINT) AS e1_ppm,
         CAST(sum((d * n0 * 1000000) // n) AS BIGINT) AS e0_ppm,
         CAST(sum(CASE WHEN n > 1
                  THEN (d * n1 * n0 * (n - d) * 1000000) // (n * n * (n - 1))
                  ELSE 0 END) AS BIGINT) AS v_ppm
  FROM steps
)
SELECT n_steps, o1, o0, e1_ppm, e0_ppm, v_ppm,
       CASE WHEN v_ppm > 0 THEN
         CAST(floor(((CAST(o1 * 1000000 - e1_ppm AS DOUBLE)
                      * CAST(o1 * 1000000 - e1_ppm AS DOUBLE))
                     / (CAST(v_ppm AS DOUBLE) * 1000000.0)) * 1000000.0)
              AS BIGINT)
       END AS chi2_micro
FROM agg
"""


@register("logrank_segment_survival", oracle=LOGRANK_ORACLE)
def logrank_segment_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test of time-to-first-purchase between the two
    c_mktsegment cohorts: per pooled event step the group risk sets,
    floor-ppm-quantized expectation and variance contributions (exact
    integer sums), and the final chi-square floor-micro — the two-sample
    companion of kaplan_meier_survival on identical machinery. See the
    comment above this query for quantization and overflow bounds."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        (F.col("c_mktsegment") < "F").cast("int").alias("grp"),
    )
    obs = _first_purchase_obs(ev.join(F.broadcast(cust), "user_id"), "grp")
    h = obs.groupBy("t_hours").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("h1"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("h0"),
        F.sum(F.when(F.col("grp") == 1, F.col("event")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col("grp") == 0, F.col("event")).otherwise(0))
        .cast("bigint")
        .alias("d0"),
    )
    steps = (
        h.select(
            "t_hours",
            "d1",
            "d0",
            _at_risk("h1").alias("n1"),
            _at_risk("h0").alias("n0"),
        )
        .withColumn("d", F.expr("d1 + d0"))
        .withColumn("n", F.expr("n1 + n0"))
        .filter(F.col("d") > 0)
    )
    agg = steps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_steps"),
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum("d0").cast("bigint").alias("o0"),
        F.sum(F.expr("(d * n1 * 1000000) div n")).cast("bigint").alias(
            "e1_ppm"
        ),
        F.sum(F.expr("(d * n0 * 1000000) div n")).cast("bigint").alias(
            "e0_ppm"
        ),
        F.sum(
            F.expr(
                "CASE WHEN n > 1 THEN (d * n1 * n0 * (n - d) * 1000000)"
                " div (n * n * (n - 1)) ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("v_ppm"),
    )
    return agg.select(
        "n_steps",
        "o1",
        "o0",
        "e1_ppm",
        "e0_ppm",
        "v_ppm",
        F.expr(
            "CASE WHEN v_ppm > 0 THEN"
            " CAST(floor(((CAST(o1 * 1000000 - e1_ppm AS DOUBLE)"
            " * CAST(o1 * 1000000 - e1_ppm AS DOUBLE))"
            " / (CAST(v_ppm AS DOUBLE) * 1000000.0)) * 1000000.0) AS BIGINT)"
            " END"
        ).alias("chi2_micro"),
    )
