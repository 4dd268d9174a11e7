"""Statistical-test & data-forensics queries (north-star extensions):
chi-square independence, Benford first-digit audit, and a dense
fixed-width histogram — the hypothesis-testing companions to
ab_test_lift's z-test.

Cross-engine conventions follow queries/__init__.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from talkinghead_datapipeline_spark.catalog import load_table, persist_once
from talkinghead_datapipeline_spark.queries import register

# ---------------------------------------------------------------------------
# Chi-square test of independence — lang × source over documents: does
# subset provenance predict language? The categorical counterpart of
# ab_test_lift's two-proportion z-test.
# ---------------------------------------------------------------------------

_CHI2_ORACLE = """
    WITH obs AS (
      SELECT lang, source, CAST(count(*) AS DOUBLE) AS o
      FROM documents WHERE len(text) > 0
      GROUP BY lang, source
    ),
    rowt AS (SELECT lang, sum(o) AS rt FROM obs GROUP BY lang),
    colt AS (SELECT source, sum(o) AS ct FROM obs GROUP BY source),
    tot AS (SELECT sum(o) AS t FROM obs),
    grid AS (SELECT r.lang, c.source, r.rt, c.ct FROM rowt r CROSS JOIN colt c),
    cells AS (
      SELECT g.lang, g.source, coalesce(o.o, 0) AS o,
             g.rt * g.ct / t.t AS e
      FROM grid g
      LEFT JOIN obs o ON o.lang = g.lang AND o.source = g.source
      CROSS JOIN tot t
    )
    SELECT lang, source,
           CAST(o AS BIGINT) AS observed,
           round(e, 6) AS expected,
           round((o - e) * (o - e) / e, 6) AS chi2_term
    FROM cells
"""


@register("chi2_lang_source_cells", oracle=_CHI2_ORACLE)
def chi2_lang_source_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence cells for lang × source: observed counts,
    expected counts under independence (row·col/total), and each cell's
    (O−E)²/E term — Σ terms is the chi-square statistic (df =
    (rows−1)(cols−1)). Per-cell emission keeps the driver check exact AND
    shows which cells drive the dependence, the readout an analyst
    actually wants. The grid is DENSE (rowt x colt cross join, observed
    left-joined on): Pearson's statistic sums over ALL R x C cells — a
    zero-observed cell contributes its full E, and omitting it (97-99 of
    100 cells are empty on these fixtures) would understate the statistic
    the df=(R-1)(C-1) critical value assumes.

    Scale: one (lang, source)-keyed count reduction; the dense grid is
    |langs| x |sources| rows built from two group-count-sized marginal
    frames; everything after is per-cell arithmetic on exact counts —
    deterministic across engines."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    obs = persist_once(
        docs.groupBy("lang", "source").agg(
            F.count(F.lit(1)).cast("double").alias("o")
        )
    )
    rowt = obs.groupBy("lang").agg(F.sum("o").alias("rt"))
    colt = obs.groupBy("source").agg(F.sum("o").alias("ct"))
    tot = obs.agg(F.sum("o").alias("t"))
    grid = F.broadcast(rowt).crossJoin(F.broadcast(colt))
    e = F.col("rt") * F.col("ct") / F.col("t")
    o = F.coalesce("o", F.lit(0.0))
    return (
        grid.join(F.broadcast(obs), ["lang", "source"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            o.cast("bigint").alias("observed"),
            F.round(e, 6).alias("expected"),
            F.round((o - e) * (o - e) / e, 6).alias("chi2_term"),
        )
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit — the fraud/data-forensics screen: natural
# multi-scale amounts should follow P(d) = log10(1 + 1/d).
# ---------------------------------------------------------------------------

_BENFORD_ORACLE = """
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    cnt AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY digit
    ),
    tot AS (SELECT sum(n) AS t FROM cnt)
    SELECT digit, n,
           round(CAST(n AS DOUBLE) / t.t, 6) AS observed_p,
           round(log10(1.0 + 1.0 / digit), 6) AS benford_p,
           round(CAST(n AS DOUBLE) / t.t - log10(1.0 + 1.0 / digit), 6)
             AS deviation
    FROM cnt CROSS JOIN tot t
"""


@register("benford_first_digit", oracle=_BENFORD_ORACLE)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals: per leading digit,
    the observed share vs log10(1 + 1/d) and the signed deviation — the
    forensic screen auditors run for fabricated amounts. (TPC-H's uniform
    price generator deliberately FAILS Benford — large deviations here are
    the fixture behaving honestly, and the query's job is to expose
    exactly that.)

    Determinism: the digit comes from floor()'s decimal string (an
    explicit floor — engine CAST-to-integer rounding rules differ); shares
    are exact-count divisions rounded late.

    Scale: map-side digit extraction, one 9-key count reduction, 1-row
    total broadcast."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 1
    )
    # explicit floor(): DuckDB's double→BIGINT cast ROUNDS half-even while
    # Spark's truncates — a 89999.6 total would land digit 9 on one engine
    # and 8 on the other (observed at sf0.01). floor() agrees everywhere.
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("bigint")
    cnt = orders.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = cnt.agg(F.sum("n").cast("double").alias("t"))
    obs_p = F.col("n").cast("double") / F.col("t")
    ben_p = F.log10(F.lit(1.0) + 1.0 / F.col("digit"))
    return cnt.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.round(obs_p, 6).alias("observed_p"),
        F.round(ben_p, 6).alias("benford_p"),
        F.round(obs_p - ben_p, 6).alias("deviation"),
    )


# ---------------------------------------------------------------------------
# Fixed-width histogram with a DENSE bin spine — empty bins emitted as
# zero rows (the charting/monitoring contract equi-depth deciles don't
# give): bins from a sequence() spine, counts left-joined on.
# ---------------------------------------------------------------------------

_HIST_BINS = 20

_HIST_ORACLE = f"""
    WITH ext AS (
      SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
    ),
    binned AS (
      SELECT CASE WHEN e.hi = e.lo THEN 0
                  ELSE least(CAST(floor((o_totalprice - e.lo)
                                        / ((e.hi - e.lo) / {_HIST_BINS}))
                             AS BIGINT), {_HIST_BINS - 1}) END AS bin
      FROM orders CROSS JOIN ext e
    ),
    cnt AS (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM binned GROUP BY bin),
    spine AS (SELECT unnest(range(0, {_HIST_BINS})) AS bin)
    SELECT s.bin,
           round(e.lo + s.bin * ((e.hi - e.lo) / {_HIST_BINS}), 6) AS bin_lo,
           round(e.lo + (s.bin + 1) * ((e.hi - e.lo) / {_HIST_BINS}), 6) AS bin_hi,
           coalesce(c.n, 0) AS n_rows
    FROM spine s
    LEFT JOIN cnt c ON c.bin = s.bin
    CROSS JOIN ext e
"""


@register("histogram_fixed_width", oracle=_HIST_ORACLE)
def histogram_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width 20-bin histogram of order totals with a DENSE bin
    spine: every bin appears even at count 0 (sequence() spine + left
    join — the same dense-spine discipline as gap_fill_hourly), the
    contract charting and alert thresholds need that a sparse GROUP BY
    breaks. The max value clamps into the last bin (standard right-closed
    final bucket).

    Determinism: bin edges derive from the exact min/max row; bin
    assignment is floor() on identical doubles; counts are exact.

    Scale: one min/max reduce (1-row broadcast), map-side binning, a
    20-key count, and a spine join on a literal 20-row frame."""
    orders = load_table(spark, sf_dir, "orders")
    ext = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / _HIST_BINS
    # CASE guards the hi==lo degenerate corpus (ANSI division-by-zero
    # aborts where the oracle's inf/NaN binning would not); the branch is
    # lazy per row, so normal corpora never evaluate the guard.
    binned = (
        orders.crossJoin(F.broadcast(ext))
        .select(
            F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("bigint"))
            .otherwise(
                F.least(
                    F.floor(
                        (F.col("o_totalprice") - F.col("lo")) / width
                    ).cast("bigint"),
                    F.lit(_HIST_BINS - 1),
                )
            )
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    spine = (
        ext.select(
            F.explode(F.sequence(F.lit(0), F.lit(_HIST_BINS - 1))).alias("bin"),
            "lo",
            "hi",
        )
    )
    return (
        spine.join(F.broadcast(binned), "bin", "left")
        .select(
            F.col("bin").cast("bigint").alias("bin"),
            # association matches the oracle EXACTLY: bin * ((hi-lo)/20),
            # not (bin*(hi-lo))/20 — the two differ by 1 ULP on ~1/40k of
            # (lo,hi,bin) triples, enough to flip round(,6) (fuzzed)
            F.round(
                F.col("lo")
                + F.col("bin") * ((F.col("hi") - F.col("lo")) / _HIST_BINS),
                6,
            ).alias("bin_lo"),
            F.round(
                F.col("lo")
                + (F.col("bin") + 1)
                * ((F.col("hi") - F.col("lo")) / _HIST_BINS),
                6,
            ).alias("bin_hi"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic mode aggregate — most-frequent value per group with a full
# tiebreak (engine-native mode() functions break ties arbitrarily, which
# can never hash-match across engines; count + rank is the portable form).
# ---------------------------------------------------------------------------

_MODE_ORACLE = """
    WITH cnt AS (
      SELECT c_mktsegment, c_nationkey, CAST(count(*) AS BIGINT) AS n
      FROM customer GROUP BY c_mktsegment, c_nationkey
    ),
    ranked AS (
      SELECT c_mktsegment, c_nationkey, n,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY n DESC, c_nationkey) AS rk
      FROM cnt
    )
    SELECT c_mktsegment,
           CAST(c_nationkey AS BIGINT) AS mode_nationkey,
           n AS mode_count
    FROM ranked WHERE rk = 1
"""


@register("mode_nation_per_segment", oracle=_MODE_ORACLE)
def mode_nation_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: the most common customer nation per
    market segment, ties broken by lowest nation key. Engine-native mode()
    breaks ties arbitrarily — unusable under a cross-engine hash gate —
    so the portable form is count + row_number, which also generalizes to
    top-k modes for free.

    Scale: one (group, value)-keyed count reduction, then a
    WindowGroupLimit-prunable rank over the group-count-sized frame."""
    cust = load_table(spark, sf_dir, "customer")
    cnt = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    rk = F.row_number().over(
        W.partitionBy("c_mktsegment").orderBy(F.desc("n"), "c_nationkey")
    )
    return (
        cnt.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "c_mktsegment",
            F.col("c_nationkey").cast("bigint").alias("mode_nationkey"),
            F.col("n").alias("mode_count"),
        )
    )


# ---------------------------------------------------------------------------
# Order inter-arrival profile — days between a customer's consecutive
# orders, rolled up per market segment: the purchase-cadence SLA/CRM
# readout (the continuous companion of retention_cohorts).
# ---------------------------------------------------------------------------

_IAT_ORACLE = """
    WITH gaps AS (
      SELECT c.c_mktsegment,
             CAST(date_diff('day',
                  lag(o.o_orderdate) OVER (PARTITION BY o.o_custkey
                                           ORDER BY o.o_orderdate,
                                                    o.o_orderkey),
                  o.o_orderdate) AS BIGINT) AS gap_days
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT c_mktsegment,
           CAST(count(gap_days) AS BIGINT) AS n_gaps,
           round(CAST(sum(gap_days) AS DOUBLE) / nullif(count(gap_days), 0),
                 6) AS mean_gap_days,
           round(quantile_cont(gap_days, 0.5), 6) AS median_gap_days,
           round(quantile_cont(gap_days, 0.95), 6) AS p95_gap_days
    FROM gaps
    GROUP BY c_mktsegment
"""


@register("order_interarrival_by_segment", oracle=_IAT_ORACLE)
def order_interarrival_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order inter-arrival profile: days between each customer's
    consecutive orders (lag over (o_orderdate, o_orderkey) — the key
    tiebreak makes same-day order pairs deterministic), aggregated per
    market segment as count / exact mean / median / p95. The
    purchase-cadence readout behind replenishment and churn models.

    Determinism: gaps are exact integer date differences; the mean
    divides an exact BIGINT sum (try_divide/nullif-guarded for a
    single-order-per-customer corpus); percentiles interpolate over
    integers.

    Scale: one customer-keyed window shuffle + a broadcast dimension join
    + a 5-key rollup; exact per-group percentiles hand off to the
    certified percentile_approx at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn(
            "gap_days",
            F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).cast(
                "bigint"
            ),
        )
        .join(F.broadcast(cust), "o_custkey")
    )
    return gaps.groupBy("c_mktsegment").agg(
        F.count("gap_days").cast("bigint").alias("n_gaps"),
        F.round(
            F.try_divide(
                F.sum("gap_days").cast("double"), F.count("gap_days")
            ),
            6,
        ).alias("mean_gap_days"),
        F.round(F.percentile("gap_days", F.lit(0.5)), 6).alias(
            "median_gap_days"
        ),
        F.round(F.percentile("gap_days", F.lit(0.95)), 6).alias(
            "p95_gap_days"
        ),
    )


# ---------------------------------------------------------------------------
# Bayesian-smoothed group means — the IMDB-weighted-rating shape: shrink
# small-sample group means toward the global mean so a 2-row part can't
# top the ranking on noise.
# ---------------------------------------------------------------------------

_BAYES_M = 20  # prior strength (pseudo-observations at the global mean)

_BAYES_ORACLE = f"""
    WITH per_part AS (
      SELECT l_partkey,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(l_quantity) AS DOUBLE) AS s
      FROM lineitem GROUP BY l_partkey
    ),
    gstats AS (SELECT sum(s) / sum(n) AS gm FROM per_part)
    SELECT l_partkey, n,
           round(s / n, 6) AS raw_mean,
           round((s + {_BAYES_M} * g.gm) / (n + {_BAYES_M}), 6)
             AS smoothed_mean
    FROM per_part CROSS JOIN gstats g
    ORDER BY smoothed_mean DESC, l_partkey
    LIMIT 25
"""


@register("bayes_smoothed_part_scores", oracle=_BAYES_ORACLE)
def bayes_smoothed_part_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 parts by Bayesian-smoothed mean order quantity: smoothed =
    (Σq + m·global_mean)/(n + m) with m=20 pseudo-observations — the
    IMDB-weighted-rating estimator that stops tiny-sample groups from
    topping rankings on noise.

    Determinism: quantities are integers, so every per-part sum is exact;
    the global mean is one exact division; ranking is on the ROUNDED
    smoothed mean with a key tiebreak.

    Scale: one part-keyed reduction, a 1-row broadcast global mean, and a
    TakeOrderedAndProject top-25."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("l_quantity").cast("double").alias("s"),
    )
    glob = per_part.agg((F.sum("s") / F.sum("n")).alias("gm"))
    return (
        per_part.crossJoin(F.broadcast(glob))
        .select(
            "l_partkey",
            "n",
            F.round(F.col("s") / F.col("n"), 6).alias("raw_mean"),
            F.round(
                (F.col("s") + _BAYES_M * F.col("gm"))
                / (F.col("n") + _BAYES_M),
                6,
            ).alias("smoothed_mean"),
        )
        .orderBy(F.desc("smoothed_mean"), "l_partkey")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Month-over-month growth — the BI time-series readout: period totals plus
# the lag-based growth rate.
# ---------------------------------------------------------------------------

_MOM_ORACLE = """
    WITH monthly AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY month
    )
    SELECT month,
           round(cents / 100.0, 2) AS revenue,
           CAST(floor(1000000.0
                      * (cents - lag(cents) OVER (ORDER BY month))
                      / nullif(lag(cents) OVER (ORDER BY month), 0))
                AS BIGINT) AS mom_growth_ppm
    FROM monthly
"""


@register("revenue_mom_growth", oracle=_MOM_ORACLE)
def revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with month-over-month growth rate (lag window over
    the month-grain rollup; first month emits NULL growth, zero-revenue
    months are try_divide-guarded). The dashboard query behind every
    growth chart.

    Integer-cents migration (round-9): monthly totals accumulate exact
    BIGINT cents (the old round(sum(double), 2) was layout-dependent at
    the cent boundary), and the growth rate is floor-to-BIGINT ppm of one
    double division of exact integer cents — bit-identical cross-engine,
    where round(,6) of that bit-identical double is the .5-tie class
    (SCALING.md round-8 late find).

    Scale: one month-keyed reduction (map-side partial), then a
    single-partition lag over the month-grain frame (driver-sized)."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "cents"
        )
    )
    w = W.orderBy("month")
    prev = F.lag("cents").over(w)
    return monthly.select(
        "month",
        F.round(F.col("cents") / F.lit(100.0), 2).alias("revenue"),
        F.floor(
            F.try_divide(
                F.lit(1000000.0) * (F.col("cents") - prev), prev
            )
        )
        .cast("bigint")
        .alias("mom_growth_ppm"),
    )


# ---------------------------------------------------------------------------
# ks_two_sample_chars: Kolmogorov-Smirnov two-sample statistic —
# the nonparametric distribution-shift test class (pairs with
# psi_snapshot_drift, which needs pre-agreed bins, and chi2, which needs
# categories: KS compares two FULL empirical CDFs with no binning choice —
# "did the en corpus's length distribution drift from the rest"). Verified
# by tests/test_ks_staged.py.
#
# Determinism (fully EXACT, no margin argument): the statistic is computed
# as an INTEGER — D = max_x |F1(x)·n1·n2 − F2(x)·n1·n2| needs no division:
# d_num(x) = |c1(≤x)·n2 − c2(≤x)·n1| over exact BIGINT prefix counts, the
# max and its witness score are integer-argmaxed with a full (d DESC,
# score ASC) tiebreak, and the one /(n1·n2) quotient is displayed as a
# floor-ppm of exact integers. Domain note: d_num·10⁶ ≤ n1·n2·10⁶, inside
# int64 for n1·n2 up to ~9e12 (n ~ 3e6 per side) — far above certified
# SFs; the at-scale swap is DECIMAL(38) on one line.
#
# Scale shape: one aggregation to the distinct-score frame (cardinality =
# distinct scores, NOT rows — the auc_mann_whitney_lang shape), one
# ordered prefix-sum window over that small frame, one argmax reduce. For
# continuous scores at 100 TB the same plan runs on the certified
# equi-depth bucket boundaries (the KS sup is then exact on the bucketed
# CDF, a documented lower bound of the raw-data statistic).
# ---------------------------------------------------------------------------

KS_TWO_SAMPLE_ORACLE = """
WITH s AS (
  SELECT n_chars AS score,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS c2
  FROM documents GROUP BY 1
),
pre AS (
  SELECT score,
         CAST(sum(c1) OVER (ORDER BY score
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS f1,
         CAST(sum(c2) OVER (ORDER BY score
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS f2,
         CAST(sum(c1) OVER () AS BIGINT) AS n1,
         CAST(sum(c2) OVER () AS BIGINT) AS n2
  FROM s
),
d AS (
  SELECT score, n1, n2, abs(f1 * n2 - f2 * n1) AS d_num
  FROM pre
)
SELECT n1, n2,
       CAST(d_num AS BIGINT) AS d_num,
       CAST(d_num * 1000000 // (n1 * n2) AS BIGINT) AS d_ppm,
       CAST(score AS BIGINT) AS at_score
FROM d
ORDER BY d_num DESC, score ASC
LIMIT 1
"""


@register("ks_two_sample_chars", oracle=KS_TWO_SAMPLE_ORACLE)
def ks_two_sample_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic of n_chars for
    lang = 'en' vs the rest: the sup-distance of the two empirical CDFs as
    an exact integer (d_num = max |F1·n1·n2 − F2·n1·n2|), its witness
    score (smallest on ties), and the floor-ppm statistic. See the comment
    above for the determinism and scale contract."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy(F.col("n_chars").alias("score")).agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("lang") == "en", 0).otherwise(1))
        .cast("bigint")
        .alias("c2"),
    )
    wp = W.orderBy("score").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.orderBy("score").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    pre = s.select(
        "score",
        F.sum("c1").over(wp).cast("bigint").alias("f1"),
        F.sum("c2").over(wp).cast("bigint").alias("f2"),
        F.sum("c1").over(wall).cast("bigint").alias("n1"),
        F.sum("c2").over(wall).cast("bigint").alias("n2"),
    )
    d = pre.select(
        "score",
        "n1",
        "n2",
        F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")).alias(
            "d_num"
        ),
    )
    return (
        d.orderBy(F.desc("d_num"), F.asc("score"))
        .limit(1)
        .select(
            "n1",
            "n2",
            F.col("d_num").cast("bigint").alias("d_num"),
            F.expr("d_num * 1000000 div (n1 * n2)").cast("bigint").alias("d_ppm"),
            F.col("score").cast("bigint").alias("at_score"),
        )
    )


# ---------------------------------------------------------------------------
# bh_fdr_lang_source: Benjamini-Hochberg FDR correction over a battery of per-cell
# two-proportion z-tests — the multiple-testing layer every
# experimentation suite needs on top of ab_test_lift / chi2_lang_source.
# Battery: for each (lang, source) cell of documents, test the cell's
# long-doc rate (len(text) > 500) against the rest of the corpus; the
# two-sided p-value comes from the Abramowitz-Stegun 7.1.26 polynomial
# normal-tail approximation (|ε| < 7.5e-8 — a published public formula
# both engines evaluate with the IDENTICAL pinned-association expression
# text), then BH at q = 0.05: rank p ascending (full (p, lang, source)
# tiebreak), threshold_ppb = (rank·50,000,000) div m (integer floor —
# conservative), k* = max rank with p_ppb ≤ threshold, reject rank ≤ k*.
#
# Determinism: counts are exact; the z and A&S chains are fixed-order
# +−×÷ sqrt plus ONE exp per cell (the only libm-divergent op — Spark JVM
# Math.exp vs DuckDB libm may differ by 1 ulp, ~2e-16 relative, against a
# 1e-9 display quantum; tests/test_bh_fdr_staged.py asserts every p_ppb
# sits > 1e-3 quanta from a floor boundary at each SF, the tie-audit
# pattern).
# The BH decision itself is exact integer arithmetic given p_ppb.
#
# Scale shape: one (lang, source)-keyed count reduction over documents
# (the only data-sized shuffle), a 1-row totals broadcast crossJoin
# (whitelisted in tests/test_plans.py), then windows over the
# |langs|×|sources| cell frame (~100 rows at every SF — vocabulary-
# bounded, not data-bounded).
# ---------------------------------------------------------------------------

_BH_Z = (
    "((CAST(k1 AS DOUBLE)/CAST(n1 AS DOUBLE))"
    " - (CAST(kr AS DOUBLE)/CAST(nr AS DOUBLE)))"
    " / sqrt(((CAST(kt AS DOUBLE)/CAST(nt AS DOUBLE))"
    " * (1.0 - (CAST(kt AS DOUBLE)/CAST(nt AS DOUBLE))))"
    " * ((1.0/CAST(n1 AS DOUBLE)) + (1.0/CAST(nr AS DOUBLE))))"
)
_BH_P_TWO = (
    "(2.0 * ((exp(-(az*az)*0.5) * 0.3989422804014327)"
    " * (t*(0.31938153 + t*(-0.356563782 + t*(1.781477937"
    " + t*(-1.821255978 + t*1.330274429)))))))"
)

BH_FDR_ORACLE = f"""
WITH cells AS (
  SELECT lang, source,
         CAST(count(*) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN len(text) > 500 THEN 1 ELSE 0 END) AS BIGINT)
           AS k1
  FROM documents WHERE len(text) > 0
  GROUP BY lang, source
),
tot AS (SELECT CAST(sum(n1) AS BIGINT) AS nt, CAST(sum(k1) AS BIGINT) AS kt
        FROM cells),
z AS (
  SELECT lang, source, n1, k1,
         {_BH_Z} AS zval
  FROM (SELECT c.lang, c.source, c.n1, c.k1,
               t.nt - c.n1 AS nr, t.kt - c.k1 AS kr, t.nt AS nt, t.kt AS kt
        FROM cells c CROSS JOIN tot t)
),
p AS (
  SELECT lang, source, n1, k1,
         CAST(floor(zval * 1000000.0) AS BIGINT) AS z_micro,
         CAST(floor({_BH_P_TWO} * 1000000000.0) AS BIGINT) AS p_ppb
  FROM (SELECT lang, source, n1, k1, zval, az,
               1.0/(1.0 + 0.2316419*az) AS t
        FROM (SELECT lang, source, n1, k1, zval, abs(zval) AS az FROM z))
),
ranked AS (
  SELECT lang, source, n1, k1, z_micro, p_ppb,
         CAST(row_number() OVER (ORDER BY p_ppb, lang, source) AS BIGINT)
           AS p_rank,
         CAST(count(*) OVER () AS BIGINT) AS m
  FROM p
),
thr AS (
  SELECT *, (p_rank * 50000000) // m AS bh_threshold_ppb FROM ranked
)
SELECT lang, source,
       n1 AS n_docs, k1 AS n_long,
       z_micro, p_ppb, p_rank, bh_threshold_ppb,
       p_rank <= COALESCE(max(CASE WHEN p_ppb <= bh_threshold_ppb
                                   THEN p_rank END) OVER (), 0) AS rejected
FROM thr
"""


@register("bh_fdr_lang_source", oracle=BH_FDR_ORACLE)
def bh_fdr_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR over the (lang, source) two-proportion-test
    battery: per cell the long-doc-rate z statistic vs the rest of the
    corpus, the A&S 7.1.26 two-sided p-value (ppb-quantized), the p rank,
    the BH threshold (rank·q/m as an exact integer floor at q = 0.05),
    and the step-up rejection flag. See the comment above for the
    determinism and scale contract."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    cells = persist_once(
        docs.groupBy("lang", "source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n1"),
            F.sum((F.length("text") > 500).cast("int"))
            .cast("bigint")
            .alias("k1"),
        )
    )
    tot = cells.agg(
        F.sum("n1").cast("bigint").alias("nt"),
        F.sum("k1").cast("bigint").alias("kt"),
    )
    z = (
        cells.crossJoin(F.broadcast(tot))
        .withColumn("nr", F.expr("nt - n1"))
        .withColumn("kr", F.expr("kt - k1"))
        .withColumn("zval", F.expr(_BH_Z))
        .withColumn("az", F.expr("abs(zval)"))
        .withColumn("t", F.expr("1.0/(1.0 + 0.2316419*az)"))
    )
    p = z.select(
        "lang",
        "source",
        "n1",
        "k1",
        F.expr("CAST(floor(zval * 1000000.0) AS BIGINT)").alias("z_micro"),
        F.expr(f"CAST(floor({_BH_P_TWO} * 1000000000.0) AS BIGINT)").alias(
            "p_ppb"
        ),
    )
    w_rank = W.orderBy("p_ppb", "lang", "source")
    w_all = W.partitionBy()
    ranked = p.select(
        "*",
        F.row_number().over(w_rank).cast("bigint").alias("p_rank"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("m"),
    ).withColumn("bh_threshold_ppb", F.expr("(p_rank * 50000000) div m"))
    kstar = F.coalesce(
        F.max(
            F.when(
                F.col("p_ppb") <= F.col("bh_threshold_ppb"), F.col("p_rank")
            )
        ).over(w_all),
        F.lit(0),
    )
    return ranked.select(
        "lang",
        "source",
        F.col("n1").alias("n_docs"),
        F.col("k1").alias("n_long"),
        "z_micro",
        "p_ppb",
        "p_rank",
        "bh_threshold_ppb",
        (F.col("p_rank") <= kstar).alias("rejected"),
    )
