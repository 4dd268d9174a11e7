"""Data-ops / data-quality queries (north-star extensions): snapshot
drift (PSI), referential-integrity auditing, forward as-of joins with
tolerance, and event-transition analytics — the operational queries a
production lakehouse runs between pipeline commits.

Cross-engine conventions follow queries/__init__.py. The snapshot-version
derivation rules are shared with snapshot_diff_summary (timeseries.py) so
"v2" means the same dataset everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from talkinghead_datapipeline_spark.catalog import load_table, persist_once
from talkinghead_datapipeline_spark.queries import register
from talkinghead_datapipeline_spark.queries.timeseries import _SNAP_H, snap_hash20

# ---------------------------------------------------------------------------
# PSI — population stability index between two snapshot versions: the
# standard model-monitoring drift metric, computed over reference-decile
# bins. v2 is the same md5-derived version snapshot_diff_summary audits.
# ---------------------------------------------------------------------------

_PSI_CUTS = tuple(i / 10 for i in range(1, 10))  # decile boundaries from v1

_PSI_ORACLE = f"""
    WITH v1 AS (SELECT o_totalprice AS price FROM orders),
    tagged AS (SELECT o_orderkey, o_totalprice, {_SNAP_H} AS h FROM orders),
    v2 AS (
      SELECT CASE WHEN h = 1 THEN o_totalprice + 1.5
                  ELSE o_totalprice END AS price
      FROM tagged WHERE h <> 0
      UNION ALL
      SELECT o_totalprice AS price FROM tagged WHERE h = 2
    ),
    cuts AS (
      SELECT {", ".join(f"quantile_cont(price, {c}) AS c{i}" for i, c in enumerate(_PSI_CUTS))}
      FROM v1
    ),
    b1 AS (
      SELECT 1 + {" + ".join(f"(CASE WHEN price > c{i} THEN 1 ELSE 0 END)" for i in range(9))} AS bin
      FROM v1 CROSS JOIN cuts
    ),
    b2 AS (
      SELECT 1 + {" + ".join(f"(CASE WHEN price > c{i} THEN 1 ELSE 0 END)" for i in range(9))} AS bin
      FROM v2 CROSS JOIN cuts
    ),
    n1 AS (SELECT bin, CAST(count(*) AS BIGINT) AS c FROM b1 GROUP BY bin),
    n2 AS (SELECT bin, CAST(count(*) AS BIGINT) AS c FROM b2 GROUP BY bin),
    t1 AS (SELECT sum(c) AS t FROM n1),
    t2 AS (SELECT sum(c) AS t FROM n2)
    SELECT CAST(n1.bin AS BIGINT) AS bin,
           n1.c AS n_ref, n2.c AS n_cur,
           round(CAST(n1.c AS DOUBLE) / t1.t, 6) AS p_ref,
           round(CAST(n2.c AS DOUBLE) / t2.t, 6) AS p_cur,
           round((CAST(n2.c AS DOUBLE) / t2.t - CAST(n1.c AS DOUBLE) / t1.t)
                 * ln((CAST(n2.c AS DOUBLE) / t2.t)
                      / (CAST(n1.c AS DOUBLE) / t1.t)), 6) + 0.0 AS psi_term
    FROM n1 JOIN n2 ON n2.bin = n1.bin
    CROSS JOIN t1 CROSS JOIN t2
"""


@register("psi_snapshot_drift", oracle=_PSI_ORACLE)
def psi_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between the orders snapshot and its
    derived v2 (snapshot_diff_summary's version rules): bin both versions
    by v1's exact decile boundaries and emit each bin's share pair and PSI
    term (p_cur − p_ref)·ln(p_cur/p_ref) — the model-monitoring drift
    readout; Σ terms > 0.2 is the conventional "investigate" threshold.
    Every v1 decile is non-empty by construction, and v2 is a ≥90% subset
    of v1's rows, so no log hits a zero share on this derivation.

    Scale: boundaries are one exact percentile over the reference
    (percentile_approx at 100 TB — approx_quantiles_certified certifies
    that swap), broadcast as a 1-row frame; binning is map-side CASE
    arithmetic; the rollup keys on 10 bins. Both engines compute the
    identical interpolated boundaries from identical doubles, the same
    precedent winsorized_price_stats' driver row already certifies."""
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.select(F.col("o_totalprice").alias("price"))
    tagged = orders.select(
        "o_totalprice", snap_hash20("o_orderkey").alias("h")
    )
    v2 = (
        tagged.filter(F.col("h") != 0)
        .select(
            F.when(F.col("h") == 1, F.col("o_totalprice") + 1.5)
            .otherwise(F.col("o_totalprice"))
            .alias("price")
        )
        .unionAll(
            tagged.filter(F.col("h") == 2).select(
                F.col("o_totalprice").alias("price")
            )
        )
    )
    # r15 A/B (guide §1 — measure, don't pattern-match): the winsorized
    # pair's swap of F.percentile for the range-partitioned two-level rank
    # (operators/percentiles.py) was tried here too and REJECTED — psi's
    # boundaries sort ONE ~150k-row buffer, and the rank path's extra
    # stages (range sampling, offset frame, rank probe) cost more than
    # that single sort at sf0.1: isolated median-of-3 build+exec
    # 0.33+1.06 with F.percentile vs 0.41+1.39 with the rank (1.29x
    # worse). The docstring's at-100TB story is unchanged: the production
    # path is percentile_approx (certified by approx_quantiles_certified),
    # not a bigger exact sort.
    cuts = v1.agg(
        F.percentile("price", F.array(*[F.lit(c) for c in _PSI_CUTS])).alias(
            "cuts"
        )
    )

    # One JVM-parsed string for the 9-term bin expression (guide §4: the
    # Column-API fold cost ~1k py4j round-trips per build); same
    # left-associated 1 + CAST(price > element_at(cuts, i) AS INT) tree as
    # the loop it replaces.
    b = F.expr(
        "1 + "
        + " + ".join(
            f"CAST(price > element_at(cuts, {i + 1}) AS INT)"
            for i in range(len(_PSI_CUTS))
        )
    )
    # ONE binning pass over v1 ∪ v2 with per-version conditional counts
    # (guide §2.1/§2.2): the previous two binned() branches each built
    # their own crossJoin+groupBy DAG, and the t1/t2 totals re-aggregated
    # those branches — one shuffle on `bin` now carries both versions.
    # count(CASE WHEN ver=…) equals each branch's count(*) exactly, and
    # the `n_ref > 0 AND n_cur > 0` filter reproduces the previous INNER
    # join's bin set (a groupBy only emits bins that occur ≥ once). Totals
    # sum PRE-filter, exactly like the old per-branch aggregates.
    both = v1.select(F.lit(0).alias("_ver"), "price").unionAll(
        v2.select(F.lit(1).alias("_ver"), "price")
    )
    counts = (
        both.crossJoin(F.broadcast(cuts))
        .select("_ver", b.alias("bin"))
        .groupBy("bin")
        .agg(
            F.count(F.when(F.col("_ver") == 0, 1)).cast("bigint").alias("n_ref"),
            F.count(F.when(F.col("_ver") == 1, 1)).cast("bigint").alias("n_cur"),
        )
    )
    totals = counts.agg(
        F.sum("n_ref").cast("double").alias("t1"),
        F.sum("n_cur").cast("double").alias("t2"),
    )
    p_ref = F.col("n_ref").cast("double") / F.col("t1")
    p_cur = F.col("n_cur").cast("double") / F.col("t2")
    return (
        counts.filter((F.col("n_ref") > 0) & (F.col("n_cur") > 0))
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("bin").cast("bigint").alias("bin"),
            "n_ref",
            "n_cur",
            F.round(p_ref, 6).alias("p_ref"),
            F.round(p_cur, 6).alias("p_cur"),
            # + 0.0: negative-zero normalization (see emb_covariance_upper)
            (F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6) + 0.0).alias(
                "psi_term"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit — orphaned-children counts per FK relation,
# run against the DERIVED v2 snapshot (which deletes 1/20 of orders) so the
# audit demonstrably catches dangling references; the raw orders→customer
# relation rides along as the all-green control row.
# ---------------------------------------------------------------------------

_FK_ORACLE = f"""
    WITH tagged AS (SELECT o_orderkey, {_SNAP_H} AS h FROM orders),
    orders_v2 AS (SELECT o_orderkey FROM tagged WHERE h <> 0),
    li AS (
      SELECT 'lineitem->orders_v2' AS relation,
             CAST(count(*) AS BIGINT) AS n_children,
             CAST(count(*) FILTER (o.o_orderkey IS NULL) AS BIGINT) AS n_orphans
      FROM lineitem l LEFT JOIN orders_v2 o ON o.o_orderkey = l.l_orderkey
    ),
    oc AS (
      SELECT 'orders->customer' AS relation,
             CAST(count(*) AS BIGINT) AS n_children,
             CAST(count(*) FILTER (c.c_custkey IS NULL) AS BIGINT) AS n_orphans
      FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT relation, n_children, n_orphans,
           round(CAST(n_orphans AS DOUBLE) / n_children, 6) AS orphan_rate
    FROM (SELECT * FROM li UNION ALL SELECT * FROM oc)
"""


@register("fk_integrity_audit", oracle=_FK_ORACLE)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphaned-child counts per FK relation.
    lineitem is checked against the DERIVED orders v2 (1/20 of parents
    deleted by the shared snapshot rules) so the query demonstrably
    catches dangling children of a bad partial delete; orders→customer is
    the intact control row. The pre-commit data-quality gate of any
    lakehouse pipeline.

    Scale: each relation is one LEFT join counted map-side — the child
    side shuffles once on the FK, the parent key set is a pruned
    single-column projection; no row carries more than its key."""
    orders = load_table(spark, sf_dir, "orders")
    orders_v2 = orders.select(
        "o_orderkey", snap_hash20("o_orderkey").alias("_h")
    ).filter(
        F.col("_h") != 0
    ).select(F.col("o_orderkey").alias("_pk"))
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("_fk")
    )
    r1 = li.join(orders_v2, li._fk == orders_v2._pk, "left").agg(
        F.lit("lineitem->orders_v2").alias("relation"),
        F.count(F.lit(1)).cast("bigint").alias("n_children"),
        F.count(F.when(F.col("_pk").isNull(), 1)).cast("bigint").alias(
            "n_orphans"
        ),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("_pk")
    )
    oc = orders.select(F.col("o_custkey").alias("_fk"))
    r2 = oc.join(cust, oc._fk == cust._pk, "left").agg(
        F.lit("orders->customer").alias("relation"),
        F.count(F.lit(1)).cast("bigint").alias("n_children"),
        F.count(F.when(F.col("_pk").isNull(), 1)).cast("bigint").alias(
            "n_orphans"
        ),
    )
    return r1.unionAll(r2).select(
        "relation",
        "n_children",
        "n_orphans",
        F.round(
            F.col("n_orphans").cast("double") / F.col("n_children"), 6
        ).alias("orphan_rate"),
    )


# ---------------------------------------------------------------------------
# Forward as-of join with tolerance — pd.merge_asof(direction='forward',
# tolerance=30min) as an ignore-nulls window: for each purchase, the NEXT
# view's value, voided when it arrives more than 30 minutes later.
# ---------------------------------------------------------------------------

_ASOF_TOL_US = 1_800_000_000  # 30 minutes

_ASOF_FWD_ORACLE = f"""
    WITH nxt AS (
      SELECT user_id, event_id, event_type, value,
             epoch_us(ts) AS ts_us,
             first_value(CASE WHEN event_type = 'view' AND value IS NOT NULL
                              THEN value END
                         IGNORE NULLS) OVER w AS next_view_value,
             first_value(CASE WHEN event_type = 'view' AND value IS NOT NULL
                              THEN epoch_us(ts) END
                         IGNORE NULLS) OVER w AS next_view_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, event_id,
           round(value, 2) AS purchase_value,
           round(CASE WHEN next_view_us - ts_us <= {_ASOF_TOL_US}
                      THEN next_view_value END, 2) AS next_view_value,
           CAST(CASE WHEN next_view_us - ts_us <= {_ASOF_TOL_US}
                     THEN 1 ELSE 0 END AS BIGINT) AS within_tolerance
    FROM nxt WHERE event_type = 'purchase'
"""


@register("asof_next_view_tolerance", oracle=_ASOF_FWD_ORACLE)
def asof_next_view_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with tolerance (pd.merge_asof
    direction='forward', tolerance=30min): each purchase picks up the NEXT
    view's value, voided (NULL + flag 0) when that view arrives more than
    30 minutes later (views with NULL value are skipped by BOTH the value
    and the timestamp expression, so the pair always comes from one row).
    Complements asof_prior_view_value (backward, untoleranced) to complete
    the as-of class.

    Scale: identical O(N) shape to the backward form — ONE user-keyed
    shuffle, a following-frame ignore-nulls first_value (both the value
    and its timestamp come from the same first matching row, so the
    tolerance check is self-consistent), no range join, no self-join."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    # both CASEs guard on value IS NOT NULL so the value and its
    # timestamp provably come from the SAME first matching row — without
    # the guard, a NULL-valued view would advance nu but not nv and the
    # tolerance decision would pair with a different event's value.
    is_view = (F.col("event_type") == "view") & F.col("value").isNotNull()
    nv = F.first(F.when(is_view, F.col("value")), ignorenulls=True).over(w)
    nu = F.first(F.when(is_view, F.unix_micros("ts")), ignorenulls=True).over(w)
    within = (nu - F.unix_micros("ts")) <= _ASOF_TOL_US
    return (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            F.round("value", 2).alias("purchase_value"),
            F.round(F.when(within, nv), 2).alias("next_view_value"),
            F.coalesce(within.cast("bigint"), F.lit(0)).alias(
                "within_tolerance"
            ),
        )
        .filter(F.col("event_type") == "purchase")
        .drop("event_type")
    )


# ---------------------------------------------------------------------------
# Event-transition matrix — first-order Markov transitions between event
# types: the behavioral-flow readout (what users do next) product
# analytics dashboards are built on.
# ---------------------------------------------------------------------------

_TRANS_ORACLE = """
    WITH seq AS (
      SELECT event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
               AS nxt
      FROM events
    ),
    cnt AS (
      SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    tot AS (SELECT cur, sum(n) AS t FROM cnt GROUP BY cur)
    SELECT c.cur, c.nxt, c.n,
           round(CAST(c.n AS DOUBLE) / t.t, 6) AS p_next
    FROM cnt c JOIN tot t ON t.cur = c.cur
"""


@register("event_transition_matrix", oracle=_TRANS_ORACLE)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over event types: per-user
    lead() pairs, global (current → next) counts, and the conditional
    P(next | current). |event_types|² output rows.

    Scale: one user-keyed window shuffle builds the pair stream map-side;
    counts reduce on the (cur, nxt) pair key (25 cells) and the row totals
    broadcast back — the event stream is scanned once."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    cnt = seq.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = cnt.groupBy("cur").agg(F.sum("n").cast("double").alias("t"))
    return cnt.join(F.broadcast(tot), "cur").select(
        "cur",
        "nxt",
        "n",
        F.round(F.col("n").cast("double") / F.col("t"), 6).alias("p_next"),
    )


# ---------------------------------------------------------------------------
# REGISTERED r12 (staged r11): k-anonymity audit — the privacy/governance
# class (pairs with pii_redact_stats: that one masks direct identifiers,
# this one measures whether the QUASI-identifier combination still singles
# people out — the k-anonymity criterion every release review runs before
# data leaves the pipeline). Quasi-identifier tuple here: (lang, source,
# n_chars // 100) over documents — the categorical + coarse-numeric shape
# a real QI set has. For each k in a fixed policy ladder (2/5/10/25):
# how many equivalence classes fall below k, how many ROWS sit in them
# (the re-identifiable population), and that population as floor-ppm.
# Verified by tests/test_kanon_staged.py; registration takes an r12 seat
# per the house staging rule.
#
# Determinism (fully exact): everything is BIGINT counts of a single
# groupBy plus one conditional re-aggregation; the only division is the
# floor-ppm display of exact integers.
#
# Scale shape: ONE map-side-combinable aggregation to the equivalence-
# class frame (cardinality = distinct QI tuples, not rows), a map-side
# 4x threshold fan-out of THAT small frame, then a 4-row agg. The class
# frame is the thing that can skew at 100 TB (a hot QI tuple), but it
# only ever passes through count aggregation — no per-class expansion.
# ---------------------------------------------------------------------------

K_ANONYMITY_ORACLE = """
WITH classes AS (
  SELECT lang, source, n_chars // 100 AS size_bucket,
         CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2, 3
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS total_rows,
         CAST(count(*) AS BIGINT) AS total_classes,
         CAST(min(n) AS BIGINT) AS min_class_size
  FROM classes
),
ladder AS (
  SELECT k, CAST(sum(CASE WHEN n < k THEN 1 ELSE 0 END) AS BIGINT)
              AS classes_below,
         CAST(sum(CASE WHEN n < k THEN n ELSE 0 END) AS BIGINT)
              AS rows_below
  FROM classes, (SELECT unnest([2, 5, 10, 25]) AS k)
  GROUP BY k
)
SELECT CAST(k AS BIGINT) AS k, classes_below, rows_below,
       CAST(rows_below * 1000000 // total_rows AS BIGINT) AS rows_below_ppm,
       total_rows, total_classes, min_class_size
FROM ladder, tot
ORDER BY k
"""


@register("k_anonymity_audit", oracle=K_ANONYMITY_ORACLE)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the (lang, source, n_chars // 100)
    quasi-identifier over documents: per policy threshold k, the count of
    equivalence classes below k and the rows inside them (raw + floor-ppm),
    with the corpus totals and the smallest class. See the comment
    above for the determinism and scale contract."""
    docs = load_table(spark, sf_dir, "documents")
    # persist the equivalence-class frame: tot and ladder both derive from
    # it, and without the cut each would re-scan documents — one full pass
    # must feed both (same persist-cut rationale as the isotonic minimax)
    classes = persist_once(
        docs.groupBy(
            "lang", "source", F.expr("n_chars div 100").alias("size_bucket")
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = classes.agg(
        F.sum("n").cast("bigint").alias("total_rows"),
        F.count(F.lit(1)).cast("bigint").alias("total_classes"),
        F.min("n").cast("bigint").alias("min_class_size"),
    )
    ladder = (
        classes.select(
            "n", F.explode(F.array(*[F.lit(k) for k in (2, 5, 10, 25)])).alias("k")
        )
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("n") < F.col("k"), 1).otherwise(0))
            .cast("bigint")
            .alias("classes_below"),
            F.sum(F.when(F.col("n") < F.col("k"), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("rows_below"),
        )
    )
    return (
        ladder.crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("bigint").alias("k"),
            "classes_below",
            "rows_below",
            F.expr("rows_below * 1000000 div total_rows")
            .cast("bigint")
            .alias("rows_below_ppm"),
            "total_rows",
            "total_classes",
            "min_class_size",
        )
        .orderBy("k")
    )
