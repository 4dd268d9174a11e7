"""Time-series layer queries: resample (S7), as-of join, sessionization,
pivot, JSON extraction, correlated-agg subquery (SURVEY §2.c S7, §2.d).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from talkinghead_datapipeline_spark.catalog import load_table, persist_once
from talkinghead_datapipeline_spark.operators.resample import (
    resample_linear,
    with_frame_index,
)
from talkinghead_datapipeline_spark.functions.portable import md5_hash, md5_hash_sql
from talkinghead_datapipeline_spark.queries import register

# ---------------------------------------------------------------------------
# S7 — linear-interp resample of a uniform 50 fps series onto ceil(0.6·L)
# target frames (dpl/wav2vec/utils.py:5-21). The oracle replicates the exact
# closed-form grid arithmetic so both engines hit identical IEEE doubles.
# ---------------------------------------------------------------------------

_S7_ORACLE = """
    WITH src AS (
      SELECT user_id, value,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1
                  AS BIGINT) AS idx,
             count(*) OVER (PARTITION BY user_id) AS L
      FROM events WHERE event_type = 'view'
    ), fsrc AS (
      SELECT * FROM src WHERE L >= 2
    ), keys AS (
      SELECT user_id, max(L) AS L,
             CAST(ceil(max(L) * 30.0 / 50.0) AS BIGINT) AS num
      FROM fsrc GROUP BY user_id
    ), tgt AS (
      SELECT user_id, L, num, unnest(range(0, num)) AS tgt_idx
      FROM keys WHERE num >= 2
    ), tgtx AS (
      SELECT user_id, L, num, tgt_idx,
             (1.0/(2*(num/(L/50.0))))
               + tgt_idx * ((L/50.0 - 1.0/(2*(num/(L/50.0)))) / (num - 1)) AS xhat
      FROM tgt
    ), tgts AS (
      SELECT user_id, tgt_idx, xhat,
             greatest(0, least(L - 2,
               CAST(floor((xhat - 1.0/(2*50.0))
                    / ((L/50.0 - 1.0/(2*50.0)) / (L - 1))) AS BIGINT))) AS seg
      FROM tgtx
    ), segs AS (
      SELECT user_id, idx AS seg_idx, value AS y0,
             lead(value, 1) OVER (PARTITION BY user_id ORDER BY idx) AS y1,
             (1.0/(2*50.0)) + idx * ((L/50.0 - 1.0/(2*50.0)) / (L - 1)) AS sx0,
             ((L/50.0 - 1.0/(2*50.0)) / (L - 1)) AS sdx
      FROM fsrc
    )
    SELECT t.user_id, t.tgt_idx,
           round(y0 + ((xhat - sx0) / sdx) * (y1 - y0), 6) AS resampled
    FROM tgts t JOIN segs s ON t.user_id = s.user_id AND t.seg = s.seg_idx
    WHERE s.y1 IS NOT NULL
"""


@register("s7_resample_linear", oracle=_S7_ORACLE)
def s7_resample_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's 'view' series from 50 fps onto ceil(0.6·L) frames
    (wav2vec/utils.py:5-21 grid semantics) via operators.resample — closed-form
    uniform-grid segment lookup, one equi-join, no range join."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    indexed = with_frame_index(
        ev.select("user_id", "event_id", "value"), "user_id", ["event_id"]
    )
    num = F.ceil(F.col("_L") * 30.0 / 50.0).cast("bigint")
    out = resample_linear(indexed, "user_id", "value", num, src_fps=50.0)
    return out.select(
        "user_id", "tgt_idx", F.round("resampled", 6).alias("resampled")
    )


# ---------------------------------------------------------------------------
# Range (point-in-interval) join — binned equi-join scale path
# (operators.rangejoin). Alert windows = per-user P95 spikes, 10 minutes.
# ---------------------------------------------------------------------------


@register(
    "range_interval_join",
    oracle="""
    WITH thr AS (
      SELECT user_id, quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY user_id
    ),
    alerts AS (
      SELECT e.user_id, e.event_id AS alert_id, e.ts AS start_ts,
             e.ts + INTERVAL 10 MINUTE AS end_ts
      FROM events e JOIN thr USING (user_id)
      WHERE e.value >= thr.p95
    ),
    hits AS (
      SELECT a.user_id, a.alert_id, e.event_id
      FROM alerts a JOIN events e
        ON e.user_id = a.user_id AND e.ts >= a.start_ts AND e.ts < a.end_ts
    )
    SELECT user_id, alert_id,
           CAST(count(*) AS BIGINT) AS n_hits,
           CAST(min(event_id) AS BIGINT) AS first_hit,
           CAST(max(event_id) AS BIGINT) AS last_hit
    FROM hits GROUP BY user_id, alert_id
    """,
)
def range_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join at scale: per-user P95 spikes open 10-minute
    alert windows; count the events landing in each window. The naive
    non-equi join plans to BroadcastNestedLoopJoin (O(n·m) + a whole-side
    broadcast); operators.rangejoin bins time into 10-minute buckets,
    explodes each interval into its ≤2 covered bins, and equi-joins on
    (user_id, bin) — a plain shuffled join partitioned like every other
    time-series stage, refined by the exact containment predicate. The
    oracle runs the naive non-equi join, proving the binned plan emits
    exactly the same pairs."""
    from talkinghead_datapipeline_spark.operators.rangejoin import (
        point_in_interval_join,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    thr = ev.groupBy("user_id").agg(
        F.percentile("value", F.lit(0.95)).alias("p95")
    )
    alerts = (
        ev.join(thr, "user_id")
        .filter(F.col("value") >= F.col("p95"))
        .select(
            "user_id",
            F.col("event_id").alias("alert_id"),
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end_ts"),
        )
    )
    hits = point_in_interval_join(
        ev, alerts, "ts", "start_ts", "end_ts", keys=["user_id"], bin_width_sec=600
    )
    return hits.groupBy("user_id", "alert_id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.min("event_id").alias("first_hit"),
        F.max("event_id").alias("last_hit"),
    )


# ---------------------------------------------------------------------------
# As-of join — most recent prior observation (the S7/interval-join cousin;
# reference analog: aligning audio features to video frames).
# ---------------------------------------------------------------------------


@register(
    "asof_prior_view_value",
    oracle="""
    SELECT user_id, event_id, round(value, 2) AS purchase_value,
           round(last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 2)
             AS prior_view_value
    FROM events
    QUALIFY event_type = 'purchase'
    """,
)
def asof_prior_view_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join expressed as an ignore-nulls carry-forward window — O(N)
    single shuffle, no range join; the scalable form of pd.merge_asof."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    carried = F.last(
        F.when(F.col("event_type") == "view", F.col("value")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("prior_view_value", F.round(carried, 2))
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.round("value", 2).alias("purchase_value"),
            "prior_view_value",
        )
    )


# ---------------------------------------------------------------------------
# Sessionization — gap > 30 min starts a new session (lag + cumsum).
# ---------------------------------------------------------------------------


@register(
    "sessionize_users",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    ), sessions AS (
      SELECT user_id, event_id, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           min(event_id) AS first_event_id,
           round(sum(value), 2) AS session_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap flag + running sum = session id, then per-
    session rollup (the batch form of session_window())."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("event_id")
    gap_us = F.unix_micros("ts") - F.lag(F.unix_micros("ts"), 1).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap_us > 1_800_000_000, 1)
        .when(F.lag("ts", 1).over(w).isNull(), 1)
        .otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("bigint"),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("first_event_id"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )


# ---------------------------------------------------------------------------
# Pivot — wide-format aggregation (engine surface; §2.d pivot/unpivot).
# ---------------------------------------------------------------------------


@register(
    "pivot_status_by_segment",
    oracle="""
    SELECT c_mktsegment,
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS open_total,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS fulfilled_total,
           round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS pending_total,
           count(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def pivot_status_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order status → columns via groupBy().pivot() (Catalyst rewrites
    to the same conditional-agg form as the oracle's CASE WHEN)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    pivoted = (
        joined.groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return pivoted.select(
        "c_mktsegment",
        F.col("O_total").alias("open_total"),
        F.col("F_total").alias("fulfilled_total"),
        F.col("P_total").alias("pending_total"),
        (
            F.coalesce("O_n", F.lit(0))
            + F.coalesce("F_n", F.lit(0))
            + F.coalesce("P_n", F.lit(0))
        ).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Semi-structured props column — JSON extraction (events.props).
# ---------------------------------------------------------------------------


@register(
    "json_props_extract",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from the JSON props string + rollup (the reference's
    struct-container unpacking, h5.py:47-83, re-cast as semi-structured SQL)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg(k), 6).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "variant_props_extract",
    oracle="""
    SELECT event_type,
           CAST(sum(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS n_distinct_k
    FROM events
    GROUP BY event_type
    """,
)
def variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's native VariantType:
    ``parse_json`` shreds the JSON once into the columnar variant encoding
    and ``variant_get`` does typed path access — the scale path for
    repeated multi-field access (vs re-parsing the string per
    ``get_json_object`` call; at 100 TB the variant column is parsed once
    at ingest and every downstream read is binary field access). The
    oracle reads the same fields with DuckDB's JSON functions."""
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "bigint")
    v = ev.select("event_type", k.alias("k"))
    return v.groupBy("event_type").agg(
        F.sum(F.when(F.col("k") >= 50, 1).otherwise(0))
        .cast("bigint")
        .alias("n_high"),
        F.min("k").alias("min_k"),
        F.count_distinct(F.col("k")).cast("bigint").alias("n_distinct_k"),
    )


# ---------------------------------------------------------------------------
# Correlated-agg subquery (TPC-H Q17 shape): per-group threshold from an
# aggregate of the same table.
# ---------------------------------------------------------------------------


@register(
    "q17_below_avg_quantity",
    oracle="""
    SELECT p_brand,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2)
             AS small_lot_revenue,
           count(*) AS n_lineitems
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (SELECT l_partkey AS agg_pk, 0.5 * avg(l_quantity) AS half_avg_qty
          FROM lineitem GROUP BY l_partkey) agg
      ON agg_pk = l_partkey
    WHERE l_quantity < half_avg_qty
    GROUP BY p_brand
    """,
)
def q17_below_avg_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-lot revenue per brand: self-agg threshold join (Q17 shape).
    The per-part avg is an exact integer-sum average, so the `<` comparison
    is order-independent across engines. Integer-cents revenue: the
    per-brand sum accumulates exact BIGINT cents —
    the /100.0-then-round(,2) display is tie-free because the true value
    has exactly 2 decimals."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    thresholds = li.groupBy(F.col("l_partkey").alias("agg_pk")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg_qty")
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(thresholds, F.col("agg_pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
                / F.lit(100.0),
                2,
            ).alias("small_lot_revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# ---------------------------------------------------------------------------
# SCD-2 / CDC snapshot: treat the event log as a change stream and derive
# slowly-changing-dimension type-2 validity intervals per key — the merge
# shape every training-data catalog needs when upstream tables are replayed
# as change feeds (Debezium/Delta CDF style).
# ---------------------------------------------------------------------------


@register(
    "scd2_user_value_intervals",
    oracle="""
    WITH changes AS (
      SELECT user_id, ts, event_id, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id,
           CAST(row_number() OVER w AS BIGINT) AS version,
           CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
           CAST(coalesce(lead(epoch_us(ts)) OVER w, -1) AS BIGINT)
             AS valid_to_us,
           value,
           CAST(CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END
                AS BIGINT) AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_user_value_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 interval table from a change stream: each purchase event opens
    a new version of its user's value; ``valid_to`` is the next change's
    timestamp (sentinel -1 = open interval, flagged ``is_current``). One
    window pass — exactly the MERGE-free way to build a type-2 dimension
    from CDC at scale: a single shuffle on the natural key, lead() within
    the sorted partition, no self-join. Timestamps surface as epoch
    microseconds (bigint) so the result is canonicalizer-sortable and
    timezone-free. Tiebreak (ts, event_id) makes the version numbering a
    pure function of the data."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    from_us = F.unix_micros("ts")
    to_us = F.lead(from_us).over(w)
    return ev.select(
        "user_id",
        F.row_number().over(w).cast("bigint").alias("version"),
        from_us.alias("valid_from_us"),
        F.coalesce(to_us, F.lit(-1)).cast("bigint").alias("valid_to_us"),
        "value",
        F.when(to_us.isNull(), 1).otherwise(0).cast("bigint").alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Robust outlier detection: median/MAD z-scores per key — the data-cleaning
# filter that survives the heavy-tailed value distributions mean/stddev
# breaks on. Exact interpolated quantiles (np.quantile parity, same
# percentile ↔ quantile_cont pairing as s10_quantile_per_flag).
# ---------------------------------------------------------------------------


@register(
    "robust_outlier_flags",
    oracle="""
    WITH med AS (
      SELECT user_id, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY user_id
    ),
    dev AS (
      SELECT e.user_id, e.value, m.med, abs(e.value - m.med) AS adev
      FROM events e JOIN med m ON m.user_id = e.user_id
    ),
    mad AS (
      SELECT user_id, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY user_id
    )
    SELECT d.user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(max(d.med), 6) AS med,
           round(max(m.mad), 6) AS mad,
           CAST(sum(CASE WHEN d.adev > 3 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m ON m.user_id = d.user_id
    GROUP BY d.user_id
    """,
)
def robust_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user robust outlier counts: median + MAD (scaled by the normal
    consistency constant 1.4826), flagging |x − med| > 3σ̂. Windowed form:
    the median is a percentile WINDOW over user_id and the MAD a groupBy on
    the same key, so the single user_id hash partitioning satisfies both —
    one exchange end-to-end (the oracle's join form is value-equivalent;
    the window form is the plan you want when the key count is huge and a
    re-join would shuffle twice)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    dev = ev.select(
        "user_id",
        "value",
        F.percentile("value", F.lit(0.5)).over(w).alias("med"),
    ).withColumn("adev", F.abs(F.col("value") - F.col("med")))
    scored = dev.withColumn("mad", F.percentile("adev", F.lit(0.5)).over(w))
    return scored.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.max("med"), 6).alias("med"),
        F.round(F.max("mad"), 6).alias("mad"),
        F.sum(
            F.when(F.col("adev") > 3 * 1.4826 * F.col("mad"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_outliers"),
    )


# ---------------------------------------------------------------------------
# MERGE INTO semantics (Delta/Iceberg upsert) re-expressed as the
# full-outer-join + CASE plan every lakehouse MERGE compiles to.
# ---------------------------------------------------------------------------


@register(
    "merge_upsert_latest",
    oracle="""
    WITH last_ev AS (
      SELECT user_id, event_type, value
      FROM (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    ),
    base AS (SELECT c_custkey AS key, c_acctbal FROM customer)
    SELECT coalesce(b.key, c.user_id) AS key,
           CASE WHEN b.key IS NULL THEN 'inserted'
                WHEN c.user_id IS NULL THEN 'unchanged'
                ELSE 'updated' END AS action,
           round(CASE WHEN c.user_id IS NULL THEN b.c_acctbal
                      ELSE c.value END, 2) AS current_value
    FROM base b
    FULL OUTER JOIN last_ev c ON c.user_id = b.key
    WHERE NOT (c.user_id IS NOT NULL AND c.event_type = 'error')
    """,
)
def merge_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO with all three WHEN branches: the latest event per user
    is an upsert against the customer base — matched 'error' rows DELETE,
    other matches UPDATE the value, unmatched change keys INSERT, untouched
    base rows pass through. Compiled the way Delta/Iceberg compile MERGE:
    dedupe the source to one row per key (window argmax), one FULL OUTER
    shuffle join on the key, CASE per branch — no per-branch rescans of
    the (at 100 TB, huge) base. Deterministic source dedup via the
    (ts, event_id) tiebreak."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    last_ev = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "value")
    )
    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), "c_acctbal"
    )
    j = base.join(last_ev, base.key == last_ev.user_id, "full_outer")
    return j.filter(
        ~(F.col("user_id").isNotNull() & (F.col("event_type") == "error"))
    ).select(
        F.coalesce("key", "user_id").alias("key"),
        F.when(F.col("key").isNull(), "inserted")
        .when(F.col("user_id").isNull(), "unchanged")
        .otherwise("updated")
        .alias("action"),
        F.round(
            F.when(F.col("user_id").isNull(), F.col("c_acctbal")).otherwise(
                F.col("value")
            ),
            2,
        ).alias("current_value"),
    )


# ---------------------------------------------------------------------------
# Snapshot diff — dataset-versioning primitive: summarize added / removed /
# changed / unchanged rows between two table versions without ever
# materializing a row-aligned comparison. The second version is derived
# in-query by deterministic hash rules so both engines diff identical
# snapshots.
# ---------------------------------------------------------------------------

_SNAP_H = md5_hash_sql("'snap|' || CAST(o_orderkey AS VARCHAR)", 8) + " % 20"


def snap_hash20(key) -> "F.Column":
    """Spark side of ``_SNAP_H`` — THE snapshot-version hash. Every query
    deriving the v2 orders snapshot (snapshot_diff_summary,
    psi_snapshot_drift, fk_integrity_audit) must call this one helper so
    "v2" cannot silently diverge between them."""
    return md5_hash(F.concat(F.lit("snap|"), F.col(key).cast("string")), 8) % 20


@register(
    "snapshot_diff_summary",
    oracle=f"""
    WITH v1 AS (SELECT o_orderkey AS key, o_totalprice AS price FROM orders),
    tagged AS (SELECT o_orderkey, o_totalprice, {_SNAP_H} AS h FROM orders),
    v2 AS (
      SELECT o_orderkey AS key,
             CASE WHEN h = 1 THEN o_totalprice + 1.5
                  ELSE o_totalprice END AS price
      FROM tagged WHERE h <> 0
      UNION ALL
      SELECT o_orderkey + 10000000 AS key, o_totalprice AS price
      FROM tagged WHERE h = 2
    )
    SELECT CASE WHEN v1.key IS NULL THEN 'added'
                WHEN v2.key IS NULL THEN 'removed'
                WHEN v1.price <> v2.price THEN 'changed'
                ELSE 'unchanged' END AS change_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(coalesce(v2.price, 0) - coalesce(v1.price, 0)), 2)
             AS price_delta
    FROM v1 FULL OUTER JOIN v2 ON v2.key = v1.key
    GROUP BY 1
    """,
)
def snapshot_diff_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff two snapshot versions of orders (v2 = v1 with 1/20 of rows
    deleted, 1/20 price-shifted, 1/20 re-inserted under new keys — all
    md5-derived so the versions are engine-identical): one FULL OUTER join
    on the key, classify per row, roll up counts and net price drift.
    At 100 TB both sides are key-partitioned scans into a single shuffle
    join; nothing is row-aligned or collected. This is the audit query a
    versioned lakehouse runs between commits."""
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.select(F.col("o_orderkey").alias("key"), F.col("o_totalprice").alias("price"))
    tagged = orders.select(
        "o_orderkey", "o_totalprice", snap_hash20("o_orderkey").alias("h")
    )
    v2 = (
        tagged.filter(F.col("h") != 0)
        .select(
            F.col("o_orderkey").alias("key"),
            F.when(F.col("h") == 1, F.col("o_totalprice") + 1.5)
            .otherwise(F.col("o_totalprice"))
            .alias("price"),
        )
        .unionAll(
            tagged.filter(F.col("h") == 2).select(
                (F.col("o_orderkey") + 10_000_000).alias("key"),
                F.col("o_totalprice").alias("price"),
            )
        )
    )
    j = v1.alias("a").join(v2.alias("b"), F.col("a.key") == F.col("b.key"), "full_outer")
    return (
        j.select(
            F.when(F.col("a.key").isNull(), "added")
            .when(F.col("b.key").isNull(), "removed")
            .when(F.col("a.price") != F.col("b.price"), "changed")
            .otherwise("unchanged")
            .alias("change_type"),
            F.coalesce(F.col("b.price"), F.lit(0.0)).alias("p2"),
            F.coalesce(F.col("a.price"), F.lit(0.0)).alias("p1"),
        )
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum(F.col("p2") - F.col("p1")), 2).alias("price_delta"),
        )
    )


# ---------------------------------------------------------------------------
# Event-TIME range window frame — the rolling-aggregate class the row-based
# kernels (S6/S8) don't cover: "value in the trailing 30 minutes" must
# follow the clock, not the row count, when event spacing is irregular.
# ---------------------------------------------------------------------------


@register(
    "range_frame_trailing_30min",
    oracle="""
    SELECT user_id, event_id,
           CAST(count(*) OVER w AS BIGINT) AS n_30min,
           round(sum(value) OVER w, 2) AS sum_30min
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
    """,
)
def range_frame_trailing_30min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-minute rolling count/sum per user via a RANGE window
    frame over event-time micros: every event aggregates all events whose
    timestamp lies within [ts − 30 min, ts] — including same-timestamp
    peers, which a ROWS frame would split arbitrarily. Both engines order
    by the identical epoch-microsecond key, so frame boundaries are exact.
    One shuffle on user_id + an in-partition sort; at 100 TB this is the
    same single-exchange shape as every other per-key window — the range
    frame costs a two-pointer sweep per partition, not a join."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-1_800_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_30min"),
        F.round(F.sum("value").over(w), 2).alias("sum_30min"),
    )


# ---------------------------------------------------------------------------
# Funnel analysis over sessions — the product-analytics composition:
# sessionize, then test ORDERED stage progression (view → click →
# purchase) inside each session.
# ---------------------------------------------------------------------------


@register(
    "session_funnel_conversion",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_type, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, event_type,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS sid
      FROM flagged
    ),
    stages AS (
      SELECT user_id, sid,
             list_min(list(CASE WHEN event_type = 'view'
                                THEN epoch_us(ts) END)) AS t1,
             list(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS cts,
             list(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS pts
      FROM sessions GROUP BY user_id, sid
    ),
    funnel AS (
      SELECT t1,
             list_min(list_filter(cts, x -> x > t1)) AS t2,
             list_min(list_filter(pts,
               x -> x > list_min(list_filter(cts, c -> c > t1)))) AS t3
      FROM stages
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_viewed,
           CAST(sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clicked,
           CAST(sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purchased,
           round(sum(CASE WHEN t2 IS NOT NULL THEN 1.0 ELSE 0.0 END)
                 / sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END), 6)
             AS view_to_click,
           round(sum(CASE WHEN t3 IS NOT NULL THEN 1.0 ELSE 0.0 END)
                 / sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END), 6)
             AS click_to_purchase
    FROM funnel
    """,
)
def session_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → later click → later purchase) within 30-min
    gap sessions, rolled up to corpus conversion rates. Stage times fold
    per session as conditional epoch-micro lists (one collect per session
    — bounded by session length, the same state bound the streaming
    session window carries), and the strictly-later constraints are array
    HOFs over those lists: t2 = min{click > t1}, t3 = min{purchase > t2}.
    Null propagation through the comparisons encodes funnel drop-off
    identically on both engines. Shuffles: the sessionize window and the
    (user, sid) aggregation share one user_id partitioning; the final
    rollup is a 1-row reduce."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.lag(F.unix_micros("ts"), 1).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap_us > 1_800_000_000, 1)
        .when(F.lag("ts", 1).over(w).isNull(), 1)
        .otherwise(0),
    )
    w2 = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    sessions = flagged.withColumn("sid", F.sum("new_session").over(w2))
    us = F.unix_micros("ts")
    stages = sessions.groupBy("user_id", "sid").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("t1"),
        F.collect_list(
            F.when(F.col("event_type") == "click", us)
        ).alias("cts"),
        F.collect_list(
            F.when(F.col("event_type") == "purchase", us)
        ).alias("pts"),
    )
    t2 = F.array_min(F.filter("cts", lambda x: x > F.col("t1")))
    funnel = stages.select(
        "t1",
        t2.alias("t2"),
        F.array_min(
            F.filter("pts", lambda x: x > t2)
        ).alias("t3"),
    )
    n = lambda c: F.sum(F.when(F.col(c).isNotNull(), 1).otherwise(0)).cast("bigint")  # noqa: E731
    nf = lambda c: F.sum(F.when(F.col(c).isNotNull(), 1.0).otherwise(0.0))  # noqa: E731
    return funnel.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        n("t1").alias("n_viewed"),
        n("t2").alias("n_clicked"),
        n("t3").alias("n_purchased"),
        F.round(nf("t2") / n("t1"), 6).alias("view_to_click"),
        F.round(nf("t3") / n("t2"), 6).alias("click_to_purchase"),
    )


# ---------------------------------------------------------------------------
# EWMA — exponentially weighted moving average, the standard smoothing /
# drift-tracking primitive (pandas ewm(adjust=True) semantics), expressed as
# a TRUNCATED fixed-lag FIR so it stays a pure window expression: weights
# below (1-alpha)^K are dropped (K=24, alpha=0.2 -> tail mass < 0.5%), which
# (a) keeps the plan a single sort-shuffle per key like every other frame-
# grain window here, and (b) avoids the r^-j running-sum rescaling trick
# whose intermediate overflows doubles on 100 TB-scale series lengths.
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.2
_EWMA_K = 24
_EWMA_COEFS = tuple((1.0 - _EWMA_ALPHA) ** k for k in range(_EWMA_K))


def _ewma_oracle() -> str:
    # Same left-assoc summation order as the Spark expression: identical
    # IEEE doubles on both engines, round(, 6) only as belt-and-braces.
    num = " + ".join(
        f"coalesce({c!r} * lag(value, {k}) OVER w, 0.0)"
        for k, c in enumerate(_EWMA_COEFS)
    )
    den = " + ".join(
        f"CASE WHEN lag(value, {k}) OVER w IS NOT NULL THEN {c!r} ELSE 0.0 END"
        for k, c in enumerate(_EWMA_COEFS)
    )
    return f"""
    SELECT user_id, event_id,
           round(({num}) / ({den}), 6) AS ewma_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """


@register("ewma_user_values", oracle=_ewma_oracle())
def ewma_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing EWMA (alpha=0.2) per user series, truncated at 24 lags —
    pandas ``ewm(alpha=.2, adjust=True)`` up to a <0.5% weight tail.

    Scale shape: one sort-shuffle on the series key, then a map-only FIR
    over lag columns (the s8_savgol_fir scheme) — Spark evaluates all 24
    lags over one shared window sort. No rescaled running sums (overflow-
    prone), no applyInPandas."""
    ev = load_table(spark, sf_dir, "events")
    # The 24-lag FIR fold is assembled as ONE JVM-parsed string — a Column
    # loop costs ~3k py4j round-trips per build. It resolves to the tree of
    # that Column loop: double literals with the D suffix, left-associated
    # num/den sums, one lag window.
    over = "OVER (PARTITION BY user_id ORDER BY event_id)"
    nterms, dterms = [], []
    for k, c in enumerate(_EWMA_COEFS):
        x = "value" if k == 0 else f"lag(value, {k}) {over}"
        nterms.append(f"COALESCE({c!r}D * {x}, 0.0D)")
        dterms.append(f"(CASE WHEN {x} IS NOT NULL THEN {c!r}D ELSE 0.0D END)")
    return ev.selectExpr(
        "user_id",
        "event_id",
        f"round(({' + '.join(nterms)}) / ({' + '.join(dterms)}), 6)"
        " AS ewma_value",
    )


# ---------------------------------------------------------------------------
# Gap fill + forward fill — regularize an irregular event series onto an
# hourly grid (the feature-store / metrics-backfill primitive): per-user
# dense hour spine via sequence+explode, left join the sparse hourly
# aggregate, carry the last observation forward.
# ---------------------------------------------------------------------------


@register(
    "gap_fill_hourly",
    oracle="""
    WITH sparse AS (
      SELECT user_id, date_trunc('hour', ts) AS h, round(avg(value), 6) AS v
      FROM events GROUP BY 1, 2
    ),
    spans AS (
      SELECT user_id, min(h) AS h_lo, max(h) AS h_hi FROM sparse GROUP BY 1
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(h_lo, h_hi, INTERVAL 1 HOUR)) AS h
      FROM spans
    )
    SELECT g.user_id, g.h AS hour_ts,
           round(last_value(s.v IGNORE NULLS)
                 OVER (PARTITION BY g.user_id ORDER BY g.h
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS value_ffill,
           CAST(CASE WHEN s.v IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
    FROM grid g LEFT JOIN sparse s ON g.user_id = s.user_id AND g.h = s.h
    """,
)
def gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly gap fill with forward fill per user: sparse hourly means ->
    dense hour spine (sequence/explode between the user's own min and max
    observed hour) -> left join -> ignore-nulls carry-forward.

    Scale shape: the spine explode is bounded by each key's own time span
    (never the global calendar), the join and the fill window share the
    same (user_id) hash/sort partitioning so AQE coalesces them onto one
    exchange, and the first spine hour is an observed hour by construction,
    so the fill never emits NULL."""
    ev = load_table(spark, sf_dir, "events")
    sparse = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.round(F.avg("value"), 6).alias("v"))
    grid = (
        sparse.groupBy("user_id")
        .agg(F.min("h").alias("h_lo"), F.max("h").alias("h_hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("h_lo", "h_hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        grid.join(sparse, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.col("h").alias("hour_ts"),
            F.round(F.last("v", ignorenulls=True).over(w), 6).alias("value_ffill"),
            F.when(F.col("v").isNull(), 1).otherwise(0).cast("bigint").alias("is_gap"),
        )
    )


# ---------------------------------------------------------------------------
# OHLC bars — first/last/extreme downsampling into fixed 6h bars (the
# market-data resample; generally: "keep the endpoints and extremes of each
# bucket", which no plain min/max rollup expresses). first/last are min_by/
# max_by over a composite (ts, event_id) order so ties are deterministic.
# ---------------------------------------------------------------------------

_BAR_US = 6 * 3600 * 1_000_000  # 6h in microseconds


@register(
    "ohlc_6h_bars",
    oracle=f"""
    SELECT event_type,
           make_timestamp((epoch_us(ts) // {_BAR_US}) * {_BAR_US}) AS bar_ts,
           round(arg_min(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                              || lpad(CAST(event_id AS VARCHAR), 12, '0')), 6)
             AS open,
           round(max(value), 6) AS high,
           round(min(value), 6) AS low,
           round(arg_max(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                              || lpad(CAST(event_id AS VARCHAR), 12, '0')), 6)
             AS close,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS volume
    FROM events
    GROUP BY 1, 2
    """,
)
def ohlc_6h_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC + volume per (event_type, 6h bar): open/close via min_by/max_by
    on a zero-padded (epoch_us, event_id) composite — one hash aggregate, no window,
    no self-join (the naive form is two window passes or a join back to
    per-bar min/max timestamps). Bars are epoch-floored on both engines so
    bucket boundaries agree exactly. One shuffle on the (type, bar) key at
    any scale; partial aggregation halves what moves."""
    ev = load_table(spark, sf_dir, "events")
    bar = F.timestamp_micros(
        (F.floor(F.unix_micros("ts") / F.lit(_BAR_US)) * F.lit(_BAR_US)).cast(
            "bigint"
        )
    )
    # Zero-padded (epoch_us, event_id) string: a scalar composite order key
    # both engines' min_by/arg_min accept (DuckDB's arg_min has no struct/
    # list key overload); lexicographic == numeric under the padding.
    order_key = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return ev.groupBy(
        "event_type", bar.alias("bar_ts")
    ).agg(
        F.round(F.min_by("value", order_key), 6).alias("open"),
        F.round(F.max("value"), 6).alias("high"),
        F.round(F.min("value"), 6).alias("low"),
        F.round(F.max_by("value", order_key), 6).alias("close"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 2).alias("volume"),
    )


# ---------------------------------------------------------------------------
# Retention cohorts — the classic product-analytics rollup: users grouped by
# first-activity week, activity counted per weeks-since-cohort, rates
# against the cohort size. Weeks are epoch-floored integers (floor of
# epoch_us / one week) so bucket boundaries agree exactly across engines —
# no calendar week-start convention in play.
# ---------------------------------------------------------------------------

_WEEK_US = 7 * 24 * 3600 * 1_000_000


@register(
    "retention_cohorts",
    oracle=f"""
    WITH weeks AS (
      SELECT user_id, epoch_us(ts) // {_WEEK_US} AS week FROM events
      WHERE event_type = 'purchase'
    ),
    cohorts AS (
      SELECT user_id, min(week) AS cohort_week FROM weeks GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT w.user_id, c.cohort_week, w.week - c.cohort_week AS week_idx
      FROM weeks w JOIN cohorts c ON c.user_id = w.user_id
    ),
    sizes AS (
      SELECT cohort_week, count(*) AS cohort_size FROM cohorts GROUP BY cohort_week
    )
    SELECT a.cohort_week, a.week_idx,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           round(CAST(count(*) AS DOUBLE) / s.cohort_size, 6) AS retention
    FROM active a JOIN sizes s ON s.cohort_week = a.cohort_week
    GROUP BY a.cohort_week, a.week_idx, s.cohort_size
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention matrix over PURCHASE activity: cohort = a user's
    first purchase epoch-week; each (cohort_week, weeks-since) cell counts
    distinct purchasing users and its rate against the cohort size.
    week_idx 0 is the cohort week itself (retention 1.0 by construction —
    the sanity diagonal); purchases cover ~91% of fixture user-weeks, so
    later cells are genuinely mixed (any-event activity is saturated at
    1.0 on this fixture and certifies nothing).

    Scale shape: everything keys on user_id or cohort_week — the (user,
    week) projection reduces per user (min + distinct share one hash
    partitioning), cohort sizes are a tiny frame joined broadcast, and no
    window or sort appears anywhere. At 100 TB the only big shuffle is the
    user-keyed reduction of raw events to (user, week) pairs."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    weeks = ev.select(
        "user_id", F.expr(f"unix_micros(ts) div {_WEEK_US}").alias("week")
    )
    # persist_once: cohorts feeds both the activity join and the sizes
    # agg — unpersisted, the user-keyed reduction over raw events runs
    # twice. The frame is user-sized, the cheapest thing to hold.
    cohorts = persist_once(
        weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    )
    active = (
        weeks.join(cohorts, "user_id")
        .select("user_id", "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_idx"))
        .distinct()
    )
    sizes = cohorts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        active.join(F.broadcast(sizes), "cohort_week")
        .groupBy("cohort_week", "week_idx", "cohort_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
        .select(
            "cohort_week",
            "week_idx",
            "n_active",
            F.col("cohort_size").cast("bigint").alias("cohort_size"),
            F.round(
                F.col("n_active").cast("double") / F.col("cohort_size"), 6
            ).alias("retention"),
        )
    )


# ---------------------------------------------------------------------------
# changepoint_daily_revenue: single-split changepoint detection (binary
# segmentation, first step) over the daily revenue series — the
# distribution-shift / segmentation class (PSI certifies drift BETWEEN two
# known snapshots; this finds WHERE a series breaks, the monitoring
# primitive behind "when did the corpus change"). Verified by
# tests/test_changepoint_staged.py.
#
# Exactness: the optimal split of a series by within-segment SSE
# maximizes SL²/NL + SR²/NR (the SSE identity — constant Σx² drops out),
# so the whole search runs on exact BIGINT prefix sums of daily cent
# totals; the per-split score is one fixed IEEE expression over those
# exact integers (bit-identical cross-engine), the argmax carries a date
# tiebreak, and the reported means are exact integer floor-micro-dollar
# quotients.
# ---------------------------------------------------------------------------

CHANGEPOINT_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS s_cents,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1
),
pre AS (
  SELECT d,
         CAST(sum(s_cents) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS sl,
         CAST(sum(n) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS BIGINT) AS nl,
         CAST(sum(s_cents) OVER () AS BIGINT) AS s,
         CAST(sum(n) OVER () AS BIGINT) AS nt
  FROM daily
),
scored AS (
  SELECT d, sl, nl, s - sl AS sr, nt - nl AS nr, nt,
         (CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE)) / CAST(nl AS DOUBLE)
           + (CAST(s - sl AS DOUBLE) * CAST(s - sl AS DOUBLE))
             / CAST(nt - nl AS DOUBLE) AS score,
         (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(nt AS DOUBLE)
           AS base
  FROM pre WHERE nl < nt
)
SELECT strftime(d, '%Y-%m-%d') AS split_date, nl AS n_left, nr AS n_right,
       (sl * 10000) // nl AS mean_left_micro,
       (sr * 10000) // nr AS mean_right_micro,
       CAST(floor((score - base) / CAST(nt AS DOUBLE)) AS BIGINT)
         AS gain_per_order_c2
FROM scored
ORDER BY score DESC, split_date ASC
LIMIT 1
"""


@register("changepoint_daily_revenue", oracle=CHANGEPOINT_ORACLE)
def changepoint_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single best changepoint of the daily order-revenue series (binary
    segmentation, first split): the date that maximizes the between-
    segment SSE reduction, with left/right order counts, exact mean order
    values, and the per-order variance gain — "when did the distribution
    break", the segmentation primitive monitoring pipelines run after a
    drift alarm (psi_snapshot_drift) fires.

    Scale shape: one date-grain aggregation of orders (the only
    data-sized shuffle, map-side combinable), then prefix-sum windows
    over the distinct-day frame (bounded by calendar span, not rows) and
    an argmax. Every candidate split is scored from two prefix sums —
    the O(T) identity, no per-split rescan.

    Determinism (exact): daily cent totals and their prefix sums are
    associative BIGINTs; the score SL²/NL + SR²/NR is one fixed IEEE
    expression over those exact integers — bit-identical cross-engine —
    with a date tiebreak on the argmax; means are exact integer
    floor-micro-dollar quotients ((cents*1e4) div n, non-negative).
    Bound: cents*1e4 stays inside int64 through ~sf1 at TPC-H order
    rates."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("s_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    w_run = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.partitionBy()
    pre = daily.select(
        "d",
        F.sum("s_cents").over(w_run).cast("bigint").alias("sl"),
        F.sum("n").over(w_run).cast("bigint").alias("nl"),
        F.sum("s_cents").over(w_all).cast("bigint").alias("s"),
        F.sum("n").over(w_all).cast("bigint").alias("nt"),
    )
    scored = (
        pre.filter(F.col("nl") < F.col("nt"))
        .withColumn("sr", F.col("s") - F.col("sl"))
        .withColumn("nr", F.col("nt") - F.col("nl"))
        .withColumn(
            "score",
            (F.col("sl").cast("double") * F.col("sl").cast("double"))
            / F.col("nl").cast("double")
            + (F.col("sr").cast("double") * F.col("sr").cast("double"))
            / F.col("nr").cast("double"),
        )
        .withColumn(
            "base",
            (F.col("s").cast("double") * F.col("s").cast("double"))
            / F.col("nt").cast("double"),
        )
    )
    return (
        scored.orderBy(F.desc("score"), F.asc("d"))
        .limit(1)
        .select(
            # ISO string, not DATE: pandas widens DuckDB DATE to a
            # datetime, which hash-mismatches Spark's datetime.date
            F.date_format("d", "yyyy-MM-dd").alias("split_date"),
            F.col("nl").alias("n_left"),
            F.col("nr").alias("n_right"),
            F.expr("(sl * 10000) div nl").alias("mean_left_micro"),
            F.expr("(sr * 10000) div nr").alias("mean_right_micro"),
            F.floor(
                (F.col("score") - F.col("base")) / F.col("nt").cast("double")
            )
            .cast("bigint")
            .alias("gain_per_order_c2"),
        )
    )


# ---------------------------------------------------------------------------
# seasonal_dow_backtest: day-of-week seasonal decomposition + forecast
# backtest — the seasonality class (pairs with
# changepoint_daily_revenue, which finds where the daily series BREAKS, and
# q6_forecast_revenue: this certifies the series' periodic structure and
# whether exploiting it beats the naive forecast). Per weekday over the
# daily order-revenue series: the multiplicative seasonal index
# (dow mean / grand mean, floor ppm) and a walk-forward backtest comparing
# the seasonal-naive forecast (floor mean of the previous 4 same-weekday
# observations) against the naive forecast (previous observed day) by MAE
# in exact cents, on the same evaluation rows. Verified by
# tests/test_seasonal_staged.py.
#
# Determinism (fully exact): daily totals are BIGINT cents (round-half-away
# both engines); every derived statistic is an integer floor division of
# exact sums — the seasonal index composes two floor-means and one floor-ppm
# ratio (a DEFINED statistic, identical floors on both engines, the
# k_anonymity_audit pattern), forecasts are floor-means over exact window
# frames with a full calendar order (dates are unique after the daily
# rollup — no tiebreak needed), and the MAEs are floor-cent quotients.
# Weekday numbering is pinned to Monday=0 on both engines (Spark weekday()
# vs DuckDB isodow()-1 — dayofweek() disagrees between them).
#
# Scale shape: ONE date-grain combinable aggregation over orders (the only
# data-sized shuffle), then lag/frame windows over the ~2.4k-row distinct-
# day frame (bounded by calendar span, not data volume — the certified
# changepoint shape) and a 7-row rollup. At 100 TB the daily rollup is the
# only stage that sees the data.
# ---------------------------------------------------------------------------

SEASONAL_DOW_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(isodow(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS dow,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS s
  FROM orders GROUP BY 1, 2
),
tot AS (
  SELECT CAST(sum(s) AS BIGINT) AS st, CAST(count(*) AS BIGINT) AS nt
  FROM daily
),
fc AS (
  SELECT d, dow, s,
         lag(s) OVER (ORDER BY d) AS f_naive,
         CAST(sum(s) OVER wd AS BIGINT) AS s4,
         CAST(count(*) OVER wd AS BIGINT) AS n4
  FROM daily
  WINDOW wd AS (PARTITION BY dow ORDER BY d
                ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)
),
ev AS (
  SELECT dow, abs(s - f_naive) AS e_naive, abs(s - s4 // 4) AS e_seas
  FROM fc WHERE f_naive IS NOT NULL AND n4 = 4
),
idx AS (
  SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
         CAST(((sum(s) // count(*)) * 1000000) // (st // nt) AS BIGINT)
           AS seasonal_index_ppm
  FROM daily CROSS JOIN tot
  GROUP BY dow, st, nt
),
mae AS (
  SELECT dow, CAST(count(*) AS BIGINT) AS n_eval,
         CAST(sum(e_naive) // count(*) AS BIGINT) AS mae_naive_cents,
         CAST(sum(e_seas) // count(*) AS BIGINT) AS mae_seasonal_cents
  FROM ev GROUP BY dow
)
SELECT idx.dow, idx.n_days, idx.seasonal_index_ppm,
       mae.n_eval, mae.mae_naive_cents, mae.mae_seasonal_cents,
       CAST((mae.mae_seasonal_cents * 1000000)
            // nullif(mae.mae_naive_cents, 0) AS BIGINT) AS seas_vs_naive_ppm
FROM idx JOIN mae ON mae.dow = idx.dow
ORDER BY idx.dow
"""


@register("seasonal_dow_backtest", oracle=SEASONAL_DOW_ORACLE)
def seasonal_dow_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index (floor ppm of dow mean vs grand mean)
    plus a walk-forward MAE backtest of the seasonal-naive forecast
    (floor mean of the prior 4 same-weekday days) against the naive
    previous-day forecast, in exact cents on shared evaluation rows. See
    the comment above for the determinism and scale contract."""
    from talkinghead_datapipeline_spark.functions.geometry import round_half_away

    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(round_half_away(F.col("o_totalprice") * 100))
            .cast("bigint")
            .alias("s")
        )
        .select(F.col("d"), F.weekday("d").cast("bigint").alias("dow"), "s")
    )
    daily = persist_once(daily)

    tot = daily.agg(
        F.sum("s").cast("bigint").alias("st"),
        F.count(F.lit(1)).cast("bigint").alias("nt"),
    )
    idx = (
        daily.groupBy("dow")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("s").cast("bigint").alias("sd"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "n_days",
            F.expr("((sd div n_days) * 1000000) div (st div nt)")
            .cast("bigint")
            .alias("seasonal_index_ppm"),
        )
    )
    w_naive = W.orderBy("d")
    w_dow = W.partitionBy("dow").orderBy("d").rowsBetween(-4, -1)
    fc = daily.select(
        "dow",
        "s",
        F.lag("s").over(w_naive).alias("f_naive"),
        F.sum("s").over(w_dow).cast("bigint").alias("s4"),
        F.count(F.lit(1)).over(w_dow).cast("bigint").alias("n4"),
    )
    ev = fc.filter(F.col("f_naive").isNotNull() & (F.col("n4") == 4)).select(
        "dow",
        F.abs(F.col("s") - F.col("f_naive")).alias("e_naive"),
        F.abs(F.col("s") - F.expr("s4 div 4")).alias("e_seas"),
    )
    mae = ev.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval"),
        F.expr("sum(e_naive) div count(1)")
        .cast("bigint")
        .alias("mae_naive_cents"),
        F.expr("sum(e_seas) div count(1)")
        .cast("bigint")
        .alias("mae_seasonal_cents"),
    )
    return (
        idx.join(F.broadcast(mae), "dow")
        .select(
            "dow",
            "n_days",
            "seasonal_index_ppm",
            "n_eval",
            "mae_naive_cents",
            F.col("mae_seasonal_cents"),
            F.expr(
                "(mae_seasonal_cents * 1000000) div nullif(mae_naive_cents, 0)"
            )
            .cast("bigint")
            .alias("seas_vs_naive_ppm"),
        )
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# Daily-revenue trend family: mann_kendall_daily_trend (direction) and
# theil_sen_daily_slope (magnitude) over the same series of exact daily
# cent totals, and the same all-pairs d1 < d2 self-join of the
# DISTINCT-DAY frame — calendar-bounded (~2.4k days -> ~2.9M pairs at
# every SF; days do not grow with rows), broadcast on purpose, whitelisted
# as a deliberate nested-loop in tests/test_plans.py (same class as the
# isotonic minimax pair frame). The date-grain aggregation of orders is
# the only data-sized shuffle. Verified by
# tests/test_mann_kendall_staged.py.
# ---------------------------------------------------------------------------

_DAILY_REVENUE_CTE = """daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS x
  FROM orders GROUP BY 1
)"""


def _daily_revenue_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d, x): each order date's revenue in exact BIGINT cents, persisted
    (every consumer reads it more than once) — the Column twin of
    ``_DAILY_REVENUE_CTE``."""
    o = load_table(spark, sf_dir, "orders")
    return persist_once(
        o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("x")
        )
    )


def _day_pairs(daily: DataFrame) -> DataFrame:
    """(d1, x1, d2, x2) for every pair of days d1 < d2 of ``daily``."""
    a = daily.select(F.col("d").alias("d1"), F.col("x").alias("x1"))
    b = daily.select(F.col("d").alias("d2"), F.col("x").alias("x2"))
    return a.join(F.broadcast(b), F.col("d1") < F.col("d2"))


# mann_kendall_daily_trend: the non-parametric monotone-trend test over the
# daily order-revenue series. Pairs with changepoint_daily_revenue ("where
# did it break") and seasonal_dow_backtest ("is it calendar structure"):
# this one answers "is there a monotone drift at all", the test monitoring
# runs BEFORE segmenting. Public formulas: S = sum_{i<j} sign(x_j - x_i);
# Var(S) = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)] / 18 over value-tie groups
# t; z = (S -/+ 1)/sqrt(Var) with the standard continuity correction.
#
# Exactness: S and the x18 variance numerator are exact BIGINTs (signs and
# tie counts of exact daily cent totals); z is ONE fixed IEEE chain over
# them — var18/18.0, sqrt (IEEE-754 correctly rounded, hence portable),
# one divide — so z_micro needs no rounding-boundary argument. The
# significance flag compares identical doubles to the same literal on
# both engines.

MANN_KENDALL_ORACLE = f"""
WITH {_DAILY_REVENUE_CTE},
s AS (
  SELECT CAST(sum(CASE WHEN b.x > a.x THEN 1
                       WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM daily a JOIN daily b ON a.d < b.d
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
ties AS (
  SELECT CAST(COALESCE(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
           AS tie_term
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY x)
  WHERE t > 1
),
stat AS (
  SELECT n.n_days, s.n_pairs, s.s_stat,
         n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) - ties.tie_term
           AS var18
  FROM n, s, ties
),
z AS (
  SELECT n_days, n_pairs, s_stat, var18,
         CASE WHEN s_stat > 0 THEN
                CAST(s_stat - 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18.0)
              WHEN s_stat < 0 THEN
                CAST(s_stat + 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18.0)
              ELSE 0.0 END AS zval
  FROM stat
)
SELECT n_days, n_pairs, s_stat, var18,
       CAST(floor(zval * 1000000.0) AS BIGINT) AS z_micro,
       CASE WHEN s_stat > 0 THEN 'increasing'
            WHEN s_stat < 0 THEN 'decreasing' ELSE 'flat' END AS trend,
       abs(zval) >= 1.959964 AS significant_95
FROM z
"""


@register("mann_kendall_daily_trend", oracle=MANN_KENDALL_ORACLE)
def mann_kendall_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on daily order revenue: the exact
    pairwise sign statistic S, the tie-corrected x18 variance numerator,
    the continuity-corrected z (floor-micro), the trend direction, and a
    95% two-sided significance flag. See the comments above this query
    and its family for the determinism and scale contract."""
    daily = _daily_revenue_cents(spark, sf_dir)
    s = (
        _day_pairs(daily)
        .agg(
            F.sum(
                F.when(F.col("x2") > F.col("x1"), 1)
                .when(F.col("x2") < F.col("x1"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
    )
    n = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    ties = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    stat = (
        n.crossJoin(s)
        .crossJoin(ties)
        .withColumn(
            "var18",
            F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
            - F.col("tie_term"),
        )
    )
    zval = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1).cast("double")
            / F.sqrt(F.col("var18").cast("double") / 18.0),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1).cast("double")
            / F.sqrt(F.col("var18").cast("double") / 18.0),
        )
        .otherwise(F.lit(0.0))
    )
    return stat.select(
        "n_days",
        "n_pairs",
        "s_stat",
        "var18",
        F.floor(zval * 1000000.0).cast("bigint").alias("z_micro"),
        F.when(F.col("s_stat") > 0, "increasing")
        .when(F.col("s_stat") < 0, "decreasing")
        .otherwise("flat")
        .alias("trend"),
        (F.abs(zval) >= 1.959964).alias("significant_95"),
    )


# theil_sen_daily_slope: the robust (median-of-pairwise-slopes) trend
# estimator over the daily revenue series — the magnitude companion to
# mann_kendall_daily_trend's direction test (the classical Theil-Sen /
# Kendall pairing), robust to the outlier days an OLS slope
# (q6_forecast_revenue's regression class) is dragged by.
#
# Exactness: every pairwise slope is ONE IEEE division of exact integers
# (cent diff / day diff, both < 2^53) — bit-identical cross-engine; the
# median of an even pair count is sum/2 of two identical doubles. Rank
# selection orders by slope value alone: duplicate values make the k-th
# row ambiguous but its VALUE unique, which is all the median reads. The
# 2.5%/97.5% rank order statistics give a distribution-free slope band
# (floor-micro like the point estimate). Both band endpoints carry the
# same greatest(1, ·) degenerate-count guard: at m=1 an unguarded hi rank
# (m*975) div 1000 = 0 would select no row and return an asymmetric NULL
# band — with the guard both endpoints collapse to the single slope,
# matching the lo endpoint's semantics. Inactive at every certified SF
# (m ≈ 2.9M pairs).
#
# Scale shape: the family's date-grain aggregation and pair frame; the
# rank computation is a range-partitioned two-level row_number (parallel
# per-partition sorts + a ≤P-row offset frame) instead of one global
# single-partition sort — same rank function, same values at every rank.

THEIL_SEN_ORACLE = f"""
WITH {_DAILY_REVENUE_CTE},
slopes AS (
  SELECT CAST(b.x - a.x AS DOUBLE)
           / CAST(date_diff('day', a.d, b.d) AS DOUBLE) AS slope
  FROM daily a JOIN daily b ON a.d < b.d
),
ranked AS (
  SELECT slope, row_number() OVER (ORDER BY slope) AS rn,
         CAST(count(*) OVER () AS BIGINT) AS m
  FROM slopes
),
med AS (
  SELECT m,
         avg(CASE WHEN rn IN ((m + 1) // 2, (m + 2) // 2)
                  THEN slope END) AS med_slope,
         min(CASE WHEN rn = greatest(1, (m * 25) // 1000 + 1)
                  THEN slope END) AS lo_slope,
         min(CASE WHEN rn = greatest(1, (m * 975) // 1000)
                  THEN slope END) AS hi_slope
  FROM ranked GROUP BY m
)
SELECT m AS n_pairs,
       CAST(floor(med_slope * 1000000.0) AS BIGINT) AS slope_micro_per_day,
       CAST(floor(lo_slope * 1000000.0) AS BIGINT) AS slope_lo_micro,
       CAST(floor(hi_slope * 1000000.0) AS BIGINT) AS slope_hi_micro
FROM med
"""


@register("theil_sen_daily_slope", oracle=THEIL_SEN_ORACLE)
def theil_sen_daily_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust slope of daily order revenue (cents/day): the
    median pairwise slope, floor-micro, with distribution-free 2.5%/97.5%
    rank-band endpoints. See the comments above this query and its family
    for the determinism and scale contract."""
    slopes = persist_once(
        _day_pairs(_daily_revenue_cents(spark, sf_dir)).select(
            (
                (F.col("x2") - F.col("x1")).cast("double")
                / F.datediff("d2", "d1").cast("double")
            ).alias("slope")
        )
    )
    # Two-level rank over a RANGE partitioning, not one global row_number
    # window (which moves all ~2.9M slopes into ONE partition and sorts
    # them single-threaded — a 27 MB single-task stage): partitions are
    # value-ordered, so (partition offset + within-partition row_number)
    # is a valid global row_number for the same ORDER BY slope — the value
    # at every rank, which is all the CASE selection below reads, is
    # IDENTICAL (ties land in one partition; any tie order was already
    # arbitrary and value-at-rank is tie-order-free). Each partition sorts
    # ~m/P rows in parallel; the offset/count frames are ≤P rows. The
    # sampling pass behind repartitionByRange reads the persisted slopes,
    # not a second pair expansion.
    npart = spark.sparkContext.defaultParallelism
    sl = slopes.repartitionByRange(npart, F.col("slope")).withColumn(
        "pid", F.spark_partition_id()
    )
    # persist: the ranked frame feeds BOTH the offset/count branch and the
    # final rank join. Un-persisted, each branch plans its own
    # repartitionByRange whose bounds are sampled independently — the two
    # partitionings disagree and offset+lrn stops being a permutation
    # (the oracle diff catches it). One shared
    # materialization pins a single partitioning for every consumer.
    loc = persist_once(
        sl.withColumn(
            "lrn", F.row_number().over(W.partitionBy("pid").orderBy("slope"))
        )
    )
    pc = loc.groupBy("pid").agg(F.max("lrn").alias("pcnt"))
    off = pc.select(
        "pid",
        F.coalesce(
            F.sum("pcnt").over(
                W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("off"),
    )
    m1 = pc.agg(F.sum("pcnt").cast("bigint").alias("m"))
    ranked = (
        loc.join(F.broadcast(off), "pid")
        .crossJoin(F.broadcast(m1))
        .select("slope", (F.col("off") + F.col("lrn")).alias("rn"), "m")
    )
    med = ranked.groupBy("m").agg(
        F.avg(
            F.when(
                (F.col("rn") == F.expr("(m + 1) div 2"))
                | (F.col("rn") == F.expr("(m + 2) div 2")),
                F.col("slope"),
            )
        ).alias("med_slope"),
        F.min(
            F.when(
                F.col("rn") == F.expr("greatest(1, (m * 25) div 1000 + 1)"),
                F.col("slope"),
            )
        ).alias("lo_slope"),
        F.min(
            F.when(
                F.col("rn") == F.expr("greatest(1, (m * 975) div 1000)"),
                F.col("slope"),
            )
        ).alias("hi_slope"),
    )
    return med.select(
        F.col("m").alias("n_pairs"),
        F.floor(F.col("med_slope") * 1000000.0)
        .cast("bigint")
        .alias("slope_micro_per_day"),
        F.floor(F.col("lo_slope") * 1000000.0)
        .cast("bigint")
        .alias("slope_lo_micro"),
        F.floor(F.col("hi_slope") * 1000000.0)
        .cast("bigint")
        .alias("slope_hi_micro"),
    )


# ---------------------------------------------------------------------------
# acf_ljung_box_daily: the autocorrelation class (serial dependence;
# pairs with changepoint_daily_revenue / seasonal_dow_backtest
# / mann_kendall_daily_trend on the same daily-revenue series).
#
# Sample autocorrelation r_k (lags 1..7) of daily order revenue on the
# COMPLETE calendar grid (missing days are zero-revenue days — both
# engines generate the inclusive day sequence), plus the Ljung-Box
# portmanteau statistic accumulated the nelson_aalen way.
#
# Determinism (documented tier, not full rational exactness): the series
# is exact BIGINT dollars (cents div 100); the mean is the FLOORED
# integer mean m = S div n (a deterministic quantization of x̄ — the
# classical estimator to < 1 dollar); deviations and the lag-k product
# sums num_k = Σ d_t·d_{t−k} and den = Σ d_t² are EXACT int64
# (bound documented below); r_k = floor(1e6·(num_k/den)) is computed as
# one int64→double conversion per operand (correctly rounded, identical
# cross-engine even past 2^53) and one division — deterministic with no
# accumulation-order argument anywhere. The Ljung-Box terms quantize
# FIRST at pico resolution (t_k = floor(1e12·(r_k/1e6)²/(n−k)) — the
# raw terms are ~1e-7, far under a 1e-6 quantum) so the cumulative sum
# is an associative BIGINT prefix — lb_q_scaled = n·(n+2)·Σ t_j in
# exact integers (units 1e-12 of the classical Q; Q ≈ lb_q_scaled/1e12).
#
# Overflow bound (asserted in tests/test_acf_staged.py): n·max|d|² < 2^63 holds
# through max daily |deviation| ≈ 6.2e7 dollars at n≈2400 (sf0.1
# measures 7.5e6 — 8x headroom; a larger corpus moves the unit to k$,
# one constant).
#
# Scale shape: ONE data-sized aggregation (orders → daily cents), then
# everything lives on the calendar-bounded grid (~2.4k rows): the lag
# windows are single-partition by construction (same as nelson_aalen),
# the 1-row stats crossJoin is a broadcast nested loop by design
# (whitelisted in tests/test_plans.py).
# ---------------------------------------------------------------------------

ACF_LJUNG_BOX_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
),
span AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
grid AS (
  -- DuckDB 1.0 table functions reject subquery/lateral args; DATE + 1
  -- steps a day, so the inclusive grid is a recursive walk of the span
  -- (calendar-bounded depth, the dedup-cluster oracle's pattern)
  SELECT (SELECT d0 FROM span) AS day
  UNION ALL
  SELECT day + 1 FROM grid WHERE day < (SELECT d1 FROM span)
),
series AS (
  SELECT g.day, COALESCE(d.cents, 0) // 100 AS dollars
  FROM grid g LEFT JOIN daily d USING (day)
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(dollars) AS BIGINT) // CAST(count(*) AS BIGINT) AS m
  FROM series
),
dev AS (
  SELECT day, dollars - (SELECT m FROM stats) AS d
  FROM series
),
lagged AS (
  SELECT d,
         lag(d, 1) OVER w AS l1, lag(d, 2) OVER w AS l2,
         lag(d, 3) OVER w AS l3, lag(d, 4) OVER w AS l4,
         lag(d, 5) OVER w AS l5, lag(d, 6) OVER w AS l6,
         lag(d, 7) OVER w AS l7
  FROM dev WINDOW w AS (ORDER BY day)
),
mom AS (
  SELECT CAST(sum(d * d) AS BIGINT) AS den,
         CAST(sum(d * l1) AS BIGINT) AS num1,
         CAST(sum(d * l2) AS BIGINT) AS num2,
         CAST(sum(d * l3) AS BIGINT) AS num3,
         CAST(sum(d * l4) AS BIGINT) AS num4,
         CAST(sum(d * l5) AS BIGINT) AS num5,
         CAST(sum(d * l6) AS BIGINT) AS num6,
         CAST(sum(d * l7) AS BIGINT) AS num7
  FROM lagged
),
rk AS (
  SELECT k.lag, s.n, m.den,
         CASE k.lag WHEN 1 THEN m.num1 WHEN 2 THEN m.num2 WHEN 3 THEN m.num3
                    WHEN 4 THEN m.num4 WHEN 5 THEN m.num5 WHEN 6 THEN m.num6
                    ELSE m.num7 END AS num
  FROM (VALUES (1), (2), (3), (4), (5), (6), (7)) k(lag)
  CROSS JOIN mom m CROSS JOIN stats s
),
quant AS (
  SELECT CAST(lag AS BIGINT) AS lag, n AS n_days, num,
         CASE WHEN den > 0 THEN
           CAST(floor((CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                      * 1000000.0) AS BIGINT)
         END AS r_ppm,
         den
  FROM rk
),
terms AS (
  SELECT lag, n_days, num, r_ppm,
         CASE WHEN r_ppm IS NOT NULL THEN
           CAST(floor((((CAST(r_ppm AS DOUBLE) / 1000000.0)
                        * (CAST(r_ppm AS DOUBLE) / 1000000.0))
                       / CAST(n_days - lag AS DOUBLE))
                      * 1000000000000.0) AS BIGINT)
         END AS t_pico
  FROM quant
)
SELECT lag, n_days, num, r_ppm,
       CASE WHEN t_pico IS NOT NULL THEN
         (n_days * (n_days + 2))
           * CAST(sum(t_pico) OVER (ORDER BY lag
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       END AS lb_q_scaled
FROM terms ORDER BY lag
"""


@register("acf_ljung_box_daily", oracle=ACF_LJUNG_BOX_ORACLE)
def acf_ljung_box_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of daily revenue (lags 1..7, zero-filled
    calendar grid, floored-integer mean) with the Ljung-Box portmanteau
    accumulated over pre-quantized integer terms — exact int64 moment
    sums, one correctly-rounded division per lag. See the comment above
    for the determinism tier and the overflow bound."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    span = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    grid = span.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    series = (
        grid.join(daily, "day", "left")
        .select("day", F.expr("COALESCE(cents, 0) div 100").alias("dollars"))
    )
    stats = series.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("CAST(sum(dollars) AS BIGINT) div count(*)").alias("m"),
    )
    dev = series.crossJoin(F.broadcast(stats)).select(
        "day", "n", (F.col("dollars") - F.col("m")).alias("d")
    )
    w = W.orderBy("day")
    lagged = dev.select(
        "n",
        "d",
        *[F.lag("d", k).over(w).alias(f"l{k}") for k in range(1, 8)],
    )
    mom = lagged.groupBy("n").agg(
        F.sum(F.expr("d * d")).cast("bigint").alias("den"),
        *[
            F.sum(F.expr(f"d * l{k}")).cast("bigint").alias(f"num{k}")
            for k in range(1, 8)
        ],
    )
    rk = mom.select(
        "n",
        "den",
        F.expr(
            "stack(7, 1, num1, 2, num2, 3, num3, 4, num4, 5, num5,"
            " 6, num6, 7, num7) AS (lag, num)"
        ),
    )
    quant = rk.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").alias("n_days"),
        "num",
        F.expr(
            "CASE WHEN den > 0 THEN"
            " CAST(floor((CAST(num AS DOUBLE) / CAST(den AS DOUBLE))"
            " * 1000000.0) AS BIGINT) END"
        ).alias("r_ppm"),
    )
    terms = quant.withColumn(
        "t_pico",
        F.expr(
            "CASE WHEN r_ppm IS NOT NULL THEN"
            " CAST(floor((((CAST(r_ppm AS DOUBLE) / 1000000.0)"
            " * (CAST(r_ppm AS DOUBLE) / 1000000.0))"
            " / CAST(n_days - lag AS DOUBLE)) * 1000000000000.0) AS BIGINT)"
            " END"
        ),
    )
    w_cum = W.orderBy("lag").rowsBetween(W.unboundedPreceding, W.currentRow)
    return terms.select(
        "lag",
        "n_days",
        "num",
        "r_ppm",
        F.when(
            F.col("t_pico").isNotNull(),
            (F.col("n_days") * (F.col("n_days") + 2))
            * F.sum("t_pico").over(w_cum).cast("bigint"),
        ).alias("lb_q_scaled"),
    ).orderBy("lag")
