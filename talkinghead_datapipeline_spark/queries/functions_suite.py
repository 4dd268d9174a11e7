"""Function-surface suites (SURVEY §2.d: "engine still provides Spark's
date/timestamp suite", string/array/window function checklists).

Each suite is one query exercising a family of scalar/window functions with
engine-portable semantics, oracle-checked value-for-value against DuckDB.
Functions whose semantics differ across engines (dayofweek origin, mode tie
break, engine-native hash) are deliberately excluded — portability is part
of the engine contract (see operators/dedup.py on portable hashing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from talkinghead_datapipeline_spark.catalog import load_table
from talkinghead_datapipeline_spark.queries import register


@register(
    "date_functions_suite",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT)       AS order_year,
           CAST(quarter(o_orderdate) AS BIGINT)    AS order_quarter,
           CAST(month(o_orderdate) AS BIGINT)      AS order_month,
           CAST(dayofmonth(o_orderdate) AS BIGINT) AS order_dom,
           CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS month_start,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR)   AS month_end,
           CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
                AS BIGINT)                         AS days_since_epoch_start
    FROM orders
    WHERE o_orderkey < 500
    """,
)
def date_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/timestamp extraction + truncation + arithmetic (time in the
    reference is only frame index + fps; the engine provides the full
    calendar suite for event-time data)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.quarter("o_orderdate").cast("bigint").alias("order_quarter"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("order_dom"),
        F.date_trunc("month", "o_orderdate").cast("date").cast("string").alias("month_start"),
        F.last_day("o_orderdate").cast("string").alias("month_end"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
        ).cast("bigint").alias("days_since_epoch_start"),
    )


@register(
    "string_functions_suite",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT)              AS n_chars_f,
           upper(substr(lang, 1, 2))                 AS lang_uc,
           lpad(CAST(doc_id AS VARCHAR), 6, '0')     AS doc_key,
           CAST(levenshtein(lang, 'en') AS BIGINT)   AS lang_dist,
           CAST(instr(lower(text), 'the') AS BIGINT) AS first_the,
           reverse(source)                           AS source_rev,
           translate(lang, 'en', 'EN')               AS lang_tr,
           concat_ws('|', source, lang)              AS src_lang
    FROM documents
    WHERE length(text) > 0
    """,
)
def string_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String kernel family: length/case/pad/edit-distance/search/translate
    — all codegen-resident (E2's path munging generalized)."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_f"),
        F.upper(F.substring("lang", 1, 2)).alias("lang_uc"),
        F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("doc_key"),
        F.levenshtein("lang", F.lit("en")).cast("bigint").alias("lang_dist"),
        F.instr(F.lower(F.col("text")), "the").cast("bigint").alias("first_the"),
        F.reverse("source").alias("source_rev"),
        F.translate("lang", "en", "EN").alias("lang_tr"),
        F.concat_ws("|", "source", "lang").alias("src_lang"),
    )


@register(
    "array_hof_suite",
    oracle="""
    SELECT vec_id,
           CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
           len(list_filter(embedding, x -> x > 2)) > 0              AS any_gt2,
           len(list_filter(embedding, x -> abs(x) >= 10)) = 0       AS all_lt10,
           round(CAST(list_max(embedding) AS DOUBLE), 6)            AS emb_max,
           round(CAST(list_min(embedding) AS DOUBLE), 6)            AS emb_min,
           round(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6)   AS sum_sq,
           round(CAST(list_sort(embedding)[1] AS DOUBLE), 6)        AS sorted_first,
           CAST(len(embedding) AS BIGINT)                           AS dim
    FROM embeddings
    """,
)
def array_hof_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order-function family: filter/exists/forall/aggregate/
    sort — the S6/S13 array-cell toolkit the frame-grain tables rely on."""
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        F.size(F.filter(emb, lambda x: x > 0)).cast("bigint").alias("n_pos"),
        F.exists(emb, lambda x: x > 2).alias("any_gt2"),
        F.forall(emb, lambda x: F.abs(x) < 10).alias("all_lt10"),
        F.round(F.array_max(emb).cast("double"), 6).alias("emb_max"),
        F.round(F.array_min(emb).cast("double"), 6).alias("emb_min"),
        F.round(
            F.aggregate(
                emb,
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            ),
            6,
        ).alias("sum_sq"),
        F.round(F.element_at(F.array_sort(emb), 1).cast("double"), 6).alias(
            "sorted_first"
        ),
        F.size(emb).cast("bigint").alias("dim"),
    )


@register(
    "window_rank_suite",
    oracle="""
    SELECT user_id, event_id,
           CAST(rank() OVER w AS BIGINT)        AS rnk,
           CAST(dense_rank() OVER w AS BIGINT)  AS drnk,
           CAST(ntile(4) OVER w AS BIGINT)      AS quartile,
           round(percent_rank() OVER w, 6)      AS pct_rank,
           round(cume_dist() OVER w, 6)         AS cdist,
           round(first_value(value) OVER w, 6)  AS first_val
    FROM events
    WHERE user_id < 20
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    """,
)
def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window family beyond row_number: rank/dense_rank/ntile/
    percent_rank/cume_dist/first_value over a per-user event ordering."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = W.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.round(F.first("value").over(w), 6).alias("first_val"),
    )
