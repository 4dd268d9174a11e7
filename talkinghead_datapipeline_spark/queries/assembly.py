"""Dataset-assembly queries (SURVEY §2.b N18/N20-N23): the reference's
multi-input feature packing re-expressed as wide joins + column assembly.

N18 (dpl/processor/nodes/a2en.py:13-45) joins six per-clip inputs on the
clip key, derives jaw/blink features, resamples audio-rate series to the
video frame count, and packs everything into one container row per clip.
N21 (h5.py:107-141) is the same shape at 12 inputs. Spark-first, the
"container" is just a wide row; the join graph is explicit; Catalyst
broadcasts the small sides and the assembly is a single stage."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.catalog import load_table
from talkinghead_datapipeline_spark.queries import register

_D_SQL_EYE = (
    "sqrt((CAST(embedding[1] AS DOUBLE) - CAST(embedding[7] AS DOUBLE))"
    " * (CAST(embedding[1] AS DOUBLE) - CAST(embedding[7] AS DOUBLE))"
    " + (CAST(embedding[2] AS DOUBLE) - CAST(embedding[8] AS DOUBLE))"
    " * (CAST(embedding[2] AS DOUBLE) - CAST(embedding[8] AS DOUBLE)))"
)


@register(
    "a2en_feature_assembly",
    oracle=f"""
    WITH doc_feats AS (
      SELECT doc_id,
             CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_tokens,
             n_chars
      FROM documents
    ),
    emb_feats AS (
      SELECT vec_id,
             round(CAST(embedding[5] AS DOUBLE), 6) AS jaw,
             round({_D_SQL_EYE}, 6) AS eye_span
      FROM embeddings
    ),
    audio_feats AS (
      SELECT user_id,
             CAST(floor(10000.0 * sum(CAST(round(abs(value) * 100) AS BIGINT))
                        / count(*)) AS BIGINT) AS volume_mean_micro,
             count(*) AS n_events
      FROM events GROUP BY user_id
    )
    SELECT d.doc_id AS clip_id, d.n_tokens, d.n_chars,
           e.jaw, e.eye_span,
           a.volume_mean_micro, a.n_events
    FROM doc_feats d
    JOIN emb_feats e ON e.vec_id = d.doc_id
    JOIN audio_feats a ON a.user_id = d.doc_id
    """,
)
def a2en_feature_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N18's dataset assembly: three modality tables (text stats, geometry
    features from the embedding "landmarks", an aggregated audio envelope)
    joined on the clip key into one training row. The audio agg happens
    BEFORE the join (pre-aggregate, then broadcast the 150-row result) —
    the N18 rule at 100 TB: never join raw frame-rate data onto clip grain.
    Mirrors a2en.py:30 (jaw slice), utils.py:53-65 (eye geometry),
    inference.py:94-106 (volume envelope)."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("clip_id"),
        F.size(F.split(F.lower("text"), r"\s+")).cast("bigint").alias("n_tokens"),
        "n_chars",
    )
    ex = F.element_at("embedding", 1).cast("double")
    ey = F.element_at("embedding", 2).cast("double")
    px = F.element_at("embedding", 7).cast("double")
    py = F.element_at("embedding", 8).cast("double")
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id"),
        F.round(F.element_at("embedding", 5).cast("double"), 6).alias("jaw"),
        F.round(F.sqrt((ex - px) * (ex - px) + (ey - py) * (ey - py)), 6).alias(
            "eye_span"
        ),
    )
    # Integer-cents mean (round 8) -> floor micro-units (round 9): the
    # sf0.01 invariance sweep caught one user's avg(abs(value)) landing ON
    # a round(,6) boundary; events.value is 2-decimal by construction, so
    # the mean derives from an exact BIGINT cents sum. The round-9 tie
    # audit then measured the cent-exact mean sitting 0.15 ulps from a
    # round(,6) half-boundary — inside the window where DuckDB's float-
    # scaling round can land on the other side of the tie from Spark's
    # exact BigDecimal round — so the display is now floor-to-BIGINT
    # micro-units (the same function in both engines; mean micro-dollars
    # = 1e6 * cents/(100 n) = 10000 * cents / n).
    audio = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.floor(
                F.lit(10000.0)
                * F.sum(F.round(F.abs("value") * 100).cast("bigint"))
                / F.count(F.lit(1))
            )
            .cast("bigint")
            .alias("volume_mean_micro"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    return (
        docs.join(emb, docs.clip_id == emb.vec_id)
        .join(F.broadcast(audio), F.col("clip_id") == F.col("user_id"))
        .select(
            "clip_id", "n_tokens", "n_chars", "jaw", "eye_span",
            "volume_mean_micro", "n_events",
        )
    )


@register(
    "wide_source_assembly",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice, l_discount,
           o_orderstatus, o_orderpriority,
           c_mktsegment,
           cn.n_name AS cust_nation, cr.r_name AS cust_region,
           s_name,
           sn.n_name AS supp_nation, sr.r_name AS supp_region,
           p_brand, p_type
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN part     ON l_partkey = p_partkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    WHERE l_shipdate >= TIMESTAMP '2001-06-01 00:00:00'
    """,
)
def wide_source_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N21's 12-input source-sequence assembly as a 9-relation join: one
    fact scan (date-pruned) joined to orders (fact-fact — AQE picks
    broadcast vs shuffle from runtime sizes) and to every dimension as an
    explicit broadcast (nation/region joined twice under different roles).
    The wide-row materialization the reference does with 12 sequential h5
    appends (h5.py:107-141), in one stage."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("2001-06-01").cast("timestamp")
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_name").alias("cust_nation"),
        F.col("n_regionkey").alias("cn_rkey"),
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
        F.col("n_regionkey").alias("sn_rkey"),
    )
    cr = region.select(
        F.col("r_regionkey").alias("cr_key"), F.col("r_name").alias("cust_region")
    )
    sr = region.select(
        F.col("r_regionkey").alias("sr_key"), F.col("r_name").alias("supp_region")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cr), F.col("cn_rkey") == F.col("cr_key"))
        .join(F.broadcast(sr), F.col("sn_rkey") == F.col("sr_key"))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            "l_discount",
            "o_orderstatus",
            "o_orderpriority",
            "c_mktsegment",
            "cust_nation",
            "cust_region",
            "s_name",
            "supp_nation",
            "supp_region",
            "p_brand",
            "p_type",
        )
    )
