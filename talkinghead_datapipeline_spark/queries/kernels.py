"""Geometry / array kernel queries (SURVEY §2.c S1-S5, §2.b N10).

The reference's bbox/landmark kernels are re-cast over the fixture tables
(FIXTURES.md §A mapping): synthetic bboxes derived from `lineitem` numeric
columns, pseudo-landmarks from `embeddings` array elements. Spark side uses
functions.geometry (pure column expressions); oracle SQL inlines the same
arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.catalog import load_table
from talkinghead_datapipeline_spark.functions import geometry as G
from talkinghead_datapipeline_spark.queries import register

# ---------------------------------------------------------------------------
# N10 — TransformRawBboxesNode chain: to_integer(pad_bbox(to_square(b), 0.1))
# (dpl/processor/nodes/bboxes.py:12-42 over S1-S3, dpl/processor/utils.py:7-50)
#
# Synthetic raw bbox per lineitem row:
#   x1 = l_discount*100, y1 = l_tax*100,
#   x2 = x1 + l_quantity, y2 = y1 + l_extendedprice/1000, score = 1/(1+l_linenumber)
# ---------------------------------------------------------------------------

_BBOX_SQL_SRC = """
      SELECT l_orderkey, l_linenumber,
             l_discount * 100                            AS x1,
             l_tax * 100                                 AS y1,
             l_discount * 100 + l_quantity               AS x2,
             l_tax * 100 + l_extendedprice / 1000        AS y2,
             1.0 / (1 + l_linenumber)                    AS score
      FROM lineitem
"""

# S1 to_square: expand shorter side symmetrically (w' = h' = side).
_SQUARE_SQL = """
      SELECT l_orderkey, l_linenumber, score,
             x1 - (greatest(x2 - x1, y2 - y1) - (x2 - x1)) / 2 AS x1,
             y1 - (greatest(x2 - x1, y2 - y1) - (y2 - y1)) / 2 AS y1,
             x2 + (greatest(x2 - x1, y2 - y1) - (x2 - x1)) / 2 AS x2,
             y2 + (greatest(x2 - x1, y2 - y1) - (y2 - y1)) / 2 AS y2
      FROM raw_bbox
"""

# S2 pad fraction 0.1 of max side (post-square: max side == side), rounded
# half-to-even (roundbankers) — Python round() parity, matching utils.py.
_PAD_SQL = """
      SELECT l_orderkey, l_linenumber, score,
             x1 - roundbankers(0.1 * greatest(x2 - x1, y2 - y1), 0) AS x1,
             y1 - roundbankers(0.1 * greatest(x2 - x1, y2 - y1), 0) AS y1,
             x2 + roundbankers(0.1 * greatest(x2 - x1, y2 - y1), 0) AS x2,
             y2 + roundbankers(0.1 * greatest(x2 - x1, y2 - y1), 0) AS y2
      FROM squared
"""

_N10_ORACLE = f"""
    WITH raw_bbox AS ({_BBOX_SQL_SRC}),
         squared AS ({_SQUARE_SQL}),
         padded AS ({_PAD_SQL})
    SELECT l_orderkey, l_linenumber,
           CAST(roundbankers(x1, 0) AS BIGINT)           AS bx1,
           CAST(roundbankers(y1, 0) AS BIGINT)           AS by1,
           CAST(roundbankers(x1, 0) AS BIGINT) + CAST(roundbankers(x2 - x1, 0) AS BIGINT) AS bx2,
           CAST(roundbankers(y1, 0) AS BIGINT) + CAST(roundbankers(y2 - y1, 0) AS BIGINT) AS by2,
           CAST(roundbankers(score * 100, 0) AS BIGINT)  AS bscore
    FROM padded
"""


@register("n10_bbox_transform_chain", oracle=_N10_ORACLE)
def n10_bbox_transform_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1→S2→S3 kernel chain (bboxes.py:31: to_integer(pad_bbox(to_square(b))))
    as one fused column-expression projection — single scan, zero shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    keep = ["l_orderkey", "l_linenumber"]
    raw = G.make_bbox(
        x1=F.col("l_discount") * 100,
        y1=F.col("l_tax") * 100,
        x2=F.col("l_discount") * 100 + F.col("l_quantity"),
        y2=F.col("l_tax") * 100 + F.col("l_extendedprice") / 1000,
        score=F.lit(1.0) / (1 + F.col("l_linenumber")),
    )
    # Each kernel stage is staged through aliases (one codegen span, every
    # corner computed once) — see geometry.stage_bbox for why chaining the
    # raw expressions regresses to interpreted eval.
    df, b = G.stage_bbox(li, raw, keep)
    df, b = G.stage_bbox(df, G.to_square(b), keep)
    df, b = G.stage_bbox(df, G.pad_bbox(b, 0.1), keep)
    out = G.to_integer(b)
    return df.select(
        "l_orderkey",
        "l_linenumber",
        out["x1"].alias("bx1"),
        out["y1"].alias("by1"),
        out["x2"].alias("bx2"),
        out["y2"].alias("by2"),
        out["score"].alias("bscore"),
    )


# ---------------------------------------------------------------------------
# S4/S5 — landmark distances + blink eye-aspect-ratio over pseudo-landmarks
# L(k) = (embedding[2k-1], embedding[2k]), 1-based (dpl/processor/utils.py:53-65)
# ---------------------------------------------------------------------------


def _lm_sql(k: int) -> tuple[str, str]:
    return (
        f"CAST(embedding[{2 * k - 1}] AS DOUBLE)",
        f"CAST(embedding[{2 * k}] AS DOUBLE)",
    )


def _d_sql(i: int, j: int) -> str:
    xi, yi = _lm_sql(i)
    xj, yj = _lm_sql(j)
    return f"sqrt(({xi} - {xj}) * ({xi} - {xj}) + ({yi} - {yj}) * ({yi} - {yj}))"


_S5_ORACLE = f"""
    SELECT vec_id,
           round({_d_sql(1, 4)}, 6) AS eye_width,
           round(({_d_sql(2, 5)} + {_d_sql(3, 6)}) / (2 * {_d_sql(1, 4)}), 6) AS left_blink,
           round(({_d_sql(7, 10)} + {_d_sql(8, 11)}) / (2 * {_d_sql(6, 9)}), 6) AS right_blink,
           round((({_d_sql(2, 5)} + {_d_sql(3, 6)}) / (2 * {_d_sql(1, 4)})
                + ({_d_sql(7, 10)} + {_d_sql(8, 11)}) / (2 * {_d_sql(6, 9)})) / 2, 6) AS avg_blink
    FROM embeddings
"""


def _lm(k: int) -> tuple[F.Column, F.Column]:
    return (
        F.element_at("embedding", 2 * k - 1).cast("double"),
        F.element_at("embedding", 2 * k).cast("double"),
    )


@register("s5_blink_features", oracle=_S5_ORACLE)
def s5_blink_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blink EAR features (utils.py:57-65) over pseudo-landmarks packed in the
    embedding array — S4 L2 distances + S5 ratio, all codegen'd expressions."""
    emb = load_table(spark, sf_dir, "embeddings")
    left = G.eye_aspect_ratio(_lm(1), _lm(4), _lm(2), _lm(5), _lm(3), _lm(6))
    right = G.eye_aspect_ratio(_lm(6), _lm(9), _lm(7), _lm(10), _lm(8), _lm(11))
    x1, y1 = _lm(1)
    x4, y4 = _lm(4)
    return emb.select(
        "vec_id",
        F.round(G.l2(x1, y1, x4, y4), 6).alias("eye_width"),
        F.round(left, 6).alias("left_blink"),
        F.round(right, 6).alias("right_blink"),
        F.round((left + right) / 2, 6).alias("avg_blink"),
    )


# ---------------------------------------------------------------------------
# N14 code-splitting — slice a packed parameter vector into named parts
# (dpl/emoca/inference.py:95-105: 236-dim code → shape/tex/exp/pose/cam/light)
# ---------------------------------------------------------------------------


@register(
    "n14_code_split",
    oracle="""
    SELECT vec_id,
           round(list_sum(list_transform(embedding[1:16],
                 x -> CAST(x AS DOUBLE))), 6)  AS shape_sum,
           round(list_sum(list_transform(embedding[17:32],
                 x -> CAST(x AS DOUBLE))), 6)  AS exp_sum,
           round(CAST(embedding[33] AS DOUBLE), 6) AS jaw,
           CAST(len(embedding) AS BIGINT) AS code_dim
    FROM embeddings
    """,
)
def n14_code_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed-code slicing (emoca/inference.py:95-105; jaw = pose[:,3] at
    a2en.py:30) via array slice + fold — no UDF."""
    emb = load_table(spark, sf_dir, "embeddings")
    as_double = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    fold_sum = lambda c: F.aggregate(  # noqa: E731
        as_double(c), F.lit(0.0), lambda acc, x: acc + x
    )
    return emb.select(
        "vec_id",
        F.round(fold_sum(F.slice("embedding", 1, 16)), 6).alias("shape_sum"),
        F.round(fold_sum(F.slice("embedding", 17, 16)), 6).alias("exp_sum"),
        F.round(F.element_at("embedding", 33).cast("double"), 6).alias("jaw"),
        F.size("embedding").cast("bigint").alias("code_dim"),
    )
