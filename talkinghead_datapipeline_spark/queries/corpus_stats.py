"""Corpus-level reporting & mixing recipes (north-star extensions): the
datasheet/audit queries a corpus team runs before a training run —
temperature-scaled mixture weights, per-source data cards, a cross-source
overlap audit, the NB-classifier confidence-margin filter, and the
per-source unigram KL (domain-shift) diagnostic.

Cross-engine conventions follow queries/__init__.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from talkinghead_datapipeline_spark.catalog import load_table, persist_once
from talkinghead_datapipeline_spark.queries import register
from talkinghead_datapipeline_spark.queries.linkage import _NB_ORACLE

# ---------------------------------------------------------------------------
# Temperature-scaled mixture weights — the multilingual-sampling recipe
# (sample language l with p_l ∝ n_l^alpha, alpha < 1 upweights tails;
# mT5/XLM-R style). Complements source_mixture_manifest's fixed weights.
# ---------------------------------------------------------------------------

_TEMP_ALPHA = 0.7

_TEMP_ORACLE = f"""
    WITH per_lang AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split_regex(lower(text), '\\s+')))
                  AS BIGINT) AS n_tokens
      FROM documents WHERE len(text) > 0
      GROUP BY lang
    ),
    tot AS (
      SELECT sum(n_tokens) AS t, sum(pow(CAST(n_tokens AS DOUBLE), {_TEMP_ALPHA})) AS tp
      FROM per_lang
    )
    SELECT p.lang, p.n_docs, p.n_tokens,
           round(CAST(p.n_tokens AS DOUBLE) / t.t, 6) AS raw_share,
           round(pow(CAST(p.n_tokens AS DOUBLE), {_TEMP_ALPHA}) / t.tp, 6)
             AS temp_share,
           round((pow(CAST(p.n_tokens AS DOUBLE), {_TEMP_ALPHA}) / t.tp)
                 / (CAST(p.n_tokens AS DOUBLE) / t.t), 6) AS upsample_factor
    FROM per_lang p, tot t
"""


@register("temperature_mixture_weights", oracle=_TEMP_ORACLE)
def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language-mixture weights: sampling share per
    language p_l ∝ n_l^0.7 (the mT5/XLM-R recipe — alpha < 1 flattens the
    head and upweights tail languages), reported against the raw share
    with the implied upsample factor. The companion to
    source_mixture_manifest, which applies FIXED weights; this computes
    the weights themselves.

    Scale: one language-keyed token-count reduction (map-side partial)
    collapses the corpus to |languages| rows; the totals row is a 1-row
    broadcast crossJoin. Powers/divisions are per-row double arithmetic
    on exact BIGINT counts; the 1-row sum folds ≤ |languages| doubles, so
    round(,6) sits far above accumulation noise."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split(F.lower("text"), r"\s+")))
        .cast("bigint")
        .alias("n_tokens"),
    )
    tot = per_lang.agg(
        F.sum("n_tokens").cast("double").alias("t"),
        F.sum(F.pow(F.col("n_tokens").cast("double"), _TEMP_ALPHA)).alias("tp"),
    )
    raw = F.col("n_tokens").cast("double") / F.col("t")
    temp = F.pow(F.col("n_tokens").cast("double"), _TEMP_ALPHA) / F.col("tp")
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(raw, 6).alias("raw_share"),
        F.round(temp, 6).alias("temp_share"),
        F.round(temp / raw, 6).alias("upsample_factor"),
    )


# ---------------------------------------------------------------------------
# Per-source data cards — the datasheet row every corpus release ships.
# ---------------------------------------------------------------------------

_CARD_ORACLE = """
    WITH base AS (
      SELECT source, lang, doc_id,
             len(string_split_regex(lower(text), '\\s+')) AS n_tok,
             md5(text) AS dg
      FROM documents WHERE len(text) > 0
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           round(avg(CAST(n_tok AS DOUBLE)), 6) AS avg_tokens,
           CAST(count(DISTINCT dg) AS BIGINT) AS n_unique_texts,
           round(1.0 - CAST(count(DISTINCT dg) AS DOUBLE) / count(*), 6)
             AS exact_dup_rate
    FROM base
    GROUP BY source
"""


@register("dataset_card_stats", oracle=_CARD_ORACLE)
def dataset_card_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card: doc/token counts, language spread, mean
    length, and the exact-duplicate rate (1 − distinct digests / docs) —
    the datasheet table a corpus release publishes per subset.

    Scale: ONE source-keyed aggregation; the two count-distincts expand to
    the standard two-level partial aggregation (Spark plans
    count(distinct) via Expand — still one scan), and the md5 digest keys
    uniformly so no source's duplicate mass skews a reducer beyond its own
    row count."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    base = docs.select(
        "source",
        "lang",
        F.size(F.split(F.lower("text"), r"\s+")).alias("n_tok"),
        F.md5("text").alias("dg"),
    )
    return base.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.round(F.avg(F.col("n_tok").cast("double")), 6).alias("avg_tokens"),
        F.countDistinct("dg").cast("bigint").alias("n_unique_texts"),
        F.round(
            F.lit(1.0)
            - F.countDistinct("dg").cast("double") / F.count(F.lit(1)),
            6,
        ).alias("exact_dup_rate"),
    )


# ---------------------------------------------------------------------------
# Cross-source overlap audit — pairwise shingle Jaccard between SOURCES:
# which subsets leak into each other (the provenance-level decontamination
# readout, one level above the per-doc benchmark check).
# ---------------------------------------------------------------------------

_OVERLAP_ORACLE = """
    WITH sg AS (
      SELECT DISTINCT source, gram FROM (
        SELECT source,
               unnest(list_transform(
                 range(1, len(string_split_regex(lower(text), '\\s+')) - 1),
                 i -> string_split_regex(lower(text), '\\s+')[i] || ' ' ||
                      string_split_regex(lower(text), '\\s+')[i+1] || ' ' ||
                      string_split_regex(lower(text), '\\s+')[i+2])) AS gram
        FROM documents
        WHERE len(string_split_regex(lower(text), '\\s+')) >= 3
      )
    ),
    per_src AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM sg GROUP BY source),
    ov AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT o.source_a, o.source_b, o.n_shared,
           CAST(floor(1000000.0 * o.n_shared
                      / (pa.n_grams + pb.n_grams - o.n_shared))
                AS BIGINT) AS jaccard_ppm
    FROM ov o
    JOIN per_src pa ON pa.source = o.source_a
    JOIN per_src pb ON pb.source = o.source_b
"""


@register("source_overlap_matrix", oracle=_OVERLAP_ORACLE)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise word-trigram Jaccard between SOURCES — the provenance-level
    overlap audit (which subsets duplicate each other) run before mixing,
    one level above per-doc benchmark decontamination.

    Scale shape: the corpus collapses to DISTINCT (source, gram) first —
    one wordcount-shaped shuffle — so the pair join runs on the reduced
    shingle-vocabulary frame; per-gram fan-out is bounded by the number of
    SOURCES carrying that gram (≤ |sources| per gram, never row-count),
    and the rollup keys on source pairs (≤ |sources|² rows). The same
    frame feeds per-source totals and the overlap join, so it persists
    once."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), r"\s+")
    grams = F.expr(
        "transform(sequence(1, size(t) - 2),"
        " i -> concat_ws(' ', t[i - 1], t[i], t[i + 1]))"
    )
    sg = persist_once(
        docs.select("source", toks.alias("t"))
        .filter(F.size("t") >= 3)
        .select("source", F.explode(grams).alias("gram"))
        .distinct()
    )
    per_src = sg.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    a = sg.select(F.col("source").alias("source_a"), "gram")
    b = sg.select(F.col("source").alias("source_b"), "gram")
    ov = (
        a.join(b, "gram")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    pa = F.broadcast(
        per_src.select(
            F.col("source").alias("source_a"), F.col("n_grams").alias("ga")
        )
    )
    pb = F.broadcast(
        per_src.select(
            F.col("source").alias("source_b"), F.col("n_grams").alias("gb")
        )
    )
    return (
        ov.join(pa, "source_a")
        .join(pb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            # floor-to-BIGINT ppm (round-9 tie audit): the Jaccard is one
            # double division of exact integers — bit-identical cross-
            # engine — and 0.0234375 = 3/128 at sf0.01 sits EXACTLY on a
            # round(,6) half-boundary (dyadic rationals do whenever the
            # denominator exceeds 2^6); floor is the same function in
            # both engines.
            F.floor(
                F.lit(1000000.0)
                * F.col("n_shared")
                / (F.col("ga") + F.col("gb") - F.col("n_shared"))
            )
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# NB confidence-margin filter — the CCNet/fastText "keep only confident
# classifications" pass, built on the registered NB score matrix.
# ---------------------------------------------------------------------------

_MARGIN_ORACLE = f"""
    WITH nb AS ({_NB_ORACLE}),
    ranked AS (
      SELECT doc_id, lang, nb_score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY nb_score DESC, lang) AS rk
      FROM nb
    ),
    top2 AS (
      SELECT r1.doc_id, r1.lang AS predicted_lang,
             round(r1.nb_score - r2.nb_score, 6) AS margin
      FROM ranked r1 JOIN ranked r2
        ON r2.doc_id = r1.doc_id AND r1.rk = 1 AND r2.rk = 2
    )
    SELECT t.doc_id, t.predicted_lang, t.margin,
           CAST(CASE WHEN t.predicted_lang = d.lang THEN 1 ELSE 0 END
                AS BIGINT) AS is_correct
    FROM top2 t JOIN documents d ON d.doc_id = t.doc_id
"""


@register("nb_lang_margin", oracle=_MARGIN_ORACLE)
def nb_lang_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confidence-margin readout over the NB score matrix: per document,
    the argmax class, the top1−top2 score margin (the confidence signal a
    CCNet-style filter thresholds), and agreement with the labeled lang.
    Certifiable argmax: ranking runs on the ROUNDED scores the registered
    matrix already emits (lang tiebreak), so a cross-engine ULP cannot
    flip the winner.

    Scale: adds one (doc)-keyed window and a broadcast-prior label join on
    top of nb_lang_classifier_scores' two wordcount shuffles; the score
    matrix is |docs| x |classes| rows."""
    from talkinghead_datapipeline_spark.queries.linkage import (
        nb_lang_classifier_scores,
    )

    nb = nb_lang_classifier_scores(spark, sf_dir)
    rk = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.desc("nb_score"), "lang")
    )
    ranked = persist_once(
        nb.select("doc_id", "lang", "nb_score", rk.alias("rk")).filter(
            F.col("rk") <= 2
        )
    )
    r1 = ranked.filter(F.col("rk") == 1).select(
        "doc_id",
        F.col("lang").alias("predicted_lang"),
        F.col("nb_score").alias("_s1"),
    )
    r2 = ranked.filter(F.col("rk") == 2).select(
        "doc_id", F.col("nb_score").alias("_s2")
    )
    actual = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("_actual")
    )
    return (
        r1.join(r2, "doc_id")
        .join(actual, "doc_id")
        .select(
            "doc_id",
            "predicted_lang",
            F.round(F.col("_s1") - F.col("_s2"), 6).alias("margin"),
            (F.col("predicted_lang") == F.col("_actual"))
            .cast("bigint")
            .alias("is_correct"),
        )
    )


# ---------------------------------------------------------------------------
# Per-source unigram KL divergence — domain-shift measurement: how far each
# subset's token distribution sits from the corpus mixture (the DoReMi /
# domain-reweighting diagnostic).
# ---------------------------------------------------------------------------

_KL_ORACLE = """
    WITH tok AS (
      SELECT source, unnest(string_split_regex(lower(text), '\\s+')) AS w
      FROM documents WHERE len(text) > 0
    ),
    src_w AS (SELECT source, w, CAST(count(*) AS DOUBLE) AS c FROM tok GROUP BY source, w),
    src_t AS (SELECT source, CAST(count(*) AS DOUBLE) AS t FROM tok GROUP BY source),
    corp_w AS (SELECT w, CAST(count(*) AS DOUBLE) AS cq FROM tok GROUP BY w),
    corp_t AS (SELECT CAST(count(*) AS DOUBLE) AS tq FROM tok)
    SELECT s.source,
           CAST(st.t AS BIGINT) AS n_tokens,
           round(sum((s.c / st.t) * ln((s.c / st.t) / (cw.cq / ct.tq))), 6)
             + 0.0 AS kl_unigram
    FROM src_w s
    JOIN src_t st ON st.source = s.source
    JOIN corp_w cw ON cw.w = s.w
    CROSS JOIN corp_t ct
    GROUP BY s.source, st.t
"""


@register("unigram_kl_per_source", oracle=_KL_ORACLE)
def unigram_kl_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(P_source || P_corpus) over unigram distributions — the
    domain-shift diagnostic behind domain-reweighting recipes (DoReMi-
    style): a subset with high KL is lexically far from the mixture and a
    candidate for up/down-weighting. KL is finite by construction (every
    source token exists in the corpus distribution).

    Scale: one token explode feeds all four count reductions (persisted
    once); the (source, word) frame is vocabulary x sources rows, so the
    per-word corpus distribution broadcasts into the final join and the
    KL sum folds ≤ |vocab| terms per source — round(,6) sits far above
    that accumulation's noise."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    tok = persist_once(
        docs.select(
            "source", F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
        )
    )
    src_w = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    src_t = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("t")
    )
    corp_w = tok.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("cq"))
    corp_t = tok.agg(F.count(F.lit(1)).cast("double").alias("tq"))
    p = F.col("c") / F.col("t")
    q = F.col("cq") / F.col("tq")
    return (
        src_w.join(F.broadcast(src_t), "source")
        .join(F.broadcast(corp_w), "w")
        .crossJoin(F.broadcast(corp_t))
        .groupBy("source", "t")
        # + 0.0: negative-zero normalization (see emb_covariance_upper)
        .agg((F.round(F.sum(p * F.log(p / q)), 6) + 0.0).alias("kl_unigram"))
        .select(
            "source",
            F.col("t").cast("bigint").alias("n_tokens"),
            "kl_unigram",
        )
    )
