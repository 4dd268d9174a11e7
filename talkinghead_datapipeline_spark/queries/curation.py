"""Corpus-curation operators: LLM-data-pipeline passes (north-star
extensions; the reference has no analogue — these are the published
data-curation recipes re-expressed Spark-first).

- `semdedup_prune_stats`   — SemDeDup (Abbas et al. 2023) semantic dedup
- `rrf_hybrid_topk`        — reciprocal-rank fusion of two rankers
- `dsir_importance_weights`— DSIR (Xie et al. 2023) hashed-ngram weights
- `gopher_quality_filter`  — Gopher table-A1 quality rules w/ attribution
- `zipf_slope_per_lang`    — OLS Zipf fit over per-lang token ranks
- `hard_negative_mining`   — cross-label top-k for contrastive training
- `ccnet_perplexity_buckets` — CCNet head/middle/tail LM-score terciles

Cross-engine conventions follow queries/__init__.py: identical aliases,
round(,6) on floats, BIGINT casts on computed integers, full tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from talkinghead_datapipeline_spark.catalog import (
    load_table,
    persist_once,
    pushdown_barrier,
    rebalance_for_compute,
)
from talkinghead_datapipeline_spark.functions.portable import (
    cosine_expr,
    cosine_sql,
    dot_expr,
    md5_hash,
    md5_hash_sql,
)
from talkinghead_datapipeline_spark.queries import register


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication (Abbas et al. 2023, "SemDeDup: Data-
# efficient learning at web-scale through semantic deduplication"): inside
# each cluster of an embedding clustering, items whose cosine similarity to
# another cluster member exceeds tau are near-semantic-duplicates; keep one
# representative (deterministically: the lowest id) and prune the rest.
# ---------------------------------------------------------------------------

_SEM_TAU = 0.2


@register(
    "semdedup_prune_stats",
    oracle=f"""
    WITH pruned AS (
      SELECT DISTINCT b.label AS label, b.vec_id AS vec_id
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {cosine_sql('a.embedding', 'b.embedding')} >= {_SEM_TAU}
    )
    SELECT e.label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(p.vec_id) AS BIGINT) AS n_pruned,
           round(CAST(count(p.vec_id) AS DOUBLE) / count(*), 6) AS prune_rate
    FROM embeddings e
    LEFT JOIN pruned p ON p.label = e.label AND p.vec_id = e.vec_id
    GROUP BY e.label
    """,
)
def semdedup_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pruning summary: within each cluster (the fixture's `label`
    column stands in for the k-means cell id — `sim_ivf_trained_topk` is
    the trained-clustering variant of the same partitioning), a vector is
    pruned when some LOWER-id cluster member has cosine >= tau=0.2; the
    lowest-id member of every duplicate group survives. Returns per-cluster
    totals, prune counts, and the prune rate.

    Scale shape: the quadratic pairwise pass is confined WITHIN clusters —
    exactly the bound SemDeDup's k-means step exists to provide (cell size
    is capped, so cost is n_cells x cell_size^2, not corpus^2). One
    shuffle keys the self-join on the cluster id, the pruned-id distinct
    folds band hits per vector, and the final rollup is a cluster-keyed
    agg. No driver-side collection at any size."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Norms are precomputed per VECTOR before the pair join: inline
    # cosine_expr(ea, eb) evaluates three 64-dim folds per PAIR (dot + both
    # norms) where one suffices (1.67x at sf0.1; the cluster-keyed
    # self-join and the pruned-id distinct carry a fixed share). The
    # per-pair dot still folds sequentially in DOUBLE and each norm is the
    # same fold cosine_expr runs, so the division reproduces cosine_expr
    # bit-for-bit and the oracle (which inlines the norms per pair)
    # stays hash-identical.
    # pushdown_barrier: the cosine threshold's inferred isnotnull(nrm)
    # constraints push below this projection on BOTH join sides and re-run
    # the 64-dim norm fold per row (catalog.pushdown_barrier docstring).
    normed = pushdown_barrier(
        emb.select(
            "label",
            "vec_id",
            "embedding",
            F.expr(f"sqrt({dot_expr('embedding', 'embedding')})").alias("nrm"),
        ),
        "semdedup",
    )
    a = normed.select(
        F.col("label"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = normed.select(
        F.col("label"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pruned = (
        rebalance_for_compute(a, "label")
        .join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.expr(f"try_divide({dot_expr('ea', 'eb')}, na * nb) >= {_SEM_TAU}D"))
        .select("label", F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("is_pruned", F.lit(1))
    )
    return (
        emb.join(pruned, ["label", "vec_id"], "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.count("is_pruned").cast("bigint").alias("n_pruned"),
            F.round(
                F.count("is_pruned").cast("double") / F.count(F.lit(1)), 6
            ).alias("prune_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion (Cormack et al. SIGIR'09) — the standard hybrid-
# retrieval combiner: fuse two rankers' top-k lists by sum of 1/(k0+rank).
# Ranker 1 is the Okapi BM25 frame shared with bm25_topk_docs; ranker 2 is
# query-term density (sum of query-term tf / doc length) — a length-
# normalized lexical signal with different tie structure.
# ---------------------------------------------------------------------------

_RRF_K0 = 60
_RRF_CUT = 20


def _rrf_oracle() -> str:
    from talkinghead_datapipeline_spark.queries.textops import (
        _BM25_TERMS,
        _bm25_scored_cte,
    )

    dens = " + ".join(f"tf_{t}" for t in _BM25_TERMS)
    return f"""
    WITH {_bm25_scored_cte()},
    r1 AS (
      SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rnk
      FROM (SELECT doc_id, round(bm25_raw, 6) AS s FROM bm25_scored
            ORDER BY s DESC, doc_id LIMIT {_RRF_CUT})
    ),
    r2 AS (
      SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rnk
      FROM (SELECT doc_id, round(({dens}) / dl, 6) AS s FROM bm25_scored
            ORDER BY s DESC, doc_id LIMIT {_RRF_CUT})
    )
    SELECT coalesce(r1.doc_id, r2.doc_id) AS doc_id,
           CAST(coalesce(r1.rnk, 0) AS BIGINT) AS bm25_rank,
           CAST(coalesce(r2.rnk, 0) AS BIGINT) AS density_rank,
           round(coalesce(1.0 / ({_RRF_K0} + r1.rnk), 0.0)
                 + coalesce(1.0 / ({_RRF_K0} + r2.rnk), 0.0), 6) AS rrf_score
    FROM r1 FULL OUTER JOIN r2 ON r1.doc_id = r2.doc_id
    ORDER BY rrf_score DESC, doc_id
    LIMIT 10
    """


@register("rrf_hybrid_topk", oracle=_rrf_oracle())
def rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: top-10 docs by
    RRF(d) = sum over rankers of 1/(60 + rank_i(d)), each ranker cut at its
    top-20 (absent -> contributes 0, rank reported as 0). Rankers share one
    scored frame: BM25 and query-term density for the same fixed query.

    Scale shape: each ranker's cutoff list is a TakeOrderedAndProject
    (partial top-k per partition, driver-sized result — the cutoff IS the
    scale lever, exactly how production RRF fuses posting lists), so the
    fusion join and the rank windows run on 2 x 20 rows regardless of
    corpus size. Scores are rounded to 6 BEFORE ranking so the tie
    structure is identical across engines."""
    from talkinghead_datapipeline_spark.queries.textops import _BM25_TERMS, bm25_scored

    docs = load_table(spark, sf_dir, "documents")
    # persist_once: both cutoffs consume the scored frame, and bm25_scored
    # itself reads its tf projection twice (stats fold + final select) —
    # unpersisted, that is four tf derivations over the corpus.
    scored = persist_once(bm25_scored(docs))
    dens = None
    for t in _BM25_TERMS:
        c = F.col(f"tf_{t}")
        dens = c if dens is None else dens + c

    def cut(frame: DataFrame, score) -> DataFrame:
        top = (
            frame.select("doc_id", F.round(score, 6).alias("s"))
            .orderBy(F.desc("s"), F.asc("doc_id"))
            .limit(_RRF_CUT)
        )
        w = W.orderBy(F.desc("s"), F.asc("doc_id"))
        return top.select("doc_id", F.row_number().over(w).alias("rnk"))

    r1 = cut(scored, F.col("bm25_raw"))
    r2 = cut(scored, dens / F.col("dl"))
    joined = r1.withColumnRenamed("rnk", "r1").join(
        r2.withColumnRenamed("rnk", "r2"), "doc_id", "full_outer"
    )
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(_RRF_K0) + F.col("r1")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K0) + F.col("r2")), F.lit(0.0)),
        6,
    )
    return (
        joined.select(
            "doc_id",
            F.coalesce("r1", F.lit(0)).cast("bigint").alias("bm25_rank"),
            F.coalesce("r2", F.lit(0)).cast("bigint").alias("density_rank"),
            rrf.alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# DSIR — data selection via importance resampling (Xie et al. 2023): score
# every raw document by the log importance ratio of a TARGET distribution
# over a RAW distribution, both modeled as bag-of-hashed-ngrams with add-1
# smoothing. Target here: the English slice (lang = 'en'); features:
# unigrams hashed into 64 buckets.
# ---------------------------------------------------------------------------

_DSIR_B = 64
_DSIR_HASH_SQL = f"({md5_hash_sql('tok', 8)} % {_DSIR_B})"


def _dsir_sql(keys: str) -> str:
    """The DSIR model over a ``feats`` CTE of (doc_id, lang, bucket) rows —
    raw and target bucket counts, totals, add-1-smoothed log ratio — and
    the per-``keys`` sum of each feature's log ratio."""
    return f"""raw_counts AS (
      SELECT bucket, CAST(count(*) AS DOUBLE) AS c_raw
      FROM feats GROUP BY bucket
    ),
    tgt_counts AS (
      SELECT bucket, CAST(count(*) AS DOUBLE) AS c_tgt
      FROM feats WHERE lang = 'en' GROUP BY bucket
    ),
    totals AS (
      SELECT CAST(count(*) AS DOUBLE) AS t_raw,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS t_tgt
      FROM feats
    ),
    model AS (
      SELECT r.bucket,
             ln((coalesce(t.c_tgt, 0.0) + 1.0) / (tot.t_tgt + {_DSIR_B}.0))
               - ln((r.c_raw + 1.0) / (tot.t_raw + {_DSIR_B}.0)) AS log_ratio
      FROM raw_counts r
      LEFT JOIN tgt_counts t ON t.bucket = r.bucket
      CROSS JOIN totals tot
    )
    SELECT {keys},
           CAST(count(*) AS BIGINT) AS n_toks,
           round(sum(m.log_ratio), 6) AS dsir_logweight
    FROM feats f JOIN model m ON m.bucket = f.bucket
    GROUP BY {keys}
    """


def _dsir_logweights(docs: DataFrame, text: str, *keys: str) -> DataFrame:
    """The Column twin of ``_dsir_sql``: hash each doc's lowercased
    whitespace tokens of ``text`` into ``_DSIR_B`` buckets, train the model
    on those features, and sum each feature's log ratio per ``keys``.

    The feature frame is persisted once: it feeds four consumers (raw
    counts, target counts, totals, and the final per-doc join), and
    unpersisted Catalyst re-derives everything below it for each — the
    scan + explode + hash chain, and in llm_curation_pipeline the whole
    gate + redaction + dedup-window chain too (four FileScans of
    documents in its executed plan before the persist)."""
    feats = persist_once(
        rebalance_for_compute(docs, "doc_id")
        .select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower(text), r"\s+")).alias("tok"),
        )
        .select(
            "doc_id", "lang", (md5_hash(F.col("tok"), 8) % _DSIR_B).alias("bucket")
        )
    )
    raw_counts = feats.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("double").alias("c_raw")
    )
    tgt_counts = (
        feats.filter(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("double").alias("c_tgt"))
    )
    totals = feats.agg(
        F.count(F.lit(1)).cast("double").alias("t_raw"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("double")
        .alias("t_tgt"),
    )
    model = (
        raw_counts.join(tgt_counts, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce("c_tgt", F.lit(0.0)) + 1.0)
                    / (F.col("t_tgt") + float(_DSIR_B))
                )
                - F.log((F.col("c_raw") + 1.0) / (F.col("t_raw") + float(_DSIR_B)))
            ).alias("log_ratio"),
        )
    )
    return (
        feats.join(F.broadcast(model), "bucket")
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_toks"),
            F.round(F.sum("log_ratio"), 6).alias("dsir_logweight"),
        )
    )


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(string_split_regex(lower(text), '\\s+')) AS tok
      FROM documents WHERE length(text) > 0
    ),
    feats AS (
      SELECT doc_id, lang, {_DSIR_HASH_SQL} AS bucket FROM toks
    ),
    {_dsir_sql("f.doc_id")}""",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weight per document: sum over the doc's hashed
    unigram features of ln(p_target / p_raw), target = the 'en' slice,
    add-1 smoothing over 64 hash buckets. Documents resembling the target
    get high weights; importance RESAMPLING then draws by exp(weight) —
    the weight table computed here is the expensive distributed part.

    Scale shape: feature extraction is a map-side explode + portable hash;
    the two count tables reduce to at most 64 rows each, so the trained
    model is a BROADCAST join back onto the feature stream; per-doc
    summation is one doc-keyed agg. Hashing uses the same md5-prefix
    portable hash as every dedup operator, so Spark and DuckDB bucket
    identically."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    return _dsir_logweights(docs, "text", "doc_id")


# ---------------------------------------------------------------------------
# Gopher quality filter (Rae et al. 2021, table A1) — the rule battery with
# per-rule attribution. Thresholds are Gopher's published ones; on this
# fixture the word-count bound is the discriminative rule (docs run 10-99
# words), while mean-word-length [3,10] and the stopword floor document the
# battery faithfully.
# ---------------------------------------------------------------------------

_GOPHER_MIN_WORDS = 50
_GOPHER_MAX_WORDS = 100_000
_GOPHER_MWL_LO = 3.0
_GOPHER_MWL_HI = 10.0
_GOPHER_MIN_STOP = 2
_GOPHER_STOPS = ("the", "a", "and", "of", "to", "in", "is", "data")
_GOPHER_STOPS_SQL = ", ".join(f"'{w}'" for w in _GOPHER_STOPS)


@register(
    "gopher_quality_filter",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
      FROM documents WHERE length(text) > 0
    ),
    sig AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS word_count,
             CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
               / len(toks) AS mean_word_len,
             CAST(len(list_distinct(list_filter(
               toks, w -> w IN ({_GOPHER_STOPS_SQL})))) AS BIGINT)
               AS n_stop_distinct
      FROM base
    )
    SELECT doc_id, word_count, round(mean_word_len, 6) AS mean_word_len,
           n_stop_distinct,
           (word_count >= {_GOPHER_MIN_WORDS}
            AND word_count <= {_GOPHER_MAX_WORDS}
            AND mean_word_len >= {_GOPHER_MWL_LO}
            AND mean_word_len <= {_GOPHER_MWL_HI}
            AND n_stop_distinct >= {_GOPHER_MIN_STOP}) AS keep,
           CASE
             WHEN word_count < {_GOPHER_MIN_WORDS}
               OR word_count > {_GOPHER_MAX_WORDS} THEN 'word_count'
             WHEN mean_word_len < {_GOPHER_MWL_LO}
               OR mean_word_len > {_GOPHER_MWL_HI} THEN 'mean_word_len'
             WHEN n_stop_distinct < {_GOPHER_MIN_STOP} THEN 'stopwords'
             ELSE ''
           END AS first_fail_rule
    FROM sig
    """,
)
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-battery keep/drop decision with first-failing-rule
    attribution: word count in [50, 100k], mean word length in [3, 10],
    >= 2 distinct stopwords. Returns the signals, the decision, and which
    rule (in battery order) rejected the doc — the attribution column is
    what lets a curation run answer 'why did we drop 40% of this crawl'.

    Scale shape: pure map-side column expressions over the token array (no
    explode, no shuffle, no UDF); the decision inlines into whatever scan
    reads the corpus. Mean word length divides exact integer sums, so both
    engines produce the identical double before rounding."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    toks = F.split(F.lower("text"), r"\s+")
    base = docs.select("doc_id", toks.alias("toks"))
    stops = F.array(*[F.lit(w) for w in _GOPHER_STOPS])
    word_count = F.size("toks").cast("bigint")
    mwl = (
        F.aggregate(
            F.transform("toks", lambda w: F.length(w).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).cast("double")
        / F.size("toks")
    )
    n_stop = F.size(
        F.array_distinct(
            F.filter("toks", (lambda s: lambda w: F.array_contains(s, w))(stops))
        )
    ).cast("bigint")
    sig = base.select(
        "doc_id",
        word_count.alias("word_count"),
        mwl.alias("mwl_raw"),
        n_stop.alias("n_stop_distinct"),
    )
    keep = (
        (F.col("word_count") >= _GOPHER_MIN_WORDS)
        & (F.col("word_count") <= _GOPHER_MAX_WORDS)
        & (F.col("mwl_raw") >= _GOPHER_MWL_LO)
        & (F.col("mwl_raw") <= _GOPHER_MWL_HI)
        & (F.col("n_stop_distinct") >= _GOPHER_MIN_STOP)
    )
    first_fail = (
        F.when(
            (F.col("word_count") < _GOPHER_MIN_WORDS)
            | (F.col("word_count") > _GOPHER_MAX_WORDS),
            "word_count",
        )
        .when(
            (F.col("mwl_raw") < _GOPHER_MWL_LO)
            | (F.col("mwl_raw") > _GOPHER_MWL_HI),
            "mean_word_len",
        )
        .when(F.col("n_stop_distinct") < _GOPHER_MIN_STOP, "stopwords")
        .otherwise("")
    )
    return sig.select(
        "doc_id",
        "word_count",
        F.round("mwl_raw", 6).alias("mean_word_len"),
        "n_stop_distinct",
        keep.alias("keep"),
        first_fail.alias("first_fail_rule"),
    )


# ---------------------------------------------------------------------------
# Zipf slope per language — corpus-health analytics: fit ln(count) ~
# a + b*ln(rank) by OLS over the top-ranked tokens of each language. A
# natural corpus runs b ~ -1; strong deviation flags templated/synthetic
# text. The fit is computed from explicit raw sums (identical expression on
# both engines) rather than each engine's regr_* internals.
# ---------------------------------------------------------------------------

_ZIPF_TOP = 100


@register(
    "zipf_slope_per_lang",
    oracle=f"""
    WITH counts AS (
      SELECT lang, tok, CAST(count(*) AS DOUBLE) AS cnt
      FROM (SELECT lang, unnest(string_split_regex(lower(text), '\\s+')) AS tok
            FROM documents WHERE length(text) > 0)
      GROUP BY lang, tok
    ),
    ranked AS (
      SELECT lang, cnt,
             row_number() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, tok ASC) AS rnk
      FROM counts
    ),
    xy AS (
      SELECT lang, ln(CAST(rnk AS DOUBLE)) AS x, ln(cnt) AS y
      FROM ranked WHERE rnk <= {_ZIPF_TOP}
    ),
    sums AS (
      SELECT lang, CAST(count(*) AS DOUBLE) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x) AS sxx, sum(y * y) AS syy
      FROM xy GROUP BY lang
      HAVING count(*) >= 3
    )
    SELECT lang, CAST(n AS BIGINT) AS n_terms,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             AS intercept,
           CASE WHEN n * syy - sy * sy = 0 THEN NULL
                ELSE round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                           / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           END AS r2
    FROM sums
    """,
)
def zipf_slope_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Zipf fit: token counts ranked within language, OLS of
    ln(count) on ln(rank) over the top 100 ranks -> slope, intercept, R^2.

    Scale shape: wordcount agg on (lang, token), then the per-lang top-100
    is a rank-filter window Spark executes as WindowGroupLimit (partial
    top-k per partition before one lang-keyed shuffle — never a full
    vocabulary sort), and the fit itself is a 5-sum agg over <= 100 rows
    per language. Both engines evaluate the same closed-form slope
    expression from the same raw sums."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    counts = (
        rebalance_for_compute(docs, "doc_id")
        .select("lang", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    w = W.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("tok"))
    xy = (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _ZIPF_TOP)
        .select(
            "lang",
            F.log(F.col("rnk").cast("double")).alias("x"),
            F.log("cnt").alias("y"),
        )
    )
    # HAVING n >= 3: a language with fewer than 3 ranked terms has a
    # degenerate design matrix (n=1 -> 0/0 slope; n=2 -> r2 pinned 1.0);
    # dropping it beats emitting NaN into the certified surface.
    sums = xy.groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    ).filter(F.col("n") >= 3)
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    # r2 is NULL (not NaN) when a language's counts are uniform (zero
    # y-variance) — NaN semantics differ across engines; NULL does not.
    r2 = F.when(
        n * syy - sy * sy == 0, F.lit(None).cast("double")
    ).otherwise(
        F.round(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        )
    )
    return sums.select(
        "lang",
        n.cast("bigint").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        r2.alias("r2"),
    )


# ---------------------------------------------------------------------------
# Hard-negative mining — contrastive-training data prep: for one anchor per
# class, the top-k most-similar vectors from OTHER classes are the hard
# negatives (high-similarity, wrong-label).
# ---------------------------------------------------------------------------

_HARDNEG_K = 5


@register(
    "hard_negative_mining",
    oracle=f"""
    WITH anchors AS (
      SELECT e.label AS anchor_label, e.vec_id AS anchor_id,
             e.embedding AS avec
      FROM embeddings e
      JOIN (SELECT label, min(vec_id) AS anchor_id
            FROM embeddings GROUP BY label) m
        ON m.label = e.label AND m.anchor_id = e.vec_id
    ),
    scored AS (
      SELECT a.anchor_label, a.anchor_id, b.vec_id, b.label,
             round({cosine_sql('a.avec', 'b.embedding')}, 6) AS cos_sim
      FROM anchors a JOIN embeddings b ON b.label <> a.anchor_label
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY anchor_label
                                   ORDER BY cos_sim DESC, vec_id ASC) AS rnk
      FROM scored
    )
    SELECT anchor_label, anchor_id, vec_id, label, cos_sim,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {_HARDNEG_K}
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 hard negatives per class anchor: the anchor is each label's
    lowest-id vector; candidates are all vectors of OTHER labels ranked by
    exact cosine (rounded to 6 before ranking, vec_id tiebreak).

    Scale shape: anchors reduce to one row per class -> BROADCAST against
    the full corpus, scoring is map-only, and the per-anchor top-5 is a
    rank-filter window (WindowGroupLimit: partial top-k before the single
    anchor-keyed shuffle). The corpus side is never shuffled by anything
    quadratic — the same anchor-broadcast shape as the sim_* ANN family."""
    emb = load_table(spark, sf_dir, "embeddings")
    # String-key joins on renamed columns: a self-join through expressions
    # like ``emb.label == min_ids.label`` trips Spark's ambiguous-self-join
    # detection (both sides trace to the same dataset id).
    min_ids = (
        emb.groupBy("label")
        .agg(F.min("vec_id").alias("anchor_id"))
        .withColumnRenamed("label", "anchor_label")
    )
    anchors = emb.select(
        F.col("label").alias("anchor_label"),
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("avec"),
    ).join(min_ids, ["anchor_label", "anchor_id"])
    scored = (
        rebalance_for_compute(emb)
        .join(
            F.broadcast(anchors),
            F.col("label") != F.col("anchor_label"),
        )
        .select(
            "anchor_label",
            "anchor_id",
            "vec_id",
            "label",
            F.expr(f"round({cosine_expr('avec', 'embedding')}, 6)").alias("cos_sim"),
        )
    )
    w = W.partitionBy("anchor_label").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _HARDNEG_K)
        .select(
            "anchor_label",
            "anchor_id",
            "vec_id",
            "label",
            "cos_sim",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# CCNet perplexity buckets (Wenzek et al. 2020): rank each language's
# documents by LM score and split into head/middle/tail terciles — the
# bucketing CCNet ships as its quality tiers. LM score = the corpus-trained
# bigram cross-entropy from bigram_lm_doc_scores.
# ---------------------------------------------------------------------------


@register(
    "ccnet_perplexity_buckets",
    oracle=r"""
    WITH pairs AS (
      SELECT doc_id,
             unnest(list_transform(
               range(2, len(string_split_regex(lower(text), '\s+')) + 1),
               i -> struct_pack(w1 := string_split_regex(lower(text), '\s+')[i - 1],
                                w2 := string_split_regex(lower(text), '\s+')[i]))) AS bg
      FROM documents
      WHERE length(text) > 0 AND len(string_split_regex(lower(text), '\s+')) >= 2
    ),
    doc_bg AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM pairs),
    bg_counts AS (
      SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12
      FROM doc_bg GROUP BY w1, w2
    ),
    uni_counts AS (
      SELECT w1, CAST(count(*) AS DOUBLE) AS c1 FROM doc_bg GROUP BY w1
    ),
    ce AS (
      SELECT d.doc_id, round(avg(-log2(b.c12 / u.c1)), 6) AS cross_entropy
      FROM doc_bg d
      JOIN bg_counts b ON b.w1 = d.w1 AND b.w2 = d.w2
      JOIN uni_counts u ON u.w1 = d.w1
      GROUP BY d.doc_id
    ),
    bucketed AS (
      SELECT doc.lang, ce.cross_entropy,
             ntile(3) OVER (PARTITION BY doc.lang
                            ORDER BY ce.cross_entropy ASC, ce.doc_id ASC)
               AS bucket
      FROM ce JOIN documents doc ON doc.doc_id = ce.doc_id
    )
    SELECT lang, CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(cross_entropy), 6) AS avg_ce,
           round(min(cross_entropy), 6) AS min_ce,
           round(max(cross_entropy), 6) AS max_ce
    FROM bucketed
    GROUP BY lang, bucket
    """,
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail tiers: per language, documents are
    ordered by their corpus-trained bigram cross-entropy (rounded to 6
    BEFORE ranking so tie structure matches the oracle; doc_id tiebreak)
    and ntile(3)-bucketed; each (lang, bucket) row reports count and the
    score envelope. Head = lowest-perplexity tier, the slice CCNet keeps.

    Scale shape: inherits bigram_lm_doc_scores' wordcount-shaped training
    (n-gram-keyed shuffles only) and adds one lang-partitioned ntile
    window plus a (lang, bucket) rollup. Languages partition the window,
    so no global sort; per-lang ordering is the unavoidable cost of exact
    quantile tiers (the approx handoff is approx_quantiles_certified)."""
    from talkinghead_datapipeline_spark.queries.textops import bigram_lm_doc_scores

    ce = bigram_lm_doc_scores(spark, sf_dir).select("doc_id", "cross_entropy")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = W.partitionBy("lang").orderBy(F.asc("cross_entropy"), F.asc("doc_id"))
    bucketed = ce.join(docs, "doc_id").withColumn("bucket", F.ntile(3).over(w))
    return (
        bucketed.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("cross_entropy"), 6).alias("avg_ce"),
            F.round(F.min("cross_entropy"), 6).alias("min_ce"),
            F.round(F.max("cross_entropy"), 6).alias("max_ce"),
        )
        .select(
            "lang",
            F.col("bucket").cast("bigint").alias("bucket"),
            "n_docs",
            "avg_ce",
            "min_ce",
            "max_ce",
        )
    )


# ---------------------------------------------------------------------------
# End-to-end curation pipeline — the production composition of this
# module's operators as ONE lazy plan: Gopher quality gate -> PII redaction -> exact
# dedup keep-first (on the redacted text) -> DSIR importance weights
# trained on the SURVIVING corpus. One oracle certifies the whole chain:
# the row count proves the two filters, the weights prove the model.
# ---------------------------------------------------------------------------


def _curation_pipeline_oracle() -> str:
    from talkinghead_datapipeline_spark.queries.textops import (
        _PII_EMAIL,
        _PII_IPV4,
        _PII_PHONE,
    )

    return f"""
    WITH sig AS (
      SELECT doc_id, lang, text,
             string_split_regex(lower(text), '\\s+') AS toks
      FROM documents WHERE length(text) > 0
    ),
    keepq AS (
      SELECT doc_id, lang, text FROM sig
      WHERE len(toks) BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
        AND CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
              / len(toks) BETWEEN {_GOPHER_MWL_LO} AND {_GOPHER_MWL_HI}
        AND len(list_distinct(list_filter(
              toks, w -> w IN ({_GOPHER_STOPS_SQL})))) >= {_GOPHER_MIN_STOP}
    ),
    red AS (
      SELECT doc_id, lang,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '{_PII_EMAIL}', '|||EMAIL|||', 'g'),
                 '{_PII_PHONE}', '|||PHONE|||', 'g'),
               '{_PII_IPV4}', '|||IP|||', 'g') AS rtext
      FROM keepq
    ),
    surv AS (
      SELECT doc_id, lang, rtext FROM (
        SELECT doc_id, lang, rtext,
               row_number() OVER (PARTITION BY md5(rtext)
                                  ORDER BY doc_id) AS rn
        FROM red
      ) WHERE rn = 1
    ),
    feats AS (
      SELECT doc_id, lang, {_DSIR_HASH_SQL} AS bucket
      FROM (SELECT doc_id, lang,
                   unnest(string_split_regex(lower(rtext), '\\s+')) AS tok
            FROM surv)
    ),
    {_dsir_sql("f.doc_id, f.lang")}"""


@register("llm_curation_pipeline", oracle=_curation_pipeline_oracle())
def llm_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pass a pretraining corpus actually runs, as a
    single lazy plan: Gopher rule gate, PII sentinel redaction, exact
    keep-first dedup on the REDACTED text (redaction can merge docs that
    differed only in PII — dedup must see the final form), then DSIR
    importance weights with the model trained on the surviving corpus
    (training on pre-filter text would let dropped boilerplate shape the
    target distribution). Output: one row per surviving doc with its
    token count and importance log-weight.

    Scale shape: the gate and redaction are map-side expressions fused
    into the scan; dedup is one uniform md5-keyed window; the DSIR model
    reduces to <= 64 rows broadcast back. The slim post-dedup feature
    frame is persisted ONCE — it feeds four consumers, and without the
    persist Catalyst re-derives the whole gate+redact+dedup chain per
    consumer (four corpus scans, verified in the executed plan)."""
    from talkinghead_datapipeline_spark.queries.textops import _pii_redacted

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    toks = F.split(F.lower("text"), r"\s+")
    mwl = (
        F.aggregate(
            F.transform(toks, lambda w: F.length(w).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).cast("double")
        / F.size(toks)
    )
    stops = F.array(*[F.lit(w) for w in _GOPHER_STOPS])
    n_stop = F.size(
        F.array_distinct(
            F.filter(toks, (lambda s: lambda w: F.array_contains(s, w))(stops))
        )
    )
    keepq = docs.filter(
        F.size(toks).between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
        & mwl.between(_GOPHER_MWL_LO, _GOPHER_MWL_HI)
        & (n_stop >= _GOPHER_MIN_STOP)
    )
    red = keepq.select("doc_id", "lang", _pii_redacted(F.col("text")).alias("rtext"))
    w = W.partitionBy(F.md5("rtext")).orderBy("doc_id")
    surv = (
        red.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return _dsir_logweights(surv, "rtext", "doc_id", "lang")
