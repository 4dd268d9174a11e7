"""Text-analysis operators over `documents` (north-star extensions).

Large-scale training-data pipeline text layer: exact dedup, token counting,
quality scoring, document fingerprinting, language-ID heuristic. All are
single-scan column-expression pipelines — they hold at 100 TB because the
only shuffle is the final groupBy (dedup) or none at all (scoring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from talkinghead_datapipeline_spark.catalog import (
    load_table,
    persist_once,
    rebalance_for_compute,
)
from talkinghead_datapipeline_spark.functions.portable import md5_hash, md5_hash_sql
from talkinghead_datapipeline_spark.queries import register

# ---------------------------------------------------------------------------
# Exact deduplication: hash-groupBy on content digest, keep min doc_id.
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_groups",
    oracle="""
    SELECT md5(text) AS content_hash,
           count(*) AS n_copies,
           min(doc_id) AS canonical_doc_id
    FROM documents
    GROUP BY 1
    HAVING count(*) > 1
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by content md5 — one shuffle on the digest
    (uniform key distribution ⇒ no skew at any scale)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


@register(
    "dedup_exact_keep_first",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the lowest doc_id per content group (the usual
    keep-canonical policy); window over the digest, not a self-join."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars")
    )


# ---------------------------------------------------------------------------
# Token counting + quality scoring (length / punctuation / stopword ratios).
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "data")
_SW_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                w -> w IN ({_SW_SQL}))) AS BIGINT) AS n_stopwords,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           round(CAST(length(text) AS DOUBLE)
                 / len(string_split_regex(text, '\\s+')), 6) AS avg_token_len
    FROM documents
    WHERE length(text) > 0
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenization + stopword counting — all built-in array ops."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    tokens = F.split(F.col("text"), r"\s+")
    low_tokens = F.split(F.lower(F.col("text")), r"\s+")
    n_tokens = F.size(tokens).cast("bigint")
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.size(F.filter(low_tokens, lambda w: w.isin(*_STOPWORDS)))
        .cast("bigint")
        .alias("n_stopwords"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
        F.round(F.length("text").cast("double") / F.size(tokens), 6).alias(
            "avg_token_len"
        ),
    )


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id, lang,
           round(least(CAST(length(text) AS DOUBLE) / 500, 1.0), 6) AS length_score,
           round(1.0 - CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                 w -> w IN ({_SW_SQL}))) AS DOUBLE)
                     / len(string_split_regex(text, '\\s+')), 6) AS content_ratio,
           CAST(floor(1000000.0
                      * (0.5 * least(CAST(length(text) AS DOUBLE) / 500, 1.0)
                       + 0.5 * (1.0 - CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                                w -> w IN ({_SW_SQL}))) AS DOUBLE)
                                    / len(string_split_regex(text, '\\s+')))))
                AS BIGINT) AS quality_ppm
    FROM documents
    WHERE length(text) > 0
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: capped length score + non-stopword ratio.
    (The standard pre-training quality-filter shape: cheap, fully pushed
    into one projection.)

    The composite is floor-to-BIGINT ppm (tools/round_tie_audit.py): it is a
    per-row expression — bit-identical cross-engine — whose sf0.01
    minimum margin from a round(,6) half-boundary measured 0.12 ulps of
    the scaled value, i.e. the scaled double sits ON the tie where the
    engines' round functions may disagree. length_score keeps round():
    n/500 scaled by 1e6 is the integer 2000n, provably ~half a grid cell
    from every tie; content_ratio's measured floor is 4.6e7 ulps."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    tokens = F.split(F.col("text"), r"\s+")
    low_tokens = F.split(F.lower(F.col("text")), r"\s+")
    length_score = F.least(F.length("text").cast("double") / 500, F.lit(1.0))
    sw = F.size(F.filter(low_tokens, lambda w: w.isin(*_STOPWORDS))).cast("double")
    content_ratio = F.lit(1.0) - sw / F.size(tokens)
    return docs.select(
        "doc_id",
        "lang",
        F.round(length_score, 6).alias("length_score"),
        F.round(content_ratio, 6).alias("content_ratio"),
        F.floor(
            F.lit(1000000.0) * (0.5 * length_score + 0.5 * content_ratio)
        )
        .cast("bigint")
        .alias("quality_ppm"),
    )


# ---------------------------------------------------------------------------
# Document fingerprinting: stable 64-bit-style fingerprint from md5 prefix.
# ---------------------------------------------------------------------------


@register(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           {md5_hash_sql('text', 15)} AS fingerprint,
           substr(md5(text), 1, 8) AS fp_hex
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 60-bit fingerprint = first 15 hex chars of content md5 —
    engine-portable (same value in Spark, DuckDB, and any SQL dialect),
    unlike engine-native hash() functions."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        md5_hash(F.col("text"), 15).alias("fingerprint"),
        F.substring(F.md5("text"), 1, 8).alias("fp_hex"),
    )


# ---------------------------------------------------------------------------
# Language-ID heuristic: stopword-profile voting, pure SQL.
# ---------------------------------------------------------------------------

_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "de"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
}


def _lang_score_sql(lang: str) -> str:
    ws = ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang])
    return (
        f"CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),"
        f" w -> w IN ({ws}))) AS DOUBLE)"
    )


_LANGID_ORACLE = f"""
    SELECT doc_id, lang AS labeled_lang,
           round({_lang_score_sql('en')}
                 / len(string_split_regex(text, '\\s+')), 6) AS en_score,
           round({_lang_score_sql('es')}
                 / len(string_split_regex(text, '\\s+')), 6) AS es_score,
           CASE WHEN {_lang_score_sql('en')} >= {_lang_score_sql('es')}
                THEN 'en' ELSE 'es' END AS predicted_lang
    FROM documents
    WHERE length(text) > 0
"""


@register("lang_id_heuristic", oracle=_LANGID_ORACLE)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language scoring (the n-gram-free fallback tier of a
    language-ID stack); argmax over per-language marker densities."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    low_tokens = F.split(F.lower(F.col("text")), r"\s+")
    n_tokens = F.size(F.split(F.col("text"), r"\s+"))

    def score(lang: str) -> F.Column:
        return F.size(
            F.filter(low_tokens, lambda w: w.isin(*_LANG_MARKERS[lang]))
        ).cast("double")

    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.round(score("en") / n_tokens, 6).alias("en_score"),
        F.round(score("es") / n_tokens, 6).alias("es_score"),
        F.when(score("en") >= score("es"), F.lit("en"))
        .otherwise(F.lit("es"))
        .alias("predicted_lang"),
    )


# ---------------------------------------------------------------------------
# BPE-ish subword token counting (north-star: token budgeting for LLM data).
# ---------------------------------------------------------------------------

# GPT-2-style pre-tokenizer shape, restricted to RE2/Java-common syntax:
# contractions | optional-space + letters | optional-space + digits |
# optional-space + punctuation runs. Whitespace itself is not a token.
_BPE_RE = "'[a-z]{1,2}| ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+"


@register(
    "text_bpe_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_RE.replace("'", "''")}')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_ws_tokens,
           round(CAST(len(regexp_extract_all(text, '{_BPE_RE.replace("'", "''")}')) AS DOUBLE)
                 / len(string_split_regex(text, '\\s+')), 6) AS tokens_per_word
    FROM documents
    WHERE length(text) > 0
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budgeting with a BPE-style pre-tokenizer regex (the GPT-2
    pattern's portable core): subword-ish token count vs whitespace count
    per document — pure regexp_extract_all, single scan, codegen-resident.
    The per-corpus rollup (sum over 100 TB) is a partial-agg reduce."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    bpe = F.expr(
        f"regexp_extract_all(text, '{_BPE_RE.replace(chr(39), chr(39) * 2)}', 0)"
    )
    ws = F.split(F.col("text"), r"\s+")
    return docs.select(
        "doc_id",
        F.size(bpe).cast("bigint").alias("n_bpe_tokens"),
        F.size(ws).cast("bigint").alias("n_ws_tokens"),
        F.round(F.size(bpe).cast("double") / F.size(ws), 6).alias("tokens_per_word"),
    )


@register(
    "bpe_top_merge_pairs",
    oracle=r"""
    WITH words AS (
      SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
      FROM documents WHERE length(text) > 0
    ),
    pairs AS (
      SELECT substr(w, CAST(i AS INT), 2) AS pair
      FROM (
        SELECT w, unnest(range(1, length(w))) AS i
        FROM words WHERE length(w) >= 2
      )
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS cnt
    FROM pairs
    GROUP BY pair
    ORDER BY cnt DESC, pair ASC
    LIMIT 20
    """,
)
def bpe_top_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE TRAINING primitive (Sennrich et al. 2016): corpus-global
    adjacent-symbol pair frequencies — each training iteration merges the
    most frequent pair, and this counting step is the part that must
    distribute (the merge table itself is tiny driver state). Symbols here
    are characters within whitespace-split words at iteration 0; counts
    keep multiplicity (BPE counts occurrences, unlike the dedup shingle
    sets). One explode + one (pair) hash-agg shuffle — wordcount shape,
    map-side partials carry the load at 100 TB — then a 20-row top-k with
    a full tiebreak."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    words = rebalance_for_compute(docs).select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substr(F.col("w"), i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(20)
    )


@register(
    "gopher_dup_line_signals",
    oracle=r"""
    WITH base AS (
      SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_actual,
             string_split(text, chr(10)) AS lines
      FROM documents
    ),
    ln AS (
      SELECT doc_id, n_chars_actual,
             CAST(len(lines) AS BIGINT) AS n_lines,
             unnest(lines) AS line
      FROM base
    ),
    grouped AS (
      SELECT doc_id, n_chars_actual, n_lines, line,
             CAST(count(*) AS BIGINT) AS cnt
      FROM ln GROUP BY doc_id, n_chars_actual, n_lines, line
    )
    SELECT doc_id,
           round(coalesce(CAST(sum(CASE WHEN cnt >= 2 THEN cnt END) AS DOUBLE), 0.0)
                 / max(n_lines), 6) AS dup_line_frac,
           round(coalesce(CAST(sum(CASE WHEN cnt >= 2
                                        THEN cnt * length(line) END) AS DOUBLE), 0.0)
                 / max(n_chars_actual), 6) AS dup_line_char_frac
    FROM grouped
    GROUP BY doc_id
    """,
)
def gopher_dup_line_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's duplicate-LINE repetition signals (table A1 rows 1-2 of
    the repetition family, line grain): the fraction of a doc's lines
    belonging to any line that occurs ≥ 2× in the doc, and the fraction of
    its characters inside those lines (all occurrences counted — the same
    per-occurrence convention as gopher_repetition_signals, stated here;
    newline separators are not attributed). Complements paragraph-grain
    cross-document dedup (`paragraph_dedup_stats`): this is a WITHIN-doc
    quality signal, not a dedup pass.

    Scale shape: split + explode lines, one (doc_id, line) hash-agg with
    map-side partials, one per-doc reduction — wordcount-shaped, no joins
    (line count and char count ride along as grouping constants)."""
    docs = load_table(spark, sf_dir, "documents")
    base = rebalance_for_compute(docs, "doc_id").select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_actual"),
        F.split(F.col("text"), "\n", -1).alias("lines"),
    )
    ln = base.select(
        "doc_id",
        "n_chars_actual",
        F.size("lines").cast("bigint").alias("n_lines"),
        F.explode("lines").alias("line"),
    )
    grouped = ln.groupBy("doc_id", "n_chars_actual", "n_lines", "line").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    dup = F.when(F.col("cnt") >= 2, F.col("cnt"))
    dup_chars = F.when(F.col("cnt") >= 2, F.col("cnt") * F.length("line"))
    return grouped.groupBy("doc_id").agg(
        F.round(
            F.coalesce(F.sum(dup).cast("double"), F.lit(0.0))
            / F.max("n_lines"),
            6,
        ).alias("dup_line_frac"),
        F.round(
            F.coalesce(F.sum(dup_chars).cast("double"), F.lit(0.0))
            / F.max("n_chars_actual"),
            6,
        ).alias("dup_line_char_frac"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005) — the fixed-size mergeable
# frequency summary. Hashes are the engine-portable md5 prefix with a row
# salt, so the DuckDB twin rebuilds the exact same sketch cell-for-cell.
# ---------------------------------------------------------------------------

_CMS_D = 3  # hash rows
_CMS_W = 64  # buckets per row


def _cms_cells():
    """The sketch cells of the ``token`` column, exploded as struct ``e``:
    one (j, bucket) per hash row j."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    (
                        md5_hash(F.concat_ws("|", F.lit(str(j)), F.col("token")), 8)
                        % _CMS_W
                    ).alias("bucket"),
                )
                for j in range(_CMS_D)
            ]
        )
    ).alias("e")


_CMS_BUCKET_SQL = (
    "(" + md5_hash_sql("CAST({j} AS VARCHAR) || '|' || {t}", 8) + f" % {_CMS_W})"
)


@register(
    "cms_heavy_hitters",
    oracle=rf"""
    WITH tok AS (
      SELECT token FROM (
        SELECT unnest(string_split_regex(lower(text), '\s+')) AS token
        FROM documents WHERE length(text) > 0
      ) WHERE length(token) >= 1
    ),
    cnts AS (
      SELECT token, CAST(count(*) AS BIGINT) AS true_cnt
      FROM tok GROUP BY token
    ),
    top AS (
      SELECT token, true_cnt FROM cnts
      ORDER BY true_cnt DESC, token ASC LIMIT 20
    ),
    js AS (SELECT unnest(range(0, {_CMS_D})) AS j),
    sk AS (
      SELECT j, {_CMS_BUCKET_SQL.format(j='j', t='token')} AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM tok, js GROUP BY 1, 2
    ),
    tp AS (
      SELECT t.token, t.true_cnt, js.j,
             {_CMS_BUCKET_SQL.format(j='js.j', t='t.token')} AS bucket
      FROM top t, js
    )
    SELECT tp.token, tp.true_cnt, CAST(min(sk.c) AS BIGINT) AS cms_est
    FROM tp JOIN sk ON tp.j = sk.j AND tp.bucket = sk.bucket
    GROUP BY tp.token, tp.true_cnt
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over corpus token frequencies, certified against
    exact counts: a d=3 × w=64 cell grid where cell (j, h_j(t)) sums every
    occurrence hashing there, and a token's estimate is the MIN over its d
    cells — always ≥ the true count, with overcount bounded by collisions.

    The sketch is the 100 TB artifact: the (j, bucket) aggregation is a
    map-side partial into d·w = 192 cells per partition — CONSTANT state
    merged associatively across any number of executors, where the exact
    token count's state grows with vocabulary. The exact branch here
    exists as the certification yardstick (top-20 truth vs estimate, so
    the driver verifies both the sketch construction and the ≥-truth
    property numerically); a production pipeline ships only the 192
    cells. Hash rows use salted md5 prefixes, deterministic across
    engines — the DuckDB oracle rebuilds the identical sketch."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    toks = (
        rebalance_for_compute(docs)
        .select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"))
        .filter(F.length("token") >= 1)
    )
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("token"))
        .limit(20)
    )
    sk = (
        toks.select(_cms_cells())
        .select("e.j", "e.bucket")
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    probes = top.select("token", "true_cnt", _cms_cells()).select(
        "token", "true_cnt", "e.j", "e.bucket"
    )
    return (
        probes.join(F.broadcast(sk), ["j", "bucket"])
        .groupBy("token", "true_cnt")
        .agg(F.min("c").alias("cms_est"))
    )


# ---------------------------------------------------------------------------
# Corpus profiling (data-quality gate before any training-data run).
# ---------------------------------------------------------------------------


@register(
    "profile_documents",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN text IS NULL OR length(text) = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           round(avg(length(text)), 6) AS avg_chars,
           round(quantile_cont(length(text), 0.5), 6) AS med_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM documents
    GROUP BY source
    """,
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile: row counts, empty-text rate, language
    cardinality, length distribution — the null-rate/cardinality sweep every
    ingest runs before touching 100 TB (one pass, partial aggs)."""
    docs = load_table(spark, sf_dir, "documents")
    empty = F.when(F.col("text").isNull() | (F.length("text") == 0), 1).otherwise(0)
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(empty).cast("bigint").alias("n_empty"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.round(F.avg(F.length("text")), 6).alias("avg_chars"),
        F.round(F.percentile(F.length("text"), F.lit(0.5)), 6).alias("med_chars"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
    )


# ---------------------------------------------------------------------------
# Paragraph-level cross-document dedup (RefinedWeb/Dolma line-and-paragraph
# dedup: Penedo et al. 2023 §4.2, Soldaini et al. 2024) — the unit of
# duplication is the paragraph, so boilerplate shared across documents is
# removed without discarding whole docs.
# ---------------------------------------------------------------------------


@register(
    "paragraph_dedup_stats",
    oracle=r"""
    WITH p AS (
      SELECT doc_id,
             CAST(unnest(range(0, len(parts))) AS BIGINT) AS para_idx,
             unnest(parts) AS para
      FROM (SELECT doc_id, string_split_regex(text, '\n+') AS parts
            FROM documents)
    ),
    r AS (
      SELECT doc_id, para_idx, para,
             row_number() OVER (PARTITION BY md5(trim(lower(para)))
                                ORDER BY doc_id, para_idx) AS rn
      FROM p
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_paras,
           coalesce(string_agg(CASE WHEN rn = 1 THEN para END, chr(10)
                               ORDER BY para_idx), '') AS text_dedup
    FROM r GROUP BY doc_id
    """,
)
def paragraph_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document paragraph dedup, keep-first-occurrence: split each doc
    on newline runs, keep a paragraph only where its normalized (lower,
    trim) digest first appears corpus-wide — ordered by (doc_id, para_idx)
    — and reassemble the surviving paragraphs in document order. Returns
    per-doc paragraph counts and the deduplicated text.

    Scale shape: posexplode (map-side), ONE shuffle on the paragraph
    digest (row_number window over a uniform md5 key — no skew), one
    groupBy doc_id to reassemble. The digest window is exactly the
    dedup_exact_keep_first shape one level below document grain; at 100 TB
    the paragraph table is the big side and both shuffles key uniformly."""
    docs = load_table(spark, sf_dir, "documents")
    paras = docs.select(
        "doc_id",
        F.posexplode(F.split("text", r"\n+")).alias("para_idx", "para"),
    ).withColumn("para_idx", F.col("para_idx").cast("bigint"))
    w = W.partitionBy(F.md5(F.trim(F.lower(F.col("para"))))).orderBy(
        "doc_id", "para_idx"
    )
    flagged = paras.withColumn("rn", F.row_number().over(w))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum((F.col("rn") > 1).cast("bigint")).alias("n_dup_paras"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("rn") == 1, F.struct("para_idx", "para")
                        )
                    )
                ),
                lambda s: s["para"],
            ),
        ).alias("text_dedup"),
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition signals (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", table A1 repetition filters; reused by FineWeb).
# ---------------------------------------------------------------------------


_GOPHER_BASE_CTE = r"""
    WITH base AS (
      SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_actual,
             string_split_regex(lower(text), '\s+') AS toks
      FROM documents
    ),"""


def _gopher_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_chars_actual, toks): each document's length and its
    lowercased whitespace tokens — the Column twin of
    ``_GOPHER_BASE_CTE``, shared by the two Gopher repetition queries."""
    docs = load_table(spark, sf_dir, "documents")
    return rebalance_for_compute(docs, "doc_id").select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_actual"),
        F.split(F.lower(F.col("text")), r"\s+").alias("toks"),
    )


@register(
    "gopher_repetition_signals",
    oracle=_GOPHER_BASE_CTE + r"""
    grams AS (
      SELECT doc_id, n, gram, CAST(count(*) AS BIGINT) AS cnt
      FROM (
        SELECT doc_id, 2 AS n,
               unnest(list_transform(range(1, len(toks)),
                      i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1])) AS gram
        FROM base
        UNION ALL
        SELECT doc_id, 3 AS n,
               unnest(list_transform(range(1, len(toks) - 1),
                      i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1]
                           || ' ' || toks[CAST(i AS INT) + 2])) AS gram
        FROM base
      ) GROUP BY doc_id, n, gram
    ),
    top2 AS (
      SELECT doc_id, gram AS top_bigram, cnt AS top_cnt
      FROM (
        SELECT doc_id, gram, cnt,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, gram ASC) AS rk
        FROM grams WHERE n = 2
      ) WHERE rk = 1
    ),
    dup3 AS (
      SELECT doc_id, CAST(sum(cnt * length(gram)) AS BIGINT) AS dup_chars
      FROM grams WHERE n = 3 AND cnt >= 2 GROUP BY doc_id
    )
    SELECT b.doc_id,
           coalesce(t.top_bigram, '') AS top_bigram,
           CAST(floor(1000000.0
                      * coalesce(CAST(t.top_cnt * length(t.top_bigram)
                                      AS DOUBLE), 0.0)
                      / b.n_chars_actual) AS BIGINT) AS top_bigram_char_ppm,
           CAST(floor(1000000.0 * coalesce(CAST(d.dup_chars AS DOUBLE), 0.0)
                      / b.n_chars_actual) AS BIGINT) AS dup_trigram_char_ppm
    FROM base b
    LEFT JOIN top2 t ON b.doc_id = t.doc_id
    LEFT JOIN dup3 d ON b.doc_id = d.doc_id
    """,
)
def gopher_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition quality signals in the Gopher family:
    fraction of characters attributable to the single most frequent word
    bigram (ties break to the lexicographically smallest bigram), and
    fraction attributable to all occurrences of word trigrams that occur
    more than once (the simplified occurrences×length variant of Gopher's
    duplicate-n-gram character fraction — documented divergence: Gopher
    counts each character position once even under overlapping coverage).

    Scale shape: one explode of (n, gram) pairs, partial-aggregated
    map-side into a (doc_id, n, gram) count shuffle, then two tiny
    per-doc reductions joined back to the doc spine — gram counting is
    the wordcount shape, uniform at any corpus size.

    Floor-ppm outputs (tools/round_tie_audit.py): both fractions are single
    double divisions of exact integers — bit-identical cross-engine — and
    the sf0.01 audit found values sitting EXACTLY on round(,6) half-
    boundaries (0.0546875 = 7/128 and friends: dyadic rationals land on
    .5 ties whenever the denominator exceeds 2^6), so round() is replaced
    by floor-to-BIGINT ppm, the same function in both engines."""
    base = _gopher_base(spark, sf_dir)

    def ngrams(n: int):
        return F.when(
            F.size("toks") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at("toks", i + k) for k in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    exploded = base.select(
        "doc_id",
        F.explode(
            F.flatten(
                F.array(
                    F.transform(ngrams(2), lambda g: F.struct(F.lit(2).alias("n"), g.alias("gram"))),
                    F.transform(ngrams(3), lambda g: F.struct(F.lit(3).alias("n"), g.alias("gram"))),
                )
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    grams = exploded.groupBy("doc_id", "n", "gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    # BOTH per-doc reductions in ONE conditional aggregation: splitting
    # into n=2 / n=3 branches re-runs the whole gram explode + count
    # subplan per branch (the filters specialize the plans, defeating
    # ReuseExchange — measured: 3 parquet scans, 4 exchanges). Fused:
    # 2 scans (gram branch + doc spine), one (doc,n,gram) shuffle total.
    # Highest count with ties to the smallest gram = min of struct(-cnt,
    # gram); null-skipping min/sum make the conditions branch-free.
    per_doc = grams.groupBy("doc_id").agg(
        F.min(
            F.when(
                F.col("n") == 2,
                F.struct((-F.col("cnt")).alias("nc"), F.col("gram"), F.col("cnt")),
            )
        ).alias("m"),
        F.sum(
            F.when(
                (F.col("n") == 3) & (F.col("cnt") >= 2),
                F.col("cnt") * F.length("gram"),
            )
        )
        .cast("bigint")
        .alias("dup_chars"),
    ).select(
        "doc_id",
        F.col("m.gram").alias("top_bigram"),
        F.col("m.cnt").alias("top_cnt"),
        "dup_chars",
    )
    return (
        base.select("doc_id", "n_chars_actual")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("top_bigram", F.lit("")).alias("top_bigram"),
            F.floor(
                F.lit(1000000.0)
                * F.coalesce(
                    (F.col("top_cnt") * F.length("top_bigram")).cast("double"),
                    F.lit(0.0),
                )
                / F.col("n_chars_actual")
            )
            .cast("bigint")
            .alias("top_bigram_char_ppm"),
            F.floor(
                F.lit(1000000.0)
                * F.coalesce(F.col("dup_chars").cast("double"), F.lit(0.0))
                / F.col("n_chars_actual")
            )
            .cast("bigint")
            .alias("dup_trigram_char_ppm"),
        )
    )


@register(
    "gopher_dup_trigram_coverage",
    oracle=_GOPHER_BASE_CTE + r"""
    occ AS (
      SELECT doc_id, toks,
             CAST(unnest(range(1, len(toks) - 1)) AS BIGINT) AS i
      FROM base
    ),
    tri AS (
      SELECT doc_id, i,
             toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1]
               || ' ' || toks[CAST(i AS INT) + 2] AS gram
      FROM occ
    ),
    dupg AS (
      SELECT doc_id,
             flatten(list_transform(list(i), s -> [s, s + 1, s + 2])) AS cov
      FROM tri GROUP BY doc_id, gram HAVING count(*) >= 2
    ),
    covdoc AS (
      SELECT doc_id, list_distinct(flatten(list(cov))) AS cov
      FROM dupg GROUP BY doc_id
    )
    SELECT b.doc_id,
           round(coalesce(CAST(list_sum(list_transform(c.cov,
                     p -> length(b.toks[CAST(p AS INT)]))) AS DOUBLE), 0.0)
                 / b.n_chars_actual, 6) AS dup_trigram_char_frac_exact
    FROM base b LEFT JOIN covdoc c ON b.doc_id = c.doc_id
    """,
)
def gopher_dup_trigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITION-ONCE duplicate-trigram character fraction — the exact
    Gopher semantics (each character position counted once no matter how
    many duplicated trigrams overlap it), closing the one documented
    divergence of ``gopher_repetition_signals``' occurrences×length
    variant. A token position is COVERED if any trigram
    occurring ≥ 2× in the doc spans it; the metric is the summed length
    of covered tokens over the doc's character count (inter-token
    whitespace is never attributed — stated, and mirrored in the oracle).

    Scale shape: trigram occurrences explode with their start index —
    wordcount-shaped (doc_id, gram) shuffle collecting start positions,
    duplicated grams expand to covered-position arrays (bounded by doc
    length), one per-doc shuffle unions+dedups them, and the covered
    char sum is an array fold against the doc's own token array — no
    per-position join, no UDF."""
    base = _gopher_base(spark, sf_dir)
    tri = base.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 2),
                    lambda i: F.struct(
                        i.alias("i"),
                        F.concat_ws(
                            " ",
                            F.element_at("toks", i),
                            F.element_at("toks", i + 1),
                            F.element_at("toks", i + 2),
                        ).alias("gram"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<i:int,gram:string>>"))
        ).alias("g"),
    ).select("doc_id", F.col("g.i").alias("i"), F.col("g.gram").alias("gram"))
    dupg = (
        tri.groupBy("doc_id", "gram")
        .agg(F.collect_list("i").alias("starts"))
        .filter(F.size("starts") >= 2)
        .select(
            "doc_id",
            F.flatten(
                F.transform("starts", lambda s: F.array(s, s + 1, s + 2))
            ).alias("cov"),
        )
    )
    covdoc = dupg.groupBy("doc_id").agg(
        F.array_distinct(F.flatten(F.collect_list("cov"))).alias("cov")
    )
    return (
        base.join(covdoc, "doc_id", "left")
        .select(
            "doc_id",
            F.round(
                F.coalesce(
                    F.aggregate(
                        "cov",
                        F.lit(0).cast("bigint"),
                        lambda acc, p: acc + F.length(F.element_at("toks", p)),
                    ).cast("double"),
                    F.lit(0.0),
                )
                / F.col("n_chars_actual"),
                6,
            ).alias("dup_trigram_char_frac_exact"),
        )
    )


# ---------------------------------------------------------------------------
# PII detection + redaction (the FineWeb/Dolma anonymization pass: emails,
# simple phone shapes, IPv4 — conservative patterns chosen to match
# byte-for-byte across regex engines).
# ---------------------------------------------------------------------------

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+[0-9]{7,15}|\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"
_PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def _pii_redacted(text):
    """``text`` with every email, phone and IPv4 match replaced by its
    sentinel, in that order (a sentinel must not be re-matched)."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, _PII_EMAIL, "|||EMAIL|||"),
            _PII_PHONE,
            "|||PHONE|||",
        ),
        _PII_IPV4,
        "|||IP|||",
    )


@register(
    "pii_redact_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(text, '{_PII_IPV4}')) AS BIGINT) AS n_ips,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '{_PII_EMAIL}', '|||EMAIL|||', 'g'),
               '{_PII_PHONE}', '|||PHONE|||', 'g'),
             '{_PII_IPV4}', '|||IP|||', 'g') AS text_redacted
    FROM documents
    """,
)
def pii_redact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII anonymization pass: count and redact emails, phone numbers
    (international +digits or NNN-NNN-NNNN), and IPv4 literals, replacing
    each with FineWeb-style sentinel tokens. Patterns restrict themselves
    to constructs Java regex (Spark) and RE2 (DuckDB) implement with
    identical semantics — character classes, bounded repetition, top-level
    alternation, ASCII ``\\b`` word boundaries — no lookaround or
    backreferences (RE2 lacks them); the cross-engine parity argument is
    that restriction plus the differential test below, not pattern
    triviality. Replacement order (email → phone → IP) is part of the
    contract since sentinels must not be re-matched. Map-only projection —
    zero shuffles at any scale; the fixture corpus contains no PII, so the
    cross-engine behavior proof on PII-bearing text lives in
    tests/test_textops_extra.py (temp-dir differential vs DuckDB)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(_PII_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count("text", F.lit(_PII_PHONE)).cast("bigint").alias("n_phones"),
        F.regexp_count("text", F.lit(_PII_IPV4)).cast("bigint").alias("n_ips"),
        _pii_redacted(F.col("text")).alias("text_redacted"),
    )


# ---------------------------------------------------------------------------
# Lexical-diversity quality signals: unigram entropy + type-token ratio.
# Low-entropy / low-TTR documents are boilerplate or spam; both are
# standard corpus-filter features (alongside the Gopher repetition set).
# ---------------------------------------------------------------------------


@register(
    "text_unigram_entropy",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
      FROM documents WHERE length(text) > 0
    ),
    cnt AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
    ),
    tot AS (
      SELECT doc_id, sum(c) AS t, count(*) AS types FROM cnt GROUP BY doc_id
    )
    SELECT c.doc_id,
           CAST(max(t) AS BIGINT) AS n_tokens,
           CAST(max(types) AS BIGINT) AS n_types,
           round(max(types) * 1.0 / max(t), 6) AS ttr,
           round(-sum((c * 1.0 / t) * log2(c * 1.0 / t)), 6) AS entropy
    FROM cnt c JOIN tot USING (doc_id)
    GROUP BY c.doc_id
    """,
)
def text_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy (bits) and type-token ratio.
    Wordcount shape: explode lowercased whitespace tokens, count per
    (doc, token), fold to per-doc -Σ p·log2 p. The keyed rebalance hashes
    on doc_id up front, so BOTH groupBys (doc,tok and doc) satisfy their
    clustering from the one explicit exchange — a single shuffle total,
    same trick as gopher_repetition_signals. At 100 TB the (doc, token)
    partial aggregation combines map-side; nothing is ever collected."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    toks = rebalance_for_compute(docs, "doc_id").select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    )
    cnt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    t_win = F.sum("c").over(W.partitionBy("doc_id"))
    p = F.col("c") / F.col("t")
    return (
        cnt.withColumn("t", t_win)
        .groupBy("doc_id")
        .agg(
            F.max("t").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.round(F.count(F.lit(1)) / F.max("t"), 6).alias("ttr"),
            F.round(-F.sum(p * F.log2(p)), 6).alias("entropy"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge APPLICATION — the encode side of the tokenizer whose training
# primitive is bpe_top_merge_pairs above. The merge table is a fixed
# ordered vocabulary (in production: the trainer's output, broadcast);
# applying a merge list is a chain of literal replaces over a
# space-separated symbol string, so the whole encoder is a map-only
# column expression on both engines.
# ---------------------------------------------------------------------------

# Ordered merge table (rank order, as a BPE trainer would emit). '▁' marks
# word boundaries (SentencePiece convention) so merges never cross words.
_BPE_MERGES = (
    ("t h", "th"),
    ("th e", "the"),
    ("i n", "in"),
    ("a n", "an"),
    ("e r", "er"),
    ("o n", "on"),
    ("r e", "re"),
    ("an d", "and"),
)


def _bpe_apply_sql() -> str:
    expr = (
        "trim(regexp_replace(replace(lower(text), ' ', '▁'),"
        " '(.)', '\\1 ', 'g'))"
    )
    for a, b in _BPE_MERGES:
        expr = f"replace({expr}, '{a}', '{b}')"
    return expr


_BPE_APPLY_ORACLE = f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           CAST(len(string_split({_bpe_apply_sql()}, ' ')) AS BIGINT)
             AS n_bpe_symbols,
           CAST(floor(1000000.0 * CAST(length(text) AS DOUBLE)
                      / len(string_split({_bpe_apply_sql()}, ' ')))
                AS BIGINT) AS chars_per_symbol_ppm
    FROM documents
    WHERE length(text) > 0
"""


@register("bpe_apply_merges", oracle=_BPE_APPLY_ORACLE)
def bpe_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy BPE ENCODE with a fixed ordered merge table: lowercase, mark
    spaces '▁' (SentencePiece), explode to space-separated symbols, then
    apply each merge in rank order as a literal replace — left-to-right
    non-overlapping replace() is identical in Spark and DuckDB, so the
    symbol stream (and hence the token count) is engine-exact. Per-doc
    output: symbol count + compression ratio as floor-to-BIGINT ppm
    (tools/round_tie_audit.py: chars/symbols is a division of exact integers —
    bit-identical cross-engine — and 1.0703125 = 137/128 at sf0.01 sits
    EXACTLY on a round(,6) half-boundary; floor is the same function in
    both engines).

    Scale: one map-only scan, zero shuffles, codegen-resident — exactly
    how a broadcast merge table applies at 100 TB (a K-entry vocabulary is
    a K-deep replace chain; real tokenizers fuse this into one pass, which
    is the Pandas-UDF escape hatch if K grows beyond expression depth)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    sym = F.trim(
        F.regexp_replace(
            F.replace(F.lower(F.col("text")), F.lit(" "), F.lit("▁")),
            r"(.)",
            r"$1 ",
        )
    )
    for a, b in _BPE_MERGES:
        sym = F.replace(sym, F.lit(a), F.lit(b))
    n_sym = F.size(F.split(sym, " ", -1)).cast("bigint")
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_actual"),
        n_sym.alias("n_bpe_symbols"),
        F.floor(F.lit(1000000.0) * F.length("text").cast("double") / n_sym)
        .cast("bigint")
        .alias("chars_per_symbol_ppm"),
    )


# ---------------------------------------------------------------------------
# Corpus-trained bigram LM cross-entropy — the shape of the CCNet/KenLM
# perplexity filter: train n-gram statistics over the corpus, score every
# document by its average negative log-probability, drop the tails. A real
# deployment broadcasts a pre-trained LM; here the train pass and the score
# pass run in one plan so the whole loop is certified.
# ---------------------------------------------------------------------------

_BIGRAM_TOKS_SQL = r"string_split_regex(lower(text), '\s+')"
_BIGRAM_PAIRS_SQL = f"""
      SELECT doc_id,
             unnest(list_transform(
               range(2, len({_BIGRAM_TOKS_SQL}) + 1),
               i -> struct_pack(w1 := {_BIGRAM_TOKS_SQL}[i - 1],
                                w2 := {_BIGRAM_TOKS_SQL}[i]))) AS bg
      FROM documents
      WHERE length(text) > 0 AND len({_BIGRAM_TOKS_SQL}) >= 2
"""

_BIGRAM_LM_ORACLE = f"""
    WITH pairs AS ({_BIGRAM_PAIRS_SQL}),
    doc_bg AS (
      SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM pairs
    ),
    bg_counts AS (
      SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12
      FROM doc_bg GROUP BY w1, w2
    ),
    uni_counts AS (
      SELECT w1, CAST(count(*) AS DOUBLE) AS c1
      FROM doc_bg GROUP BY w1
    )
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-log2(b.c12 / u.c1)), 6) AS cross_entropy
    FROM doc_bg d
    JOIN bg_counts b ON b.w1 = d.w1 AND b.w2 = d.w2
    JOIN uni_counts u ON u.w1 = d.w1
    GROUP BY d.doc_id
"""


@register("bigram_lm_doc_scores", oracle=_BIGRAM_LM_ORACLE)
def bigram_lm_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram cross-entropy under the corpus's own MLE bigram
    model: H(doc) = avg(−log2 c(w1,w2)/c(w1)). Low scores flag boilerplate
    (every bigram is corpus-frequent), high scores flag noise — the
    perplexity-filter signal of CCNet-style cleaning.

    Scale: the doc-bigram expansion is one map-side Generate; model
    training is two wordcount aggregations over it; scoring re-joins
    bigrams to the model on (w1, w2) — all shuffles key on n-gram values
    (high cardinality, skew-tolerant), nothing collects. MLE is exact by
    construction (every scored bigram exists in training), so no smoothing
    constant muddies the oracle."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    toks = F.split(F.lower("text"), r"\s+")
    # persist_once: pairs feeds THREE consumers (bigram counts, unigram
    # counts, the scoring re-join) — unpersisted, the scan+explode chain
    # re-derives per consumer (three corpus passes at 100 TB).
    pairs = persist_once(
        rebalance_for_compute(docs)
        .select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(2, size(t)),"
                    " i -> struct(t[i - 2] AS w1, t[i - 1] AS w2))"
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.w1", "bg.w2")
    )
    bg_counts = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("double").alias("c12")
    )
    uni_counts = pairs.groupBy("w1").agg(
        F.count(F.lit(1)).cast("double").alias("c1")
    )
    return (
        pairs.join(bg_counts, ["w1", "w2"])
        .join(uni_counts, ["w1"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.avg(-F.log2(F.col("c12") / F.col("c1"))), 6).alias(
                "cross_entropy"
            ),
        )
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document — the retrieval-side text primitive
# (sparse lexical indexing for mixed dense+sparse search pipelines).
# ---------------------------------------------------------------------------

_TFIDF_ORACLE = rf"""
    WITH toks AS (
      SELECT doc_id, unnest({_BIGRAM_TOKS_SQL}) AS term
      FROM documents WHERE length(text) > 0
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
      FROM toks GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs
          FROM documents WHERE length(text) > 0),
    scored AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS score
      FROM tf JOIN df ON df.term = tf.term CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term ASC) AS rnk
      FROM scored
    )
    SELECT doc_id, term, round(score, 6) AS tfidf,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
"""


@register("tfidf_top_terms", oracle=_TFIDF_ORACLE)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf = ln((N+1)/(df+1))+1,
    sklearn's convention). Wordcount-shaped: tf is a (doc, term) hash agg
    off the keyed doc_id rebalance, df reduces tf (already term-keyed after
    its shuffle), N is a 1-row broadcast, and the per-doc top-3 is a
    rank-filter window that Spark executes as WindowGroupLimit — partial
    top-k before the final shuffle, never a full per-doc sort at scale."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    toks = rebalance_for_compute(docs, "doc_id").select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("term")
    )
    # persist_once: tf (the inverted index) feeds both the df reduction
    # and the scoring join — unpersisted, the scan+explode+agg chain runs
    # twice (audit: 3 documents scans; now 2 — tf once + the 1-row N).
    # Honest local A/B (sf0.1, interleaved, median-of-5): 0.63s persisted
    # vs 0.60s inline — a wash at fixture scale; the decision is the
    # 100 TB one (re-deriving means re-exploding the full corpus, vs
    # holding the much smaller aggregated (doc, term) index).
    tf = persist_once(
        toks.groupBy("doc_id", "term").agg(
            F.count(F.lit(1)).cast("double").alias("tf")
        )
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0)
            ).alias("score"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id",
            "term",
            F.round("score", 6).alias("tfidf"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# PMI collocation mining — the phrase-discovery pass (multi-word expression
# detection for tokenizer vocabularies and corpus analytics).
# ---------------------------------------------------------------------------

_PMI_ORACLE = f"""
    WITH pairs AS ({_BIGRAM_PAIRS_SQL}),
    doc_bg AS (SELECT bg.w1 AS w1, bg.w2 AS w2 FROM pairs),
    bg_counts AS (
      SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12
      FROM doc_bg GROUP BY w1, w2
    ),
    toks AS (
      SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
      FROM documents WHERE length(text) > 0
    ),
    uni AS (SELECT w, CAST(count(*) AS DOUBLE) AS u FROM toks GROUP BY w),
    meta AS (
      SELECT (SELECT CAST(count(*) AS DOUBLE) FROM doc_bg) AS n_bg,
             (SELECT CAST(count(*) AS DOUBLE) FROM toks) AS n_tok
    )
    SELECT b.w1, b.w2, CAST(b.c12 AS BIGINT) AS n_pair,
           round(log2(b.c12 * m.n_tok * m.n_tok
                      / (m.n_bg * u1.u * u2.u)), 6) AS pmi
    FROM bg_counts b
    JOIN uni u1 ON u1.w = b.w1
    JOIN uni u2 ON u2.w = b.w2
    CROSS JOIN meta m
    WHERE b.c12 >= 5
    ORDER BY pmi DESC, b.w1 ASC, b.w2 ASC
    LIMIT 20
"""


@register("pmi_top_collocations", oracle=_PMI_ORACLE)
def pmi_top_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by pointwise mutual information
    (pmi = log2(p(w1,w2) / p(w1)p(w2)), min support 5) — the
    phrase-mining pass that feeds multi-word vocabulary entries. Same
    wordcount skeleton as bigram_lm_doc_scores (bigram counts + unigram
    counts + two n-gram-keyed joins + 1-row broadcast totals), finished
    by TakeOrderedAndProject — no global sort, no collect."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    toks_arr = F.split(F.lower("text"), r"\s+")
    pairs = (
        rebalance_for_compute(docs)
        .select(toks_arr.alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(2, size(t)),"
                    " i -> struct(t[i - 2] AS w1, t[i - 1] AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
    )
    toks = docs.select(F.explode(toks_arr).alias("w"))
    # persist_once on the two VOCAB-SIZED count tables: uni is referenced
    # three times (w1 join, w2 join, total) and bg_counts twice — each
    # reference re-derives the full scan+explode chain otherwise (audit:
    # 5 documents scans in the executed plan; now 2, one per grain). The
    # corpus totals fold from the already-reduced tables instead of fresh
    # corpus scans: n_bg = sum(c12), n_tok = sum(u) — same numbers.
    bg_counts = persist_once(
        pairs.groupBy("w1", "w2").agg(
            F.count(F.lit(1)).cast("double").alias("c12")
        )
    )
    uni = persist_once(
        toks.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("u"))
    )
    meta = bg_counts.agg(F.sum("c12").alias("n_bg")).crossJoin(
        uni.agg(F.sum("u").alias("n_tok"))
    )
    return (
        bg_counts.filter(F.col("c12") >= 5)
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("u", "u1"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("u", "u2"), "w2")
        .crossJoin(F.broadcast(meta))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("bigint").alias("n_pair"),
            F.round(
                F.log2(
                    F.col("c12")
                    * F.col("n_tok")
                    * F.col("n_tok")
                    / (F.col("n_bg") * F.col("u1") * F.col("u2"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# BM25 retrieval scoring — the classic sparse lexical ranking function
# (Robertson & Walker, Okapi BM25; the baseline TF-IDF's big sibling and the
# standard hard-negative miner in training-data retrieval stacks). A fixed
# 4-term query is scored against every document: corpus stats (N, avgdl, per-
# term df) collapse to ONE broadcastable 1-row aggregate, per-doc tf comes
# from a map-only array filter (no explode, no per-token shuffle), and the
# result is a TakeOrderedAndProject top-10 — the whole plan is one scan, one
# 1-row agg, zero wide shuffles, which is exactly the 100 TB shape.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "join", "window", "hash")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_scored_cte() -> str:
    """CTE block defining ``bm25_scored(doc_id, dl, tf_<term>..., bm25_raw)``
    — shared by the bm25_topk_docs oracle and curation.rrf_hybrid_topk's."""
    tf_cols = ",\n             ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE) AS tf_{t}"
        for t in _BM25_TERMS
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf_{t} > 0 THEN 1.0 ELSE 0.0 END) AS df_{t}"
        for t in _BM25_TERMS
    )
    # Left-assoc 4-term sum, each term written with the same association
    # order as the Spark expression so both engines hit identical doubles.
    score = " + ".join(
        f"(ln(1.0 + (n_docs - df_{t} + 0.5) / (df_{t} + 0.5))"
        f" * (tf_{t} * {_BM25_K1 + 1.0!r})"
        f" / (tf_{t} + {_BM25_K1!r} * (1.0 - {_BM25_B!r} + {_BM25_B!r} * dl / avgdl)))"
        for t in _BM25_TERMS
    )
    tf_names = ", ".join(f"tf_{t}" for t in _BM25_TERMS)
    return f"""
    tf AS (
      SELECT doc_id,
             CAST(len(string_split_regex(lower(text), '\\s+')) AS DOUBLE) AS dl,
             {tf_cols}
      FROM (SELECT doc_id, text, string_split_regex(lower(text), '\\s+') AS toks
            FROM documents)
    ),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl, {df_cols}
      FROM tf
    ),
    bm25_scored AS (
      SELECT doc_id, dl, {tf_names}, {score} AS bm25_raw
      FROM tf CROSS JOIN stats
    )"""


def _bm25_oracle() -> str:
    return f"""
    WITH {_bm25_scored_cte()}
    SELECT doc_id, round(bm25_raw, 6) AS bm25_score
    FROM bm25_scored
    ORDER BY bm25_score DESC, doc_id
    LIMIT 10
    """


@register("bm25_topk_docs", oracle=_bm25_oracle())
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75) top-10 docs for a fixed 4-term query.

    Scale shape: per-doc term frequencies are map-only array filters (no
    explode), corpus stats (N, avgdl, df per query term) are ONE 1-row
    aggregate broadcast back via crossJoin, scoring is a pure column
    expression, and the top-10 is TakeOrderedAndProject — so a 100 TB corpus
    costs two column-pruned scans (tf rows + the stats fold; caching the
    tf projection would trade them for one materialization) plus a
    driver-sized reduction, with no shuffle keyed on
    anything document-shaped. Complements `tfidf_top_terms` (per-doc top
    terms) with the query-side ranking direction.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        bm25_scored(docs)
        .select("doc_id", F.round("bm25_raw", 6).alias("bm25_score"))
        .orderBy(F.desc("bm25_score"), F.asc("doc_id"))
        .limit(10)
    )


def bm25_scored(docs: DataFrame) -> DataFrame:
    """``(doc_id, dl, tf_<term>..., bm25_raw)`` for the fixed 4-term query —
    the shared scoring frame behind `bm25_topk_docs` and
    `curation.rrf_hybrid_topk` (mirrors the SQL `_bm25_scored_cte`).

    The per-term loops (tf filter lambdas, df CASE sums, the 4-term score
    fold) are assembled as JVM-parsed strings — a Column form costs ~3.6k
    py4j round-trips per build, paid by BOTH consumers. They resolve to
    the Column form's trees: double literals use the ``D`` suffix, and the
    operand order is the Column fold's."""
    k1, b = repr(_BM25_K1), repr(_BM25_B)
    tf = docs.selectExpr(
        "doc_id",
        "split(lower(text), '\\\\s+') AS toks",
    ).selectExpr(
        "doc_id",
        "CAST(size(toks) AS DOUBLE) AS dl",
        *[
            f"CAST(size(filter(toks, x -> x = '{t}')) AS DOUBLE) AS tf_{t}"
            for t in _BM25_TERMS
        ],
    )
    stats = tf.agg(
        F.expr("CAST(count(1) AS DOUBLE) AS n_docs"),
        F.expr("avg(dl) AS avgdl"),
        *[
            F.expr(
                f"sum(CASE WHEN tf_{t} > 0 THEN 1.0D ELSE 0.0D END) AS df_{t}"
            )
            for t in _BM25_TERMS
        ],
    )
    score = " + ".join(
        f"(ln(1.0D + (n_docs - df_{t} + 0.5D) / (df_{t} + 0.5D))"
        f" * (tf_{t} * {_BM25_K1 + 1.0!r}D)"
        f" / (tf_{t} + {k1}D * (1.0D - {b}D + {b}D * dl / avgdl)))"
        for t in _BM25_TERMS
    )
    return tf.crossJoin(F.broadcast(stats)).selectExpr(
        "doc_id",
        "dl",
        *[f"tf_{t}" for t in _BM25_TERMS],
        f"{score} AS bm25_raw",
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup coverage (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better" — the ExactSubstr pass): a token
# position is duplicated if ANY k-token window covering it occurs elsewhere
# in the corpus (any doc, any position — unlike the Gopher coverage variant,
# duplication here is CORPUS-global, not within-doc). The reference paper
# uses a suffix array; the distributed re-expression is k-gram anchoring:
# every duplicated >= k-token substring is exactly a run of duplicated
# k-grams, so per-position coverage by duplicated k-grams reproduces the
# suffix-array answer for spans >= k.
# ---------------------------------------------------------------------------

_SUBSTR_K = 8


def _substr_dup_oracle() -> str:
    k = _SUBSTR_K
    gram = f"list_aggregate(toks[CAST(i AS INT):CAST(i + {k} - 1 AS INT)], 'string_agg', ' ')"
    return f"""
    WITH base AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
      FROM documents
    ),
    grams AS (
      SELECT doc_id, i,
             {md5_hash_sql(gram, 8)} AS gh
      FROM (SELECT doc_id, toks,
                   CAST(unnest(range(1, len(toks) - {k} + 2)) AS BIGINT) AS i
            FROM base
            WHERE len(toks) >= {k})
    ),
    dup AS (
      SELECT gh FROM grams GROUP BY gh HAVING count(*) >= 2
    ),
    cov AS (
      SELECT g.doc_id,
             list_distinct(flatten(list(range(g.i, g.i + {k})))) AS covered
      FROM grams g JOIN dup d ON g.gh = d.gh
      GROUP BY g.doc_id
    )
    SELECT b.doc_id,
           CAST(len(b.toks) AS BIGINT) AS n_toks,
           CAST(coalesce(len(c.covered), 0) AS BIGINT) AS dup_tokens,
           round(CAST(coalesce(len(c.covered), 0) AS DOUBLE) / len(b.toks), 6)
             AS dup_token_frac
    FROM base b LEFT JOIN cov c ON b.doc_id = c.doc_id
    """


@register("substring_dup_coverage", oracle=_substr_dup_oracle())
def substring_dup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-token coverage under corpus-global exact-substring
    duplication (Lee et al. 2022 ExactSubstr, k=8 tokens): a position is
    covered when any 8-gram spanning it occurs >= 2 times anywhere in the
    corpus (including elsewhere in the same doc).

    Scale shape: the only wide shuffle is the wordcount-shaped duplicate-
    k-gram count, keyed on a 32-bit md5 prefix of the gram (grams never
    travel as strings past the first exchange; hash collisions are applied
    identically on both engines and are ~1e-2 likely at this corpus, noted).
    The duplicated-gram set re-joins occurrences on the same hash key,
    covered positions union per doc with array_distinct (bounded by doc
    length), and the coverage fraction is pure arithmetic — no per-position
    join, no UDF, no driver collect. This is the distributed answer to the
    paper's single-machine suffix array.
    """
    k = _SUBSTR_K
    docs = load_table(spark, sf_dir, "documents")
    base = rebalance_for_compute(docs, "doc_id").select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("toks")
    )
    grams = base.filter(F.size("toks") >= k).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (k - 1)),
                lambda i: F.struct(
                    i.cast("bigint").alias("i"),
                    md5_hash(F.concat_ws(" ", F.slice("toks", i, k)), 8).alias("gh"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", "g.i", "g.gh")
    dup = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") >= 2)
    cov = (
        grams.join(dup.select("gh"), "gh")
        .groupBy("doc_id")
        .agg(
            F.array_distinct(
                F.flatten(
                    F.collect_list(F.sequence(F.col("i"), F.col("i") + (k - 1)))
                )
            ).alias("covered")
        )
    )
    return base.join(cov, "doc_id", "left").select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_toks"),
        F.coalesce(F.size("covered"), F.lit(0)).cast("bigint").alias("dup_tokens"),
        F.round(
            F.coalesce(F.size("covered"), F.lit(0)).cast("double") / F.size("toks"),
            6,
        ).alias("dup_token_frac"),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility per language — the standard tokenizer-evaluation
# rollup (tokens per word / chars per token by language): high-fertility
# languages burn budget, and a tokenizer change is evaluated by exactly
# this table before rollout.
# ---------------------------------------------------------------------------


_SUBWORD_MAX = 4  # max subword piece length: fertility(word) = ceil(len/4)


@register(
    "tokenizer_fertility_per_lang",
    oracle=f"""
    WITH per_doc AS (
      SELECT lang,
             CAST(list_sum(list_transform(string_split_regex(lower(text), '\\s+'),
                  w -> (length(w) + {_SUBWORD_MAX - 1}) // {_SUBWORD_MAX})) AS BIGINT)
               AS n_sub,
             CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_ws,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents WHERE length(text) > 0
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_sub) AS BIGINT) AS total_subword_tokens,
           round(CAST(sum(n_sub) AS DOUBLE) / sum(n_ws), 6) AS fertility,
           round(CAST(sum(n_chars) AS DOUBLE) / sum(n_sub), 6) AS chars_per_token
    FROM per_doc
    GROUP BY lang
    """,
)
def tokenizer_fertility_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-weighted tokenizer fertility per language under a
    max-4-char-piece subword model (each word costs ceil(len/4) pieces —
    the closed-form stand-in for a trained vocab, chosen because the
    GPT-2-style pre-tokenizer regex degenerates to 1.0 on this
    space-separated fixture and certifies nothing): total subword pieces
    over total whitespace words — the corpus-level ratio, not
    avg-of-ratios, which is the budgeting-relevant form — plus chars per
    piece. A real-tokenizer drop-in only swaps the per-word cost
    expression; the rollup and certification stay identical.

    Scale shape: per-doc counts are single-scan integer array folds; the
    rollup is one lang-keyed partial-agg reduce of exact BIGINT sums, so
    both engines divide identical integers."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    toks = F.split(F.lower("text"), r"\s+")
    n_sub = F.aggregate(
        F.transform(
            toks,
            lambda w: ((F.length(w) + (_SUBWORD_MAX - 1)) / _SUBWORD_MAX).cast(
                "bigint"
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    per_doc = docs.select(
        "lang",
        n_sub.alias("n_sub"),
        F.size(F.split(F.col("text"), r"\s+")).cast("bigint").alias("n_ws"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_sub").cast("bigint").alias("total_subword_tokens"),
        F.round(
            F.sum("n_sub").cast("double") / F.sum("n_ws"), 6
        ).alias("fertility"),
        F.round(
            F.sum("n_chars").cast("double") / F.sum("n_sub"), 6
        ).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# Overlapping chunking (tests/test_chunking_staged.py pins reassembly, grid
# algebra, the map-only plan, and split invariance).
# ---------------------------------------------------------------------------

# Chunk grid: 200-char windows, stride 150 (50-char overlap) — the standard
# RAG / context-packing shape. A document emits chunks at starts
# 1, 151, 301, ... while start <= n_chars, i.e. ceil(n_chars/150) chunks,
# the last one short. Both engines' substr()/substring() are 1-based and
# CODE-POINT counted (verified on multilingual fixtures: DuckDB
# substr('héllo 世界…') == Spark), and n_chars == length(text) holds across
# every fixture lang, so the grid and the emitted text are exact equals.
DOC_CHUNK_ORACLE = """
SELECT d.doc_id,
       k.k AS chunk_id,
       CAST(1 + 150 * k.k AS BIGINT) AS chunk_start,
       CAST(length(substr(d.text, CAST(1 + 150 * k.k AS INTEGER), 200))
            AS BIGINT) AS chunk_len,
       substr(d.text, CAST(1 + 150 * k.k AS INTEGER), 200) AS chunk_text
FROM documents d
JOIN LATERAL (
  SELECT unnest(generate_series(0, CAST((d.n_chars - 1) // 150 AS BIGINT)))
         AS k
) k ON TRUE
WHERE d.n_chars > 0
"""


@register("doc_chunk_overlap", oracle=DOC_CHUNK_ORACLE)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping document chunking (200-char windows, stride 150) — the
    retrieval/context-packing preprocessing pass, emitted WITH the chunk
    text so the certification covers the substring extraction itself, not
    just the grid arithmetic.

    Scale shape: map-only — sequence + explode + substring inside one
    whole-stage-codegen projection, ZERO shuffles; output size is
    input/150 × overlap factor, produced streaming per input split. At
    100 TB this is the canonical "cheap pass": no state, no exchange,
    partition-parallel, and column pruning reaches the scan (doc_id,
    text, n_chars only).

    Determinism: the chunk grid is integer arithmetic on n_chars
    (== length(text) on every fixture, both engines code-point counted);
    see DOC_CHUNK_ORACLE's contract note.
    """
    docs = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    k = F.col("k")
    start = (F.lit(1) + F.lit(150) * k).cast("int")
    chunk = F.expr("substring(text, 1 + 150 * k, 200)")
    return (
        docs.select(
            "doc_id",
            "text",
            # exact BIGINT `div`, never `/`: double division's correct
            # rounding can bump a near-integer quotient across the floor
            F.explode(
                F.sequence(F.lit(0), F.expr("(n_chars - 1) div 150"))
            ).alias("k"),
        )
        .select(
            "doc_id",
            k.alias("chunk_id"),
            start.cast("bigint").alias("chunk_start"),
            F.length(chunk).cast("bigint").alias("chunk_len"),
            chunk.alias("chunk_text"),
        )
    )
