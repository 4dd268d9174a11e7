"""Record linkage & in-engine classification (north-star extensions; the
reference has no analogue — these are standard large-corpus curation
passes re-expressed Spark-first).

- `fuzzy_part_match_pairs`    — blocked edit-distance record linkage
- `fuzzy_name_clusters`       — transitive entity-resolution clusters
- `fuzzy_blocking_recall_certified` — blocking recall vs the unblocked join
- `keyword_domain_tags`       — broadcast-taxonomy document tagging
- `nb_lang_classifier_scores` — in-engine multinomial Naive Bayes scores

Cross-engine conventions follow queries/__init__.py: identical aliases,
round(,6) on floats, BIGINT casts on computed integers, full tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.catalog import (
    load_table,
    persist_once,
    rebalance_for_compute,
)
from talkinghead_datapipeline_spark.queries import register
from talkinghead_datapipeline_spark.queries.dedup import _closure_ctes

# ---------------------------------------------------------------------------
# Fuzzy record linkage: near-identical entity names (typos, re-spellings)
# found by MULTI-PASS BLOCKING + edit-distance verification — the
# Fellegi-Sunter shape every entity-resolution system uses: candidate pairs
# come from cheap equi-join block keys, never from an all-pairs cross.
# ---------------------------------------------------------------------------

_FUZZY_MAX_LEV = 3

# ONE source of truth for the blocking SQL: every fuzzy-family oracle
# (pairs, clusters, recall certification) builds on these CTEs, so tuning
# the blocking cannot silently desynchronize the certifications.
_FUZZY_CAND_CTES = f"""
    names AS (
      SELECT p_name, CAST(count(*) AS BIGINT) AS cnt FROM part GROUP BY p_name
    ),
    tok AS (
      SELECT p_name, cnt,
             string_split(p_name, ' ')[1] AS w_first,
             string_split(p_name, ' ')[-1] AS w_last
      FROM names
    ),
    cand AS (
      SELECT a.p_name AS name_a, b.p_name AS name_b
      FROM tok a JOIN tok b ON a.w_first = b.w_first AND a.p_name < b.p_name
      UNION
      SELECT a.p_name, b.p_name
      FROM tok a JOIN tok b ON a.w_last = b.w_last AND a.p_name < b.p_name
    ),
    fpairs AS (
      SELECT name_a, name_b,
             CAST(levenshtein(name_a, name_b) AS BIGINT) AS lev
      FROM cand
      WHERE levenshtein(name_a, name_b) <= {_FUZZY_MAX_LEV}
    )
"""

_FUZZY_ORACLE = f"""
    WITH {_FUZZY_CAND_CTES}
    SELECT f.name_a, f.name_b, f.lev,
           na.cnt * nb.cnt AS n_row_pairs
    FROM fpairs f
    JOIN names na ON na.p_name = f.name_a
    JOIN names nb ON nb.p_name = f.name_b
"""


def _name_tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted distinct-name frame (p_name, cnt, block keys) — the
    vocabulary-sized base every fuzzy-family query shares. persist_once
    matches by logical plan, so pairs/clusters/recall all read ONE cache
    instead of re-scanning part per consumer."""
    names = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return persist_once(
        names.select(
            "p_name",
            "cnt",
            F.split("p_name", " ").getItem(0).alias("w_first"),
            F.element_at(F.split("p_name", " "), -1).alias("w_last"),
        )
    )


@register("fuzzy_part_match_pairs", oracle=_FUZZY_ORACLE)
def fuzzy_part_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over part names: distinct-name pairs within
    Levenshtein distance <= 3, found by TWO blocking passes (first-token
    key ∪ last-token key) and verified by exact edit distance. Returns
    each matched name pair with its distance and the number of underlying
    row pairs it represents (cnt_a x cnt_b).

    Scale shape — the three standard linkage bounds, composed:
    (1) the name domain is collapsed to DISTINCT values first (one
    wordcount-shaped shuffle), so all later work scales with vocabulary
    size, not row count; (2) candidates come from two equi-join blocking
    keys, so the pair space is sum-of-block² over the distinct domain,
    never |names|²; (3) the O(len²) edit-distance DP runs only on
    candidates that survived blocking. Multi-pass blocking recall is the
    standard tradeoff knob: on two-token names a <=3-edit pair almost
    always preserves one token exactly — measured 96/96 pairs found vs the
    unblocked join at sf0.01 (single-pass first-char blocking found 16) —
    and each extra pass is another cheap equi-join, not a cross.

    ASCII-domain caveat (pinned by tests/test_cross_engine_primitives.py):
    Spark's levenshtein counts CODE POINTS while DuckDB's counts UTF-8
    BYTES — identical on this corpus's ASCII names, divergent on
    non-ASCII. A non-ASCII entity corpus must normalize first (or verify
    with a codepoint-level UDF) before reusing this oracle pairing.
    """
    tok = _name_tok(spark, sf_dir)
    a = tok.select(
        F.col("p_name").alias("name_a"),
        F.col("cnt").alias("cnt_a"),
        "w_first",
        "w_last",
    )
    b = tok.select(
        F.col("p_name").alias("name_b"),
        F.col("cnt").alias("cnt_b"),
        F.col("w_first").alias("w_first_b"),
        F.col("w_last").alias("w_last_b"),
    )
    lt = F.col("name_a") < F.col("name_b")
    cand = (
        a.join(b, (F.col("w_first") == F.col("w_first_b")) & lt)
        .select("name_a", "name_b", "cnt_a", "cnt_b")
        .union(
            a.join(b, (F.col("w_last") == F.col("w_last_b")) & lt).select(
                "name_a", "name_b", "cnt_a", "cnt_b"
            )
        )
        .distinct()
    )
    lev = F.levenshtein("name_a", "name_b")
    return cand.filter(lev <= _FUZZY_MAX_LEV).select(
        "name_a",
        "name_b",
        lev.cast("bigint").alias("lev"),
        (F.col("cnt_a") * F.col("cnt_b")).alias("n_row_pairs"),
    )


# ---------------------------------------------------------------------------
# Broadcast-taxonomy tagging: FlashText-style keyword tagging as pure
# column expressions — the map-only domain classifier every corpus pipeline
# runs before mixing (e.g. "code vs prose vs commerce" routing).
# ---------------------------------------------------------------------------

_TAXONOMY: dict[str, tuple[str, ...]] = {
    # alphabetical domain order IS the argmax tie-break order
    "commerce": ("customer", "order", "part", "line", "dup"),
    "compute": (
        "spark",
        "query",
        "scan",
        "agg",
        "join",
        "sort",
        "filter",
        "merge",
        "group",
        "window",
    ),
    "storage": (
        "table",
        "row",
        "column",
        "key",
        "hash",
        "batch",
        "stream",
        "data",
        "value",
        "vector",
    ),
}


def _tax_hits_sql(words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return (
        "len(list_filter(string_split_regex(lower(text), '\\s+'),"
        f" w -> list_contains([{lst}], w)))"
    )


_TAGS_ORACLE = f"""
    WITH hits AS (
      SELECT doc_id,
             {_tax_hits_sql(_TAXONOMY['commerce'])} AS h_commerce,
             {_tax_hits_sql(_TAXONOMY['compute'])} AS h_compute,
             {_tax_hits_sql(_TAXONOMY['storage'])} AS h_storage
      FROM documents
    )
    SELECT doc_id,
           CASE
             WHEN h_commerce = 0 AND h_compute = 0 AND h_storage = 0
               THEN 'untagged'
             WHEN h_commerce >= h_compute AND h_commerce >= h_storage
               THEN 'commerce'
             WHEN h_compute >= h_storage THEN 'compute'
             ELSE 'storage'
           END AS top_domain,
           CAST(greatest(h_commerce, h_compute, h_storage) AS BIGINT)
             AS n_hits,
           CAST(h_commerce + h_compute + h_storage AS BIGINT) AS total_hits
    FROM hits
"""


@register("keyword_domain_tags", oracle=_TAGS_ORACLE)
def keyword_domain_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-taxonomy document tagging: count occurrences of each
    domain's keyword list in every document and assign the argmax domain
    (ties break in alphabetical domain order; zero hits everywhere →
    'untagged'). The classifier every mixing pipeline runs to route docs
    into domain buckets before sampling rates are applied.

    Scale: pure map-only column expressions — tokenize once, one
    `filter(tokens, isin(domain))` per domain (the taxonomy is a compile-
    time literal, the runtime analogue of a broadcast keyword list), no
    explode, no shuffle, no UDF. A 100 TB corpus tags at scan speed; the
    argmax is a CASE chain, so whole-stage codegen keeps the entire query
    in one generated loop per partition."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), r"\s+")

    def hits(domain: str):
        words = _TAXONOMY[domain]
        return F.size(F.filter(toks, lambda w: w.isin(*words)))

    h = docs.select(
        "doc_id",
        hits("commerce").alias("h_commerce"),
        hits("compute").alias("h_compute"),
        hits("storage").alias("h_storage"),
    )
    top = (
        F.when(
            (F.col("h_commerce") == 0)
            & (F.col("h_compute") == 0)
            & (F.col("h_storage") == 0),
            F.lit("untagged"),
        )
        .when(
            (F.col("h_commerce") >= F.col("h_compute"))
            & (F.col("h_commerce") >= F.col("h_storage")),
            F.lit("commerce"),
        )
        .when(F.col("h_compute") >= F.col("h_storage"), F.lit("compute"))
        .otherwise(F.lit("storage"))
    )
    return h.select(
        "doc_id",
        top.alias("top_domain"),
        F.greatest("h_commerce", "h_compute", "h_storage")
        .cast("bigint")
        .alias("n_hits"),
        (F.col("h_commerce") + F.col("h_compute") + F.col("h_storage"))
        .cast("bigint")
        .alias("total_hits"),
    )


# ---------------------------------------------------------------------------
# In-engine multinomial Naive Bayes: train class-conditional token
# log-probabilities on the corpus itself (class = `lang`), then score every
# document under every class — the fastText-classifier shape (GPT-3's
# quality filter, CCNet's language filter) with the model TRAINED AND
# APPLIED inside the engine, no external weights.
# ---------------------------------------------------------------------------

_NB_ALPHA = 1  # Laplace smoothing

_NB_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(string_split_regex(lower(text), '\\s+')) AS w
      FROM documents WHERE len(text) > 0
    ),
    doc_tok AS (
      SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS c
      FROM tok GROUP BY doc_id, w
    ),
    cls_word AS (
      SELECT lang, w, CAST(count(*) AS DOUBLE) AS cw FROM tok GROUP BY lang, w
    ),
    cls_tot AS (
      SELECT lang, CAST(count(*) AS DOUBLE) AS tot FROM tok GROUP BY lang
    ),
    vocab AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM tok),
    priors AS (
      SELECT lang,
             ln(CAST(count(*) AS DOUBLE)
                / (SELECT count(*) FROM documents WHERE len(text) > 0))
               AS lp_prior
      FROM documents WHERE len(text) > 0 GROUP BY lang
    ),
    expanded AS (
      SELECT d.doc_id, d.w, d.c, t.lang, t.tot, v.v,
             coalesce(cw.cw, 0) AS cw
      FROM doc_tok d
      CROSS JOIN cls_tot t
      CROSS JOIN vocab v
      LEFT JOIN cls_word cw ON cw.lang = t.lang AND cw.w = d.w
    )
    SELECT e.doc_id, e.lang,
           CAST(sum(e.c) AS BIGINT) AS n_tokens,
           round(any_value(p.lp_prior)
                 + sum(e.c * ln((e.cw + {_NB_ALPHA}) / (e.tot + {_NB_ALPHA} * e.v))),
                 6) AS nb_score
    FROM expanded e JOIN priors p ON p.lang = e.lang
    GROUP BY e.doc_id, e.lang
"""


@register("nb_lang_classifier_scores", oracle=_NB_ORACLE)
def nb_lang_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes scores, trained in-engine: class = `lang`,
    features = token counts, Laplace alpha=1. Emits one row per (doc,
    class) with ln P(class) + sum_w c_w * ln P(w|class) — the score matrix
    a downstream filter thresholds or argmaxes. The matrix itself is the
    output (not the argmax) so the cross-engine check stays certifiable:
    scores are rounded sums; an argmax over floats that differ only in the
    last ULP between engines could flip, a rounded score cannot.

    Scale: training is two wordcount-shaped shuffles (per-(class,word) and
    per-class totals); the model is vocabulary x classes rows — broadcast
    size by construction — so scoring is a map-side join over the
    per-(doc, word) count frame expanded by |classes|. One final
    (doc, class)-keyed aggregation; nothing collects to the driver."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    tok = rebalance_for_compute(docs).select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("w"),
    )
    # ONE wordcount shuffle feeds the whole training pass (guide §2.2):
    # grouping doc_tok by (doc_id, lang, w) — lang is functionally
    # determined by doc_id, so the rows are identical to the (doc_id, w)
    # grouping — lets every other training frame fold down from THIS
    # aggregate instead of re-scanning the token explode four times:
    #   cls_word = Σ_docs c per (lang, w)      (exact: integer-valued doubles)
    #   cls_tot  = Σ_w   cw per lang           (= count(*) per lang over tok)
    #   vocab    = distinct w over cls_word    (= distinct w over tok)
    #   priors   = distinct doc_id per lang    (every len(text)>0 doc emits
    #              ≥1 token — split() is never empty on a non-empty string —
    #              so doc counts here equal doc counts over documents)
    # All derived counts are exact integers in doubles (< 2^53), so every
    # downstream ln()/division sees bit-identical operands.
    doc_tok = persist_once(
        tok.groupBy("doc_id", "lang", "w").agg(
            F.count(F.lit(1)).cast("double").alias("c")
        )
    )
    cls_word = doc_tok.groupBy("lang", "w").agg(F.sum("c").alias("cw"))
    vocab = cls_word.agg(F.countDistinct("w").cast("double").alias("v"))
    # ONE per-lang aggregate carries BOTH training scalars (r15, guide
    # §2.1): tot = Σc per lang directly off doc_tok — the same exact
    # integers the old Σ_w(Σ_docs c) fold over cls_word summed, and exact
    # integer doubles add order-free — and nd = distinct docs per lang
    # (the priors numerator). The prior then rides the SAME broadcast
    # frame through the expansion, which retires the separate
    # lang_docs/priors aggregation chain AND the post-aggregation
    # broadcast join that re-attached lp_prior to every output row
    # (first() over the (doc, lang) group reads the identical value).
    # ln(n_lang / n_docs) keeps n_docs as a broadcast 1-row total instead
    # of an EAGER docs.count() — the count was a full extra job per bench
    # rep (builders run inside the timed region).
    lang_base = doc_tok.groupBy("lang").agg(
        F.sum("c").alias("tot"),
        F.countDistinct("doc_id").cast("double").alias("nd"),
    )
    lang_stats = lang_base.crossJoin(
        F.broadcast(lang_base.agg(F.sum("nd").alias("nd_tot")))
    ).select(
        "lang",
        "tot",
        F.log(F.col("nd") / F.col("nd_tot")).alias("lp_prior"),
    )
    expanded = (
        doc_tok.select("doc_id", "w", "c")
        .crossJoin(F.broadcast(lang_stats))
        .crossJoin(F.broadcast(vocab))
        .join(
            F.broadcast(cls_word),
            ["lang", "w"],
            "left",
        )
        .select(
            "doc_id",
            "lang",
            "c",
            "tot",
            "v",
            "lp_prior",
            F.coalesce("cw", F.lit(0.0)).alias("cw"),
        )
    )
    return expanded.groupBy("doc_id", "lang").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.sum(
            F.col("c")
            * F.log(
                (F.col("cw") + _NB_ALPHA)
                / (F.col("tot") + _NB_ALPHA * F.col("v"))
            )
        ).alias("_ll"),
        F.first("lp_prior").alias("_lp"),
    ).select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round(F.col("_lp") + F.col("_ll"), 6).alias("nb_score"),
    )


# ---------------------------------------------------------------------------
# Entity-resolution clusters — fuzzy pairs are edges; transitive closure
# gives the ENTITY (a ~ b, b ~ c collapse even when a ~ c was never
# emitted). Same components machinery as document dedup, over string keys.
# ---------------------------------------------------------------------------

_FUZZY_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE {_FUZZY_CAND_CTES},
    {_closure_ctes("name_a", "name_b")},
    comp AS (SELECT id, min(r) AS c FROM reach GROUP BY id)
    SELECT coalesce(cm.c, n.p_name) AS entity,
           CAST(count(*) AS BIGINT) AS n_names,
           CAST(sum(n.cnt) AS BIGINT) AS n_rows
    FROM names n LEFT JOIN comp cm ON cm.id = n.p_name
    GROUP BY entity
"""


@register("fuzzy_name_clusters", oracle=_FUZZY_CLUSTERS_ORACLE)
def fuzzy_name_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution clusters: the fuzzy match pairs become edges,
    pointer-jumping components collapse transitive chains ("red bolt" ~
    "red rod" ~ "hot rod" is ONE entity), and each cluster reports its
    canonical name (min), distinct-name count, and underlying row count.
    The entity table a linkage pipeline publishes.

    Scale: inherits the blocked pair generation (vocabulary-bound) and
    the O(log diameter) pointer-jumping loop (string labels — min-label
    propagation is type-agnostic); the final rollup is one entity-keyed
    agg over the distinct-name frame."""
    from talkinghead_datapipeline_spark.operators.components import (
        connected_components,
    )

    pairs = fuzzy_part_match_pairs(spark, sf_dir).select(
        F.col("name_a").alias("key_a"), F.col("name_b").alias("key_b")
    )
    comps = connected_components(pairs).withColumnRenamed("id", "p_name")
    # same persisted frame the pair query reads — no second part scan
    names = _name_tok(spark, sf_dir).select("p_name", "cnt")
    return (
        names.join(comps, "p_name", "left")
        .select(
            F.coalesce("comp", "p_name").alias("entity"),
            "cnt",
        )
        .groupBy("entity")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_names"),
            F.sum("cnt").cast("bigint").alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Blocking-recall certification — the sim_lsh_recall_certified pattern for
# record linkage: compare the REGISTERED blocked pairs against the
# unblocked all-pairs join. The quadratic pass is legitimate here precisely
# because it runs on the DISTINCT-NAME domain (vocabulary-bound at any
# row count) — certifying the blocking is exactly the workload where you
# pay it once.
# ---------------------------------------------------------------------------

_FUZZY_RECALL_ORACLE = f"""
    WITH {_FUZZY_CAND_CTES},
    exact AS (
      SELECT a.p_name AS name_a, b.p_name AS name_b
      FROM names a JOIN names b ON a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_LEV}
    ),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS n_blocked FROM fpairs),
    ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact)
    SELECT nb.n_blocked, ne.n_exact,
           round(CAST(nb.n_blocked AS DOUBLE) / nullif(ne.n_exact, 0), 6)
             AS recall
    FROM nb CROSS JOIN ne
"""


@register("fuzzy_blocking_recall_certified", oracle=_FUZZY_RECALL_ORACLE)
def fuzzy_blocking_recall_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certified recall of the two-pass blocking vs the unblocked
    all-pairs edit-distance join (1.0 on this corpus — the measured claim
    in fuzzy_part_match_pairs' docstring, now machine-checked every
    round). Blocked pairs come from the REGISTERED query, so this row
    moves iff user-visible results move.

    Scale: the exact side's a<b self-join is quadratic ONLY in the
    distinct-name vocabulary (constant-ish in row count); its small side
    broadcasts. A vocabulary too large for that would certify on a
    deterministic md5 sample of names instead — the certification grade
    degrades before the pipeline does."""
    blocked = fuzzy_part_match_pairs(spark, sf_dir)
    names = _name_tok(spark, sf_dir).select("p_name")
    a = names.select(F.col("p_name").alias("name_a"))
    b = names.select(F.col("p_name").alias("name_b"))
    exact = a.join(
        F.broadcast(b), F.col("name_a") < F.col("name_b")
    ).filter(F.levenshtein("name_a", "name_b") <= _FUZZY_MAX_LEV)
    nb = blocked.agg(F.count(F.lit(1)).cast("bigint").alias("n_blocked"))
    ne = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    # try_divide: zero qualifying pairs is a legal corpus state; ANSI mode
    # would otherwise abort where the oracle's nullif yields NULL
    return nb.crossJoin(F.broadcast(ne)).select(
        "n_blocked",
        "n_exact",
        F.round(
            F.try_divide(F.col("n_blocked").cast("double"), F.col("n_exact")),
            6,
        ).alias("recall"),
    )
