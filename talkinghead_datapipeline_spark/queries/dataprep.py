"""Training-data preparation operators: deterministic splits, sampling,
class balancing, sequence packing, and table profiling.

North-star extensions (BASELINE.json): beyond dedup/similarity/text
analysis, a large-scale training pipeline needs the *assembly* steps —
carving a corpus into train/val/test, rebalancing skewed classes,
sampling with weights, and packing documents into fixed token budgets.
All of it is hash-deterministic (no RNG state, no sampling seed drift
between runs or engines): randomness comes from the portable md5-prefix
hash (operators/dedup.py), so the DuckDB oracle reproduces every
decision bit-for-bit and a re-run over 100 TB assigns every row
identically — the property that makes splits auditable.

Scale notes: splits and weighted sampling are pure projections (zero
shuffles, fully pushdown-friendly); stratified/balanced sampling shuffle
once on the stratum key; packing shuffles once on (source, shard) where
the shard count bounds per-task state, so no single reducer ever sees a
whole source.
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
from talkinghead_datapipeline_spark.operators.percentiles import (
    exact_percentiles_by_rank,
)
from talkinghead_datapipeline_spark.queries import register

# ---------------------------------------------------------------------------
# Deterministic train/val/test split (80/10/10 by hash bucket)
# ---------------------------------------------------------------------------


_SPLIT_H_SQL = md5_hash_sql("'split|' || CAST(doc_id AS VARCHAR)", 8)


@register(
    "split_train_val_test",
    oracle=f"""
    SELECT doc_id,
           {_SPLIT_H_SQL} % 100 AS bucket,
           CASE WHEN {_SPLIT_H_SQL} % 100 < 80 THEN 'train'
                WHEN {_SPLIT_H_SQL} % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-bucket train/val/test assignment — the canonical leak-proof
    split: membership depends only on the key, so adding or removing rows
    never reassigns existing ones (unlike randomSplit, whose outcome
    depends on partitioning). Pure map-side projection; at 100 TB this is
    a zero-shuffle pass, and the split column becomes a partition column
    on write so each split prunes to its own files."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.concat(F.lit("split|"), F.col("doc_id").cast("string"))
    bucket = md5_hash(key, 8) % 100
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# Exact stratified sample: 10% per language, hash-ranked
# ---------------------------------------------------------------------------

_STRAT_H_SQL = md5_hash_sql("'strat|' || CAST(doc_id AS VARCHAR)", 8)
_STRAT_ORACLE = f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {_STRAT_H_SQL}, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n_lang
      FROM documents
    )
    SELECT doc_id, lang FROM ranked WHERE rn <= ceil(0.1 * n_lang)
"""


@register(
    "stratified_sample_by_lang",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {_STRAT_H_SQL}, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n_lang
      FROM documents
    )
    SELECT doc_id, lang FROM ranked WHERE rn <= ceil(0.1 * n_lang)
    """,
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10% per-language sample (ceil, so tiny strata keep ≥1 row).
    Rows are ranked by a salted hash, making the sample deterministic and
    uniformly spread regardless of input order. One shuffle on the stratum
    key; both window functions share the single sort. At 100 TB a skewed
    stratum serializes its rank — the balanced/weighted variants below are
    the skew-free alternatives when exact per-stratum counts aren't
    required."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.concat(F.lit("strat|"), F.col("doc_id").cast("string"))
    w = W.partitionBy("lang").orderBy(md5_hash(key, 8), "doc_id")
    ranked = docs.select(
        "doc_id",
        "lang",
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(W.partitionBy("lang")).alias("_n"),
    )
    return ranked.filter(F.col("_rn") <= F.ceil(0.1 * F.col("_n"))).select(
        "doc_id", "lang"
    )


@register("stratified_sample_scale_path", oracle=_STRAT_ORACLE)
def stratified_sample_scale_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME exact 10%-per-language sample computed by distributed
    selection (operators.sampling.stratified_exact_sample): a per-(stratum,
    hash-bucket) histogram decides whole buckets outright and only the
    pivot bucket — ~1/4096 of a stratum — is ever ranked, so no task sorts
    a whole stratum (the window-rank form's scale cliff when stratum
    cardinality is fixed). The oracle is the window-rank definition
    itself: a green hash row IS the proof that the selection algorithm is
    exact."""
    from talkinghead_datapipeline_spark.operators.sampling import (
        stratified_exact_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = stratified_exact_sample(
        docs,
        "lang",
        "doc_id",
        md5_hash(F.concat(F.lit("strat|"), F.col("doc_id").cast("string")), 8),
        0.1,
    )
    return out.select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Class-balanced downsample: cap every label at the minority-class count
# ---------------------------------------------------------------------------


_BALANCE_ORACLE = f"""
    WITH ranked AS (
      SELECT vec_id, label,
             row_number() OVER (
               PARTITION BY label
               ORDER BY {md5_hash_sql("'bal|' || CAST(vec_id AS VARCHAR)", 8)}, vec_id) AS rn
      FROM embeddings
    ),
    cap AS (
      SELECT min(n) AS cap
      FROM (SELECT count(*) AS n FROM embeddings GROUP BY label)
    )
    SELECT vec_id, label FROM ranked, cap WHERE rn <= cap
"""


@register("class_balanced_downsample", oracle=_BALANCE_ORACLE)
def class_balanced_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample every class to the minority-class size (hash-ranked, so
    the kept subset is deterministic). The cap is a 1-row aggregate
    broadcast into the filter — no second shuffle of the fact table; the
    only wide exchange is the per-label rank."""
    emb = load_table(spark, sf_dir, "embeddings")
    cap = (
        emb.groupBy("label")
        .agg(F.count("*").alias("_n"))
        .agg(F.min("_n").alias("_cap"))
    )
    w = W.partitionBy("label").orderBy(
        md5_hash(F.concat(F.lit("bal|"), F.col("vec_id").cast("string")), 8), "vec_id"
    )
    ranked = emb.select("vec_id", "label", F.row_number().over(w).alias("_rn"))
    return (
        ranked.join(F.broadcast(cap))
        .filter(F.col("_rn") <= F.col("_cap"))
        .select("vec_id", "label")
    )


@register("class_balanced_scale_path", oracle=_BALANCE_ORACLE)
def class_balanced_scale_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME minority-cap downsample via distributed selection
    (operators.sampling): label cardinality is fixed, so the window-rank
    form sorts a whole label in one task at scale. The cap (min stratum
    size) is a global window over the tiny per-(label, bucket) histogram —
    no driver collect; only pivot buckets are ranked. Same oracle as the
    window-rank query: the green hash row proves exactness."""
    from pyspark.sql.window import Window as _W

    from talkinghead_datapipeline_spark.operators.sampling import (
        stratified_exact_sample,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    out = stratified_exact_sample(
        emb,
        "label",
        "vec_id",
        md5_hash(F.concat(F.lit("bal|"), F.col("vec_id").cast("string")), 8),
        k_expr=F.min("_total").over(_W.partitionBy()),
    )
    return out.select("vec_id", "label")


# ---------------------------------------------------------------------------
# Weighted Bernoulli sample: P(keep) proportional to document length
# ---------------------------------------------------------------------------


@register(
    "weighted_sample_by_length",
    oracle=f"""
    SELECT doc_id, n_chars
    FROM documents
    WHERE CAST({md5_hash_sql("'w|' || CAST(doc_id AS VARCHAR)", 8)} AS DOUBLE) / 4294967296.0
          < CAST(n_chars AS DOUBLE)
            / (SELECT max(n_chars) FROM documents)
    """,
)
def weighted_sample_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-proportional Bernoulli sample: keep a document iff its
    hash-uniform u ∈ [0,1) falls under n_chars/max(n_chars). The uniform
    is h/2^32 (exact in double: power-of-two denominator), so both engines
    decide identically. The max is a 1-row broadcast; the pass itself is
    map-side — the shape for importance-weighted corpus mixing at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("n_chars").alias("_mx"))
    h = md5_hash(F.concat(F.lit("w|"), F.col("doc_id").cast("string")), 8)
    u = h.cast("double") / F.lit(4294967296.0)
    return (
        docs.join(F.broadcast(mx))
        .filter(u < F.col("n_chars").cast("double") / F.col("_mx").cast("double"))
        .select("doc_id", "n_chars")
    )


# ---------------------------------------------------------------------------
# Token-budget sequence packing (concat-and-cut, per (source, shard))
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512
_N_SHARDS = 8

_PACK_RANK_SQL = md5_hash_sql("'pack|' || CAST(doc_id AS VARCHAR)", 8)


@register(
    "pack_token_budget",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             {_PACK_RANK_SQL} % {_N_SHARDS} AS shard,
             CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tok
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id, source, shard, n_tok,
           CAST(COALESCE(sum(n_tok) OVER (
             PARTITION BY source, shard
             ORDER BY {_PACK_RANK_SQL}, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start,
           CAST(floor(COALESCE(sum(n_tok) OVER (
             PARTITION BY source, shard
             ORDER BY {_PACK_RANK_SQL}, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             / {_PACK_BUDGET}) AS BIGINT) AS bin_id
    FROM t
    """,
)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-cut sequence packing: documents are laid end-to-end in
    hash order and cut into {budget}-token bins — each doc gets its global
    token offset and bin id, the layout LLM trainers consume. Packing is
    inherently sequential, so the stream is sharded by hash: each
    (source, shard) packs independently in one window pass, bounding
    per-task state at any corpus size (shard count scales with the
    cluster, not the data). One shuffle total; the running sum shares the
    rank's sort."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    rank = md5_hash(F.concat(F.lit("pack|"), F.col("doc_id").cast("string")), 8)
    t = docs.select(
        "doc_id",
        "source",
        (rank % _N_SHARDS).alias("shard"),
        F.size(F.split(F.col("text"), r"\s+")).cast("bigint").alias("n_tok"),
        rank.alias("_rank"),
    )
    w = (
        W.partitionBy("source", "shard")
        .orderBy("_rank", "doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tok").over(w), F.lit(0).cast("bigint"))
    return t.select(
        "doc_id",
        "source",
        "shard",
        "n_tok",
        start.alias("tok_start"),
        F.floor(start / _PACK_BUDGET).cast("bigint").alias("bin_id"),
    )


# ---------------------------------------------------------------------------
# Table profiling: per-column stats in one scan (data-quality surface)
# ---------------------------------------------------------------------------

_NUM_COLS = ("o_orderkey", "o_custkey", "o_totalprice")
_STR_COLS = ("o_orderstatus", "o_orderpriority")


def _profile_branch_sql(col: str, is_num: bool) -> str:
    if is_num:
        mn, mx = f"round(CAST(min({col}) AS DOUBLE), 2)", f"round(CAST(max({col}) AS DOUBLE), 2)"
        ms, xs = "NULL", "NULL"
    else:
        mn, mx = "NULL", "NULL"
        ms, xs = f"min({col})", f"max({col})"
    return f"""
      SELECT '{col}' AS column_name,
             count(*) AS n_rows,
             count(*) - count({col}) AS n_nulls,
             count(DISTINCT {col}) AS n_distinct,
             {mn} AS min_num, {mx} AS max_num,
             CAST({ms} AS VARCHAR) AS min_str, CAST({xs} AS VARCHAR) AS max_str
      FROM orders"""


@register(
    "table_profile_orders",
    oracle=" UNION ALL ".join(
        [_profile_branch_sql(c, True) for c in _NUM_COLS]
        + [_profile_branch_sql(c, False) for c in _STR_COLS]
    ),
)
def table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile (rows, nulls, distinct, min/max) of `orders` in
    ONE scan: all metrics aggregate together (the multi-count-distinct
    expands into a single Expand pass), then one 1-row→N-rows inline
    unpivots into the profile table. The oracle unions per-column scans —
    same result, N scans — which is exactly the rewrite this shape exists
    to avoid at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    aggs: list[F.Column] = [F.count("*").alias("_n")]
    for c in _NUM_COLS + _STR_COLS:
        aggs += [
            F.count(c).alias(f"_nn_{c}"),
            F.countDistinct(c).alias(f"_nd_{c}"),
            F.min(c).alias(f"_mn_{c}"),
            F.max(c).alias(f"_mx_{c}"),
        ]
    one = orders.agg(*aggs)

    def branch(c: str, is_num: bool) -> F.Column:
        if is_num:
            mn = F.round(F.col(f"_mn_{c}").cast("double"), 2)
            mx = F.round(F.col(f"_mx_{c}").cast("double"), 2)
            ms = xs = F.lit(None).cast("string")
        else:
            mn = mx = F.lit(None).cast("double")
            ms, xs = F.col(f"_mn_{c}").cast("string"), F.col(f"_mx_{c}").cast("string")
        return F.struct(
            F.lit(c).alias("column_name"),
            F.col("_n").alias("n_rows"),
            (F.col("_n") - F.col(f"_nn_{c}")).alias("n_nulls"),
            F.col(f"_nd_{c}").alias("n_distinct"),
            mn.alias("min_num"),
            mx.alias("max_num"),
            ms.alias("min_str"),
            xs.alias("max_str"),
        )

    branches = [branch(c, True) for c in _NUM_COLS] + [
        branch(c, False) for c in _STR_COLS
    ]
    return one.select(F.inline(F.array(*branches)))


# ---------------------------------------------------------------------------
# Order-independent table checksums — the pipeline-integrity primitive: a
# copy/migration/replay of a 100 TB table is validated by comparing one
# 3-row result, never by re-reading both sides row-aligned. XOR of a
# per-row portable hash is commutative/associative, so the aggregation is
# map-side combinable and insensitive to partitioning, ordering, or file
# layout; any single-row corruption flips the digest.
# ---------------------------------------------------------------------------

_CK = {
    "orders": ("o_orderkey", "o_custkey", "o_orderstatus"),
    "lineitem": ("l_orderkey", "l_linenumber", "l_suppkey"),
    "customer": ("c_custkey", "c_nationkey", "c_mktsegment"),
}


def _ck_concat_sql(cols: tuple[str, ...]) -> str:
    joined = " || '|' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
    return md5_hash_sql(joined, 15)


_CHECKSUM_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT '{tbl}' AS tbl,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor({_ck_concat_sql(cols)}) AS BIGINT) AS checksum
    FROM {tbl}
    """
    for tbl, cols in _CK.items()
)


@register("table_integrity_checksums", oracle=_CHECKSUM_ORACLE)
def table_integrity_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content checksums of three catalog tables: row count + XOR-fold of
    a 60-bit md5-prefix hash over the key columns (integers and enums
    only — their string form is engine-identical, where float formatting
    would not be). One map-only scan per table, three 1-row partial
    aggregates, no shuffle of data rows at any scale — the cross-engine
    hash match IS the demonstration that two independent systems computed
    byte-equal digests of the same table."""
    parts = []
    for tbl, cols in _CK.items():
        # Project to the checksummed columns, then spread the
        # single-row-group scan: the md5 fold over 600k lineitem rows
        # otherwise runs in one task (guide §2.5/§4). bit_xor and count are
        # commutative — layout-invariant by construction; no-op on
        # many-split production inputs.
        t = rebalance_for_compute(
            load_table(spark, sf_dir, tbl).select(*cols)
        )
        h = md5_hash(F.concat_ws("|", *[F.col(c).cast("string") for c in cols]), 15)
        parts.append(
            t.agg(
                F.lit(tbl).alias("tbl"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.bit_xor(h).cast("bigint").alias("checksum"),
            ).select("tbl", "n_rows", "checksum")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@register(
    "equi_depth_deciles",
    oracle="""
    WITH ranked AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
             AS total
    FROM ranked GROUP BY decile
    """,
)
def equi_depth_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth decile histogram of order values — the feature-binning /
    boundary-discovery pass (range-partitioner boundaries, monotone-feature
    bucketing). ntile is deterministic under the (value, key) total order
    on both engines. Scale note: a global ntile implies a total sort; the
    production form samples boundaries (Spark's RangePartitioner does
    exactly this) and bins map-side — this query certifies the exact
    boundary semantics the sampled form approximates.

    Integer-cents total (round-9 money migration): the per-decile sum
    accumulates exact BIGINT cents (layout-invariant); lo/hi stay
    round(min/max, 2) — order-insensitive single values of 2-decimal
    money, which cannot sit on a 3rd-decimal .5 tie."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select("o_totalprice", F.ntile(10).over(w).alias("decile"))
        .groupBy(F.col("decile").cast("bigint").alias("decile"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                / F.lit(100.0),
                2,
            ).alias("total"),
        )
    )


@register(
    "weighted_topk_sample_es",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             ln(({md5_hash_sql("'es|' || CAST(doc_id AS VARCHAR)", 8)} + 1.0)
                / 4294967297.0) / n_chars AS es_key
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
           round(es_key, 9) AS es_key
    FROM keyed
    ORDER BY es_key DESC, doc_id ASC
    LIMIT 50
    """,
)
def weighted_topk_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size weighted sampling WITHOUT replacement via the
    Efraimidis–Spirakis one-pass reservoir (IPL 2006): each row draws a
    deterministic uniform u ∈ (0,1] from the portable md5 hash and ranks by
    ln(u)/w (the log form of u^(1/w); weight = n_chars, so longer docs are
    proportionally likelier) — the global top-k under that key IS a
    weighted sample without replacement, unlike Bernoulli sampling
    (weighted_sample_by_length), which only controls the EXPECTED size.

    Scale: a map-only key computation + TakeOrderedAndProject top-k — no
    shuffle of the corpus, no per-stratum sorts, and the reservoir merges
    across partitions by construction (top-k of top-ks). The hash-derived
    u makes the 'random' draw a pure function of doc_id, so both engines
    select the identical sample."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    key = F.concat(F.lit("es|"), F.col("doc_id").cast("string"))
    u_plus = (md5_hash(key, 8) + 1.0) / 4294967297.0
    es_key = F.log(u_plus) / F.col("n_chars")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.round(es_key, 9).alias("es_key"),
        )
        .orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Training-mixture manifest — the data-mixing pass (Pile/Dolma style):
# given target MIXTURE WEIGHTS over a partition key and a token budget,
# derive per-group sampling rates and a deterministic doc selection, then
# report achieved vs target composition.
# ---------------------------------------------------------------------------

_MIX_WEIGHTS = {"en": 0.40, "de": 0.15, "fr": 0.15, "es": 0.15, "zh": 0.15}
_MIX_BUDGET_FRAC = 0.5  # token budget = half the corpus

_MIX_W_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_WEIGHTS.items())
    + " ELSE 0.0 END"
)
_MIX_U_SQL = (
    "(" + md5_hash_sql("'mix|' || CAST(doc_id AS VARCHAR)", 8) + " / 4294967296.0)"
)

_MIX_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tok,
             {_MIX_U_SQL} AS u
      FROM documents WHERE length(text) > 0
    ),
    avail AS (
      SELECT lang, CAST(sum(n_tok) AS DOUBLE) AS avail_tok
      FROM toks GROUP BY lang
    ),
    budget AS (
      SELECT sum(avail_tok) * {_MIX_BUDGET_FRAC} AS b FROM avail
    ),
    rates AS (
      SELECT lang, avail_tok,
             ({_MIX_W_SQL.replace('lang', 'a.lang')}) * b.b AS target_tok,
             least(1.0, ({_MIX_W_SQL.replace('lang', 'a.lang')}) * b.b
                        / avail_tok) AS rate
      FROM avail a CROSS JOIN budget b
    ),
    sel AS (
      SELECT t.lang, t.n_tok, r.avail_tok, r.target_tok, r.rate,
             CASE WHEN t.u < r.rate THEN 1 ELSE 0 END AS keep
      FROM toks t JOIN rates r ON r.lang = t.lang
    )
    SELECT lang,
           CAST(max(avail_tok) AS BIGINT) AS avail_tokens,
           CAST(round(max(target_tok), 0) AS BIGINT) AS target_tokens,
           round(max(rate), 6) AS rate,
           CAST(sum(keep) AS BIGINT) AS selected_docs,
           CAST(sum(keep * n_tok) AS BIGINT) AS selected_tokens
    FROM sel GROUP BY lang
"""


@register("source_mixture_manifest", oracle=_MIX_ORACLE)
def source_mixture_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture sampling manifest: fixed target weights per language and a
    token budget of half the corpus → per-language rate = min(1,
    weight·budget / available), docs kept when their deterministic
    md5-uniform falls under the rate. Reports available/target/selected
    tokens per language — the audit row a data-mixing stage emits before a
    training run.

    Scale: pass 1 is a per-group token-count agg (broadcastable — group
    count is the number of SOURCES, not rows); pass 2 is a map-only keep
    decision against the broadcast rate table. Nothing global sorts;
    selection is a pure function of doc_id so re-runs and engines agree
    row-for-row. Rates cap at 1.0 — an under-supplied language simply
    contributes everything it has (visible as selected < target in the
    manifest), the standard upsampling-free mixture semantics."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    key = F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))
    u = md5_hash(key, 8) / F.lit(4294967296.0)
    w = F.lit(0.0)
    for k, v in _MIX_WEIGHTS.items():
        w = F.when(F.col("lang") == k, F.lit(v)).otherwise(w)
    toks = docs.select(
        "doc_id",
        "lang",
        F.size(F.split("text", r"\s+")).cast("bigint").alias("n_tok"),
        u.alias("u"),
    )
    avail = toks.groupBy("lang").agg(
        F.sum("n_tok").cast("double").alias("avail_tok")
    )
    budget = avail.agg((F.sum("avail_tok") * _MIX_BUDGET_FRAC).alias("b"))
    rates = avail.crossJoin(F.broadcast(budget)).select(
        "lang",
        "avail_tok",
        (w * F.col("b")).alias("target_tok"),
        F.least(F.lit(1.0), w * F.col("b") / F.col("avail_tok")).alias("rate"),
    )
    sel = toks.join(F.broadcast(rates), "lang").withColumn(
        "keep", F.when(F.col("u") < F.col("rate"), 1).otherwise(0)
    )
    return sel.groupBy("lang").agg(
        F.max("avail_tok").cast("bigint").alias("avail_tokens"),
        F.round(F.max("target_tok"), 0).cast("bigint").alias("target_tokens"),
        F.round(F.max("rate"), 6).alias("rate"),
        F.sum("keep").cast("bigint").alias("selected_docs"),
        F.sum(F.col("keep") * F.col("n_tok")).cast("bigint").alias(
            "selected_tokens"
        ),
    )


# ---------------------------------------------------------------------------
# Winsorization — percentile clipping (the standard robust-mean data-cleaning
# pass; complements robust_outlier_flags' median/MAD flagging with the
# *correction* side). Exact p01/p99 per group; at 100 TB the exact
# percentile becomes percentile_approx with certified error — see
# approx_quantiles_certified below, which certifies exactly that bound.
# ---------------------------------------------------------------------------


@register(
    "winsorized_price_stats",
    oracle="""
    WITH bounds AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.01) AS lo,
             quantile_cont(l_extendedprice, 0.99) AS hi
      FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN l.l_extendedprice < b.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_lo,
           CAST(sum(CASE WHEN l.l_extendedprice > b.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_hi,
           CAST(floor(min(b.lo) * 100.0) AS BIGINT) AS p01_cents,
           CAST(floor(min(b.hi) * 100.0) AS BIGINT) AS p99_cents,
           CAST(floor(10000.0 *
                  (((sum(CASE WHEN l.l_extendedprice >= b.lo
                               AND l.l_extendedprice <= b.hi
                              THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                              ELSE 0 END) / 100.0
                     + sum(CASE WHEN l.l_extendedprice < b.lo
                                THEN 1 ELSE 0 END) * min(b.lo))
                    + sum(CASE WHEN l.l_extendedprice > b.hi
                               THEN 1 ELSE 0 END) * min(b.hi))
                   / count(*))) AS BIGINT) / 10000.0 AS winsorized_mean
    FROM lineitem l JOIN bounds b ON l.l_returnflag = b.l_returnflag
    GROUP BY 1
    """,
)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag winsorized (p01/p99-clipped) price stats.

    p01_cents/p99_cents are floor-quantized: when the percentile lands
    exactly ON a 2-decimal data value (interpolation weight 0), the
    double product x*100.0 can sit one ulp BELOW the true integer (e.g.
    104004.63*100 -> 10400462.999...), so the reported cents can be one
    below the exact value (ADVICE r9). This is cross-engine deterministic
    — both engines floor the identical double — and intentional: a
    round() here is exactly the half-cent-tie class the r9 migration
    retired. Consumers needing exact on-grid cents should round the
    /100.0 display themselves.

    winsorized_mean (round-10 migration, the last round(avg(double), k)
    in the family): avg(clipped_double) is accumulation-order-dependent,
    so instead the mean is DECOMPOSED exactly — in-range prices sum as
    exact BIGINT cents (associative), the clipped tails contribute
    n_clipped_lo*lo + n_clipped_hi*hi (two doubles, fixed multiplicity)
    — and assembled in one fixed-association expression identical on
    both engines, making the unrounded mean bit-identical cross-engine;
    the display is then floor-to-1e-4 units /10000.0 per the tie-audit
    convention.

    Scale shape: bounds are a per-group exact percentile (group-count-sized
    result, broadcast back), the clip+mean pass is map-side against the
    broadcast bounds, and both aggregations key on the same low-cardinality
    group column — two scans, one wide shuffle each, no row ever carries
    more than its own value.

    Exact percentile is the INTENDED certified semantics (round-8
    adjudication, SCALING.md): Spark's percentile_approx GK sketch is not
    reproducible in DuckDB SQL, so sketch bounds cannot be value-hash
    certified — the at-scale variant is percentile_approx bounds with the
    rank-error contract certified separately (approx_quantiles_certified).
    Same-day interleaved A/B at sf0.1: exact 1.6-2.5s vs sketch 1.2-1.5s
    (the shared clip+mean join dominates); the exact ×10-data step is
    ~1.75×, not the 5.5× of the cross-day r6 table — machine state."""
    # Projected to the two live columns. A rebalance_for_compute spread was
    # A/B-tested here (r14, interleaved, 4 reps): with 2.39s vs without
    # 2.10s median — the cost is the 3-group EXACT-percentile final merge
    # (an inherent per-group straggler; partial list buffers just get
    # re-merged), so spreading the scan buys nothing and pays a shuffle.
    # Left alone deliberately (guide §1: measure, don't pattern-match).
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    # r15 (guide §2.3/§2.5, VERDICT r14 #4): the exact percentile moved off
    # ``F.percentile`` — whose final merge buffers and sorts each group's
    # whole value multiset in ONE task (3 tasks total here, a per-group
    # straggler at any scale) — onto the range-partitioned two-level exact
    # rank (theil_sen precedent). Same doubles at every fraction: the
    # helper replicates Percentile's interpolation arithmetic bit for bit
    # (operators/percentiles.py, parity-pinned by
    # tests/test_percentile_rank_parity.py), so every downstream floor/
    # clip/mean expression sees identical operands and the oracle hash
    # cannot move. (The r14 array-form note — 2.24s two-call vs 1.51s
    # array form — described the aggregate this replaces.)
    bounds = exact_percentiles_by_rank(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        [0.01, 0.99],
        spark.sparkContext.defaultParallelism,
    ).select(
        "l_returnflag",
        F.col("p0").alias("lo"),
        F.col("p1").alias("hi"),
    )
    in_range = (F.col("l_extendedprice") >= F.col("lo")) & (
        F.col("l_extendedprice") <= F.col("hi")
    )
    agged = (
        li.join(F.broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum((F.col("l_extendedprice") < F.col("lo")).cast("bigint")).alias(
                "n_clipped_lo"
            ),
            F.sum((F.col("l_extendedprice") > F.col("hi")).cast("bigint")).alias(
                "n_clipped_hi"
            ),
            # floor-to-BIGINT-cents, NOT round(,2) (round-9 migration): the
            # r8 margin audit found this query's N-group p99 at sf0.01
            # sitting exactly ON a half-cent tie (104004.635) — green only
            # because that double's binary expansion falls above the tie.
            # The percentile doubles are bit-identical cross-engine, and
            # floor is the same function everywhere (the convention the
            # staged winsorized_bounds_sketch_certified already uses).
            # One-cent-down quantization on on-grid percentiles is
            # documented in the docstring (ADVICE r9).
            F.floor(F.min("lo") * F.lit(100.0)).cast("bigint").alias(
                "p01_cents"
            ),
            F.floor(F.min("hi") * F.lit(100.0)).cast("bigint").alias(
                "p99_cents"
            ),
            # exact-decomposition pieces for the winsorized mean (see
            # docstring): in-range prices as exact BIGINT cents; the
            # clipped tails are counted and re-multiplied by the bounds.
            F.sum(
                F.when(
                    in_range,
                    F.round(F.col("l_extendedprice") * 100).cast("bigint"),
                ).otherwise(F.lit(0))
            ).alias("_mid_cents"),
            F.min("lo").alias("_lo"),
            F.min("hi").alias("_hi"),
        )
    )
    # Fixed-association assembly (matches the oracle parenthesization
    # token for token): bit-identical cross-engine, then floor-to-1e-4.
    mean = (
        (
            F.col("_mid_cents") / F.lit(100.0)
            + F.col("n_clipped_lo") * F.col("_lo")
        )
        + F.col("n_clipped_hi") * F.col("_hi")
    ) / F.col("n_rows")
    return agged.select(
        "l_returnflag",
        "n_rows",
        "n_clipped_lo",
        "n_clipped_hi",
        "p01_cents",
        "p99_cents",
        (
            F.floor(mean * F.lit(10000.0)).cast("bigint") / F.lit(10000.0)
        ).alias("winsorized_mean"),
    )


# ---------------------------------------------------------------------------
# Certified approximate quantiles — percentile_approx (the GK-style sketch
# every 100 TB quantile really uses; a total sort is not an option there)
# with its rank-error contract CHECKED against the data: the second pass
# counts the true rank of each returned value and the output carries the
# within-bounds verdict. The oracle asserts the contract holds (flags are
# literal 1 + the exact quantiles) — a violation on the Spark side breaks
# the hash, so driver certification IS the epsilon-bound proof.
# ---------------------------------------------------------------------------

_AQ_PS = (0.25, 0.5, 0.75)
_AQ_ACCURACY = 10_000  # rank error <= n / accuracy


@register(
    "approx_quantiles_certified",
    oracle=f"""
    SELECT * FROM (VALUES
      {", ".join(
        f"({p!r}, round((SELECT quantile_cont(value, {p!r}) FROM events), 6), CAST(1 AS BIGINT))"
        for p in _AQ_PS
      )}
    ) AS t(p, exact_value, within_bounds)
    """,
)
def approx_quantiles_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx(accuracy=10000) certified against exact ranks.

    Two passes: (1) one 1-row aggregate computes the approx sketch AND the
    exact quantiles; (2) a map-side pass against the broadcast 1-row result
    counts each approx value's true rank window [#(x < v)+1, #(x <= v)] and
    checks it intersects [(p-eps)·n, (p+eps)·n], eps = 1/accuracy — the GK
    contract percentile_approx documents. Same certified-sketch scheme as
    cms_heavy_hitters / hll_distinct_users: the oracle pins the exact
    values and asserts the bound; any violation hash-mismatches."""
    ev = load_table(spark, sf_dir, "events")
    qs = [F.lit(p) for p in _AQ_PS]
    stats = ev.agg(
        F.percentile_approx("value", F.array(*qs), F.lit(_AQ_ACCURACY)).alias("ap"),
        F.percentile("value", F.array(*qs)).alias("ex"),
        F.count("value").cast("double").alias("n"),
    )
    eps = 1.0 / _AQ_ACCURACY
    ranked = ev.crossJoin(F.broadcast(stats)).agg(
        F.first("ap").alias("ap"),
        F.first("ex").alias("ex"),
        F.first("n").alias("n"),
        *[
            F.sum(
                (F.col("value") <= F.element_at("ap", i + 1)).cast("double")
            ).alias(f"le_{i}")
            for i in range(len(_AQ_PS))
        ],
        *[
            F.sum(
                (F.col("value") < F.element_at("ap", i + 1)).cast("double")
            ).alias(f"lt_{i}")
            for i in range(len(_AQ_PS))
        ],
    )
    rows = ranked.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).alias("p"),
                        F.round(F.element_at("ex", i + 1), 6).alias("exact_value"),
                        (
                            (F.col(f"lt_{i}") < (F.lit(p) + F.lit(eps)) * F.col("n"))
                            & (F.col(f"le_{i}") >= (F.lit(p) - F.lit(eps)) * F.col("n"))
                        )
                        .cast("bigint")
                        .alias("within_bounds"),
                    )
                    for i, p in enumerate(_AQ_PS)
                ]
            )
        ).alias("r")
    )
    return rows.select("r.p", "r.exact_value", "r.within_bounds")


# ---------------------------------------------------------------------------
# Group-wise split — leakage control one level above split_train_val_test:
# correlated rows (all docs of one SOURCE: one crawl domain, one video, one
# session) must land in the SAME split, or near-identical rows straddle
# train/test and evaluation leaks. Membership hashes the GROUP key.
# ---------------------------------------------------------------------------


_GSPLIT_H_SQL = md5_hash_sql("'gsplit|' || CAST(source AS VARCHAR)", 8)


@register(
    "group_split_no_leakage",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tok,
             CASE WHEN {_GSPLIT_H_SQL} % 100 < 80 THEN 'train'
                  WHEN {_GSPLIT_H_SQL} % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           round(CAST(count(*) AS DOUBLE)
                 / (SELECT count(*) FROM assigned), 6) AS frac_docs,
           CAST((SELECT count(*) FROM
                   (SELECT source FROM assigned GROUP BY source
                    HAVING count(DISTINCT split) > 1)) AS BIGINT)
             AS n_leaked_sources
    FROM assigned
    GROUP BY split
    """,
)
def group_split_no_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise 80/10/10 split keyed on the SOURCE (all of a source's
    docs move together — the grouping split sklearn calls GroupShuffleSplit,
    here deterministic by hash so membership survives corpus growth), with
    the leakage certification IN the output: n_leaked_sources counts
    sources straddling more than one split and must be 0 — a driver hash
    match is therefore a machine-checked no-leakage proof.

    Scale shape: assignment is a map-side expression of the group key (no
    group table, no join); the rollup is one split-keyed agg plus a
    source-keyed distinct for the certification column. The split column
    partitions the write at 100 TB exactly like split_train_val_test."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.concat(F.lit("gsplit|"), F.col("source").cast("string"))
    bucket = md5_hash(key, 8) % 100
    # persist_once: three consumers (total, leak count, main rollup) —
    # unpersisted each re-scans documents and recomputes the assignment.
    assigned = persist_once(
        docs.select(
            "doc_id",
            "source",
            F.size(F.split("text", r"\s+")).cast("bigint").alias("n_tok"),
            F.when(bucket < 80, F.lit("train"))
            .when(bucket < 90, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )
    total = assigned.agg(F.count(F.lit(1)).cast("double").alias("n_total"))
    leaked = (
        assigned.groupBy("source")
        .agg(F.countDistinct("split").alias("n_splits"))
        .agg(
            F.sum((F.col("n_splits") > 1).cast("bigint")).alias("n_leaked")
        )
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
        .crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(leaked))
        .select(
            "split",
            "n_sources",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_docs").cast("double") / F.col("n_total"), 6).alias(
                "frac_docs"
            ),
            F.col("n_leaked").cast("bigint").alias("n_leaked_sources"),
        )
    )


# ---------------------------------------------------------------------------
# Registered round 10 (staged in r9; tests/test_winsorized_sketch_staged.py
# includes the falsifiability check — a deliberately broken bound flags 0;
# seat displaced from r9 by the tie-audit migrations).
# ---------------------------------------------------------------------------

WINSORIZED_SKETCH_ORACLE = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(floor(quantile_cont(l_extendedprice, 0.01) * 100.0) AS BIGINT)
         AS p01_exact_cents,
       CAST(floor(quantile_cont(l_extendedprice, 0.99) * 100.0) AS BIGINT)
         AS p99_exact_cents,
       CAST(1 AS BIGINT) AS lo_within_bounds,
       CAST(1 AS BIGINT) AS hi_within_bounds
FROM lineitem GROUP BY 1
"""

_WS_ACCURACY = 10_000


@register("winsorized_bounds_sketch_certified", oracle=WINSORIZED_SKETCH_ORACLE)
def winsorized_bounds_sketch_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP certified sketch bounds — the at-scale half of the
    winsorization adjudication, closed.

    winsorized_price_stats (above) keeps EXACT per-group p01/p99 as its
    certified demo semantics; its docstring names percentile_approx as the
    at-scale variant because a total per-group sort is not an option at
    100 TB. This query makes that variant trustworthy: per l_returnflag it
    computes the GK-sketch bounds (accuracy=10000) AND their exact
    counterparts in one grouped aggregate, then a second broadcast-joined
    pass counts each sketch value's true rank window [#(x < v)+1, #(x <= v)]
    and checks it intersects [(p-eps)·n, (p+eps)·n], eps = 1/accuracy —
    percentile_approx's documented contract, now checked per group. The
    oracle pins the exact quantiles and asserts the flags are literal 1,
    so a contract violation in ANY group hash-mismatches at the driver
    (the same certified-sketch scheme as approx_quantiles_certified,
    grouped).

    Scale shape: pass 1 is one grouped agg (the exact percentile exists
    only to certify — the production winsorize path computes the sketch
    alone); pass 2 is map-side against the broadcast group-count-sized
    bounds with a same-key grouped count. Nothing exceeds one shuffle on
    the 3-value group key.
    """
    # Spread the single-row-group scan before the two grouped passes: the
    # GK-sketch + exact-percentile partials otherwise build their 600k-value
    # buffers in one task (guide §2.5). The GK sketch's merge pattern changes
    # with layout, but only the CONTRACT FLAGS (robust to any valid sketch)
    # and the exact percentiles (layout-invariant) are emitted — the
    # registered output is partitioning-independent, as the r13 three-axis
    # invariance sweep already certified for this query.
    li = rebalance_for_compute(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_extendedprice"
        )
    )
    qs = F.array(F.lit(0.01), F.lit(0.99))
    # r15 (guide §2.3/§2.5, VERDICT r14 #4): the EXACT percentile no longer
    # rides the grouped aggregate — F.percentile's final merge sorts each
    # group's whole value multiset in one task (the per-group straggler
    # winsorized_price_stats documents); the range-partitioned two-level
    # rank computes bit-identical doubles in parallel
    # (operators/percentiles.py; parity pinned by
    # tests/test_percentile_rank_parity.py). The GK sketch keeps its
    # grouped agg — its merge is the bounded-size production path.
    ap_stats = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", qs, F.lit(_WS_ACCURACY)).alias("ap"),
    )
    ex = exact_percentiles_by_rank(
        li,
        ["l_returnflag"],
        "l_extendedprice",
        [0.01, 0.99],
        spark.sparkContext.defaultParallelism,
    ).select(
        "l_returnflag",
        F.col("n").cast("double").alias("n"),
        F.array("p0", "p1").alias("ex"),
    )
    stats = ap_stats.join(ex, "l_returnflag")
    eps = 1.0 / _WS_ACCURACY
    lo, hi = F.element_at("ap", 1), F.element_at("ap", 2)
    ranked = (
        li.join(F.broadcast(stats), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.first("n").alias("n"),
            F.first("ex").alias("ex"),
            F.sum((F.col("l_extendedprice") < lo).cast("double")).alias("lt_lo"),
            F.sum((F.col("l_extendedprice") <= lo).cast("double")).alias("le_lo"),
            F.sum((F.col("l_extendedprice") < hi).cast("double")).alias("lt_hi"),
            F.sum((F.col("l_extendedprice") <= hi).cast("double")).alias("le_hi"),
        )
    )

    def within(lt: str, le: str, p: float):
        return (
            (F.col(lt) < (F.lit(p) + F.lit(eps)) * F.col("n"))
            & (F.col(le) >= (F.lit(p) - F.lit(eps)) * F.col("n"))
        ).cast("bigint")

    return ranked.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n_rows"),
        # floor-to-BIGINT-cents, NOT round(,2): the r8 margin audit found
        # the N-group p99 at sf0.01 sitting exactly ON a half-cent tie
        # (104004.635) — Spark F.round and DuckDB round are different
        # functions at .5 ties, so rounding bit-identical doubles is not
        # enough; floor is the same function everywhere.
        F.floor(F.element_at("ex", 1) * F.lit(100.0))
        .cast("bigint")
        .alias("p01_exact_cents"),
        F.floor(F.element_at("ex", 2) * F.lit(100.0))
        .cast("bigint")
        .alias("p99_exact_cents"),
        within("lt_lo", "le_lo", 0.01).alias("lo_within_bounds"),
        within("lt_hi", "le_hi", 0.99).alias("hi_within_bounds"),
    )
