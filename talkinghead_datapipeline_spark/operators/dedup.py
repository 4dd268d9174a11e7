"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

North-star extensions (BASELINE.json) — the training-data dedup stack,
designed for 100 TB:

- **exact**: groupBy on a content digest — one shuffle on a uniform key.
- **MinHash+LSH**: shingle → portable 32-bit hash → K permutation minima →
  band keys → candidate pairs via band-bucket expansion → exact-Jaccard
  verify. One shuffle on the band key. Bucket size equals duplicate-cluster
  size (identical docs share every band), so oversized buckets switch to
  O(c) star expansion (``max_bucket``) and the cluster query collapses
  exact duplicates BEFORE banding.
- **SimHash**: per-token hash bit-votes folded into a 32-bit fingerprint;
  near-dup = small Hamming distance (bucket by fingerprint prefix at scale).
- **n-gram Jaccard**: exact character-shingle similarity inside cheap blocks.

Hashing is the engine-portable md5-prefix hash of ``functions/portable.py``
(``int(hex(md5(x)[:8]))``), so the DuckDB oracle reproduces signatures
bit-for-bit. The Column forms here are the executable spec that the
``*_sql`` twins are pinned against (tests/test_minhash_sql_parity.py,
tests/test_simhash_sql_parity.py).

Permutation constants are fixed draws from numpy ``default_rng(42)``;
``a·h + b mod P`` stays under 2^63 because a,b < 10^6 and h < 2^32.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.functions.portable import md5_hash, md5_hash_expr

# Fixed permutation parameters (numpy default_rng(42), materialized).
MINHASH_A = (89251, 773955, 654571, 438878, 433015, 858597, 85946, 697367)
MINHASH_B = (201469, 94177, 526478, 975621, 735751, 761138, 717476, 786063)
MINHASH_P = 4294967311  # smallest prime > 2^32
N_PERM = len(MINHASH_A)
BAND_WIDTH = 4  # 8 perms → 2 bands of 4: P(candidate) ≈ 1-(1-j^4)^2
SIMHASH_BITS = 32


def word_tokens(text: Column) -> Column:
    return F.split(F.lower(text), r"\s+")


def bind_once(expr: Column, body) -> Column:
    """Evaluate ``expr`` exactly once and pass it to ``body`` as a bound
    lambda variable (via a 1-element ``transform``).

    Rationale: referencing an *expression* inside a higher-order-function
    lambda inlines it — ``element_at(split(...), i)`` re-runs the split for
    every element visit (O(elements) regex evaluations per row). A lambda
    variable is evaluated once per row, like a ``let`` binding."""
    return F.element_at(F.transform(F.array(expr), body), 1)


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of lowercased whitespace-tokenized text.

    Guarded for short inputs: Spark's ``sequence(1, stop)`` DESCENDS when
    stop < 1, which would index position 0 and error.
    """

    def build(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(toks, i + k) for k in range(n)]
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    return bind_once(word_tokens(text), build)


def hashed_shingles(text: Column, n: int = 3) -> Column:
    """Distinct 32-bit hashes of the n-word shingles — md5 runs ONCE per
    shingle here, and both the signature fold and the exact-Jaccard verify
    reuse the same bigint array. Hash collisions merge identically in every
    engine (same md5 prefix), so Jaccard-over-hashes stays oracle-exact."""
    return F.array_distinct(F.transform(word_shingles(text, n), lambda t: md5_hash(t, 8)))


def minhash_sig_from_hashes(hashes: Column) -> Column:
    """K-permutation MinHash signature as ONE array column, computed in a
    single fold over pre-hashed shingles.

    Performance note: naively emitting K separate ``array_min(transform(…))``
    columns makes Catalyst evaluate the hash transform K times (projection
    collapse re-inlines it); a single ``aggregate`` with a K-wide
    accumulator visits each shingle hash exactly once.
    """
    a_arr = F.array(*[F.lit(a) for a in MINHASH_A])
    b_arr = F.array(*[F.lit(b) for b in MINHASH_B])
    init = F.array_repeat(F.lit(MINHASH_P).cast("bigint"), N_PERM)

    def merge(acc: Column, h: Column) -> Column:
        return F.zip_with(
            acc,
            F.sequence(F.lit(1), F.lit(N_PERM)),
            lambda m, k: F.least(
                m, (F.element_at(a_arr, k) * h + F.element_at(b_arr, k)) % MINHASH_P
            ),
        )

    return F.aggregate(hashes, init, merge)


def word_shingles_sql(text_sql: str = "text", n: int = 3) -> str:
    """SQL-string twin of :func:`word_shingles` — the IDENTICAL expression
    tree, parsed JVM-side in one py4j round-trip (guide §4; the simhash32
    precedent). NB ``i + 0`` is written out: the Column form's ``i + k``
    loop builds a literal Add(i, 0) at k=0 and analysis does not fold it,
    so the twin must spell it to resolve to the same tree.
    tests/test_minhash_sql_parity.py pins trees and results."""
    shingle = "concat_ws(' ', " + ", ".join(
        f"element_at(V_toks, V_i + {k})" for k in range(n)
    ) + ")"
    return (
        f"element_at(transform(array(split(lower({text_sql}), '\\\\s+')), "
        f"V_toks -> CASE WHEN size(V_toks) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size(V_toks) - {n - 1}), "
        f"V_i -> {shingle})) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END), 1)"
    )


def hashed_shingles_sql(text_sql: str = "text", n: int = 3) -> str:
    """SQL twin of :func:`hashed_shingles` (same tree; see
    :func:`word_shingles_sql`)."""
    return (
        f"array_distinct(transform({word_shingles_sql(text_sql, n)}, "
        f"V_s -> {md5_hash_expr('V_s', 8)}))"
    )


def minhash_sig_from_hashes_sql(hashes_sql: str) -> str:
    """SQL twin of :func:`minhash_sig_from_hashes` (same tree: same int
    literals for the permutation arrays, same CAST'd init, same
    least/affine/mod fold order)."""
    a_arr = "array(" + ", ".join(str(a) for a in MINHASH_A) + ")"
    b_arr = "array(" + ", ".join(str(b) for b in MINHASH_B) + ")"
    return (
        f"aggregate({hashes_sql}, "
        f"array_repeat(CAST({MINHASH_P} AS BIGINT), {N_PERM}), "
        f"(V_acc, V_h) -> zip_with(V_acc, sequence(1, {N_PERM}), "
        f"(V_m, V_k) -> least(V_m, (element_at({a_arr}, V_k) * V_h "
        f"+ element_at({b_arr}, V_k)) % {MINHASH_P})))"
    )


def minhash_sig_array(shingles: Column) -> Column:
    """MinHash signature from string shingles (hashes then folds)."""
    return minhash_sig_from_hashes(F.transform(shingles, lambda t: md5_hash(t, 8)))


def band_key(band: int) -> Column:
    """LSH band key = concatenated signature slice."""
    lo = band * BAND_WIDTH
    return F.concat_ws(
        "|", *[F.col(f"mh{k}").cast("string") for k in range(lo, lo + BAND_WIDTH)]
    )


def simhash32(text: Column) -> Column:
    """32-bit SimHash over token multiset: bit j set iff the ±1 votes of
    per-token hash bit j sum positive.

    The token-hash array is let-bound (md5 runs once per token), then each
    bit's vote is an allocation-free integer fold — 32 scalar folds beat
    one fold with an array accumulator by a wide margin in the interpreted
    higher-order-function path."""

    def vote_fn(j: int):
        # NOTE: closure, not lambda default args — PySpark binds HOF
        # variables by lambda arity, and default args count as parameters.
        return lambda s, h: s + F.shiftright(h, j).bitwiseAND(F.lit(1))

    def build(hashes: Column) -> Column:
        n_tokens = F.size(hashes)
        acc = F.lit(0).cast("bigint")
        for j in range(SIMHASH_BITS):
            ones = F.aggregate(hashes, F.lit(0).cast("bigint"), vote_fn(j))
            # ones > n/2  ⇔  sum(±1 votes) > 0
            acc = acc + F.when(
                2 * ones > n_tokens, F.lit(1 << j).cast("bigint")
            ).otherwise(F.lit(0).cast("bigint"))
        return acc

    return bind_once(F.transform(word_tokens(text), lambda t: md5_hash(t, 8)), build)


def simhash32_sql() -> str:
    """SQL-string twin of :func:`simhash32` over the ``text`` column — the
    IDENTICAL expression tree,
    parsed JVM-side in ONE py4j round-trip instead of the ~250 round-trips
    the Column API pays to assemble 32 HOF vote folds (guide §4: the
    Python↔JVM boundary is a driver cost, and query builders run once per
    bench rep — measured 1.5s/build on simhash_hamming_near_dups).
    :func:`simhash32` stays as the executable spec;
    tests/test_simhash_sql_parity.py pins the resolved trees equal modulo
    auto-generated lambda-variable names and the results bit-equal."""
    h = md5_hash_expr("t", 8)
    votes = " + ".join(
        # aggregate(...) * 2, not 2 * aggregate(...): Column.__rmul__ swaps
        # the operands, and the twin must resolve to the IDENTICAL tree.
        f"(CASE WHEN (aggregate(hs, CAST(0 AS BIGINT), "
        f"(s, h) -> s + (shiftright(h, {j}) & 1)) * 2) > size(hs) "
        f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(SIMHASH_BITS)
    )
    return (
        "element_at(transform(array(transform(split(lower(text), '\\\\s+'), "
        f"t -> {h})), hs -> (CAST(0 AS BIGINT) + {votes})), 1)"
    )


def char_ngrams(text: Column) -> Column:
    """Distinct character 3-grams (the classic near-dup shingling unit)."""

    def build(low: Column) -> Column:
        return F.when(
            F.length(low) >= 3,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.length(low) - 2),
                    lambda i: F.substr(low, i, F.lit(3)),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    return bind_once(F.lower(text), build)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays.

    One set operation, not two: |a ∪ b| = |a| + |b| − |a ∩ b| (exact for
    distinct-element arrays), and the intersection size is let-bound so the
    intersect runs once — this near-halves the verify cost, which dominates
    blocked-exact dedup.

    ``try_divide``: two empty sets give 0/0 → NULL instead of an ANSI
    DIVIDE_BY_ZERO that would kill the whole job (degenerate rows must
    route to the error channel, never abort the stage — E8)."""
    return bind_once(
        F.size(F.array_intersect(a, b)),
        lambda i: F.try_divide(i.cast("double"), F.size(a) + F.size(b) - i),
    )


def exact_dedup(df: DataFrame, content: str, key: str) -> DataFrame:
    """Keep the lowest-key row per exact content group (hash-groupBy)."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy(F.md5(F.col(content))).orderBy(key)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def dedup_edge_graph(
    df: DataFrame,
    key: str,
    text: str,
    jaccard_min: float = 0.2,
    max_bucket: int = 1024,
) -> DataFrame:
    """Scale-safe near-duplicate edge list (key_a, key_b) for clustering:
    exact-dedup pre-pass + LSH over representatives + re-attach edges.

    The mega-bucket killer for LSH is the duplicate cluster itself — every
    member shares every band, so bucket size equals cluster size and the
    pair expansion is quadratic in ONE task. Composing exact dedup in
    front removes exactly that mass: identical texts collapse to their
    min-key representative (one digest shuffle), banding runs over
    representatives only, and each dropped member re-attaches via a
    (representative, member) edge — O(cluster) edges instead of O(cluster²)
    pairs, with identical connected components as the uncomposed form
    (identical texts share every band and verify at jaccard = 1, so they
    were always in their representative's component).

    Eligibility matches the pair generator: docs with ≥ 3 tokens (≥ 1
    shingle). Returns the union of verified LSH pairs (jaccard ≥
    ``jaccard_min``) over representatives and the exact-duplicate edges.
    """
    from pyspark.sql.window import Window as W

    eligible = df.filter(F.size(word_tokens(F.col(text))) >= 3)
    wdg = eligible.select(
        F.col(key).alias("id"), F.col(text).alias("_t"), F.md5(text).alias("_dg")
    )
    lab = (
        wdg.withColumn("_rep", F.min("id").over(W.partitionBy("_dg")))
        # Materialize ONCE: both output branches (representatives → LSH,
        # dropped members → exact edges) consume this frame, and the
        # branches get distinct expression ids so ReuseExchange cannot
        # dedupe them — without the checkpoint the corpus scan + digest
        # shuffle would run twice.
        .localCheckpoint(eager=True)
    )
    reps = lab.filter(F.col("id") == F.col("_rep")).select(
        F.col("id").alias(key), F.col("_t").alias(text)
    )
    exact_edges = lab.filter(F.col("id") != F.col("_rep")).select(
        F.col("_rep").alias("key_a"), F.col("id").alias("key_b")
    )
    # Star edges are kept UNCONDITIONALLY (connectivity-only; verifying them
    # against jaccard_min could disconnect a mega-bucket member whose
    # similarity to the bucket minimum is below threshold). Duplicate star
    # edges across bands are harmless to connected_components (min-agg).
    lsh_edges = (
        minhash_candidate_pairs(reps, key, text, max_bucket=max_bucket)
        .filter(F.col("star") | (F.col("jaccard") >= jaccard_min))
        .select("key_a", "key_b")
    )
    return lsh_edges.unionByName(exact_edges)


def minhash_candidate_pairs(
    df: DataFrame, key: str, text: str, max_bucket: int = 1024
) -> DataFrame:
    """LSH candidate pairs (key_a < key_b) with exact Jaccard, in ONE pass.

    Scale design: one corpus scan computes hashed shingles (md5 once per
    shingle) and folds the signature from them; one ``collect_list``
    shuffle gathers band buckets of (key, 8-int signature, hashed-gram
    array); candidate pairs then expand map-side via array HOFs with the
    exact-Jaccard verify fused into the same expression — no self-join, no
    DISTINCT, no rejoin. A pair colliding on several bands is emitted only
    at its FIRST matching band (later bands check band-0 slice equality).
    The shuffled payload is the 8-byte hash array, not shingle strings —
    n_bands copies of ~1/4 the text bytes.

    **Mega-bucket containment** (``max_bucket``): bucket size is NOT
    bounded by hashing — every member of a duplicate cluster shares
    identical band values, so a bucket is as large as the duplicate
    cluster (web boilerplate: millions), and the all-pairs expansion is
    O(c²) inside ONE task. Buckets larger than ``max_bucket`` therefore
    emit STAR pairs only — every member against the bucket minimum —
    which is O(c) and keeps the whole bucket one connected component.

    Star pairs are CONNECTIVITY-ONLY edges, flagged ``star = true`` and
    exempt from the first-band suppression (an oversized band-0 bucket
    emits only pairs through its minimum, so "band 0 already emitted this
    pair" does not hold) — otherwise a member whose Jaccard to the bucket
    minimum is below the caller's threshold could lose ALL its edges and
    split its cluster (driver ADVICE r2, medium). Consequences callers
    must own: star edges may duplicate across bands (≤ n_bands copies),
    and their ``jaccard`` is informational, NOT a verification —
    clustering consumers keep star edges unconditionally
    (``dedup_edge_graph``), pair-listing consumers drop them
    (``star = false`` rows remain exact and duplicate-free). For exact
    full-pair output compose ``exact_dedup`` in front so duplicate
    clusters collapse to one representative before banding (see
    queries.dedup.dedup_cluster_assignments).
    """
    from talkinghead_datapipeline_spark.catalog import (
        pushdown_barrier,
        rebalance_for_compute,
    )

    # pushdown_barrier: without it the size-filter's predicate is alias-
    # substituted below this projection and the whole md5-shingle chain
    # runs twice per document (catalog.pushdown_barrier docstring).
    sh = pushdown_barrier(
        rebalance_for_compute(df).select(
            F.col(key), F.expr(hashed_shingles_sql(text)).alias("_g")
        ),
        "mhcand",
    ).filter(F.size("_g") >= 1)
    sigs = sh.select(key, "_g", F.expr(minhash_sig_from_hashes_sql("_g")).alias("_sig"))
    n_bands = N_PERM // BAND_WIDTH
    band_vals = [
        F.concat_ws(
            "|",
            *[
                F.element_at("_sig", b * BAND_WIDTH + k + 1).cast("string")
                for k in range(BAND_WIDTH)
            ],
        )
        for b in range(n_bands)
    ]
    banded = sigs.select(
        key, "_g", "_sig", F.posexplode(F.array(*band_vals)).alias("_bidx", "_bval")
    )
    buckets = (
        banded.groupBy("_bidx", "_bval")
        # sort_array orders members by key (first struct field), making the
        # slice-based expansion emit key_a < key_b deterministically.
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(key).alias("k"),
                        F.col("_sig").alias("sig"),
                        F.col("_g").alias("g"),
                    )
                )
            ).alias("mem")
        )
        .filter(F.size("mem") > 1)
    )
    # Index-arithmetic expansion (element_at, never slice(mem, ...): the
    # slice form copies the bucket array once per member — O(c^2) array
    # allocations per bucket, which matters for the large skewed buckets a
    # 100 TB corpus produces). isz is materialized in the struct so the
    # intersect runs once per pair (inlining it into a jaccard expression
    # would evaluate it twice). Band-0 equality compares the four leading
    # signature entries element-wise — no sub-array materialization.
    def _pair_struct(i: str, j: str, star: str) -> str:
        b0_eq = " AND ".join(
            f"mem[{i}-1].sig[{k}] = mem[{j}-1].sig[{k}]" for k in range(BAND_WIDTH)
        )
        return f"""named_struct(
                'key_a', mem[{i}-1].k, 'key_b', mem[{j}-1].k,
                'isz', CAST(size(array_intersect(mem[{i}-1].g, mem[{j}-1].g)) AS DOUBLE),
                'usz', CAST(size(mem[{i}-1].g) + size(mem[{j}-1].g) AS DOUBLE),
                'b0_eq', {b0_eq}, 'star', {star})"""

    # Star pairs bypass the first-band suppression: connectivity must not
    # depend on what an (unknowably-sized) band-0 bucket chose to emit.
    pair_expr = F.expr(
        f"""
        filter(
          CASE WHEN size(mem) <= {int(max_bucket)} THEN
            flatten(transform(sequence(1, size(mem) - 1), i ->
              transform(sequence(i + 1, size(mem)), j -> {_pair_struct("i", "j", "false")})))
          ELSE
            transform(sequence(2, size(mem)), j -> {_pair_struct("1", "j", "true")})
          END,
          p -> p.star OR _bidx = 0 OR NOT p.b0_eq)
        """
    )
    return (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select(
            "p.key_a",
            "p.key_b",
            F.try_divide(F.col("p.isz"), F.col("p.usz") - F.col("p.isz")).alias(
                "jaccard"
            ),
            "p.star",
        )
    )
