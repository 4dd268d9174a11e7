"""Connected components via iterative min-label propagation (the dedup
clustering step: near-dup PAIRS → duplicate CLUSTERS → one canonical doc).

The pairwise output of LSH/blocked dedup is a graph; picking a canonical
row per *component* (not per pair) is what actually deduplicates a corpus —
A~B, B~C must collapse A,B,C together even when A~C was never emitted.

Algorithm: Pregel-style min-label propagation. Every vertex starts labeled
with its own id; each round every vertex takes the min of its label and its
neighbors' labels; fixpoint after ≤ diameter rounds. Each round is one
shuffle (join + groupBy on vertex id); lineage is cut with localCheckpoint
so plan depth stays O(1) per round instead of O(rounds) — the standard
iterative-algorithm discipline on Spark. (GraphFrames implements the same
loop with large-star/small-star optimizations; this engine keeps the
dependency-free form.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """(id, component) for every vertex of the (key_a, key_b) pairs
    ``edges``; component = min vertex id reachable. Deterministic.

    Each round does one neighbor-min propagation PLUS one pointer-jumping
    hop (``comp ← label(comp)``), so label distance doubles per round and
    convergence needs O(log diameter) rounds — a 1M-row duplicate chain
    converges in ~20 rounds where plain propagation would need 1M. The
    changed-row check is folded into the round's own checkpointed output
    (``_prev`` column + filter-count over local data) instead of a separate
    join against the previous labels.

    Raises RuntimeError if the fixpoint is not reached within ``max_iter``
    rounds — silently-wrong labels would keep extra "canonical" duplicates
    downstream, so refusing is the only safe exit.
    """
    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")
    sym = (
        edges.select(F.col("key_a").alias("_s"), F.col("key_b").alias("_d"))
        .unionAll(edges.select(F.col("key_b").alias("_s"), F.col("key_a").alias("_d")))
        # Materialize the edge list ONCE: it is typically the output of a
        # whole dedup pipeline (LSH bands + Jaccard verify), and without
        # this checkpoint every propagation round would re-execute that
        # entire upstream plan.
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("_s").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym._s == labels.id)
            .groupBy("_d")
            .agg(F.min("comp").alias("_nmin"))
        )
        stepped = (
            labels.join(neighbor_min, labels.id == neighbor_min._d, "left")
            .select(
                "id",
                F.col("comp").alias("_prev"),
                F.least(
                    F.col("comp"), F.coalesce(F.col("_nmin"), F.col("comp"))
                ).alias("comp"),
            )
            # checkpoint: referenced twice by the pointer-jump self-join.
            .localCheckpoint(eager=True)
        )
        hop = stepped.select(F.col("id").alias("_cid"), F.col("comp").alias("_cc"))
        jumped = (
            stepped.join(hop, stepped.comp == hop._cid, "left")
            .select(
                "id",
                "_prev",
                F.least(
                    F.col("comp"), F.coalesce(F.col("_cc"), F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        # comp is monotone non-increasing, so "<" is the full changed test;
        # jumped is checkpointed — this count is a local scan, not a join.
        changed = jumped.filter(F.col("comp") < F.col("_prev")).count()
        labels = jumped.select("id", "comp")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        f"({changed} labels still changing) — raise max_iter; returning "
        "partial labels would split components and under-deduplicate"
    )


def canonical_per_component(
    df: DataFrame, components: DataFrame, key: str
) -> DataFrame:
    """Component-aware dedup: keep the component-minimum row of every
    duplicate cluster, pass rows without any near-dup edge through."""
    comp = components.withColumnRenamed("id", key)
    joined = df.join(comp, key, "left")
    keep = F.col("comp").isNull() | (F.col(key) == F.col("comp"))
    return joined.filter(keep).drop("comp")
