"""JSON graph-config → lazy DataFrame plan (SURVEY §3.1 steps 2-3).

The reference declares a linear pipeline as a JSON list of ``{name, params}``
node specs resolved through a metaclass registry (dpl/processor/engine.py:
81-92, dpl/processor/nodes/registry.py:4-19); dataflow edges are implicit —
each node reads/writes catalog keys (DataType → path convention).

Here the same surface builds a **lazy DataFrame environment**: nodes are
registered builder functions that read/write named tables in a dict; the
"execution plan" is whatever Catalyst makes of the composed DataFrames when
a sink node (or the caller) triggers an action. Binding errors — missing
input table, unknown node — surface at build time (E9 analog; Catalyst's
analyzer covers column-level checks).

``NODE_REGISTRY`` is the one registry. It holds the built-in vocabulary
below and the reference's node classes, which plans.reference_compat
registers, so one graph may mix both. plans.reference_compat's
``load_reference_graph`` validates a graph and ``run_reference_graph``
builds it.

This layer is deliberately thin: it builds, and does not schedule, chunk,
or write. ``run.run`` builds one node at a time with it, writes the node's
tables to parquet and rebinds them to the written files, so each node
executes once per run; per-clip memoization (the reference's E7/E11) lives
in streaming.incremental, and Catalyst + AQE own physical execution.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

NodeBuilder = Callable[["GraphContext", dict[str, Any]], None]

NODE_REGISTRY: dict[str, NodeBuilder] = {}


def node(name: str) -> Callable[[NodeBuilder], NodeBuilder]:
    """E10: register a node builder by name (the metaclass-registry analog)."""

    def deco(fn: NodeBuilder) -> NodeBuilder:
        if name in NODE_REGISTRY:
            raise ValueError(f"duplicate node name: {name}")
        NODE_REGISTRY[name] = fn
        return fn

    return deco


@dataclass
class GraphContext:
    spark: SparkSession
    tables: dict[str, DataFrame] = field(default_factory=dict)
    # per-key quarantine metrics, filled by the write of the table's ok rows
    observations: dict[str, Observation] = field(default_factory=dict)

    def get(self, key: str) -> DataFrame:
        if key not in self.tables:
            raise KeyError(
                f"missing input table '{key}' — bound: {sorted(self.tables)}"
            )
        return self.tables[key]

    def put(self, key: str, df: DataFrame) -> None:
        self.tables[key] = df


# --- Built-in node vocabulary ----------------------------------------------


@node("source_parquet")
def _source_parquet(ctx: GraphContext, p: dict[str, Any]) -> None:
    from talkinghead_datapipeline_spark.catalog import load_table

    ctx.put(p["output"], load_table(ctx.spark, p["sf_dir"], p["table"]))


@node("filter")
def _filter(ctx: GraphContext, p: dict[str, Any]) -> None:
    ctx.put(p["output"], ctx.get(p["input"]).filter(F.expr(p["predicate"])))


@node("select")
def _select(ctx: GraphContext, p: dict[str, Any]) -> None:
    ctx.put(p["output"], ctx.get(p["input"]).selectExpr(*p["exprs"]))


@node("join")
def _join(ctx: GraphContext, p: dict[str, Any]) -> None:
    left, right = ctx.get(p["left"]), ctx.get(p["right"])
    if p.get("broadcast_right"):
        right = F.broadcast(right)
    on = p["on"]
    cond = F.expr(on) if isinstance(on, str) else on
    ctx.put(p["output"], left.join(right, cond, p.get("how", "inner")))


@node("aggregate")
def _aggregate(ctx: GraphContext, p: dict[str, Any]) -> None:
    df = ctx.get(p["input"])
    aggs = [F.expr(e) for e in p["aggs"]]
    ctx.put(p["output"], df.groupBy(*p.get("keys", [])).agg(*aggs))


@node("window")
def _window(ctx: GraphContext, p: dict[str, Any]) -> None:
    # window exprs via SQL OVER syntax, e.g.
    # "avg(value) OVER (PARTITION BY user_id ORDER BY ts) AS win_avg"
    df = ctx.get(p["input"])
    ctx.put(p["output"], df.selectExpr("*", *p["exprs"]))


@node("resample")
def _resample(ctx: GraphContext, p: dict[str, Any]) -> None:
    from talkinghead_datapipeline_spark.operators.resample import (
        resample_linear,
        with_frame_index,
    )

    df = with_frame_index(ctx.get(p["input"]), p["key"], p["order"])
    ctx.put(
        p["output"],
        resample_linear(
            df, p["key"], p["value"], F.expr(p["num_expr"]), src_fps=p["src_fps"]
        ),
    )


@node("savgol_smooth")
def _savgol(ctx: GraphContext, p: dict[str, Any]) -> None:
    from talkinghead_datapipeline_spark.operators.rolling import savgol_smooth

    ctx.put(
        p["output"],
        savgol_smooth(
            ctx.get(p["input"]),
            p["key"],
            p["order_col"],
            p["value_cols"],
            p["window"],
            p.get("polyorder", 3),
        ),
    )


@node("dedup_exact")
def _dedup_exact(ctx: GraphContext, p: dict[str, Any]) -> None:
    from talkinghead_datapipeline_spark.operators.dedup import exact_dedup

    ctx.put(p["output"], exact_dedup(ctx.get(p["input"]), p["content"], p["key"]))


@node("sink_parquet")
def _sink_parquet(ctx: GraphContext, p: dict[str, Any]) -> None:
    df = ctx.get(p["input"])
    writer = df.write.mode(p.get("mode", "overwrite"))
    if p.get("partition_by"):
        writer = writer.partitionBy(*p["partition_by"])
    writer.parquet(p["path"])
    ctx.put(p.get("output", p["input"]), ctx.spark.read.parquet(p["path"]))


@node("dedup_minhash_pairs")
def _dedup_minhash_pairs(ctx: GraphContext, p: dict[str, Any]) -> None:
    """North-star dedup as a graph node: near-dup pairs ≥ threshold."""
    from talkinghead_datapipeline_spark.operators.dedup import minhash_candidate_pairs

    pairs = minhash_candidate_pairs(ctx.get(p["input"]), p["key"], p["text"])
    thr = p.get("threshold", 0.8)
    # listing node: verified pairs only (star rows are connectivity-only)
    ctx.put(
        p["output"],
        pairs.filter(~F.col("star") & (F.col("jaccard") >= thr)).drop("star"),
    )


@node("dedup_keep_canonical")
def _dedup_keep_canonical(ctx: GraphContext, p: dict[str, Any]) -> None:
    """Drop near-dup rows: keep the lowest key of every pair's partner set
    (greedy canonical form — at scale use connected components over pairs)."""
    df, pairs = ctx.get(p["input"]), ctx.get(p["pairs"])
    losers = pairs.select(F.col("key_b").alias(p["key"])).distinct()
    ctx.put(p["output"], df.join(losers, p["key"], "left_anti"))


@node("dedup_components")
def _dedup_components(ctx: GraphContext, p: dict[str, Any]) -> None:
    """Scale-correct canonicalization: exact-dedup pre-pass + LSH edge
    graph + pointer-jumping connected components, keep one canonical row
    per duplicate cluster (the composition dedup_keep_canonical's greedy
    form approximates)."""
    from talkinghead_datapipeline_spark.operators.components import (
        canonical_per_component,
        connected_components,
    )
    from talkinghead_datapipeline_spark.operators.dedup import dedup_edge_graph

    df = ctx.get(p["input"])
    edges = dedup_edge_graph(
        df,
        p["key"],
        p["text"],
        jaccard_min=p.get("threshold", 0.8),
        max_bucket=p.get("max_bucket", 1024),
    )
    ctx.put(p["output"], canonical_per_component(df, connected_components(edges), p["key"]))


@node("range_join")
def _range_join(ctx: GraphContext, p: dict[str, Any]) -> None:
    """Binned point-in-interval join (operators.rangejoin) — equi-join on
    (keys, time bin) + exact refine, never a nested-loop plan."""
    from talkinghead_datapipeline_spark.operators.rangejoin import (
        point_in_interval_join,
    )

    ctx.put(
        p["output"],
        point_in_interval_join(
            ctx.get(p["points"]),
            ctx.get(p["intervals"]),
            p["point_ts"],
            p["start_ts"],
            p["end_ts"],
            keys=p.get("keys", []),
            bin_width_sec=p.get("bin_width_sec", 600),
        ),
    )


@node("salted_join")
def _salted_join(ctx: GraphContext, p: dict[str, Any]) -> None:
    from talkinghead_datapipeline_spark.operators.skew import salted_join

    ctx.put(
        p["output"],
        salted_join(
            ctx.get(p["left"]),
            ctx.get(p["right"]),
            p["on"],
            n_salts=p.get("n_salts", 8),
            how=p.get("how", "inner"),
        ),
    )
