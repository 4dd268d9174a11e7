"""CLI batch run — the Spark-native equivalent of the reference's run.py
(SURVEY §3.1; /root/reference/run.py:17-51).

Same surface, same flags::

    python -m talkinghead_datapipeline_spark.run \\
        --graph configs/mead_a2en_vid2vid.json \\
        --inputs inputs.json \\
        --output_dir ./datasets/dpl_cache \\
        [--report_name report.json] [--chunk_size 50] [--test_run] [--verbose]

Differences by design (Spark owns physical execution):

- ``--graph`` may use the reference's node vocabulary (VideoToImagesNode,
  Wav2vecNode, … from plans.reference_compat), this engine's built-in one
  (source_parquet, join, aggregate, … from plans.graph) or both: the two
  share one registry and one builder.
- ``--inputs`` is the same ``{key: path}`` JSON. A path ending in
  ``.parquet`` (file or directory) binds as a parquet table; any other
  directory binds as a recursive binary-file scan (E1) with the derived
  clip-name key (E2), exposed as ``(clip_name, <key> binary)`` — the shape
  every compat node consumes.
- ``--chunk_size`` is accepted and recorded in the report but does not
  change semantics: the reference chunks to bound single-machine memory
  (run.py:24, engine.py:55-74); Spark's task scheduler owns batching.
- ``--test_run`` runs the same per-node loop but, in place of each node's
  write, forces one row through every table the node bound (and through
  every input) with ``limit(1)`` (E12): nothing is materialized, and later
  nodes read the lazy lineage — same fail-fast intent as the reference's
  flag.
- The graph runs one node at a time, like the reference's
  materialize-every-intermediate engine (SURVEY §3.1 step 5): build the
  node, write every table it bound or re-bound to
  ``{output_dir}/{key}.parquet`` (the catalog-layout analog of the
  reference's per-DataType file tree), then rebind the table to the
  written parquet. Later nodes read committed parquet, not lineage, so
  each model node runs once per run and every consumer sees one version
  of its inputs.
- A table is written to a sibling temp directory and committed by
  renaming it over ``{key}.parquet`` once all of the node's tables are
  written, so a node may re-bind a key it reads (a ``filter`` whose
  output is its input).
- The report carries one entry per table, in the order the tables were
  first bound: row counts instead of per-node index ranges, and for each
  written table the rows its node quarantined with one sample error
  (E8; 0 and null for tables with no error channel).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time
import uuid
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.plans.graph import GraphContext

DEFAULT_OUTPUT_DIR = "./datasets/dpl_cache"
DEFAULT_REPORT_NAME = "report.json"


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    parser = argparse.ArgumentParser(prog="talkinghead_datapipeline_spark.run")
    parser.add_argument("--graph", type=os.path.abspath, required=True)
    parser.add_argument("--inputs", type=os.path.abspath, required=True)
    parser.add_argument("--output_dir", type=os.path.abspath, default=DEFAULT_OUTPUT_DIR)
    parser.add_argument("--report_name", type=str, default=DEFAULT_REPORT_NAME)
    parser.add_argument("--verbose", action="store_true")
    parser.add_argument("--chunk_size", type=int, default=50)
    parser.add_argument("--test_run", action="store_true")
    return parser.parse_args(argv)


def bind_input(spark: SparkSession, key: str, path: str) -> DataFrame:
    """E5 path binding for one input: parquet table or binary dir scan."""
    if path.rstrip("/").endswith(".parquet") or (
        os.path.isdir(path)
        and any(n.endswith(".parquet") for n in os.listdir(path))
    ):
        return spark.read.parquet(path)
    from talkinghead_datapipeline_spark.sources.media import scan_binary_dir

    scan = scan_binary_dir(spark, path)
    return scan.select("clip_name", F.col("content").alias(key))


def _write_node(ctx: GraphContext, keys: list[str], output_dir: str) -> Iterator[tuple]:
    """Write the tables ``keys`` of one built node and rebind each in
    ``ctx`` to its written parquet. Every table goes to a sibling temp
    directory first and is renamed over ``{key}.parquet`` only after all
    of them are written, since the node's lineage may read the old file.
    If a write fails, every temp directory of the node is removed before
    the error propagates; tables committed by earlier nodes stay as they
    are. Yields ``(key, built df, report fields)`` per table."""
    tmps = [os.path.join(output_dir, f"{key}.parquet.tmp-{uuid.uuid4().hex}") for key in keys]
    staged = []
    try:
        for key, tmp in zip(keys, tmps):
            t0 = time.perf_counter()
            df = ctx.tables[key]
            # the row count rides the write job as an observed metric: no
            # second read-back scan per table.
            rows = Observation(f"rows_{key}")
            df.observe(rows, F.count(F.lit(1)).alias("n")).write.parquet(tmp)
            staged.append((key, df, tmp, rows, time.perf_counter() - t0))
    except BaseException:
        for tmp in tmps:
            shutil.rmtree(tmp, ignore_errors=True)
        raise
    for key, df, tmp, rows, sec in staged:
        t0 = time.perf_counter()
        path = os.path.join(output_dir, f"{key}.parquet")
        if os.path.isdir(path):
            shutil.rmtree(path)
        os.replace(tmp, path)
        # passing the schema spares one schema-inference job per table
        ctx.put(key, ctx.spark.read.schema(df.schema).parquet(path))
        quarantine = ctx.observations.get(key)
        yield key, df, {
            "total": rows.get["n"],
            "sec": sec + time.perf_counter() - t0,
            **(quarantine.get if quarantine else {"quarantined": 0, "sample_error": None}),
        }


def _smoke(tables: dict[str, DataFrame], keys: list[str]) -> Iterator[tuple]:
    """Force one row through each table ``keys`` of ``tables`` (E12
    fail-fast smoke). Yields ``(key, df, report fields)`` per table."""
    for key in keys:
        t0 = time.perf_counter()
        n = len(tables[key].limit(1).collect())
        yield key, tables[key], {"total": n, "sec": time.perf_counter() - t0}


def run(
    spark: SparkSession,
    graph_path: str,
    inputs: dict[str, str],
    output_dir: str,
    report_name: str = DEFAULT_REPORT_NAME,
    chunk_size: int = 50,
    test_run: bool = False,
    verbose: bool = False,
) -> list[dict[str, Any]]:
    """Programmatic entry — returns the report (list of per-table dicts)."""
    # run_reference_graph is looked up on its module at each call, so a
    # wrapper installed there (a tracer's span) sees every node's build
    from talkinghead_datapipeline_spark.plans import reference_compat

    tables = {k: bind_input(spark, k, p) for k, p in inputs.items()}
    os.makedirs(output_dir, exist_ok=True)
    # one entry per key; a re-bound key keeps the place of its first binding
    entries: dict[str, dict[str, Any]] = {}

    def record(key: str, df: DataFrame, status: str, total: int, sec: float, **extra: Any) -> None:
        entries[key] = {
            "name": key,
            "total": total,
            "status": status,
            "columns": df.columns,
            "sec": round(sec, 3),
            "chunk_size": chunk_size,  # recorded; Spark owns batching
            **extra,
        }
        if verbose:
            print(json.dumps(entries[key]))

    if test_run:
        for key, df, fields in _smoke(tables, list(tables)):
            record(key, df, "test_run", **fields)
    else:
        for key, df in tables.items():
            record(key, df, "input", -1, 0.0)  # inputs are not re-materialized
    for spec in reference_compat.load_reference_graph(graph_path):
        ctx = reference_compat.run_reference_graph(spark, [spec], tables)
        bound = [k for k, df in ctx.tables.items() if k not in inputs and tables.get(k) is not df]
        step = _smoke(ctx.tables, bound) if test_run else _write_node(ctx, bound, output_dir)
        for key, df, fields in step:
            record(key, df, "test_run" if test_run else "written", **fields)
        tables = ctx.tables

    report = list(entries.values())
    with open(os.path.join(output_dir, report_name), "w") as f:
        json.dump(report, f, indent=2)
    return report


def main(argv: list[str] | None = None) -> None:
    from talkinghead_datapipeline_spark.session import get_spark

    args = parse_args(argv)
    with open(args.inputs) as f:
        inputs = {k: os.path.abspath(p) for k, p in json.load(f).items()}
    spark = get_spark(app_name="talkinghead_datapipeline_spark.run")
    run(
        spark,
        args.graph,
        inputs,
        args.output_dir,
        report_name=args.report_name,
        chunk_size=args.chunk_size,
        test_run=args.test_run,
        verbose=args.verbose,
    )


if __name__ == "__main__":
    main()
