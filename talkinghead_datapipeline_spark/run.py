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
- ``--test_run`` forces one row through every bound table (E12) instead of
  materializing outputs — same fail-fast intent as the reference's flag.
- Every table the graph produces is persisted to
  ``{output_dir}/{key}.parquet`` (the catalog-layout analog of the
  reference's per-DataType file tree), and the report carries per-table
  row counts instead of per-node index ranges.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession

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
    from pyspark.sql import functions as F

    from talkinghead_datapipeline_spark.sources.media import scan_binary_dir

    scan = scan_binary_dir(spark, path)
    return scan.select("clip_name", F.col("content").alias(key))


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
    from talkinghead_datapipeline_spark.plans.reference_compat import (
        run_reference_graph,
    )

    bound = {k: bind_input(spark, k, p) for k, p in inputs.items()}
    ctx = run_reference_graph(spark, graph_path, bound)

    os.makedirs(output_dir, exist_ok=True)
    report: list[dict[str, Any]] = []
    for key, df in ctx.tables.items():
        t0 = time.perf_counter()
        if test_run:
            n = len(df.limit(1).collect())  # E12 fail-fast smoke
            status = "test_run"
        elif key in bound:
            n, status = -1, "input"  # inputs are not re-materialized
        else:
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            out_path = os.path.join(output_dir, f"{key}.parquet")
            # row count rides the write job as an observed metric — no
            # second read-back scan per table (the report stays one job
            # per output, like the reference's single pass).
            obs = Observation(f"rows_{key}")
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
                "overwrite"
            ).parquet(out_path)
            n = obs.get["n"]
            status = "written"
        entry = {
            "name": key,
            "total": n,
            "status": status,
            "columns": df.columns,
            "sec": round(time.perf_counter() - t0, 3),
            "chunk_size": chunk_size,  # recorded; Spark owns batching
        }
        report.append(entry)
        if verbose:
            print(json.dumps(entry))

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
