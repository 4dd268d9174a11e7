"""Capture the normalized analyzed plans of the pipeline graphs.

Usage: python plans/pipeline/capture.py REPO_DIR OUT_DIR SF_DIR

Builds, in one fresh Spark session and without running a job:

- the 11 tables of ``perfbench/graphs/mead_a2en_vid2vid.json`` over one
  seed-0 clip of two frames (the ``mead_ref`` recipe);
- the tables of the built-in graph of ``test_pipeline_end_to_end`` over the
  tables in SF_DIR;

and writes each table's analyzed plan with expression IDs stripped (the
``plans/r15`` method), the scratch directory replaced by ``<work>``, and
the session-wide counters of ``catalog.pushdown_barrier`` masked: the
``<n>`` of its ``_pdbar_<tag>_<n>`` metrics and the DataFrame id that ends
a ``CollectMetrics`` line. Lambda variables named from the session-wide
counter (``lambda x_7#``) are renumbered by order of first appearance in
each plan (``lambda x_<1>#``), so they stay distinct within a plan but do
not depend on what the session built before. One file per table. Two
checkouts build byte-equal plans when ``diff -r`` of their OUT_DIRs is
empty.
"""

import os
import re
import shutil
import sys
import tempfile


def builtin_graph(sf_dir: str, work: str) -> list[dict]:
    """The graph of tests/test_pipeline_layers.py::test_pipeline_end_to_end."""
    return [
        {"name": "source_parquet", "params": {"sf_dir": sf_dir, "table": "lineitem", "output": "lineitem"}},
        {"name": "source_parquet", "params": {"sf_dir": sf_dir, "table": "orders", "output": "orders"}},
        {"name": "filter", "params": {"input": "lineitem", "predicate": "l_quantity > 10", "output": "big_items"}},
        {
            "name": "join",
            "params": {"left": "big_items", "right": "orders", "on": "l_orderkey = o_orderkey", "how": "inner", "broadcast_right": False, "output": "joined"},
        },
        {
            "name": "aggregate",
            "params": {"input": "joined", "keys": ["o_orderstatus"], "aggs": ["round(sum(l_extendedprice), 2) AS revenue", "count(*) AS n"], "output": "summary"},
        },
        {"name": "sink_parquet", "params": {"input": "summary", "path": os.path.join(work, "summary"), "output": "summary_out"}},
    ]


def normalize(plan: str, work: str) -> str:
    """The analyzed plan ``plan`` with every session-dependent name masked."""
    plan = re.sub(r"#\d+L?", "#", plan.replace(work, "<work>"))
    plan = re.sub(r"(_pdbar_\w+)_\d+\b", r"\1_<n>", plan)
    plan = re.sub(r"(CollectMetrics .*), \d+$", r"\1, <id>", plan, flags=re.M)
    seen: dict[str, int] = {}

    def renumber(m: re.Match) -> str:
        k = seen.setdefault(m.group(0), len(seen) + 1)
        return f"lambda {m.group(1)}_<{k}>#"

    return re.sub(r"lambda (\w+?)_\d+#", renumber, plan)


def main(repo: str, out: str, sf_dir: str) -> None:
    sys.path[:0] = [repo, os.path.join(repo, "perfbench")]
    from talkinghead_datapipeline_spark import run as run_mod
    from talkinghead_datapipeline_spark.plans import graph as graph_mod
    from talkinghead_datapipeline_spark.plans import reference_compat
    from talkinghead_datapipeline_spark.session import get_spark
    from workloads import make_clips

    os.makedirs(out, exist_ok=True)
    work = tempfile.mkdtemp(prefix="plan-capture-")
    spark = get_spark(app_name="plan-capture")

    def write(prefix, tables, skip=()):
        for key, df in tables.items():
            if key in skip:
                continue
            plan = normalize(df._jdf.queryExecution().analyzed().toString(), work)
            with open(os.path.join(out, f"{prefix}_{key}.txt"), "w") as f:
                f.write(plan + "\n")

    try:
        clips = os.path.join(work, "clips")
        make_clips(clips, 0, 1, 2)
        bound = {"video": run_mod.bind_input(spark, "video", clips)}
        mead = os.path.join(repo, "perfbench", "graphs", "mead_a2en_vid2vid.json")
        write("mead", reference_compat.run_reference_graph(spark, mead, bound).tables, bound)

        graph = builtin_graph(sf_dir, work)
        if hasattr(graph_mod, "Pipeline"):  # checkouts from before the single builder
            ctx = graph_mod.Pipeline(graph).build(spark)
        else:
            ctx = reference_compat.run_reference_graph(spark, graph)
        write("pipeline_end_to_end", ctx.tables)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main(*(os.path.abspath(a) for a in sys.argv[1:4]))
