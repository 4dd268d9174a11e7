"""Capture the normalized analyzed plans of the pipeline graphs or the registry.

Usage: python plans/pipeline/capture.py REPO_DIR OUT_DIR SF_DIR [--registry]

Builds, in one fresh Spark session and without running a job:

- the 11 tables of ``perfbench/graphs/mead_a2en_vid2vid.json`` over one
  seed-0 clip of two frames (the ``mead_ref`` recipe);
- the tables of the built-in graph of ``test_pipeline_end_to_end`` over the
  tables in SF_DIR;

or, with ``--registry``, every registered query over the tables in SF_DIR,
in registry order (a query whose builder iterates on the driver runs those
jobs), plus each query's DuckDB oracle SQL text as ``oracle_<name>.sql``.
One file per table or query. Each holds its analyzed plan (or oracle text)
with the scratch directory replaced by ``<work>`` and every
session-dependent name masked:

- lambda variables are renumbered by the first appearance of their
  expression id (``lambda x_7#12`` and ``lambda x#40`` both become
  ``lambda <k>#``), so a Column-API lambda (named from a session-wide
  counter) and the same lambda parsed from SQL text (named ``x``/``acc``)
  print alike;
- expression IDs are stripped (the ``plans/r15`` method);
- the session-wide counters of ``catalog.pushdown_barrier`` are masked:
  the ``<n>`` of its ``_pdbar_<tag>_<n>`` metrics and the DataFrame id that
  ends a ``CollectMetrics`` line.

Two checkouts build byte-equal plans (and, with ``--registry``, byte-equal
oracle texts) when ``diff -r`` of their OUT_DIRs is empty.
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
    seen: dict[str, int] = {}

    def renumber(m: re.Match) -> str:
        return f"lambda <{seen.setdefault(m.group(1), len(seen) + 1)}>#"

    plan = re.sub(r"lambda \w+#(\d+)", renumber, plan.replace(work, "<work>"))
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"(_pdbar_\w+)_\d+\b", r"\1_<n>", plan)
    return re.sub(r"(CollectMetrics .*), \d+$", r"\1, <id>", plan, flags=re.M)


def main(repo: str, out: str, sf_dir: str, registry: bool = False) -> None:
    sys.path[:0] = [repo, os.path.join(repo, "perfbench")]
    from talkinghead_datapipeline_spark.session import get_spark

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
        if registry:
            from talkinghead_datapipeline_spark.queries import all_queries

            for name, spec in all_queries().items():
                write("registry", {name: spec.spark(spark, sf_dir)})
                if spec.oracle is not None:
                    with open(os.path.join(out, f"oracle_{name}.sql"), "w") as f:
                        f.write(spec.oracle.replace(work, "<work>") + "\n")
            return

        from talkinghead_datapipeline_spark import run as run_mod
        from talkinghead_datapipeline_spark.plans import reference_compat
        from workloads import make_clips

        clips = os.path.join(work, "clips")
        make_clips(clips, 0, 1, 2)
        bound = {"video": run_mod.bind_input(spark, "video", clips)}
        mead = os.path.join(repo, "perfbench", "graphs", "mead_a2en_vid2vid.json")
        write("mead", reference_compat.run_reference_graph(spark, mead, bound).tables, bound)

        ctx = reference_compat.run_reference_graph(spark, builtin_graph(sf_dir, work))
        write("pipeline_end_to_end", ctx.tables)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    paths = [os.path.abspath(a) for a in sys.argv[1:4]]
    main(*paths, registry="--registry" in sys.argv[4:])
