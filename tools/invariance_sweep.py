#!/usr/bin/env python
"""Full-sweep invariance probe over every registered query (round-8
tooling; the discovery side of tests/test_split_invariance.py's pinned
representatives).

For each query, compares the base-fixture result against (a) a 4-file
shuffled parquet re-write of every table, (b) a different
spark.sql.shuffle.partitions, and (c) spark.sql.adaptive.enabled
toggled — exact frame equality after canonical sort, the same
definition the pinned test uses. A flip here means the
query's output depends on input layout or partial-aggregate merge order:
driver-green today on the single-file fixture, red on a real cluster
layout. Round-8 run: 198/198 batch queries invariant on both axes; the
10 streaming queries errored and exposed the single-file-only
fixture-ingest shim (fixed in queries/streaming_queries.py —
_symlink_landing_dir).

Usage: python tools/invariance_sweep.py [sf_dir] [name_prefix]
  sf_dir       fixture to sweep (default /root/testdata/sf0.001)
  name_prefix  only sweep queries whose name starts with this

Exit code 0 always: a survey, not a gate — promote any interesting
query into tests/test_split_invariance.py::_REPRESENTATIVES instead.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from talkinghead_datapipeline_spark.catalog import TPCH_TABLES, load_table
from talkinghead_datapipeline_spark.queries import all_queries
from talkinghead_datapipeline_spark.session import get_spark
from tests.oracle_harness import _canon_frame as canon


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    prefix = sys.argv[2] if len(sys.argv) > 2 else ""

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    base_partitions = spark.conf.get("spark.sql.shuffle.partitions")

    split_dir = tempfile.mkdtemp(prefix="thdp_invariance_split_")
    for name in TPCH_TABLES:
        load_table(spark, sf_dir, name).repartition(4).write.mode(
            "overwrite"
        ).parquet(os.path.join(split_dir, f"{name}.parquet"))
    print(f"4-split fixture: {split_dir}", flush=True)

    specs = {n: s for n, s in all_queries().items() if n.startswith(prefix)}
    fails: list[tuple[str, str]] = []
    for i, (name, spec) in enumerate(specs.items()):
        t0 = time.time()
        try:
            base = canon(spec.spark(spark, sf_dir).toPandas())
            split = canon(spec.spark(spark, split_dir).toPandas())
            ok_split = base.equals(split)
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            try:
                alt = canon(spec.spark(spark, sf_dir).toPandas())
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", base_partitions)
            ok_part = base.equals(alt)
            aqe = spark.conf.get("spark.sql.adaptive.enabled")
            spark.conf.set(
                "spark.sql.adaptive.enabled",
                "false" if aqe == "true" else "true",
            )
            try:
                alt2 = canon(spec.spark(spark, sf_dir).toPandas())
            finally:
                spark.conf.set("spark.sql.adaptive.enabled", aqe)
            ok_aqe = base.equals(alt2)
            status = (
                "OK" if ok_split and ok_part and ok_aqe
                else f"FLIP split={ok_split} partitions={ok_part} aqe={ok_aqe}"
            )
        except Exception as exc:  # noqa: BLE001 — survey must not abort
            status = f"ERR {type(exc).__name__}: {exc}"[:160]
        if status != "OK":
            fails.append((name, status))
        print(
            f"[{i + 1}/{len(specs)}] {name} {status} {time.time() - t0:.1f}s",
            flush=True,
        )

    print(f"SWEEP DONE: {len(specs) - len(fails)}/{len(specs)} invariant")
    for n, s in fails:
        print("  ", n, s)
    spark.stop()


if __name__ == "__main__":
    main()
