"""Staging-time 3-SF + xN oracle sweep for NOT-yet-registered queries.

The house staging rule demands every staged query verify its Spark plan
against its DuckDB oracle at sf0.001 + sf0.01 + sf0.1 AND on the x4
adversarial replication fixture BEFORE it may take a registry seat. The
registered-query sweep lives in tools/x4_differential.py; this tool runs
the identical compare for staged (undecorated) queries, resolved by
module path, so the sweep doesn't depend on registry membership.

Usage:
  python tools/verify_staged.py [--replicas N ...] \\
      module.path:func_name:ORACLE_CONST [...]

Each positional argument names the query callable and its oracle SQL
constant inside one of the queries modules. Runs all three SFs plus one
xN replication fixture per --replicas flag (default: x4 only; pass
"--replicas 4 --replicas 16" for the full staging regime), each
built/reused at /tmp/x{N}_differential via the differential tool's
build_tables (manifest-checked), and prints one PASS/FAIL line per
cell. Exit code 0 iff every cell passes.
"""

from __future__ import annotations

import importlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from talkinghead_datapipeline_spark.session import get_spark
from tests.oracle_harness import run_compare

SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]
XN_SRC = "/root/testdata/sf0.01"


def main(argv: list[str]) -> int:
    replicas: list[int] = []
    specs: list[str] = []
    it = iter(argv)
    for a in it:
        if a == "--replicas":
            replicas.append(int(next(it)))
        else:
            specs.append(a)
    if not replicas:
        replicas = [4]

    spark = get_spark(app_name="verify_staged")
    from tools.x4_differential import build_tables

    xn_dirs = []
    for n in replicas:
        d = f"/tmp/x{n}_differential"
        build_tables(spark, XN_SRC, d, replicas=n)
        xn_dirs.append(d)

    failures = 0
    for spec in specs:
        mod_name, fn_name, oracle_name = spec.split(":")
        mod = importlib.import_module(mod_name)
        fn = getattr(mod, fn_name)
        oracle = getattr(mod, oracle_name)
        for sf_dir in SF_DIRS + xn_dirs:
            t0 = time.time()
            res = run_compare(spark, sf_dir, fn_name, fn, oracle)
            status = "PASS" if res.ok else "FAIL"
            label = os.path.basename(sf_dir)
            print(
                f"{status} {fn_name} @ {label} rows={res.spark_rows} "
                f"({time.time() - t0:.1f}s)"
            )
            if not res.ok:
                failures += 1
                for m in res.mismatches[:5]:
                    print(f"  mismatch: {m}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
