"""Full-registry differential: every registered query under altered data
regimes, checked against its DuckDB oracle or against its own base result.

Regimes (``--regimes``, comma-separated; default ``x4``):

- ``xN`` (N >= 2, oracle): a key-shifted xN replication of the FACT tables
  (orders/lineitem shift order keys together so they still join;
  customers/suppliers/parts/nations/regions stay x1 so fact:dim ratios
  grow N-fold; documents replicate into exact duplicate-text clusters of
  N; events shift event ids but keep user ids so per-user streams grow
  N-fold; embeddings shift vec ids). Each query's Spark plan is compared
  with its DuckDB oracle on those tables (``run_compare``); a query with
  no oracle is run rows-only. The adversarial duplicate/collision regime.
- ``split`` (invariance): every table re-written as 4 shuffled files.
- ``partitions`` (invariance): ``spark.sql.shuffle.partitions`` = 7.
- ``aqe`` (invariance): ``spark.sql.adaptive.enabled`` toggled.

An invariance regime compares the query's result with its result on the
base fixture, by exact frame equality after the canonical sort
(``_canon_frame``, the definition tests/test_split_invariance.py uses). A
flip means the output depends on input layout or partial-aggregate merge
order. Built fixtures are cached under ``--work`` and reused only while
their ``MANIFEST.json`` records the same source and scheme.

Usage: python tools/differential.py --sf-dir D [--work W] [--prefix P]
                                    [--regimes x4,split,partitions,aqe]

One status line per query, then one JSON summary line. A survey, not a
gate: exit code 0 always; promote a finding into a pinned test.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from talkinghead_datapipeline_spark.catalog import TPCH_TABLES, load_table
from talkinghead_datapipeline_spark.queries import all_queries
from talkinghead_datapipeline_spark.session import get_spark
from tests.oracle_harness import _canon_frame as canon
from tests.oracle_harness import run_compare

# fact table -> columns to key-shift per replica (joins within the fact
# family stay consistent; FK columns to x1 dims are NOT shifted)
SHIFT = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
OFFSET = 1_000_000_000
SPLIT_FILES = 4
INVARIANCE = ("split", "partitions", "aqe")


def build_fixture(spark, sf_dir: str, out_dir: str, scheme: dict, make) -> None:
    """Write ``make(df, name)`` of every table into ``out_dir``. Cached
    tables are reused only while MANIFEST.json records the same source
    sf_dir and scheme; otherwise they are rebuilt."""
    os.makedirs(out_dir, exist_ok=True)
    manifest_path = os.path.join(out_dir, "MANIFEST.json")
    manifest = {"sf_dir": os.path.abspath(sf_dir), "scheme": scheme}
    try:
        with open(manifest_path) as fh:
            stale = json.load(fh) != manifest
    except (json.JSONDecodeError, OSError):
        stale = True
    if stale:
        for name in TPCH_TABLES:
            dst = os.path.join(out_dir, f"{name}.parquet")
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            elif os.path.exists(dst):
                os.remove(dst)
        with open(manifest_path, "w") as fh:
            json.dump(manifest, fh, indent=1)
    for name in TPCH_TABLES:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.exists(dst):
            make(load_table(spark, sf_dir, name), name).write.mode("overwrite").parquet(dst)
            print(f"built {os.path.basename(out_dir)}/{name}", flush=True)


def replicate(replicas: int):
    from pyspark.sql import functions as F

    def make(df, name):
        if name == "events":
            # keep DuckDB's naive-timestamp semantics: write NTZ micros so
            # the oracle sees the same wall-clock values as the native
            # TIMESTAMP(NANOS) fixture (instants are unchanged)
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        if name not in SHIFT:
            return df
        parts = []
        for i in range(replicas):
            d = df
            for col in SHIFT[name]:
                d = d.withColumn(col, F.col(col) + F.lit(i * OFFSET))
            parts.append(d)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionAll(p)
        if name == "events":
            # the streaming oracles model the landing-file SEQUENCE
            # (watermark late-drops are file-order-dependent by design);
            # keep the native single-sorted-file model
            return df.orderBy("ts", "event_id").coalesce(1)
        return df.repartition(8)

    return make


def with_conf(spark, key: str, value: str, fn):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        return fn()
    finally:
        spark.conf.set(key, old)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", required=True, help="base fixture directory")
    ap.add_argument("--work", default="/tmp/differential")
    ap.add_argument("--prefix", default="")
    ap.add_argument("--regimes", default="x4")
    args = ap.parse_args()
    regimes = args.regimes.split(",")
    for r in regimes:
        if r not in INVARIANCE and not (r[:1] == "x" and r[1:].isdigit() and int(r[1:]) >= 2):
            ap.error(f"unknown regime {r!r}")

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    dirs = {}
    for r in regimes:
        if r == "split":
            dirs[r] = os.path.join(args.work, "split")
            build_fixture(spark, args.sf_dir, dirs[r], {"files": SPLIT_FILES},
                          lambda df, _: df.repartition(SPLIT_FILES))
        elif r[0] == "x":
            n = int(r[1:])
            dirs[r] = os.path.join(args.work, r)
            build_fixture(spark, args.sf_dir, dirs[r],
                          {"shift": SHIFT, "offset": OFFSET, "replicas": n}, replicate(n))

    def frame(fn, sf_dir):
        return canon(fn(spark, sf_dir).toPandas())

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    variants = {
        "split": lambda fn: frame(fn, dirs["split"]),
        "partitions": lambda fn: with_conf(
            spark, "spark.sql.shuffle.partitions", "7", lambda: frame(fn, args.sf_dir)),
        "aqe": lambda fn: with_conf(
            spark, "spark.sql.adaptive.enabled", "false" if aqe == "true" else "true",
            lambda: frame(fn, args.sf_dir)),
    }

    specs = {n: s for n, s in all_queries().items() if n.startswith(args.prefix)}
    mismatches, flips, errors, rows_only = [], [], [], []
    t_start = time.time()
    for i, (name, spec) in enumerate(specs.items(), 1):
        t0 = time.time()
        status = []
        try:
            base = frame(spec.spark, args.sf_dir) if set(regimes) & set(INVARIANCE) else None
            for r in regimes:
                if r in INVARIANCE:
                    ok = base.equals(variants[r](spec.spark))
                    status.append(f"{r}={'OK' if ok else 'FLIP'}")
                    if not ok:
                        flips.append((name, r))
                elif spec.oracle is None:
                    n_rows = len(spec.spark(spark, dirs[r]).toPandas())
                    status.append(f"{r}=ROWS-ONLY({n_rows})")
                    rows_only.append((name, r))
                else:
                    res = run_compare(spark, dirs[r], name, spec.spark, spec.oracle)
                    status.append(f"{r}={'OK' if res.ok else 'MISMATCH'}")
                    if not res.ok:
                        mismatches.append((name, r, str(res.mismatches)[:200]))
        except Exception as ex:  # noqa: BLE001 — a survey reports and continues
            status.append(f"ERROR {type(ex).__name__}: {str(ex)[:120]}")
            errors.append((name, str(ex)[:200]))
        print(f"[{i}/{len(specs)}] {name} {' '.join(status)} ({time.time() - t0:.1f}s)",
              flush=True)
    failed = {f[0] for f in mismatches + flips} | {e[0] for e in errors}
    print(json.dumps({
        "checked": len(specs),
        "regimes": regimes,
        "clean": len(specs) - len(failed),
        "mismatches": mismatches,
        "flips": flips,
        "errors": errors,
        "rows_only": rows_only,
        "total_s": round(time.time() - t_start, 1),
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
