"""Full-registry x4 adversarial differential (the r11 regime, as a tool).

Builds a key-shifted x4 replication of the FACT tables (orders/lineitem
shift order keys together so they still join; customers/suppliers/parts/
nations/regions stay x1 so fact:dim ratios quadruple; documents replicate
into exact duplicate-text clusters of 4; events shift event ids but keep
user ids so per-user streams quadruple; embeddings shift vec ids) and runs
EVERY registered query's Spark plan against its DuckDB oracle on those
tables, reporting hash mismatches.

Usage: python tools/x4_differential.py [sf_dir] [out_dir] [prefix] [replicas]

replicas defaults to 4 (the canonical regime); any N >= 2 builds an xN
fixture with the same key-shift scheme (manifest records it, so mixing
regimes in one out_dir forces a rebuild).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from talkinghead_datapipeline_spark.catalog import TPCH_TABLES, load_table
from talkinghead_datapipeline_spark.queries import all_queries
from talkinghead_datapipeline_spark.session import get_spark

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


def build_tables(spark, sf_dir: str, out_dir: str, replicas: int = 4) -> None:
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    # Fixture provenance manifest (ADVICE r12): the skip-if-exists reuse
    # below is only valid while the cached tables came from the SAME source
    # sf_dir and replication scheme — a rerun with a different sf_dir must
    # rebuild, not silently adjudicate against the wrong fixture.
    manifest_path = os.path.join(out_dir, "MANIFEST.json")
    manifest = {
        "sf_dir": os.path.abspath(sf_dir),
        "scheme": {"shift": SHIFT, "offset": OFFSET, "replicas": replicas},
    }
    stale = True
    if os.path.exists(manifest_path):
        try:
            with open(manifest_path) as fh:
                stale = json.load(fh) != manifest
        except (json.JSONDecodeError, OSError):
            stale = True
    if stale:
        for name in TPCH_TABLES:
            dst = os.path.join(out_dir, f"{name}.parquet")
            if os.path.exists(dst):
                import shutil

                shutil.rmtree(dst) if os.path.isdir(dst) else os.remove(dst)
        with open(manifest_path, "w") as fh:
            json.dump(manifest, fh, indent=1)
    for name in TPCH_TABLES:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if os.path.exists(dst):
            continue
        df = load_table(spark, sf_dir, name)
        if name == "events":
            # keep DuckDB's naive-timestamp semantics: write NTZ micros so
            # the oracle sees the same wall-clock values as the native
            # TIMESTAMP(NANOS) fixture (instants are unchanged)
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        if name in SHIFT:
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
                # (watermark late-drops are file-order-dependent by
                # design); keep the native single-sorted-file model
                df = df.orderBy("ts", "event_id").coalesce(1)
            else:
                df = df.repartition(8)
        df.write.mode("overwrite").parquet(dst)
        print(f"built {name}", flush=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/x4_differential"
    prefix = sys.argv[3] if len(sys.argv) > 3 else ""
    replicas = int(sys.argv[4]) if len(sys.argv) > 4 else 4

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    build_tables(spark, sf_dir, out_dir, replicas)

    from tests.oracle_harness import run_compare

    specs = {n: s for n, s in all_queries().items() if n.startswith(prefix)}
    bad, rows_only, errs = [], [], []
    t_start = time.time()
    for i, (name, spec) in enumerate(specs.items(), 1):
        t0 = time.time()
        try:
            if spec.oracle is None:
                n_rows = len(spec.spark(spark, out_dir).toPandas())
                rows_only.append(name)
                print(f"[{i}/{len(specs)}] {name} ROWS-ONLY "
                      f"({n_rows} rows, {time.time()-t0:.1f}s)",
                      flush=True)
                continue
            res = run_compare(spark, out_dir, name, spec.spark, spec.oracle)
            tag = "OK" if res.ok else "MISMATCH"
            if not res.ok:
                bad.append((name, str(res.mismatches)[:200]))
            print(f"[{i}/{len(specs)}] {name} {tag} ({time.time()-t0:.1f}s)",
                  flush=True)
        except Exception as ex:  # noqa: BLE001 — report and continue
            errs.append((name, str(ex)[:200]))
            print(f"[{i}/{len(specs)}] {name} ERROR {str(ex)[:120]}",
                  flush=True)
    print(json.dumps({
        "checked": len(specs),
        "mismatches": bad,
        "errors": errs,
        "rows_only": rows_only,
        "total_s": round(time.time() - t_start, 1),
    }), flush=True)


if __name__ == "__main__":
    main()
