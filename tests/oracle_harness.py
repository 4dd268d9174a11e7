"""Local replica of the driver's Spark-vs-DuckDB differential check.

Mirrors the contract in ``__spark_entry__.py``: run the Spark query and the
oracle SQL on the same parquet tables, then compare row count, column-name
set, and order-insensitive values (columns sorted by name, rows sorted by
canonical repr, exact equality — the driver hashes, so near-equality is a
FAIL here too).
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any

import duckdb
import numpy as np
import pandas as pd

from talkinghead_datapipeline_spark.catalog import TPCH_TABLES, table_path


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TPCH_TABLES:
        path = table_path(sf_dir, t)
        if os.path.isdir(path):  # Spark writes a table as a directory of part files
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon_value(v: Any) -> Any:
    """Canonicalize one cell for cross-engine comparison.

    Numeric values carry a TYPE-CLASS TAG ("b"/"i"/"f"/"d") so an integer
    column on one engine never equals a float column on the other — the
    driver's value hash is dtype-sensitive (round 1: Spark BIGINT 40024
    hash-mismatched DuckDB DOUBLE 40024.0 while the old ``==`` compare
    passed). A local pass must predict a driver pass.
    """
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return ("f", "NaN")
        return ("f", float(v))
    if isinstance(v, Decimal):
        return ("d", str(v))
    if isinstance(v, (pd.Timestamp,)):
        return v.to_pydatetime().isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_canon_value(x) for x in v)
    return v

def _canon_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        canon = tuple(_canon_value(v) if not (isinstance(v, float) and pd.isna(v)) else None for v in row)
        # pandas represents SQL NULL in float cols as NaN; map to None
        out.append(canon)
    out.sort(key=repr)
    return out


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    mismatches: list[str] = field(default_factory=list)

    def __str__(self) -> str:
        status = "OK " if self.ok else "FAIL"
        extra = "" if self.ok else " | " + "; ".join(self.mismatches[:5])
        return f"[{status}] {self.name}: spark={self.spark_rows} oracle={self.oracle_rows}{extra}"


def compare_frames(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> CompareResult:
    res = CompareResult(name, True, len(spark_pdf), len(oracle_pdf))
    if set(spark_pdf.columns) != set(oracle_pdf.columns):
        res.ok = False
        res.mismatches.append(
            f"columns differ: spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}"
        )
        return res
    if len(spark_pdf) != len(oracle_pdf):
        res.ok = False
        res.mismatches.append("row count differs")
        return res
    s_rows = _canon_rows(spark_pdf)
    o_rows = _canon_rows(oracle_pdf)
    n_diff = 0
    for i, (a, b) in enumerate(zip(s_rows, o_rows)):
        if a != b:
            n_diff += 1
            if n_diff <= 3:
                res.mismatches.append(f"row {i}: spark={a!r} oracle={b!r}")
    if n_diff:
        res.ok = False
        res.mismatches.append(f"{n_diff}/{len(s_rows)} rows differ")
    return res


def run_compare(spark, sf_dir: str, name: str, spark_fn, oracle: str) -> CompareResult:
    spark_pdf = spark_fn(spark, sf_dir).toPandas()
    con = duckdb_connection(sf_dir)
    try:
        oracle_pdf = con.execute(oracle).fetchdf()
    finally:
        con.close()
    return compare_frames(name, spark_pdf, oracle_pdf)


def _canon_frame(pdf):
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(cols).reset_index(drop=True)


def assert_split_invariance(spark, sf_dir, tmp_path, query_fn, table):
    """Axis 1 of the three-axis invariance contract for a staged query:
    a 4-file re-layout of its input table must reproduce the frame
    bit-for-bit (canonical column/row order; exact value equality)."""
    from talkinghead_datapipeline_spark.catalog import load_table

    load_table(spark, sf_dir, table).repartition(4).write.parquet(
        str(tmp_path / f"{table}.parquet")
    )
    base = _canon_frame(query_fn(spark, sf_dir).toPandas())
    split = _canon_frame(query_fn(spark, str(tmp_path)).toPandas())
    assert base.equals(split), f"{table}: layout-dependent result"


def assert_conf_axis_invariance(spark, sf_dir, query_fn):
    """Axes 2+3: shuffle-partition count and AQE toggle must reproduce the
    frame exactly — partial-merge order cannot move an exact pipeline.
    Restores both confs even on failure (a leaked setting would skew every
    later test in the shared session)."""
    base = _canon_frame(query_fn(spark, sf_dir).toPandas())
    sp = spark.conf.get("spark.sql.shuffle.partitions")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        spark.conf.set(
            "spark.sql.adaptive.enabled",
            "false" if aqe == "true" else "true",
        )
        alt = _canon_frame(query_fn(spark, sf_dir).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", sp)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert base.equals(alt), "conf-axis-dependent result"
