"""The oracle gate: every registered query against its DuckDB oracle.

This is the local replica of the external correctness check (the contract
in ``__spark_entry__.py``), and the only test that diffs a registered query
on the shared fixture. Each case builds its query once, checks that every
top-level output column is scalar, then compares row count, column names
and values with the oracle SQL run on the same parquet tables. sf0.001 by
default; point SPARK_GRAFT_TEST_SF_DIR at the sf0.01 fixture for the
certification scale. Other tests compare against DuckDB only on crafted
inputs (``test_no_test_repeats_a_registry_compare`` keeps it that way).
"""

from __future__ import annotations

import ast
import inspect
from pathlib import Path

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from talkinghead_datapipeline_spark.queries import all_queries
from tests.oracle_harness import run_compare

_SPECS = all_queries()
_WITH_ORACLE = sorted(name for name, s in _SPECS.items() if s.oracle is not None)
_ROWS_ONLY = sorted(name for name, s in _SPECS.items() if s.oracle is None)


def _assert_scalar_columns(name, df):
    """The external harness canonicalizes results with pandas
    ``sort_values`` over all output columns, which raises ``TypeError:
    unhashable type`` on list or dict cells, so an array/map/struct
    top-level output column can never be certified. Complex types are fine
    as intermediates. The schema comes from the analyzed plan: nothing
    executes here."""
    nested = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not nested, (
        f"{name}: array/map/struct top-level output columns break the "
        f"pandas-sort canonicalizer: {nested}"
    )


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_query_matches_oracle(spark, sf_dir, name):
    spec = _SPECS[name]
    df = spec.spark(spark, sf_dir)
    _assert_scalar_columns(name, df)
    result = run_compare(spark, sf_dir, name, lambda *_: df, spec.oracle)
    assert result.ok, str(result)


def test_rows_only_queries_run(spark, sf_dir):
    """The query without an oracle (the one pinned exception of
    test_all_queries_oracled) must still return rows with a scalar-only
    schema; a plain loop, so an empty list is a trivial pass, not a
    parametrize skip."""
    for name in _ROWS_ONLY:
        df = _SPECS[name].spark(spark, sf_dir)
        _assert_scalar_columns(name, df)
        assert df.count() > 0, name


def test_all_queries_oracled():
    """Every registered query carries a DuckDB oracle — the strong driver
    check. A rows-only registration silently downgrades the driver's
    verdict for that key, so the exception list is PINNED, not open: the
    only entry is the bootstrap's xxhash64 production twin (VERDICT r12
    #5a — registered to publish the production cost in the bench HEADLINE;
    Spark-native xxhash64 has no DuckDB twin, and its value certification
    rides the md5 twin's oracle via the plan-shape-equality and
    weight-moment pins in tests/test_bootstrap_staged.py)."""
    assert _ROWS_ONLY == ["bootstrap_ci_order_value_prod"], (
        f"rows-only queries outside the pinned exception: {_ROWS_ONLY}"
    )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()).issubset(set(e.queries()))


def test_driver_priority_rotation_policy():
    """The driver checks a ~50-entry prefix of the registry each round, and
    the prefix is ROTATED (VERDICT r4 #2): staleness beats family balance.
    Policy pins: (1) every query the driver has never certified leads the
    window, so cumulative driver coverage reaches every registered query
    (len(_SPECS), all oracled); (2) every family
    keeps evidence — either a past driver-green row or a seat in the current
    prefix."""
    import json
    from pathlib import Path

    names = list(_SPECS)
    prefix = set(names[:50])
    repo = Path(__file__).resolve().parent.parent

    certified: set[str] = set()
    for f in sorted(repo.glob("CORRECTNESS_r*.json")):
        rows = json.loads(f.read_text())
        certified |= {
            k
            for k, v in rows.items()
            if (v.get("err") is None and v.get("rows_match") is not False)
            # A deliberately oracle-less query (oracle=None — e.g. the
            # xxhash64 bootstrap prod twin, Spark-native hash with no
            # DuckDB twin) records err="no_oracle" with its row count:
            # that rows-only row IS its certification — the strongest
            # check the driver can ever run for it — so it must not
            # occupy a window seat every round forever.
            or (v.get("err") == "no_oracle" and v.get("spark_rows") is not None)
        }
    never = set(names) - certified
    # REGISTRY-GROWTH GOVERNOR (VERDICT r6 #2): a registration batch that
    # would leave more never-certified queries than one 50-seat driver
    # window can absorb fails CI — round 6 registered 96 against 50 seats
    # and dropped cumulative certification 100%→76%. Growth must wait for
    # the backlog to drain: register at most (50 - len(never)) new queries
    # per round.
    assert len(never) <= 50, (
        f"{len(never)} never-driver-certified queries exceed one 50-seat "
        f"window; freeze registrations until the backlog drains. "
        f"Backlog: {sorted(never)}"
    )
    # Every never-certified query holds a seat in the 50-entry window, so
    # none is silently left out of the next driver check.
    outside = never - prefix
    assert not outside, (
        "never-driver-checked queries outside the 50-entry window: "
        f"{sorted(outside)}"
    )

    families = {
        "dedup": "minhash_lsh_near_dups",
        "similarity": "sim_lsh_bucket_topk",
        "textops": "text_bpe_token_count",
        "dataprep": "pack_token_budget",
        "streaming": "streaming_user_sessions",
        "multimodal": "multimodal_image_channel_means",
        "inference": "flame_decode_landmarks",
        "assembly": "a2en_feature_assembly",
        "timeseries": "s7_resample_linear",
        "kernels": "n10_bbox_transform_chain",
        "relational": "flagship_segment_leaders",
        "functions": "array_hof_suite",
    }
    uncovered = {
        fam: q
        for fam, q in families.items()
        if q not in prefix and q not in certified
    }
    assert not uncovered, f"families with no driver evidence at all: {uncovered}"

    # Staleness floor: the remaining seats drain the r10 tier oldest-first
    # (alphabetical); after r15 the oldest uncertified-in-5-rounds keys are
    # exactly the r10 remainder the canary spike displaced.
    r10_head = {
        "approx_quantiles_certified", "bigram_lm_doc_scores",
        "bpe_top_merge_pairs", "class_balanced_scale_path",
        "cms_heavy_hitters",
    }
    assert r10_head <= prefix, f"unseated r10-head keys: {sorted(r10_head - prefix)}"


def test_compare_is_numeric_type_sensitive():
    """Round-1 regression: Spark BIGINT 40024 vs DuckDB DOUBLE 40024.0
    passed the old ``==`` compare but failed the driver's dtype-sensitive
    hash. The hardened compare must FAIL it locally."""
    import pandas as pd

    from tests.oracle_harness import compare_frames

    spark_pdf = pd.DataFrame({"total_lines": pd.array([40024], dtype="int64")})
    oracle_pdf = pd.DataFrame({"total_lines": pd.array([40024.0], dtype="float64")})
    res = compare_frames("widening_regression", spark_pdf, oracle_pdf)
    assert not res.ok, "int-vs-float widening must be a local FAIL"
    same = compare_frames(
        "widening_ok",
        pd.DataFrame({"x": pd.array([40024.0], dtype="float64")}),
        pd.DataFrame({"x": pd.array([40024.0], dtype="float64")}),
    )
    assert same.ok


def test_duckdb_connection_reads_part_file_directories(sf_dir, tmp_path):
    """A table stored as a directory of part files (how Spark writes one)
    reads the same rows as its single-file form."""
    import os

    import pyarrow.parquet as pq

    from talkinghead_datapipeline_spark.catalog import TPCH_TABLES, table_path
    from tests.oracle_harness import duckdb_connection

    for t in TPCH_TABLES:
        if t != "nation":
            os.symlink(table_path(sf_dir, t), table_path(str(tmp_path), t))
    nation = pq.read_table(table_path(sf_dir, "nation"))
    part_dir = table_path(str(tmp_path), "nation")
    os.makedirs(part_dir)
    half = nation.num_rows // 2
    pq.write_table(nation.slice(0, half), os.path.join(part_dir, "part-00000.parquet"))
    pq.write_table(nation.slice(half), os.path.join(part_dir, "part-00001.parquet"))

    sql = "SELECT * FROM nation ORDER BY n_nationkey"
    single, split = duckdb_connection(sf_dir), duckdb_connection(str(tmp_path))
    try:
        assert split.execute(sql).fetchall() == single.execute(sql).fetchall()
        assert len(single.execute(sql).fetchall()) == nation.num_rows > 0
    finally:
        single.close()
        split.close()


def _imported_names(statements) -> dict:
    """The names that the import statements among ``statements`` bind
    (skipping a module that a test builds at run time)."""
    ns: dict = {}
    for node in statements:
        if isinstance(node, ast.Import) or (
            isinstance(node, ast.ImportFrom) and node.module != "__future__"
        ):
            code = compile(ast.Module(body=[node], type_ignores=[]), "<scan>", "exec")
            try:
                exec(code, ns)
            except ImportError:
                continue
    return ns


def test_no_test_repeats_a_registry_compare():
    """test_query_matches_oracle is the one diff of a registered query on
    the shared fixture. A ``run_compare`` call elsewhere repeats it (a
    second build and run for no new evidence) when its fixture argument is
    ``sf_dir``, its function is the registered one and its oracle is
    the registered SQL. A test that needs its own compare makes it on a
    crafted fixture (``tmp_path``)."""
    params = list(inspect.signature(run_compare).parameters)
    registered = {id(s.spark): s.oracle for s in _SPECS.values()}
    repeats = set()
    for path in sorted(Path(__file__).parent.glob("test_*.py")):
        tree = ast.parse(path.read_text())
        module_ns = _imported_names(tree.body)
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            calls = [
                node
                for node in ast.walk(fn)
                if isinstance(node, ast.Call)
                and "run_compare" in (getattr(node.func, "id", None), getattr(node.func, "attr", None))
            ]
            ns = {**module_ns, **_imported_names(ast.walk(fn))} if calls else {}
            for call in calls:
                args = dict(zip(params, call.args))
                args.update((k.arg, k.value) for k in call.keywords)
                if ast.unparse(args["sf_dir"]) != "sf_dir":
                    continue
                try:
                    spark_fn = eval(ast.unparse(args["spark_fn"]), dict(ns))
                    oracle = eval(ast.unparse(args["oracle"]), dict(ns))
                except (NameError, AttributeError):  # a local value: not the registry's
                    continue
                if id(spark_fn) in registered and registered[id(spark_fn)] == oracle:
                    repeats.add(f"{path.name}:{call.lineno} {fn.name}")
    assert not repeats, f"repeats of test_query_matches_oracle: {sorted(repeats)}"
