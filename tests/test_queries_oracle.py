"""Differential tests: every registered query vs its DuckDB oracle.

This is the local replica of the driver's t2 correctness gate
(sf0.001 by default; set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 for
the driver-scale run).
"""

from __future__ import annotations

import pytest

from talkinghead_datapipeline_spark.queries import all_queries
from tests.oracle_harness import run_compare

_SPECS = all_queries()
_WITH_ORACLE = sorted(name for name, s in _SPECS.items() if s.oracle is not None)
_ROWS_ONLY = sorted(name for name, s in _SPECS.items() if s.oracle is None)


@pytest.mark.slow  # heavy tier (see conftest; VERDICT r14 #3)
@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_query_matches_oracle(spark, sf_dir, name):
    spec = _SPECS[name]
    result = run_compare(spark, sf_dir, name, spec.spark, spec.oracle)
    assert result.ok, str(result)


def test_canary_queries_match_oracle(spark, sf_dir):
    """Default-tier oracle smoke over THIS round's changed-code canaries
    (the full 243-query replica above is slow-gated per VERDICT r14 #3):
    the queries whose code moved are exactly the ones a fast verify run
    must still diff against DuckDB. One loop, one session."""
    from talkinghead_datapipeline_spark.queries import R15_CANARIES

    failures = []
    for name in R15_CANARIES:
        spec = _SPECS[name]
        if spec.oracle is None:  # the pinned rows-only prod twin
            assert spec.spark(spark, sf_dir).count() > 0
            continue
        result = run_compare(spark, sf_dir, name, spec.spark, spec.oracle)
        if not result.ok:
            failures.append(str(result))
        spark.catalog.clearCache()
    assert not failures, "\n".join(failures)


def test_flame_render_pipeline_matches_oracle(spark, sf_dir):
    """Default-tier oracle compare of the one registered query that renders
    through ``ShapeRenderer.render_batch``; the n17 rasterizer queries have
    theirs in tests/test_render_*_staged.py."""
    spec = _SPECS["flame_render_pipeline"]
    result = run_compare(spark, sf_dir, "flame_render_pipeline", spec.spark, spec.oracle)
    assert result.ok, str(result)


def test_rows_only_queries_run(spark, sf_dir):
    """Queries without an oracle (currently none — all registered queries
    are oracled; see test_all_queries_oracled) still get a rows-and-schema
    smoke; a plain loop so an empty list is a trivial pass, not a
    parametrize skip."""
    for name in _ROWS_ONLY:
        df = _SPECS[name].spark(spark, sf_dir)
        assert df.count() >= 0
        assert len(df.schema.fields) > 0


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


@pytest.mark.slow  # heavy tier (see conftest; VERDICT r14 #3)
def test_output_schemas_are_scalar_only(spark, sf_dir):
    """Driver-canonicalizer guard (VERDICT r5 #2): the external comparison
    harness canonicalizes results with pandas ``sort_values`` over ALL
    output columns, which raises ``TypeError: unhashable type`` on list or
    dict cells — so an array/map/struct-typed TOP-LEVEL output column can
    never be driver-certified (r5's `emb_label_centroids` red row). Complex
    types are fine as intermediates; final projections must be scalar.
    Schema comes from the analyzed (lazy) plan — nothing executes here."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders: dict[str, list[str]] = {}
    for name, spec in _SPECS.items():
        df = spec.spark(spark, sf_dir)
        bad = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "array/map/struct top-level output columns break the driver's "
        f"pandas-sort canonicalizer: {offenders}"
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
    prefix; (3) every query whose code changed in the current round holds a
    canary seat."""
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

    # round-15 canaries (VERDICT r14 #1: changed-code beats stale, applied
    # to BOTH optimization rounds' rewrites): every query whose plan the
    # r14 batches rewrote plus every query the r15 optimization touched
    # (directly or through a shared helper — the minhash/bm25/cosine SQL
    # twins, the exact-percentile rank, the NB trainer fold) holds a seat.
    # The canonical list lives next to the window itself.
    from talkinghead_datapipeline_spark.queries import R15_CANARIES

    assert len(R15_CANARIES) == 45
    assert set(R15_CANARIES) <= prefix, (
        f"missing canaries: {sorted(set(R15_CANARIES) - prefix)}"
    )
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
