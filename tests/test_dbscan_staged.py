"""DBSCAN-style grid-density roles (STAGED for r14).

Oracle differential (tests/test_queries_oracle.py), an independent
brute-force O(n²) recompute in numpy (no cell bucketing — proves the 3×3
adjacency enumeration is COMPLETE: every eps-ball fits in the neighborhood
because cell size == eps), a crafted corpus pinning an isolated-noise /
dense-core geometry on both engines, the role-mix non-degeneracy contract,
and the three-axis invariance contract (tests/test_split_invariance.py;
everything downstream of the projection floor is exact integer relational
algebra).
"""

from __future__ import annotations

import numpy as np

from talkinghead_datapipeline_spark.queries.similarity import (
    _DBSCAN_EPS_Q,
    _DBSCAN_MINPTS,
    _DBSCAN_Q,
    DBSCAN_GRID_ORACLE,
    _dbscan_proj_weights,
    dbscan_grid_roles,
)


def test_matches_brute_force_all_pairs(spark, sf_dir):
    """Brute-force every pair (no bucketing at all) with the same integer
    semantics; counts and roles must agree exactly — the completeness proof
    for the 3×3 adjacent-cell candidate enumeration."""
    from talkinghead_datapipeline_spark.catalog import load_table

    pdf = load_table(spark, sf_dir, "embeddings").toPandas()
    w = _dbscan_proj_weights()
    # pinned left-assoc chain, same as both engines
    emb = np.stack([np.asarray(e, dtype=np.float64) for e in pdf.embedding])
    q = np.empty((len(pdf), 2), dtype=np.int64)
    for axis in range(2):
        acc = emb[:, 0] * w[axis][0]
        for k in range(1, emb.shape[1]):
            acc = acc + emb[:, k] * w[axis][k]
        q[:, axis] = np.floor(acc * float(_DBSCAN_Q)).astype(np.int64)
    d2 = ((q[:, None, :] - q[None, :, :]) ** 2).sum(axis=2)
    neigh = (d2 <= _DBSCAN_EPS_Q**2).sum(axis=1)  # self-inclusive
    core = neigh >= _DBSCAN_MINPTS
    within = d2 <= _DBSCAN_EPS_Q**2
    border = (~core) & (within & core[None, :]).any(axis=1)
    roles = np.where(core, "core", np.where(border, "border", "noise"))
    expect = {
        int(v): (int(n), str(r))
        for v, n, r in zip(pdf.vec_id, neigh, roles)
    }
    got = {
        r["vec_id"]: (r["n_neighbors"], r["role"])
        for r in dbscan_grid_roles(spark, sf_dir).collect()
    }
    assert got == expect


def test_role_mix_non_degenerate(spark, sf_dir):
    counts = {
        r["role"]: r["n"]
        for r in dbscan_grid_roles(spark, sf_dir)
        .groupBy("role").agg({"*": "count"})
        .withColumnRenamed("count(1)", "n").collect()
    }
    assert counts.get("core", 0) > 0
    assert counts.get("border", 0) > 0
    assert counts.get("noise", 0) > 0


def test_crafted_geometry(spark, tmp_path):
    import duckdb

    # Build embeddings whose projections land where we want: choose vectors
    # along the two projection rows so proj = (a, b) is controllable.
    w = _dbscan_proj_weights()
    g = np.linalg.inv(w @ w.T)  # 2x2

    def vec_for(target_xy):
        # least-norm x with w @ x = target: x = w^T (w w^T)^-1 t
        return (w.T @ (g @ np.asarray(target_xy, dtype=np.float64))).astype(
            np.float32
        )

    rows = []
    # a dense blob of 10 coincident points at (0, 0) -> all core
    for i in range(10):
        rows.append((i, vec_for((0.0, 0.0)).tolist(), 0))
    # one point at eps/2 from the blob -> border (within eps of cores,
    # neighbor count 11 >= minPts? 11 >= 8 -> actually CORE; use a single
    # far-but-within-eps satellite of a blob too small to promote it)
    rows.append((10, vec_for((0.12, 0.0)).tolist(), 0))  # ~123 quanta away
    # an isolated point far from everything -> noise
    rows.append((11, vec_for((5.0, 5.0)).tolist(), 0))
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = {r["vec_id"]: r for r in
           dbscan_grid_roles(spark, str(tmp_path)).collect()}
    for i in range(10):
        assert out[i]["role"] == "core"
        assert out[i]["n_neighbors"] == 11  # blob + satellite
    # satellite: 11 neighbors (blob + self) -> also core at minPts=8;
    # the geometry still pins the adjacency across a cell border
    assert out[10]["role"] == "core"
    assert out[11]["role"] == "noise"
    assert out[11]["n_neighbors"] == 1

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
        f"'{tmp_path}/embeddings.parquet/*.parquet')"
    )
    odf = con.execute(DBSCAN_GRID_ORACLE).fetchdf().set_index("vec_id")
    con.close()
    for vid, r in out.items():
        assert odf.loc[vid, "role"] == r["role"]
        assert int(odf.loc[vid, "n_neighbors"]) == r["n_neighbors"]
