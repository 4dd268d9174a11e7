"""N17 shaded-channel query n17_render_shaded_checksum.

Oracle differential (tests/test_queries_oracle.py), a hypothesis fuzz of
the pinned-order normalize + SH gray chain against DuckDB evaluating the
identical expression text on random integer normals and barycentric
weights (the cross-engine-exactness core of this tier), the
quantized-normal ≡ float-normal identity (the int accumulation is exact
float arithmetic too, so the two paths agree to ulps), a crafted corpus
pinning the s=0 all-degenerate empty-coverage path on both engines, and
the three-axis invariance contract (tests/test_split_invariance.py).
"""

from __future__ import annotations

import numpy as np

from talkinghead_datapipeline_spark.queries.inference_nodes import (
    _RAS_IMG_SIZE,
    N17_RENDER_SHADE_ORACLE,
    n17_render_shaded_checksum,
)


def test_sh_chain_matches_duckdb_fuzz():
    """The pinned-association numpy chain (normalize_int_vectors +
    sh_gray_chain x albedo x 1e6 floor) must be BIT-identical to DuckDB
    evaluating the same expression text on the same integer normals and
    exact-operand barycentric weights — the argument the staged oracle
    rides. Fuzz 200 random (normal triple, bary) cells."""
    import duckdb

    from talkinghead_datapipeline_spark.operators.rasterize import (
        normalize_int_vectors,
        sh_gray_chain,
        shade_gray_weights,
    )

    rng = np.random.default_rng(20260816)
    n = 200
    # three corner normals per cell, int64 in the real accumulation range
    nint = rng.integers(-(2**38), 2**38, size=(n, 3, 3))
    nint[0] = 0  # eps-guard path
    e = rng.integers(0, 2**20, size=(n, 3))  # exact int "edge function" bary
    e[:, 2] = np.maximum(1, e[:, 2])
    den = e.sum(axis=1)  # den = e0+e1+e2 exactly, as in the rasterizer
    u = normalize_int_vectors(nint)  # (n, 3corner, 3comp)
    b = e.astype(np.float64) / den.astype(np.float64)[:, None]
    nxp = ((b[:, 0] * u[:, 0, 0]) + (b[:, 1] * u[:, 1, 0])) + (b[:, 2] * u[:, 2, 0])
    nyp = ((b[:, 0] * u[:, 0, 1]) + (b[:, 1] * u[:, 1, 1])) + (b[:, 2] * u[:, 2, 1])
    nzp = ((b[:, 0] * u[:, 0, 2]) + (b[:, 1] * u[:, 1, 2])) + (b[:, 2] * u[:, 2, 2])
    w = shade_gray_weights()
    alb = 180.0 / 255.0
    expect = np.floor((sh_gray_chain(nxp, nyp, nzp, w) * alb) * 1000000.0)

    ws = [repr(float(v)) for v in w]
    shade = (
        f"(((((((({ws[0]} + ({ws[1]}*nxp)) + ({ws[2]}*nyp)) + ({ws[3]}*nzp)) "
        f"+ ({ws[4]}*(nxp*nyp))) + ({ws[5]}*(nxp*nzp))) + ({ws[6]}*(nyp*nzp))) "
        f"+ ({ws[7]}*((nxp*nxp) - (nyp*nyp)))) "
        f"+ ({ws[8]}*((3.0*(nzp*nzp)) - 1.0)))"
    )
    rows = ",".join(
        f"({i}, {nint[i,0,0]}, {nint[i,0,1]}, {nint[i,0,2]},"
        f" {nint[i,1,0]}, {nint[i,1,1]}, {nint[i,1,2]},"
        f" {nint[i,2,0]}, {nint[i,2,1]}, {nint[i,2,2]},"
        f" {e[i,0]}, {e[i,1]}, {e[i,2]}, {den[i]})"
        for i in range(n)
    )
    un = ", ".join(
        f"CAST(n{c}{a} AS DOUBLE) / GREATEST(sqrt(((CAST(n{c}x AS DOUBLE)"
        f"*CAST(n{c}x AS DOUBLE)) + (CAST(n{c}y AS DOUBLE)*CAST(n{c}y AS "
        f"DOUBLE))) + (CAST(n{c}z AS DOUBLE)*CAST(n{c}z AS DOUBLE))), 1e-06)"
        f" AS u{c}{a}"
        for c in "012" for a in "xyz"
    )
    q = f"""
    WITH t(i, n0x, n0y, n0z, n1x, n1y, n1z, n2x, n2y, n2z, e0, e1, e2, den)
      AS (VALUES {rows}),
    u AS (SELECT i, {un},
                 CAST(e0 AS DOUBLE)/CAST(den AS DOUBLE) AS b0,
                 CAST(e1 AS DOUBLE)/CAST(den AS DOUBLE) AS b1,
                 CAST(e2 AS DOUBLE)/CAST(den AS DOUBLE) AS b2 FROM t),
    p AS (SELECT i,
                 ((b0*u0x) + (b1*u1x)) + (b2*u2x) AS nxp,
                 ((b0*u0y) + (b1*u1y)) + (b2*u2y) AS nyp,
                 ((b0*u0z) + (b1*u1z)) + (b2*u2z) AS nzp FROM u)
    SELECT i, floor(({shade} * {repr(alb)}) * 1000000.0) AS micro
    FROM p ORDER BY i
    """
    got = duckdb.connect().execute(q).fetchnumpy()["micro"]
    assert np.array_equal(got, expect)


def test_quantized_normals_match_float_path():
    """quantized_vertex_normals_batch's int64 sums equal the float
    vertex_normals accumulation on the same quantized mesh (every
    intermediate < 2^53, so the float path is exact too) — direction
    semantics are the reference's, only the mesh is quantized."""
    from talkinghead_datapipeline_spark.operators.models import FlameLbsDecoder
    from talkinghead_datapipeline_spark.operators.rasterize import (
        normalize_int_vectors,
        quantized_vertex_normals_batch,
        vertex_normals,
    )

    m = FlameLbsDecoder()
    rng = np.random.default_rng(7)
    q = rng.integers(-(2**15), 2**15, size=(4, len(m.template), 3))
    ints = quantized_vertex_normals_batch(q, m.faces)
    for bi in range(q.shape[0]):
        ref = vertex_normals(q[bi].astype(np.float64), m.faces)
        got = normalize_int_vectors(ints[bi])
        assert np.abs(got - ref).max() < 1e-12


def test_crafted_corpus_degenerate_and_match(spark, tmp_path):
    import duckdb

    emb0 = [0.0] * 22 + [1.0, 0.0, 0.0] + [0.0] * 39
    emb1 = [0.0] * 22 + [0.0, 5.0, -5.0] + [0.0] * 39  # s=0: empty coverage
    emb2 = [0.5] * 22 + [-0.7, 0.25, -0.1] + [0.0] * 39
    spark.createDataFrame(
        [(0, emb0, 0), (1, emb1, 0), (2, emb2, 0)],
        "vec_id bigint, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = {r["vec_id"]: r for r in
           n17_render_shaded_checksum(spark, str(tmp_path)).collect()}
    assert out[1]["covered_pixels"] == 0
    assert out[1]["shade_sum_micro"] == 0
    assert out[1]["shade_min_micro"] is None
    assert out[0]["covered_pixels"] > 0 and out[2]["covered_pixels"] > 0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
        f"'{tmp_path}/embeddings.parquet/*.parquet')"
    )
    odf = con.execute(N17_RENDER_SHADE_ORACLE).fetchdf().set_index("vec_id")
    con.close()
    for vid, row in out.items():
        o = odf.loc[vid]
        assert row["covered_pixels"] == int(o["covered_pixels"])
        assert row["shade_sum_micro"] == int(o["shade_sum_micro"])
        for col in ("shade_min_micro", "shade_max_micro"):
            if row[col] is None:
                assert np.isnan(o[col])
            else:
                assert row[col] == int(o[col])


def test_shade_close_to_float_normal_semantics(spark, sf_dir):
    """Sanity link to ShapeRenderer semantics: the certified statistic's
    quantized-world-mesh normals perturb each vertex by < 1/4096, so the
    mean per-pixel shade must track the float-normal (unquantized world
    mesh) shade closely — the statistic certifies the SAME tier, on a grid.
    """
    from talkinghead_datapipeline_spark.catalog import load_table
    from talkinghead_datapipeline_spark.operators.models import FlameLbsDecoder
    from talkinghead_datapipeline_spark.operators.rasterize import (
        quantize_verts,
        rasterize,
        shade_gray_weights,
        sh_gray_chain,
        vertex_normals,
    )
    from talkinghead_datapipeline_spark.queries.inference_nodes import _PROBE_POSE

    m = FlameLbsDecoder()
    aff = m.posed_verts_affine(np.asarray(_PROBE_POSE, dtype=np.float64))
    w = shade_gray_weights()
    alb = 180.0 / 255.0
    pdf = load_table(spark, sf_dir, "embeddings").limit(40).toPandas()
    out = {r["vec_id"]: r for r in
           n17_render_shaded_checksum(spark, sf_dir).collect()}
    checked = 0
    for vec_id, emb in zip(pdf.vec_id, pdf.embedding):
        e = np.asarray(emb, dtype=np.float64)
        acc = aff[..., 0].copy()
        for k in range(16):
            acc = acc + aff[..., k + 1] * e[k]
        s, tx, ty = float(e[22]), float(e[23]), float(e[24])
        screen = np.empty_like(acc)
        screen[:, 0] = -(s * (acc[:, 0] + tx))
        screen[:, 1] = s * (acc[:, 1] + ty)
        screen[:, 2] = (-(s * acc[:, 2])) + 10.0
        ras = rasterize(quantize_verts(screen), m.faces, _RAS_IMG_SIZE)
        mask = ras["mask"]
        if not mask.any():
            continue
        u = vertex_normals(acc, m.faces)  # FLOAT normals, unquantized mesh
        corners = m.faces[np.where(mask, ras["pix_to_face"], 0)]
        uc = u[corners]
        b = ras["bary"]
        npx = (
            b[..., 0, None] * uc[..., 0, :]
            + b[..., 1, None] * uc[..., 1, :]
            + b[..., 2, None] * uc[..., 2, :]
        )
        shade = sh_gray_chain(npx[..., 0], npx[..., 1], npx[..., 2], w) * alb
        float_mean = float(shade[mask].mean())
        row = out[vec_id]
        got_mean = (row["shade_sum_micro"] / 1e6) / row["covered_pixels"]
        assert abs(got_mean - float_mean) < 2e-3, (vec_id, got_mean, float_mean)
        checked += 1
    assert checked >= 10
