"""N17 texture-channel query n17_render_texture_checksum.

Oracle differential (tests/test_queries_oracle.py), the inline-chain ≡
grid_sample_bilinear operator identity (the oracle's pinned 4-tap
accumulation must be bit-identical to the operator the query calls, on
random grids — connecting the certified statistic to the production code path),
the per-channel-chain ≡ sh_irradiance closeness, a crafted corpus pinning
the s=0 empty-coverage path and an out-of-range uv zero-padding case on
both engines, and the three-axis invariance contract
(tests/test_split_invariance.py).
"""

from __future__ import annotations

import numpy as np

from talkinghead_datapipeline_spark.queries.inference_nodes import (
    _texture_assets,
    N17_RENDER_TEXTURE_ORACLE,
    n17_render_texture_checksum,
)


def test_inline_chain_matches_grid_sample_operator():
    """The oracle's 4-tap chain, in its association order, must equal
    grid_sample_bilinear (which the query calls) BIT-FOR-BIT: same ix/iy
    mapping, same fractional weights, same accumulation order, same zeros
    padding — fuzz on random grids including out-of-range and exact-integer
    coordinates."""
    from talkinghead_datapipeline_spark.operators.rasterize import (
        grid_sample_bilinear,
    )

    rng = np.random.default_rng(20260813)
    img = rng.random((3, 64, 64))
    grid = rng.uniform(-1.3, 1.3, size=(40, 40, 2))
    grid[0, 0] = (-1.0, -1.0)
    grid[0, 1] = (1.0, 1.0)
    grid[0, 2] = (0.0, 0.0)
    ref = grid_sample_bilinear(img, grid)  # (3, 40, 40)
    gx, gy = grid[..., 0], grid[..., 1]
    ix = (((gx + 1.0) * 64.0) - 1.0) / 2.0
    iy = (((gy + 1.0) * 64.0) - 1.0) / 2.0
    x0 = np.floor(ix)
    y0 = np.floor(iy)
    wx1, wy1 = ix - x0, iy - y0
    x0i, y0i = x0.astype(np.int64), y0.astype(np.int64)
    for c in range(3):
        acc = np.zeros_like(ix)
        for xi, yi, wgt in (
            (x0i, y0i, (1.0 - wx1) * (1.0 - wy1)),
            (x0i + 1, y0i, wx1 * (1.0 - wy1)),
            (x0i, y0i + 1, (1.0 - wx1) * wy1),
            (x0i + 1, y0i + 1, wx1 * wy1),
        ):
            valid = (xi >= 0) & (xi < 64) & (yi >= 0) & (yi < 64)
            tapv = img[c][np.clip(yi, 0, 63), np.clip(xi, 0, 63)]
            acc = acc + tapv * (wgt * valid)
        assert np.array_equal(acc, ref[c])


def test_channel_chains_match_sh_irradiance():
    """sh_gray_chain per channel against shade_channel_weights columns must
    reproduce sh_irradiance (the reference formula) to association ulps."""
    from talkinghead_datapipeline_spark.operators.models import _seeded_rng
    from talkinghead_datapipeline_spark.operators.rasterize import (
        shade_channel_weights,
        sh_gray_chain,
        sh_irradiance,
    )

    sh = _seeded_rng("sh_lighting").normal(size=(9, 3)) * 0.3
    sh[0] += 2.0
    w = shade_channel_weights()
    rng = np.random.default_rng(5)
    n = rng.normal(size=(200, 3))
    n /= np.linalg.norm(n, axis=1, keepdims=True)
    ref = sh_irradiance(n, sh)  # (200, 3)
    for c in range(3):
        got = sh_gray_chain(n[:, 0], n[:, 1], n[:, 2], w[:, c])
        assert np.abs(got - ref[:, c]).max() < 1e-12


def test_crafted_degenerate_and_match(spark, tmp_path):
    import duckdb

    emb0 = [0.0] * 22 + [1.0, 0.0, 0.0] + [0.0] * 39
    emb1 = [0.0] * 22 + [0.0, 5.0, -5.0] + [0.0] * 39  # s=0: empty coverage
    emb2 = [0.9] * 22 + [-0.6, 0.3, -0.2] + [0.0] * 39
    spark.createDataFrame(
        [(0, emb0, 0), (1, emb1, 0), (2, emb2, 0)],
        "vec_id bigint, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = {r["vec_id"]: r for r in
           n17_render_texture_checksum(spark, str(tmp_path)).collect()}
    assert out[1]["covered_pixels"] == 0
    assert out[1]["tex_sum_micro"] == 0
    assert out[1]["tex_min_micro"] is None
    assert out[0]["covered_pixels"] > 0 and out[2]["covered_pixels"] > 0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
        f"'{tmp_path}/embeddings.parquet/*.parquet')"
    )
    odf = con.execute(N17_RENDER_TEXTURE_ORACLE).fetchdf().set_index("vec_id")
    con.close()
    for vid, row in out.items():
        o = odf.loc[vid]
        assert row["covered_pixels"] == int(o["covered_pixels"])
        assert row["tex_sum_micro"] == int(o["tex_sum_micro"])
        for col in ("tex_min_micro", "tex_max_micro"):
            if row[col] is None:
                assert np.isnan(o[col])
            else:
                assert row[col] == int(o[col])


def test_assets_match_shape_renderer_recipe():
    """The staged assets must be the EXACT ShapeRenderer stand-ins (so the
    real FLAME uv/albedo drop-in replaces both consumers at once)."""
    from talkinghead_datapipeline_spark.operators.models import ShapeRenderer

    r = ShapeRenderer()
    uv = r._uv_for(64)
    a = _texture_assets()
    expect = uv * 2.0 - 1.0
    expect[:, 1] = -expect[:, 1]
    assert np.array_equal(a["uv_ndc"], expect)
    assert np.array_equal(a["albedo"], r.albedo)
