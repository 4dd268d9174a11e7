"""N17 rasterizer query n17_render_mask_zbuffer.

Oracle differential (tests/test_queries_oracle.py), the affine-eval ≡
full-LBS-decode identity at the probe pose, an independent numpy recompute
through the module composition path (decode → view_transform →
screen_transform → quantize → rasterize — a different code path than the
query's left-to-right affine eval, so a floor flip between the two vertex
pipelines would surface here), a crafted embeddings corpus pinning the
zero-beta template mesh and the s=0 all-degenerate empty-mask path on both
engines, and the three-axis invariance contract
(tests/test_split_invariance.py; exact integer rasterization; the one
division is an IEEE op on <2^53 int64 operands)."""

from __future__ import annotations

import numpy as np

from talkinghead_datapipeline_spark.queries.inference_nodes import (
    _PROBE_POSE,
    _RAS_IMG_SIZE,
    N17_RENDER_MASK_ORACLE,
    n17_render_mask_zbuffer,
)


def test_affine_matches_decode_at_probe_pose():
    from talkinghead_datapipeline_spark.operators.models import FlameLbsDecoder

    m = FlameLbsDecoder()
    pose = np.asarray(_PROBE_POSE, dtype=np.float64)
    aff = m.posed_verts_affine(pose)
    rng = np.random.default_rng(42)
    for _ in range(10):
        sh, ex = rng.normal(size=8), rng.normal(size=8)
        betas = np.concatenate([sh, ex])
        verts_aff = aff[..., 0] + aff[..., 1:] @ betas
        verts_dec, _ = m.decode(sh, ex, pose)
        assert np.abs(verts_aff - verts_dec).max() < 1e-12


def test_matches_decode_path_recompute(spark, sf_dir):
    """Recompute every output through decode → view_transform →
    screen_transform (module composition, full LBS) instead of the query's
    affine eval; the quantized grids — and so every output — must agree."""
    from talkinghead_datapipeline_spark.catalog import load_table
    from talkinghead_datapipeline_spark.operators.models import (
        FlameLbsDecoder,
        view_transform,
    )
    from talkinghead_datapipeline_spark.operators.rasterize import (
        SCALE,
        quantize_verts,
        rasterize,
        screen_transform,
    )

    m = FlameLbsDecoder()
    pose = np.asarray(_PROBE_POSE, dtype=np.float64)
    pdf = load_table(spark, sf_dir, "embeddings").toPandas()
    out = {
        r["vec_id"]: r for r in n17_render_mask_zbuffer(spark, sf_dir).collect()
    }
    assert set(out) == set(pdf.vec_id)
    for vec_id, emb in zip(pdf.vec_id, pdf.embedding):
        e = np.asarray(emb, dtype=np.float64)
        verts, _ = m.decode(e[:8], e[8:16], pose)
        ras = rasterize(
            quantize_verts(screen_transform(view_transform(verts, e[22:25]))),
            m.faces,
            _RAS_IMG_SIZE,
        )
        row = out[vec_id]
        mask = ras["mask"]
        assert row["mask_pixels"] == int(mask.sum())
        assert row["winner_face_sum"] == int(ras["pix_to_face"][mask].sum())
        if mask.any():
            z = ras["zbuf"][mask]
            assert row["zmin_micro"] == int(
                np.floor((z.min() / float(SCALE)) * 1000000.0)
            )
            assert row["zmax_micro"] == int(
                np.floor((z.max() / float(SCALE)) * 1000000.0)
            )
        else:
            assert row["zmin_micro"] is None and row["zmax_micro"] is None


def _write_embeddings(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )


def test_crafted_corpus_template_and_degenerate(spark, tmp_path):
    import duckdb

    # row 0: zero betas (template mesh at probe pose), unit cam — real mask
    # row 1: s = 0 collapses every vertex to the pixel (0,0) ray — every
    #        face degenerate, empty mask, NULL z extrema on BOTH engines
    # row 2: zero betas, shifted + scaled cam — different, still-real mask
    emb0 = [0.0] * 22 + [1.0, 0.0, 0.0] + [0.0] * 39
    emb1 = [0.0] * 22 + [0.0, 5.0, -5.0] + [0.0] * 39
    emb2 = [0.0] * 22 + [-0.7, 0.25, -0.1] + [0.0] * 39
    _write_embeddings(
        spark, tmp_path,
        [(0, emb0, 0), (1, emb1, 0), (2, emb2, 0)],
    )
    out = {r["vec_id"]: r for r in
           n17_render_mask_zbuffer(spark, str(tmp_path)).collect()}
    assert out[1]["mask_pixels"] == 0
    assert out[1]["winner_face_sum"] == 0
    assert out[1]["zmin_micro"] is None and out[1]["zmax_micro"] is None
    assert out[0]["mask_pixels"] > 0 and out[2]["mask_pixels"] > 0
    assert out[0]["mask_pixels"] != out[2]["mask_pixels"]  # cam moved the mesh

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM read_parquet("
        f"'{tmp_path}/embeddings.parquet/*.parquet')"
    )
    odf = con.execute(N17_RENDER_MASK_ORACLE).fetchdf().set_index("vec_id")
    con.close()
    for vid, row in out.items():
        o = odf.loc[vid]
        assert row["mask_pixels"] == int(o["mask_pixels"])
        assert row["winner_face_sum"] == int(o["winner_face_sum"])
        for col in ("zmin_micro", "zmax_micro"):
            if row[col] is None:
                assert np.isnan(o[col])
            else:
                assert row[col] == int(o[col])
