"""Model-node queries (SURVEY §2.b N6/N16/N17) on the batched-inference path.

Each query runs the REAL distributed inference shape — BinaryType/array
columns in, ``mapInPandas`` over Arrow batches, per-executor lazy model
singleton (the BaseResource analog, dpl/processor/nodes/base.py:30-54),
error-channel quarantine — with the deterministic stand-in models from
operators.models (GPU weights are out of scope for the oracle harness;
the real model drops in by swapping the factory).

Even with seeded numpy bases, every stub output is value-checked: the
wav2vec and FLAME oracles embed basis-derived constants as SQL literals
and recompute the features analytically, and the render pipeline's oracle
recomputes a fixed-pose landmark from the affine-in-betas closed form —
so the mapInPandas path is compared end-to-end on all three. The raw
frame bytes (md5 over float bytes, not SQL-expressible) are pinned by
unit tests instead. The SQL-native halves of these nodes (volume envelope
S9, code split N14, resample S7, blinks S5) have separate oracle-matched
queries.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talkinghead_datapipeline_spark.catalog import load_table
from talkinghead_datapipeline_spark.queries import register


def _wav2vec_oracle() -> str:
    # The stub is analytically invertible: the 3200-sample tiled waveform's
    # 320-sample blocks are exactly 5 embedding cycles, so every feature
    # frame equals mean(embedding) · proj, and ‖feats‖ = √T·|mean|·‖proj‖.
    # ‖proj‖ is a deterministic literal (same seeded basis the UDF loads).
    import numpy as np

    from talkinghead_datapipeline_spark.operators.models import Wav2vecStub

    proj_norm = float(np.linalg.norm(Wav2vecStub()._proj[0]))
    n_frames = int(64 * 50 / 16000 * 50 - 0.25)  # length contract → 9
    return f"""
    SELECT vec_id,
           CAST({n_frames} AS BIGINT) AS n_frames,
           CAST(8 AS BIGINT) AS feat_dim,
           round(sqrt({float(n_frames)!r})
                 * abs(list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE))) / len(embedding))
                 * {proj_norm!r}, 6) AS feat_norm
    FROM embeddings
    """


@register("wav2vec_features_stub", oracle=_wav2vec_oracle())
def wav2vec_features_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N6 wav2vec: waveform → (T, dim) features @50 fps + frame count.

    The "waveform" is each embedding tiled to 3200 samples (0.2 s @16 kHz);
    the stub preserves the reference's length contract
    ``int(len/sr*fps - 0.25)`` (dpl/wav2vec/inference.py:52). Batched via
    mapInPandas with a per-executor model singleton — the distributed form
    of the reference's DataLoader + CUDA loop (audio.py:83-92). The oracle
    checks the UDF output against the stub's closed form — a real
    end-to-end check of the Arrow/mapInPandas path, not a rows-only pass."""
    from talkinghead_datapipeline_spark.operators.inference import (
        batched_inference,
        split_error_channel,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def infer(model, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        rows = []
        for vec_id, e in zip(pdf["vec_id"], pdf["embedding"]):
            wav = np.tile(np.asarray(e, dtype=np.float64), 50)  # 3200 samples
            feats = model.features(wav)
            rows.append(
                {
                    "vec_id": vec_id,
                    "n_frames": feats.shape[0],
                    "feat_dim": feats.shape[1],
                    "feat_norm": round(float(np.linalg.norm(feats)), 6),
                }
            )
        return pd.DataFrame(rows)

    def factory():
        from talkinghead_datapipeline_spark.operators.models import Wav2vecStub

        return Wav2vecStub()

    out = batched_inference(
        emb,
        output_schema="vec_id bigint, n_frames bigint, feat_dim bigint, feat_norm double",
        model_key="wav2vec_stub",
        model_factory=factory,
        batch_fn=infer,
    )
    return split_error_channel(out)[0]


def _affine_sql(base, coefs, c: int) -> str:
    """SQL text of landmark component ``c`` of an affine-in-betas map:
    ``base[c] + Σ_k coefs[c, k] · embedding[k + 1]``, folded left to right
    with each constant as its exact ``repr`` literal."""
    terms = [repr(float(base[c]))]
    terms += [
        f"({float(coefs[c, k])!r} * CAST(embedding[{k + 1}] AS DOUBLE))"
        for k in range(coefs.shape[1])
    ]
    return " + ".join(terms)


def _flame_oracle() -> str:
    # At rest pose the full LBS pipeline (Rodrigues → kinematic chain →
    # skinning → barycentric landmarks) must reduce to an affine map of the
    # betas: every per-joint transform is exactly the identity. The oracle
    # embeds that affine map (rest_landmark_affine) as literals — so a bug
    # anywhere in the geometry pipeline (a wrong relative-transform
    # correction, a mis-normalized skinning weight) breaks the hash even
    # though the oracle itself is linear.
    from talkinghead_datapipeline_spark.operators.models import FlameLbsDecoder

    m = FlameLbsDecoder()
    base, coefs = m.rest_landmark_affine(0)

    return f"""
    SELECT vec_id,
           CAST(64 AS BIGINT) AS n_verts,
           CAST(12 AS BIGINT) AS n_landmarks,
           round({_affine_sql(base, coefs, 0)}, 6) AS lmk0_x,
           round({_affine_sql(base, coefs, 1)}, 6) AS lmk0_y
    FROM embeddings
    """


@register("flame_decode_landmarks", oracle=_flame_oracle())
def flame_decode_landmarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N16 FLAME decode with the REAL LBS math (dpl/flame/flame.py:241-312,
    dpl/flame/lbs.py:148-250): blend shapes → Rodrigues → kinematic chain →
    linear blend skinning → barycentric landmarks, in numpy over synthetic
    seeded bases. Codes are embedding slices — the same column
    code-splitting the reference does on EMOCA output
    (dpl/emoca/inference.py:95-105). The decoder basis loads once per
    executor, not per row. Decoded at rest pose, where
    the pipeline provably reduces to an affine map of the betas — which is
    what the oracle recomputes, value-checking every LBS stage end-to-end
    (the pose path is exercised by flame_render_pipeline and pinned against
    hand-computed rotations in tests). Each pandas batch is one
    ``decode_batch`` call."""
    from talkinghead_datapipeline_spark.operators.inference import (
        batched_inference,
        split_error_channel,
        stack_column,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.slice("embedding", 1, 8).alias("shape_code"),
        F.slice("embedding", 9, 8).alias("exp_code"),
    )

    def infer(model, pdf: pd.DataFrame) -> pd.DataFrame:
        verts, lmks = model.decode_batch(
            stack_column(pdf["shape_code"]), stack_column(pdf["exp_code"])
        )
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].to_numpy(),
                "n_verts": verts.shape[1],
                "n_landmarks": lmks.shape[1],
                "lmk0_x": [round(float(x), 6) for x in lmks[:, 0, 0]],
                "lmk0_y": [round(float(y), 6) for y in lmks[:, 0, 1]],
            }
        )

    def factory():
        from talkinghead_datapipeline_spark.operators.models import FlameLbsDecoder

        return FlameLbsDecoder()

    out = batched_inference(
        emb,
        output_schema=(
            "vec_id bigint, n_verts bigint, n_landmarks bigint, "
            "lmk0_x double, lmk0_y double"
        ),
        model_key="flame_stub",
        model_factory=factory,
        batch_fn=infer,
    )
    return split_error_channel(out)[0]


# Fixed probe pose for the oracle-checked posed-landmark column: nonzero
# global AND jaw rotation so Rodrigues, the kinematic chain, and the pose
# correctives all run off the identity path.
_PROBE_POSE = (0.3, -0.2, 0.1, 0.25, -0.15, 0.05)


def _flame_render_oracle() -> str:
    # At a FIXED pose the LBS pipeline is affine in the betas (rotations are
    # constants) — posed_landmark_affine pushes an affine representation
    # through the exact decode_batch steps, so these literals value-check
    # Rodrigues + kinematics + skinning at a nonzero pose, which the
    # rest-pose oracle of flame_decode_landmarks cannot see. n_bytes pins
    # the render sink contract (FRAME_HW = 16·16 payload); cam_norm checks
    # the cam metadata path.
    #
    # The proj_lmk_*_micro columns value-check the N17 orthographic
    # projection: the oracle recomputes
    # batch_orth_proj + the renderer's y/z flip from the SAME 6-decimal
    # landmark doubles and raw cam floats through the shared expression
    # text of functions.geometry.orth_project_sql — three IEEE mul/add/
    # negate ops on bit-identical inputs, so floor-to-micro display is
    # exactly deterministic (no rounding-boundary argument needed).
    import numpy as np

    from talkinghead_datapipeline_spark.functions.geometry import orth_project_sql
    from talkinghead_datapipeline_spark.operators.models import (
        FRAME_HW,
        FlameLbsDecoder,
    )

    m = FlameLbsDecoder()
    base, coefs = m.posed_landmark_affine(0, np.asarray(_PROBE_POSE))

    cam_sq = " + ".join(
        f"CAST(embedding[{i}] AS DOUBLE) * CAST(embedding[{i}] AS DOUBLE)"
        for i in (23, 24, 25)
    )
    proj = orth_project_sql(
        "posed_lmk_x", "posed_lmk_y", "posed_lmk_z", "cam_s", "cam_tx", "cam_ty"
    )
    return f"""
    WITH base AS (
      SELECT vec_id,
             round({_affine_sql(base, coefs, 0)}, 6) AS posed_lmk_x,
             round({_affine_sql(base, coefs, 1)}, 6) AS posed_lmk_y,
             round({_affine_sql(base, coefs, 2)}, 6) AS posed_lmk_z,
             CAST(embedding[23] AS DOUBLE) AS cam_s,
             CAST(embedding[24] AS DOUBLE) AS cam_tx,
             CAST(embedding[25] AS DOUBLE) AS cam_ty,
             round(sqrt({cam_sq}), 6) AS cam_norm
      FROM embeddings
    )
    SELECT vec_id,
           CAST({FRAME_HW[0] * FRAME_HW[1]} AS BIGINT) AS n_bytes,
           cam_norm,
           posed_lmk_x,
           posed_lmk_y,
           posed_lmk_z,
           CAST(floor(({proj["px"]}) * 1000000.0) AS BIGINT) AS proj_lmk_x_micro,
           CAST(floor(({proj["py"]}) * 1000000.0) AS BIGINT) AS proj_lmk_y_micro,
           CAST(floor(({proj["pz"]}) * 1000000.0) AS BIGINT) AS proj_lmk_z_micro
    FROM base
    """


@register("flame_render_pipeline", oracle=_flame_render_oracle())
def flame_render_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N16→N17 fused: the FLAME decode and the N17 camera in ONE
    mapInPandas stage over the embedding codes. What the oracle proves,
    per row:

    - decode: a landmark decoded at the fixed ``_PROBE_POSE`` from the
      row's betas. At a fixed pose the LBS decode is affine in the betas,
      and the DuckDB oracle recomputes that closed form, so the literals
      value-check Rodrigues, the kinematic chain and the skinning at a
      nonzero pose;
    - projection: that landmark's N17 orthographic projection
      (dpl/rendering/utils.py:135-145 batch_orth_proj + the y/z flip of
      dpl/processor/nodes/rendering.py:101-106), computed as codegen'd
      column expressions (functions.geometry.orth_project) from the
      certified 6-decimal landmark and the raw cam floats, displayed
      floor-to-micro;
    - the cam-metadata norm, and ``n_bytes``, the render sink's payload
      size (``FRAME_HW``: one uint8 per pixel of ShapeRenderer's frame).

    The frames themselves are not rendered here: the renderer is
    value-oracled cross-engine by n17_render_mask_zbuffer,
    n17_render_shaded_checksum and n17_render_texture_checksum, and its
    frame bytes are pinned by unit tests."""
    from talkinghead_datapipeline_spark.catalog import rebalance_for_compute
    from talkinghead_datapipeline_spark.functions.geometry import orth_project
    from talkinghead_datapipeline_spark.operators.inference import (
        batched_inference,
        split_error_channel,
        stack_column,
    )
    from talkinghead_datapipeline_spark.operators.models import (
        FRAME_HW,
        FlameLbsDecoder,
    )

    # The input is the N16 node's code split, less the pose: the landmark
    # is decoded at the fixed probe pose, so the batch body reads only the
    # betas and the cam codes.
    emb = rebalance_for_compute(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.slice("embedding", 1, 8).alias("shape_code"),
        F.slice("embedding", 9, 8).alias("exp_code"),
        F.slice("embedding", 23, 3).alias("cam_code"),
    )
    n_bytes = FRAME_HW[0] * FRAME_HW[1]

    def infer(flame, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # The probe-pose landmark is affine in the betas at a FIXED pose
        # (the same fact the oracle exploits): push the affine
        # representation once per batch (cheap, V·nb) and evaluate
        # base + coefs·betas per row. Numerically this sits ~1e-15 from the
        # decode path — four orders below the thinnest measured round(,6)
        # margin of these columns (1.8e-11 at sf0.01, tie audit), so
        # certified displays cannot move.
        probe_base, probe_coefs = flame.posed_landmark_affine(
            0, np.asarray(_PROBE_POSE, dtype=np.float64)
        )
        sh, ex, cams = (
            stack_column(pdf[c]) for c in ("shape_code", "exp_code", "cam_code")
        )
        rows = []
        for i, (vec_id, cam) in enumerate(zip(pdf["vec_id"], cams)):
            # a per-row matvec, so its reduction order does not depend on
            # the batch
            probe_lmk = probe_base + probe_coefs @ np.concatenate([sh[i], ex[i]])
            rows.append(
                {
                    "vec_id": vec_id,
                    "n_bytes": n_bytes,
                    "cam_norm": round(float(np.linalg.norm(cam)), 6),
                    "posed_lmk_x": round(float(probe_lmk[0]), 6),
                    "posed_lmk_y": round(float(probe_lmk[1]), 6),
                    "posed_lmk_z": round(float(probe_lmk[2]), 6),
                    "cam_s": float(cam[0]),
                    "cam_tx": float(cam[1]),
                    "cam_ty": float(cam[2]),
                }
            )
        return pd.DataFrame(rows)

    out = batched_inference(
        emb,
        output_schema=(
            "vec_id bigint, n_bytes bigint, cam_norm double, "
            "posed_lmk_x double, posed_lmk_y double, posed_lmk_z double, "
            "cam_s double, cam_tx double, cam_ty double"
        ),
        model_key="flame_render_stub",
        model_factory=FlameLbsDecoder,
        batch_fn=infer,
    )
    proj = orth_project(
        F.col("posed_lmk_x"), F.col("posed_lmk_y"), F.col("posed_lmk_z"),
        F.col("cam_s"), F.col("cam_tx"), F.col("cam_ty"),
    )
    return (
        split_error_channel(out)[0]
        .select(
            "vec_id",
            "n_bytes",
            "cam_norm",
            "posed_lmk_x",
            "posed_lmk_y",
            "posed_lmk_z",
            F.floor(proj["px"] * 1000000.0).cast("bigint").alias("proj_lmk_x_micro"),
            F.floor(proj["py"] * 1000000.0).cast("bigint").alias("proj_lmk_y_micro"),
            F.floor(proj["pz"] * 1000000.0).cast("bigint").alias("proj_lmk_z_micro"),
        )
    )


_RAS_IMG_SIZE = 16


def _probe_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The input of the N17 raster-tier queries: each embedding's 16 betas
    and 3 cam floats. Rasterizing is compute-dense and the local input is a
    single file, so the rows are spread across cores first."""
    from talkinghead_datapipeline_spark.catalog import rebalance_for_compute

    return rebalance_for_compute(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.slice("embedding", 1, 16).alias("betas"),
        F.slice("embedding", 23, 3).alias("cam_code"),
    )


def _probe_mesh() -> dict:
    """The model of the N17 raster-tier queries: every FLAME vertex at
    ``_PROBE_POSE`` as an affine map of the betas, (V, 3, 1 + n_betas), and
    the faces."""
    import numpy as np

    from talkinghead_datapipeline_spark.operators.models import FlameLbsDecoder

    m = FlameLbsDecoder()
    return {
        "aff": m.posed_verts_affine(np.asarray(_PROBE_POSE, dtype=np.float64)),
        "faces": m.faces,
    }


def _rasterize_probe(model: dict, pdf: pd.DataFrame) -> tuple:
    """Decode, project and rasterize a batch of ``_probe_embeddings`` rows.

    Returns the world-space vertices (B, V, 3) and ``rasterize_batch``'s
    dict. The affine map is evaluated left to right (acc = b; acc += c_k·e_k),
    the association of the oracles' ``b + c1*e1 + ... + c16*e16``, and the
    projection, flips and z+10 shift are the IEEE ops of
    ``_screen_quant_exprs``, so the quantized vertices are bit-equal across
    engines."""
    import numpy as np

    from talkinghead_datapipeline_spark.operators.inference import stack_column
    from talkinghead_datapipeline_spark.operators.rasterize import (
        quantize_verts,
        rasterize_batch,
    )

    aff = model["aff"]
    e = stack_column(pdf["betas"])
    s, tx, ty = stack_column(pdf["cam_code"]).T[:, :, None]  # (B, 1) each
    acc = np.broadcast_to(aff[..., 0], (len(e),) + aff.shape[:2]).copy()
    for k in range(e.shape[1]):
        acc = acc + aff[None, ..., k + 1] * e[:, k, None, None]
    screen = np.empty_like(acc)
    screen[..., 0] = -(s * (acc[..., 0] + tx))
    screen[..., 1] = s * (acc[..., 1] + ty)
    screen[..., 2] = (-(s * acc[..., 2])) + 10.0
    return acc, rasterize_batch(quantize_verts(screen), model["faces"], _RAS_IMG_SIZE)


def _winner_interp(ras: dict, faces, per_vert) -> list:
    """Each component of a per-vertex value (B, V, D) at every pixel of a
    ``rasterize_batch`` result, interpolated over the winning face as
    ((b0·v0) + (b1·v1)) + (b2·v2), the oracles' association order.
    Returns D arrays of (B, H, W); uncovered pixels read face 0."""
    import numpy as np

    corners = faces[np.where(ras["mask"], ras["pix_to_face"], 0)]  # (B, H, W, 3)
    v = per_vert[np.arange(len(per_vert))[:, None, None, None], corners]
    b0, b1, b2 = (ras["bary"][..., i] for i in range(3))
    return [
        ((b0 * v[..., 0, d]) + (b1 * v[..., 1, d])) + (b2 * v[..., 2, d])
        for d in range(v.shape[-1])
    ]


def _pixel_normals(acc, faces, ras: dict) -> list:
    """The unit vertex normals of the QUANTIZED world mesh (floor(v·4096),
    symmetric clamp), interpolated at every pixel: [nx, ny, nz] of (B, H, W).
    On the quantized mesh the corner crosses are exact int64 and integer sums
    are order-free, so DuckDB's SUM over the same corners gives the same
    normals; the float ``vertex_normals`` sum order is not expressible in
    SQL."""
    from talkinghead_datapipeline_spark.operators.rasterize import (
        normalize_int_vectors,
        quantize_symmetric,
        quantized_vertex_normals_batch,
    )

    u = normalize_int_vectors(quantized_vertex_normals_batch(quantize_symmetric(acc), faces))
    return _winner_interp(ras, faces, u)


def _per_mesh_stats(vec_ids, mask, sums, extrema, columns: list[str]) -> pd.DataFrame:
    """The per-mesh tail of the N17 raster-tier queries: covered-pixel
    count, the int64 sum of ``sums`` and the min and max of ``extrema``
    over the covered pixels. A mesh that covers no pixel gets 0, 0, null,
    null, as the oracles' LEFT JOIN does."""
    import numpy as np

    rows = []
    for bi, vec_id in enumerate(vec_ids):
        m = mask[bi]
        n_cov = int(m.sum())
        if n_cov:
            ext = extrema[bi][m].astype(np.int64)
            total = sums[bi][m].astype(np.int64).sum()
            rows.append((vec_id, n_cov, int(total), int(ext.min()), int(ext.max())))
        else:
            rows.append((vec_id, 0, 0, None, None))
    return pd.DataFrame(rows, columns=columns)


def _flame_affine_parts() -> dict:
    """Shared oracle-text fragments for the N17 raster-tier oracles: the
    per-vertex affine-in-betas literals of the seeded FLAME basis at the
    probe pose (vb), the topology literals (fc), the embedding projection
    (emb_cols), and the affine expression builder — used by
    ``_raster_ctes`` and ``_pixel_normal_ctes``."""
    import numpy as np

    from talkinghead_datapipeline_spark.operators.models import FlameLbsDecoder

    m = FlameLbsDecoder()
    aff = m.posed_verts_affine(np.asarray(_PROBE_POSE, dtype=np.float64))
    nb = aff.shape[-1] - 1  # 16 betas

    vb_cols = ["vid"]
    for axis in ("x", "y", "z"):
        vb_cols.append(f"b{axis}")
        vb_cols += [f"c{axis}{k}" for k in range(1, nb + 1)]
    vb_rows = []
    for vid in range(aff.shape[0]):
        vals = [str(vid)]
        for c in range(3):
            vals.append(repr(float(aff[vid, c, 0])))
            vals += [repr(float(aff[vid, c, k])) for k in range(1, nb + 1)]
        vb_rows.append("(" + ", ".join(vals) + ")")
    fc_rows = [
        f"({fid}, {int(a)}, {int(b)}, {int(c)})"
        for fid, (a, b, c) in enumerate(m.faces)
    ]

    def affine(axis: str) -> str:
        return " + ".join(
            [f"b{axis}"] + [f"c{axis}{k}*e{k}" for k in range(1, nb + 1)]
        )

    emb_cols = ",\n         ".join(
        f"CAST(embedding[{k}] AS DOUBLE) AS e{k}" for k in range(1, nb + 1)
    )
    return {
        "affine": affine,
        "emb_cols": emb_cols,
        "vb_cols_sql": ", ".join(vb_cols),
        "vb_values": ",\n      ".join(vb_rows),
        "fc_values": ",\n      ".join(fc_rows),
    }


def _screen_quant_exprs() -> tuple[str, str, str]:
    """The screen-space quantization expression texts (identical IEEE chain
    to the query's numpy path — projection, flips, z+10 shift, floor·SCALE,
    clamp)."""
    from talkinghead_datapipeline_spark.operators.rasterize import (
        COORD_CLAMP,
        SCALE,
        Z_CLAMP,
    )

    affine = _flame_affine_parts()["affine"]
    hi, zhi = float(COORD_CLAMP), float(Z_CLAMP)
    qx = (
        f"CAST(GREATEST({-hi!r}, LEAST({hi!r}, "
        f"floor((-(s * (({affine('x')}) + tx))) * {float(SCALE)!r}))) AS BIGINT)"
    )
    qy = (
        f"CAST(GREATEST({-hi!r}, LEAST({hi!r}, "
        f"floor((s * (({affine('y')}) + ty)) * {float(SCALE)!r}))) AS BIGINT)"
    )
    qz = (
        f"CAST(GREATEST(0.0, LEAST({zhi!r}, "
        f"floor(((-(s * ({affine('z')}))) + 10.0) * {float(SCALE)!r}))) AS BIGINT)"
    )
    return qx, qy, qz


def _raster_ctes() -> str:
    """The oracle front end shared by the three N17 raster-tier oracles:
    ``emb`` (betas and cam per embedding), the vertex and face literals
    ``vb``/``fc``, the quantized screen vertices ``verts``, the pixel
    centres ``px``, the triangles ``tri``, every covered (face, pixel)
    with its edge functions and interpolated z in ``hit``, and the z-buffer
    ranking ``win`` (``rn = 1`` is the winner: nearest z, ties to the
    lowest face id)."""
    from talkinghead_datapipeline_spark.operators.rasterize import SCALE

    parts = _flame_affine_parts()
    step = SCALE // _RAS_IMG_SIZE
    qx, qy, qz = _screen_quant_exprs()
    return f"""emb AS (
      SELECT vec_id,
         CAST(embedding[23] AS DOUBLE) AS s,
         CAST(embedding[24] AS DOUBLE) AS tx,
         CAST(embedding[25] AS DOUBLE) AS ty,
         {parts["emb_cols"]}
      FROM embeddings
    ),
    vb({parts["vb_cols_sql"]}) AS (VALUES
      {parts["vb_values"]}
    ),
    fc(fid, i0, i1, i2) AS (VALUES
      {parts["fc_values"]}
    ),
    verts AS (
      SELECT emb.vec_id, vb.vid,
             {qx} AS qx,
             {qy} AS qy,
             {qz} AS qz
      FROM emb CROSS JOIN vb
    ),
    px AS (
      SELECT r1.range AS pi, r2.range AS pj,
             {SCALE} - (2 * r2.range + 1) * {step} AS qpx,
             {SCALE} - (2 * r1.range + 1) * {step} AS qpy
      FROM range({_RAS_IMG_SIZE}) r1 CROSS JOIN range({_RAS_IMG_SIZE}) r2
    ),
    tri AS (
      SELECT v0.vec_id, fc.fid, fc.i0, fc.i1, fc.i2,
             v0.qx AS x0, v0.qy AS y0, v0.qz AS z0,
             v1.qx AS x1, v1.qy AS y1, v1.qz AS z1,
             v2.qx AS x2, v2.qy AS y2, v2.qz AS z2
      FROM fc
      JOIN verts v0 ON v0.vid = fc.i0
      JOIN verts v1 ON v1.vid = fc.i1 AND v1.vec_id = v0.vec_id
      JOIN verts v2 ON v2.vid = fc.i2 AND v2.vec_id = v0.vec_id
    ),
    hit AS (
      SELECT vec_id, fid, i0, i1, i2, pi, pj, e0, e1, e2, den, zpx FROM (
        SELECT t.vec_id, t.fid, t.i0, t.i1, t.i2, p.pi, p.pj,
               (t.x2-t.x1)*(p.qpy-t.y1) - (t.y2-t.y1)*(p.qpx-t.x1) AS e0,
               (t.x0-t.x2)*(p.qpy-t.y2) - (t.y0-t.y2)*(p.qpx-t.x2) AS e1,
               (t.x1-t.x0)*(p.qpy-t.y0) - (t.y1-t.y0)*(p.qpx-t.x0) AS e2,
               (t.x1-t.x0)*(t.y2-t.y0) - (t.y1-t.y0)*(t.x2-t.x0) AS den,
               CAST(((t.x2-t.x1)*(p.qpy-t.y1) - (t.y2-t.y1)*(p.qpx-t.x1)) * t.z0
                  + ((t.x0-t.x2)*(p.qpy-t.y2) - (t.y0-t.y2)*(p.qpx-t.x2)) * t.z1
                  + ((t.x1-t.x0)*(p.qpy-t.y0) - (t.y1-t.y0)*(p.qpx-t.x0)) * t.z2
                    AS DOUBLE)
                 / CAST((t.x1-t.x0)*(t.y2-t.y0) - (t.y1-t.y0)*(t.x2-t.x0)
                        AS DOUBLE) AS zpx
        FROM tri t CROSS JOIN px p
      )
      WHERE den <> 0 AND ((e0 >= 0 AND e1 >= 0 AND e2 >= 0)
                       OR (e0 <= 0 AND e1 <= 0 AND e2 <= 0))
    ),
    win AS (
      SELECT vec_id, pi, pj, fid, i0, i1, i2, e0, e1, e2, den, zpx,
             row_number() OVER (PARTITION BY vec_id, pi, pj
                                ORDER BY zpx, fid) AS rn
      FROM hit
    )"""


def _pixel_normal_ctes() -> str:
    """The quantized world mesh's unit vertex normals ``un`` (the SQL twin
    of ``_pixel_normals``) and ``wn``: at every winning (face, pixel) of
    ``_raster_ctes``, the face's corners ``i0..i2``, its barycentric
    weights ``b0..b2`` = E_i/den and the interpolated normal
    ``nxp``/``nyp``/``nzp``."""
    from talkinghead_datapipeline_spark.operators.rasterize import (
        COORD_CLAMP,
        SCALE,
    )

    affine = _flame_affine_parts()["affine"]
    hi = float(COORD_CLAMP)

    def wq(axis: str) -> str:
        # world-mesh quantization: floor(v * 4096) — ·2^12 is EXACT — with
        # the symmetric clamp; twin of rasterize.quantize_symmetric
        return (
            f"CAST(GREATEST({-hi!r}, LEAST({hi!r}, "
            f"floor((({affine(axis)})) * {float(SCALE)!r}))) AS BIGINT)"
        )

    # corner crosses of the quantized world mesh: at corner 1
    # cross(v2-v1, v0-v1), corner 2 cross(v0-v2, v1-v2), corner 0
    # cross(v1-v0, v2-v0) — utils.py:104-127 order (exact int64, order-free)
    def cross_sql(p: str, b: str, q: str) -> str:
        ax, ay, az = f"(w{p}.wx-w{b}.wx)", f"(w{p}.wy-w{b}.wy)", f"(w{p}.wz-w{b}.wz)"
        bx, by, bz = f"(w{q}.wx-w{b}.wx)", f"(w{q}.wy-w{b}.wy)", f"(w{q}.wz-w{b}.wz)"
        return (
            f"w{b}.vid, {ay}*{bz} - {az}*{by} AS cx, "
            f"{az}*{bx} - {ax}*{bz} AS cy, {ax}*{by} - {ay}*{bx} AS cz"
        )

    corner = "\n      UNION ALL\n".join(
        f"""      SELECT w{b}.vec_id, {cross_sql(p, b, q)}
      FROM fc
      JOIN wverts w0 ON w0.vid = fc.i0
      JOIN wverts w1 ON w1.vid = fc.i1 AND w1.vec_id = w0.vec_id
      JOIN wverts w2 ON w2.vid = fc.i2 AND w2.vec_id = w0.vec_id"""
        for p, b, q in (("2", "1", "0"), ("0", "2", "1"), ("1", "0", "2"))
    )
    return f"""wverts AS (
      SELECT emb.vec_id, vb.vid,
             {wq('x')} AS wx,
             {wq('y')} AS wy,
             {wq('z')} AS wz
      FROM emb CROSS JOIN vb
    ),
    corner AS (
{corner}
    ),
    vn AS (
      SELECT vec_id, vid,
             CAST(SUM(cx) AS BIGINT) AS nx,
             CAST(SUM(cy) AS BIGINT) AS ny,
             CAST(SUM(cz) AS BIGINT) AS nz
      FROM corner GROUP BY vec_id, vid
    ),
    un AS (
      SELECT vec_id, vid,
             CAST(nx AS DOUBLE) / gn AS ux,
             CAST(ny AS DOUBLE) / gn AS uy,
             CAST(nz AS DOUBLE) / gn AS uz
      FROM (
        SELECT vec_id, vid, nx, ny, nz,
               GREATEST(sqrt(((CAST(nx AS DOUBLE)*CAST(nx AS DOUBLE))
                            + (CAST(ny AS DOUBLE)*CAST(ny AS DOUBLE)))
                            + (CAST(nz AS DOUBLE)*CAST(nz AS DOUBLE))),
                        1e-06) AS gn
        FROM vn
      )
    ),
    wn AS (
      SELECT w.vec_id, w.i0, w.i1, w.i2, b0, b1, b2,
             ((b0*u0.ux) + (b1*u1.ux)) + (b2*u2.ux) AS nxp,
             ((b0*u0.uy) + (b1*u1.uy)) + (b2*u2.uy) AS nyp,
             ((b0*u0.uz) + (b1*u1.uz)) + (b2*u2.uz) AS nzp
      FROM (
        SELECT vec_id, i0, i1, i2,
               CAST(e0 AS DOUBLE) / CAST(den AS DOUBLE) AS b0,
               CAST(e1 AS DOUBLE) / CAST(den AS DOUBLE) AS b1,
               CAST(e2 AS DOUBLE) / CAST(den AS DOUBLE) AS b2
        FROM win WHERE rn = 1
      ) w
      JOIN un u0 ON u0.vec_id = w.vec_id AND u0.vid = w.i0
      JOIN un u1 ON u1.vec_id = w.vec_id AND u1.vid = w.i1
      JOIN un u2 ON u2.vec_id = w.vec_id AND u2.vid = w.i2
    )"""


def _pixel_stats_sql(src: str, name: str) -> str:
    """The per-mesh tail of the shaded and textured oracles (the SQL twin
    of ``_per_mesh_stats``): covered-pixel count and the sum, min and max
    of ``src``'s ``pix_micro``, named ``{name}_sum_micro`` and so on; a
    mesh that covers no pixel gets 0, 0, null, null."""
    return f"""agg AS (
      SELECT vec_id,
             CAST(count(*) AS BIGINT) AS covered_pixels,
             CAST(SUM(pix_micro) AS BIGINT) AS {name}_sum_micro,
             CAST(MIN(pix_micro) AS BIGINT) AS {name}_min_micro,
             CAST(MAX(pix_micro) AS BIGINT) AS {name}_max_micro
      FROM {src} GROUP BY vec_id
    )
    SELECT e.vec_id,
           COALESCE(a.covered_pixels, CAST(0 AS BIGINT)) AS covered_pixels,
           COALESCE(a.{name}_sum_micro, CAST(0 AS BIGINT)) AS {name}_sum_micro,
           a.{name}_min_micro, a.{name}_max_micro
    FROM emb e LEFT JOIN agg a USING (vec_id)
    """


def _render_mask_oracle() -> str:
    from talkinghead_datapipeline_spark.operators.rasterize import SCALE

    return f"""
    WITH {_raster_ctes()},
    agg AS (
      SELECT vec_id,
             CAST(count(*) AS BIGINT) AS mask_pixels,
             CAST(sum(fid) AS BIGINT) AS winner_face_sum,
             CAST(floor((min(zpx) / {float(SCALE)!r}) * 1000000.0) AS BIGINT)
               AS zmin_micro,
             CAST(floor((max(zpx) / {float(SCALE)!r}) * 1000000.0) AS BIGINT)
               AS zmax_micro
      FROM win WHERE rn = 1 GROUP BY vec_id
    )
    SELECT e.vec_id,
           COALESCE(a.mask_pixels, CAST(0 AS BIGINT)) AS mask_pixels,
           COALESCE(a.winner_face_sum, CAST(0 AS BIGINT)) AS winner_face_sum,
           a.zmin_micro, a.zmax_micro
    FROM emb e LEFT JOIN agg a USING (vec_id)
    """


N17_RENDER_MASK_ORACLE = _render_mask_oracle()


@register("n17_render_mask_zbuffer", oracle=N17_RENDER_MASK_ORACLE)
def n17_render_mask_zbuffer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N17 rasterizer tier, value-oracled end-to-end: probe-pose mesh ->
    orthographic projection (batch_orth_proj, the rendering node's y/z flip,
    pytorch3d's x/y flip, the renderer's z+10 shift) -> 1/4096 integer-grid
    quantization -> exact int64 edge-function coverage + z-buffer of all
    faces over the 16x16 frame. Per mesh: the covered pixel count (the
    render_mask channel), the sum of winning face ids (nearest z wins, ties
    to the lowest id) and the floor-micro min/max interpolated z (the
    barycentric z interpolation).

    The oracle re-runs the chain as relational algebra: per-vertex
    affine-in-betas literals, the same projection/quantization text, a
    pixel x face join with the same integer edge functions, and an argmin
    window. Bit-equality rests on three conditions:

    - the quantized vertices are bit-equal (``_rasterize_probe``);
    - coverage is an exact integer predicate, so shared-edge ties agree
      without a top-left rule;
    - ``rasterize`` bounds |num| <= 3*2^51 and |den| <= 2^35 (module
      docstring of operators/rasterize.py), so the one num/den division
      is an IEEE op on exactly representable int64 operands and the
      floor-micro display needs no rounding-boundary argument.

    Map-only: one mapInPandas over embeddings, no shuffle or join. The
    pixel x face cross join is oracle-side only."""
    from talkinghead_datapipeline_spark.operators.inference import (
        batched_inference,
        split_error_channel,
    )

    def infer(model, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from talkinghead_datapipeline_spark.operators.rasterize import SCALE

        _, ras = _rasterize_probe(model, pdf)
        # /SCALE, x1e6 and floor are monotone, so the min/max of the
        # per-pixel values equal the oracle's floor of min/max
        micro = np.floor((ras["zbuf"] / float(SCALE)) * 1000000.0)
        return _per_mesh_stats(
            pdf["vec_id"],
            ras["mask"],
            ras["pix_to_face"],
            micro,
            ["vec_id", "mask_pixels", "winner_face_sum", "zmin_micro", "zmax_micro"],
        )

    out = batched_inference(
        _probe_embeddings(spark, sf_dir),
        output_schema=(
            "vec_id bigint, mask_pixels bigint, winner_face_sum bigint, "
            "zmin_micro bigint, zmax_micro bigint"
        ),
        model_key="n17_rasterizer",
        model_factory=_probe_mesh,
        batch_fn=infer,
    )
    return split_error_channel(out)[0]


def _sh_chain_sql(weights) -> str:
    """The SQL twin of ``rasterize.sh_gray_chain`` over the interpolated
    normal ``nxp``/``nyp``/``nzp`` against the 9 ``weights``."""
    w = [repr(float(v)) for v in weights]
    return (
        f"(((((((({w[0]} + ({w[1]}*nxp)) + ({w[2]}*nyp)) + ({w[3]}*nzp)) "
        f"+ ({w[4]}*(nxp*nyp))) + ({w[5]}*(nxp*nzp))) + ({w[6]}*(nyp*nzp))) "
        f"+ ({w[7]}*((nxp*nxp) - (nyp*nyp)))) "
        f"+ ({w[8]}*((3.0*(nzp*nzp)) - 1.0)))"
    )


def _render_shade_oracle() -> str:
    from talkinghead_datapipeline_spark.operators.rasterize import shade_gray_weights

    shade = _sh_chain_sql(shade_gray_weights())
    alb = repr(180.0 / 255.0)
    return f"""
    WITH {_raster_ctes()},
    {_pixel_normal_ctes()},
    pxshade AS (
      SELECT vec_id,
             CAST(floor(({shade} * {alb}) * 1000000.0) AS BIGINT) AS pix_micro
      FROM wn
    ),
    {_pixel_stats_sql("pxshade", "shade")}"""


N17_RENDER_SHADE_ORACLE = _render_shade_oracle()


@register("n17_render_shaded_checksum", oracle=N17_RENDER_SHADE_ORACLE)
def n17_render_shaded_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N17 shaded-channel tier, value-oracled end-to-end: probe-pose mesh ->
    rasterize the view mesh as n17_render_mask_zbuffer does -> the
    quantized world mesh's vertex normals (``_pixel_normals``) interpolated
    per covered pixel -> the reference's nine-term SH irradiance
    (renderer.py:232-262) with ShapeRenderer's seeded sh_coeff folded to
    gray weights (irradiance is linear in the coefficients) -> x 180/255
    gray albedo (renderer.py:107-117). Per mesh: covered-pixel count and
    the floor-micro sum/min/max of the UNCLIPPED shaded value.

    Bit-equality with the oracle holds because the normals are exact
    integer sums and everything after them (sqrt-normalize with the 1e-6
    guard, barycentric weights E_i/den on exact operands, the SH chain
    against literal weights, x 180/255, x 1e6, floor) is a pinned-association
    sequence of single correctly-rounded IEEE ops (+ - x / sqrt, no libm
    ln/exp). Map-only: one mapInPandas over embeddings; the oracle's
    pixel x face join and per-vertex corner unnest are oracle-side only."""
    from talkinghead_datapipeline_spark.operators.inference import (
        batched_inference,
        split_error_channel,
    )

    def infer(model, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from talkinghead_datapipeline_spark.operators.rasterize import sh_gray_chain

        acc, ras = _rasterize_probe(model, pdf)
        nxp, nyp, nzp = _pixel_normals(acc, model["faces"], ras)
        shade = sh_gray_chain(nxp, nyp, nzp, model["weights"])
        micro = np.floor((shade * (180.0 / 255.0)) * 1000000.0)
        return _per_mesh_stats(
            pdf["vec_id"],
            ras["mask"],
            micro,
            micro,
            ["vec_id", "covered_pixels", "shade_sum_micro", "shade_min_micro", "shade_max_micro"],
        )

    def factory():
        from talkinghead_datapipeline_spark.operators.rasterize import shade_gray_weights

        return {**_probe_mesh(), "weights": shade_gray_weights()}

    out = batched_inference(
        _probe_embeddings(spark, sf_dir),
        output_schema=(
            "vec_id bigint, covered_pixels bigint, shade_sum_micro bigint, "
            "shade_min_micro bigint, shade_max_micro bigint"
        ),
        model_key="n17_shaded_rasterizer",
        model_factory=factory,
        batch_fn=infer,
    )
    return split_error_channel(out)[0]


def _texture_assets() -> dict:
    """The seeded stand-in texture assets + derived constants, shared by
    the query factory and the oracle builder (ShapeRenderer._uv_for's
    exact recipe: uv_{V} per-vertex uv, albedo_map 3x64x64, uv_ndc =
    uv·2−1 with y negated)."""
    from talkinghead_datapipeline_spark.operators.models import (
        FlameLbsDecoder,
        _seeded_rng,
    )
    from talkinghead_datapipeline_spark.operators.rasterize import (
        shade_channel_weights,
    )

    n_verts = FlameLbsDecoder().template.shape[0]
    uv = _seeded_rng(f"uv_{n_verts}").random((n_verts, 2))
    uv_ndc = uv * 2.0 - 1.0
    uv_ndc[:, 1] = -uv_ndc[:, 1]
    albedo = _seeded_rng("albedo_map").random((3, 64, 64))
    return {
        "uv_ndc": uv_ndc,
        "albedo": albedo,
        "weights": shade_channel_weights(),  # (9, 3)
    }


def _render_texture_oracle() -> str:
    assets = _texture_assets()
    uv_ndc, albedo, w = assets["uv_ndc"], assets["albedo"], assets["weights"]
    uv_rows = ",\n      ".join(
        f"({vid}, {float(uv_ndc[vid, 0])!r}, {float(uv_ndc[vid, 1])!r})"
        for vid in range(uv_ndc.shape[0])
    )
    alb_rows = ",\n      ".join(
        f"({y}, {x}, {float(albedo[0, y, x])!r}, {float(albedo[1, y, x])!r},"
        f" {float(albedo[2, y, x])!r})"
        for y in range(64)
        for x in range(64)
    )

    def tap(c: str) -> str:
        # the reference's 4-tap order with zero out-of-range taps
        return (
            f"((((COALESCE(a00.{c}, 0.0) * ((1.0-wx1)*(1.0-wy1)))"
            f" + (COALESCE(a10.{c}, 0.0) * (wx1*(1.0-wy1))))"
            f" + (COALESCE(a01.{c}, 0.0) * ((1.0-wx1)*wy1)))"
            f" + (COALESCE(a11.{c}, 0.0) * (wx1*wy1)))"
        )

    r, g, b = (f"({tap(c)} * {_sh_chain_sql(w[:, k])})" for k, c in enumerate("rgb"))
    texel = f"(({r} + {g}) + {b}) / 3.0"
    return f"""
    WITH {_raster_ctes()},
    {_pixel_normal_ctes()},
    uvt(vid, gx, gy) AS (VALUES
      {uv_rows}
    ),
    alb0(ay, ax, r, g, b) AS (VALUES
      {alb_rows}
    ),
    wb AS (
      SELECT vec_id, nxp, nyp, nzp,
             ((b0*t0.gx) + (b1*t1.gx)) + (b2*t2.gx) AS gxp,
             ((b0*t0.gy) + (b1*t1.gy)) + (b2*t2.gy) AS gyp
      FROM wn
      JOIN uvt t0 ON t0.vid = wn.i0
      JOIN uvt t1 ON t1.vid = wn.i1
      JOIN uvt t2 ON t2.vid = wn.i2
    ),
    taps AS (
      SELECT vec_id, nxp, nyp, nzp,
             CAST(floor(ix) AS BIGINT) AS x0,
             CAST(floor(iy) AS BIGINT) AS y0,
             ix - floor(ix) AS wx1,
             iy - floor(iy) AS wy1
      FROM (
        SELECT vec_id, nxp, nyp, nzp,
               (((gxp + 1.0) * 64.0) - 1.0) / 2.0 AS ix,
               (((gyp + 1.0) * 64.0) - 1.0) / 2.0 AS iy
        FROM wb
      )
    ),
    texpx AS (
      SELECT t.vec_id,
             CAST(floor(({texel}) * 1000000.0) AS BIGINT) AS pix_micro
      FROM taps t
      LEFT JOIN alb0 a00 ON a00.ay = t.y0 AND a00.ax = t.x0
      LEFT JOIN alb0 a10 ON a10.ay = t.y0 AND a10.ax = t.x0 + 1
      LEFT JOIN alb0 a01 ON a01.ay = t.y0 + 1 AND a01.ax = t.x0
      LEFT JOIN alb0 a11 ON a11.ay = t.y0 + 1 AND a11.ax = t.x0 + 1
    ),
    {_pixel_stats_sql("texpx", "tex")}"""


N17_RENDER_TEXTURE_ORACLE = _render_texture_oracle()


@register("n17_render_texture_checksum", oracle=N17_RENDER_TEXTURE_ORACLE)
def n17_render_texture_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N17 texture tier, value-oracled end-to-end: the reference's FULL
    textured forward composition (renderer.py:186-218) per covered pixel —
    barycentric uv interpolation (uv·2−1, y flipped, renderer.py:95-99) ->
    bilinear ``grid_sample`` of the albedo map (align_corners=False, zeros
    padding, renderer.py:188; ``rasterize.grid_sample_bilinear``) ->
    per-channel SH shading -> RGB mean. Per mesh: covered-pixel count and
    the floor-micro sum/min/max of the unclipped texel·shade product. The
    uv and albedo assets are seeded stand-ins (``_texture_assets``); the
    licensed FLAME textures drop in field-for-field.

    Bit-equality with the oracle extends the shade query's conditions: the
    uv, albedo and per-channel SH weights are constants that both engines
    read as the same repr literals, and the grid_sample chain (ix =
    ((g+1)·W−1)/2, floor, the fractional weights, the 4-tap sum in the
    reference's (x0y0, x1y0, x0y1, x1y1) order with zero out-of-range taps)
    and the ((r+g)+b)/3 mean are pinned-association sequences of single
    correctly-rounded IEEE ops. Map-only, like the shade query."""
    from talkinghead_datapipeline_spark.operators.inference import (
        batched_inference,
        split_error_channel,
    )

    def infer(model, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from talkinghead_datapipeline_spark.operators.rasterize import (
            grid_sample_bilinear,
            sh_gray_chain,
        )

        acc, ras = _rasterize_probe(model, pdf)
        normals = _pixel_normals(acc, model["faces"], ras)
        uv = np.broadcast_to(model["uv_ndc"], (len(acc),) + model["uv_ndc"].shape)
        grid = np.stack(_winner_interp(ras, model["faces"], uv), axis=-1)
        texel = grid_sample_bilinear(model["albedo"], grid)  # (3, B, H, W)
        r, g, b = (texel[c] * sh_gray_chain(*normals, model["weights"][:, c]) for c in range(3))
        micro = np.floor((((r + g) + b) / 3.0) * 1000000.0)
        return _per_mesh_stats(
            pdf["vec_id"],
            ras["mask"],
            micro,
            micro,
            ["vec_id", "covered_pixels", "tex_sum_micro", "tex_min_micro", "tex_max_micro"],
        )

    def factory():
        return {**_probe_mesh(), **_texture_assets()}

    out = batched_inference(
        _probe_embeddings(spark, sf_dir),
        output_schema=(
            "vec_id bigint, covered_pixels bigint, tex_sum_micro bigint, "
            "tex_min_micro bigint, tex_max_micro bigint"
        ),
        model_key="n17_texture_rasterizer",
        model_factory=factory,
        batch_fn=infer,
    )
    return split_error_channel(out)[0]
