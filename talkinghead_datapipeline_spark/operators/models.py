"""Deterministic stand-in models for the inference tier (SURVEY §7 phase 5).

The reference's models (wav2vec2 HF checkpoint, SFD/FAN face models, EMOCA
ResNet encoders, FLAME decoder, PyTorch3D renderer) need GPU weights that are
out of scope for the correctness harness. Each stand-in below preserves the
node's *data contract* — input/output schema, shapes, batching — while being
a pure deterministic function, so pipelines are testable end-to-end and the
real model drops in by swapping the factory.

``FlameLbsDecoder`` is special: the real FLAME decode (dpl/flame/flame.py:
241-312) is pure linear algebra, so it is implemented for REAL — blend
shapes, Rodrigues, kinematic chain, linear blend skinning, barycentric
landmarks in numpy — over synthetic seeded bases (the licensed MPG weights
file is the only thing stubbed; its npz drops in field-for-field).

Media decode (image/audio/video) is NOT implemented here — the codec
libraries are not in the runtime. ``fake_decode_image`` stands in for the
image codec; the surrounding Spark plumbing (binary columns + typed
metadata structs) is real and tested.
"""

from __future__ import annotations

import hashlib

import numpy as np


def _seeded_rng(name: str) -> np.random.Generator:
    seed = int.from_bytes(hashlib.md5(name.encode()).digest()[:8], "little")
    return np.random.default_rng(seed)


class Wav2vecStub:
    """N6 stand-in: 16 kHz waveform (float array) → (T, dim) features @ 50 fps.

    Mirrors the contract of dpl/wav2vec/inference.py:64-92: output length
    ``int(len(wav)/SR * FPS - 0.25)``, plus the volume envelope
    (mean |amp| per floor(SR/FPS)-sample block, inference.py:94-106).
    """

    SR, FPS = 16000, 50

    def __init__(self, dim: int = 8):
        self.dim = dim
        self._proj = _seeded_rng("wav2vec_proj").normal(size=(1, dim))

    def features(self, wav: np.ndarray) -> np.ndarray:
        n_frames = max(int(len(wav) / self.SR * self.FPS - 0.25), 0)
        spf = self.SR // self.FPS
        out = np.zeros((n_frames, self.dim))
        for t in range(n_frames):
            block = wav[t * spf : (t + 1) * spf]
            out[t] = block.mean() * self._proj[0] if len(block) else 0.0
        return out

    def volume(self, wav: np.ndarray) -> np.ndarray:
        spf = self.SR // self.FPS
        n = len(wav) // spf
        return np.abs(wav[: n * spf]).reshape(n, spf).mean(axis=1)


class EmocaEncoderStub:
    """N14 stand-in: crop bytes → 236-dim code split as the reference does
    (dpl/emoca/inference.py:95-105): shape 100 | tex 50 | exp 50 | pose 6 |
    cam 3 | light 27 (reshaped (9,3) downstream)."""

    SPLITS = {"shape": 100, "tex": 50, "exp": 50, "pose": 6, "cam": 3, "light": 27}

    def encode(self, crop_bytes: bytes) -> dict[str, np.ndarray]:
        digest = hashlib.md5(crop_bytes).digest()
        rng = np.random.default_rng(int.from_bytes(digest[:8], "little"))
        code = rng.normal(size=236)
        out, off = {}, 0
        for key, width in self.SPLITS.items():
            out[key] = code[off : off + width]
            off += width
        return out


class FlameLbsDecoder:
    """N16 with the REAL FLAME forward math (dpl/flame/flame.py:241-312,
    dpl/flame/lbs.py:148-250,106-145), re-derived in numpy:

      1. blend shapes:  v_shaped = template + shapedirs · [shape ‖ exp]
      2. joints:        J = J_regressor · v_shaped
      3. Rodrigues:     axis-angle pose → per-joint rotation matrices
      4. kinematics:    world transforms down the parent chain, made
                        relative to the rest pose (A_j)
      5. skinning:      T_v = Σ_j w_vj · A_j ; verts = T_v · (v_shaped +
                        pose-corrective offsets)
      6. landmarks:     barycentric mix of landmark-face corner vertices
                        (vertices2landmarks)

    The FLAME kinematic tree is [global, neck, jaw, eye_l, eye_r] with the
    reference's pose layout (global 3 ‖ jaw 3; neck/eyes at rest,
    flame.py:262-271). Bases are synthetic seeded draws — the MPG weights
    file is licensed and out of scope — so the math is exact while the
    numbers are reproducible; the real basis npz drops in field-for-field.
    Every product is an ``np.einsum``, never a ``@``: no step goes through
    BLAS, so the bits depend neither on the batch size nor on the kernel
    the host's OpenBLAS picks for its CPU (an FMA kernel rounds a
    multiply-add once, an SSE3 one twice).

    At rest pose every A_j is the identity, so the whole pipeline must
    reduce to the affine map ``rest_landmark_affine`` — which is exactly
    what the DuckDB oracle of ``flame_decode_landmarks`` checks: a value
    check of steps 1-6 end to end, not a stand-in.
    """

    PARENTS = (-1, 0, 1, 1, 1)
    N_JOINTS = len(PARENTS)
    N_VERTS, N_SHAPE, N_EXP, N_LMK = 64, 8, 8, 12

    def __init__(self):
        rng = _seeded_rng("flame_lbs_basis")
        V, J, n_lmk = self.N_VERTS, self.N_JOINTS, self.N_LMK
        self.template = rng.normal(size=(V, 3))
        self.shapedirs = rng.normal(size=(V, 3, self.N_SHAPE + self.N_EXP)) * 0.1
        self.posedirs = rng.normal(size=((J - 1) * 9, V * 3)) * 0.01
        jr = rng.random(size=(J, V))
        self.j_regressor = jr / jr.sum(axis=1, keepdims=True)
        w = rng.random(size=(V, J)) ** 2
        self.lbs_weights = w / w.sum(axis=1, keepdims=True)
        self.faces = rng.integers(0, V, size=(4 * n_lmk, 3))
        self.lmk_faces_idx = rng.choice(len(self.faces), size=n_lmk, replace=False)
        bary = rng.random(size=(n_lmk, 3))
        self.lmk_bary = bary / bary.sum(axis=1, keepdims=True)

    @staticmethod
    def _rodrigues(rot_vecs: np.ndarray) -> np.ndarray:
        """(N,3) axis-angle → (N,3,3) rotations; exact identity at zero
        (the epsilon shifts only the angle, the axis collapses to 0)."""
        angle = np.linalg.norm(rot_vecs + 1e-8, axis=1, keepdims=True)
        d = rot_vecs / angle
        c = np.cos(angle)[:, :, None]
        s = np.sin(angle)[:, :, None]
        z = np.zeros(len(rot_vecs))
        K = np.stack(
            [z, -d[:, 2], d[:, 1], d[:, 2], z, -d[:, 0], -d[:, 1], d[:, 0], z],
            axis=1,
        ).reshape(-1, 3, 3)
        K2 = np.einsum("nxy,nyz->nxz", K, K)
        return np.eye(3)[None] + s * K + (1 - c) * K2

    def _rigid_transform(self, R: np.ndarray, joints: np.ndarray) -> np.ndarray:
        """World transforms down the parent chain, relative to rest pose:
        A_j = world_j with its translation corrected by −R_world·j_rest."""
        B, J = R.shape[:2]
        rel = joints.copy()
        rel[:, 1:] -= joints[:, list(self.PARENTS[1:])]
        local = np.zeros((B, J, 4, 4))
        local[:, :, :3, :3] = R
        local[:, :, :3, 3] = rel
        local[:, :, 3, 3] = 1.0
        world = [local[:, 0]]
        for j in range(1, J):
            world.append(
                np.einsum("bxy,byz->bxz", world[self.PARENTS[j]], local[:, j])
            )
        A = np.stack(world, axis=1)
        A[:, :, :3, 3] -= np.einsum("bjxy,bjy->bjx", A[:, :, :3, :3], joints)
        return A

    def decode_batch(
        self,
        shape: np.ndarray,
        exp: np.ndarray,
        pose: np.ndarray | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """(B,ns), (B,ne), optional (B,6) → verts (B,V,3), landmarks (B,L,3).

        Batch-invariant: row i of the result is bit-equal to ``decode`` on
        row i, whatever B is, so a node may decode a whole pandas batch at
        once without moving its outputs. That is why every product here is
        an einsum and not a ``@``: BLAS gemm picks its blocking, and so its
        rounding, by B, and OpenBLAS picks its kernel (with or without fused
        multiply-add) by the host's CPU. With no step in BLAS, the output
        depends neither on the batch size nor on the host's OpenBLAS kernel
        (``tests/test_flame_lbs.py`` checks both)."""
        B = shape.shape[0]
        betas = np.concatenate(
            [shape[:, : self.N_SHAPE], exp[:, : self.N_EXP]], axis=1
        )
        full_pose = np.zeros((B, self.N_JOINTS, 3))
        if pose is not None:
            full_pose[:, 0] = pose[:, :3]  # global rotation
            full_pose[:, 2] = pose[:, 3:6]  # jaw; neck/eyes stay at rest
        v_shaped = self.template[None] + np.einsum(
            "bl,vcl->bvc", betas, self.shapedirs
        )
        joints = np.einsum("jv,bvc->bjc", self.j_regressor, v_shaped)
        R = self._rodrigues(full_pose.reshape(-1, 3)).reshape(
            B, self.N_JOINTS, 3, 3
        )
        pose_feature = (R[:, 1:] - np.eye(3)[None, None]).reshape(B, -1)
        correctives = np.einsum("bp,pk->bk", pose_feature, self.posedirs)
        v_posed = v_shaped + correctives.reshape(B, -1, 3)
        A = self._rigid_transform(R, joints)
        T = np.einsum("vj,bjxy->bvxy", self.lbs_weights, A)
        verts = (
            np.einsum("bvxy,bvy->bvx", T[:, :, :3, :3], v_posed)
            + T[:, :, :3, 3]
        )
        corners = verts[:, self.faces[self.lmk_faces_idx]]  # (B, L, 3, 3)
        lmks = np.einsum("blfc,lf->blc", corners, self.lmk_bary)
        return verts, lmks

    def decode(
        self,
        shape: np.ndarray,
        exp: np.ndarray,
        pose: np.ndarray | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """One row: ``decode_batch`` on a batch of one."""
        v, lm = self.decode_batch(
            np.asarray(shape)[None],
            np.asarray(exp)[None],
            None if pose is None else np.asarray(pose)[None],
        )
        return v[0], lm[0]

    def rest_landmark_affine(self, lmk: int) -> tuple[np.ndarray, np.ndarray]:
        """Landmark ``lmk`` at rest pose as an affine map of betas:
        returns (base (3,), coefs (3, n_betas)) with
        landmark[c] = base[c] + coefs[c] · betas — the oracle's literals."""
        corner_verts = self.faces[self.lmk_faces_idx[lmk]]
        b = self.lmk_bary[lmk]
        base = np.einsum("f,fc->c", b, self.template[corner_verts])
        coefs = np.einsum("f,fck->ck", b, self.shapedirs[corner_verts])
        return base, coefs

    def posed_verts_affine(self, pose: np.ndarray) -> np.ndarray:
        """Every vertex at a FIXED pose as an affine map of betas.

        For fixed pose the rotations (Rodrigues, kinematic chain) are
        constants and every remaining stage — blend shapes, joint
        regression, the A_j translation corrections, skinning — is linear
        in the betas, so verts[v, c] = aff[v, c, 0] + aff[v, c, 1:] · betas
        exactly. Computed by pushing an affine value representation
        (trailing axis = [const, coef_0..coef_nb-1]) through the same steps
        ``decode_batch`` runs, which value-checks Rodrigues + kinematics +
        skinning at a nonzero pose (the rest-pose oracle of
        flame_decode_landmarks cannot see them: every A_j is the identity
        there). ``posed_landmark_affine`` is its barycentric mix; the
        rasterizer oracle of n17_render_mask_zbuffer embeds these literals
        per vertex to value-check decode → project → rasterize end-to-end.
        Returns (V, 3, 1 + n_betas)."""
        nb = self.N_SHAPE + self.N_EXP
        V, J = self.template.shape[0], self.N_JOINTS

        # v_shaped: (V, 3, 1+nb) affine
        v_shaped = np.zeros((V, 3, 1 + nb))
        v_shaped[..., 0] = self.template
        v_shaped[..., 1:] = self.shapedirs
        joints = np.einsum("jv,vck->jck", self.j_regressor, v_shaped)  # (J,3,1+nb)

        full_pose = np.zeros((J, 3))
        full_pose[0] = np.asarray(pose, dtype=np.float64)[:3]
        full_pose[2] = np.asarray(pose, dtype=np.float64)[3:6]
        R = self._rodrigues(full_pose)  # (J,3,3) constants
        pose_feature = (R[1:] - np.eye(3)[None]).reshape(-1)
        v_posed = v_shaped.copy()
        correctives = np.einsum("p,pk->k", pose_feature, self.posedirs)
        v_posed[..., 0] += correctives.reshape(V, 3)

        # Kinematic chain on (R const, t affine) rigid transforms.
        rel = joints.copy()
        rel[1:] -= joints[list(self.PARENTS[1:])]
        world_R = [R[0]]
        world_t = [rel[0]]  # (3, 1+nb)
        for j in range(1, J):
            p = self.PARENTS[j]
            world_R.append(np.einsum("xy,yz->xz", world_R[p], R[j]))
            world_t.append(np.einsum("xy,yk->xk", world_R[p], rel[j]) + world_t[p])
        A_R = np.stack(world_R)  # (J,3,3)
        A_t = np.stack(world_t)  # (J,3,1+nb)
        A_t = A_t - np.einsum("jxy,jyk->jxk", A_R, joints)

        T_R = np.einsum("vj,jxy->vxy", self.lbs_weights, A_R)  # (V,3,3)
        T_t = np.einsum("vj,jxk->vxk", self.lbs_weights, A_t)  # (V,3,1+nb)
        return np.einsum("vxy,vyk->vxk", T_R, v_posed) + T_t

    def posed_landmark_affine(
        self, lmk: int, pose: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        """Landmark ``lmk`` at a FIXED pose as an affine map of betas:
        the barycentric mix of ``posed_verts_affine`` — returns
        (base (3,), coefs (3, n_betas)), the oracle literals of
        flame_render_pipeline."""
        verts = self.posed_verts_affine(pose)
        corner_verts = self.faces[self.lmk_faces_idx[lmk]]
        b = self.lmk_bary[lmk]
        lmk_aff = np.einsum("f,fck->ck", b, verts[corner_verts])  # (3, 1+nb)
        return lmk_aff[:, 0], lmk_aff[:, 1:]


def batch_orth_proj(X: np.ndarray, cam: np.ndarray) -> np.ndarray:
    """N17 weak-perspective (orthographic) camera projection — REAL math
    (dpl/rendering/utils.py:135-145 ``batch_orth_proj``): translate x/y by
    cam[1:] = (tx, ty), keep z, scale all three coordinates by cam[0] = s.

    ``X`` is (num_points, 3) for one mesh with cam (3,), or batched
    (B, num_points, 3) with cam (B, 3) — same IEEE ops either way (the
    reference batches the same leading N axis). Returns float64 of X's
    shape.
    """
    X = np.asarray(X, dtype=np.float64)
    cam = np.asarray(cam, dtype=np.float64)
    out = np.empty_like(X)
    out[..., 0] = X[..., 0] + cam[..., 1, None]
    out[..., 1] = X[..., 1] + cam[..., 2, None]
    out[..., 2] = X[..., 2]
    return cam[..., 0, None, None] * out if cam.ndim > 1 else cam[0] * out


def view_transform(X: np.ndarray, cam: np.ndarray) -> np.ndarray:
    """Projection + the renderer's axis flip: the exact tensor the
    rasterizer consumes (dpl/processor/nodes/rendering.py:101-106 —
    ``trans_verts[:, :, 1:] = -trans_verts[:, :, 1:]`` after
    ``batch_orth_proj``)."""
    t = batch_orth_proj(X, cam)
    t[..., 1:] = -t[..., 1:]
    return t


# ShapeRenderer's default frame (H, W); a frame is H·W uint8 bytes.
FRAME_HW = (16, 16)


def sh_lighting() -> np.ndarray:
    """ShapeRenderer's (9, 3) SH lighting coefficients: seeded, with a
    dominant ambient term that keeps the shading positive."""
    sh = _seeded_rng("sh_lighting").normal(size=(9, 3)) * 0.3
    sh[0] += 2.0
    return sh


class ShapeRenderer:
    """N17 renderer with the rasterizer / normals / SH-lighting tiers REAL
    (operators.rasterize — point-in-triangle + z-buffer on quantized view
    coords, dpl/rendering/renderer.py:28-70; vertex normals, utils.py:80-132;
    SH irradiance, renderer.py:232-262). What it emits is the reference's
    FORWARD path run on the constant gray 180/255 face_colors albedo
    (renderer.py:107-117) — see "Mode semantics" below for how this
    differs from the separate ``render_shape`` mode. The only tier still
    out of scope is the licensed FLAME uv/albedo assets (synthetic seeded
    stand-ins) and pytorch3d bit-parity.

    ``render_batch(vertices, trans_verts, channels)`` is the entry point.
    It mirrors ``SRenderY.forward(vertices, transformed_vertices, ...)``:
    world-space verts drive the normals/shading, view-space (post
    ``view_transform``) verts drive the rasterization, and like the
    reference it rasterizes each mesh once and reads every requested
    channel from that one pass. ``render(vertices, trans_verts, channel)``
    is the one-mesh, one-channel wrapper. Channels
    (``CHANNELS``) — all real rasterizer outputs:
    ``shade`` (SH-lit gray, the default), ``mask`` (coverage 0/255),
    ``normal`` (winner-interpolated normal z, [-1,1] → [0,255]), ``bary``
    (winner's first barycentric weight — the uv interpolant), ``texture``
    (the FULL forward: barycentric uv → bilinear grid_sample of the albedo
    map → × SH shading × alpha, renderer.py:186-218 — uv coords and albedo
    are synthetic seeded stand-ins for the licensed FLAME assets, which
    drop in field-for-field), and ``pos_mask`` (view-space normal z <
    −0.05, renderer.py:193-194). Payload stays H·W uint8 bytes: the sink
    contract is unchanged.

    Mode semantics: every channel follows ``SRenderY.forward``
    semantics APPLIED TO the gray 180/255 albedo — NOT the reference's
    separate ``render_shape`` mode. The two reference modes differ in
    exactly two places and this class deliberately keeps the forward-path
    choice for both: ``pos_mask`` thresholds the transformed normal z at
    −0.05 (renderer.py:190) where render_shape uses 0 (renderer.py:355),
    and ``shade`` uses SH lighting (renderer.py:232-262) where
    render_shape uses fixed directional lights (renderer.py:340-352). A
    future pytorch3d bit-parity check must therefore target
    ``SRenderY.forward`` with constant gray albedo, not ``render_shape``.

    Topology: pass ``faces`` (e.g. ``FlameLbsDecoder().faces``) or let it
    default to a deterministic triangle fan over however many verts the
    mesh has.
    """

    _ALBEDO = 180.0 / 255.0  # renderer.py:109 shape-overlay face color

    def __init__(
        self,
        size_hw: tuple[int, int] = FRAME_HW,
        faces: np.ndarray | None = None,
    ):
        self.size_hw = size_hw
        self.faces = None if faces is None else np.asarray(faces, dtype=np.int64)
        self.sh_coeff = sh_lighting()

    def _faces_for(self, n_verts: int) -> np.ndarray:
        if self.faces is not None:
            return self.faces
        i = np.arange(1, n_verts - 1, dtype=np.int64)
        return np.stack([np.zeros_like(i), i, i + 1], axis=1)  # triangle fan

    # Synthetic stand-ins for the licensed FLAME texture assets (same
    # pattern as the seeded LBS bases): per-vertex uv in [0,1] keyed by
    # mesh size, and one 3x64x64 albedo map. The real obj/texture drop in
    # field-for-field; the sampling math is real either way.
    albedo = None  # class-level lazy default

    def _uv_for(self, n_verts: int) -> np.ndarray:
        if getattr(self, "_uv", None) is None or len(self._uv) != n_verts:
            self._uv = _seeded_rng(f"uv_{n_verts}").random((n_verts, 2))
        if self.albedo is None:
            self.albedo = _seeded_rng("albedo_map").random((3, 64, 64))
        return self._uv

    CHANNELS = ("shade", "mask", "normal", "bary", "texture", "pos_mask")

    def render_batch(
        self,
        vertices: np.ndarray,
        trans_verts: np.ndarray,
        channels: tuple[str, ...],
    ) -> dict[str, list[bytes]]:
        """Render a batch of meshes of one topology: (B, V, 3) world verts +
        (B, V, 3) view verts → ``{channel: B payloads}``. Each mesh is
        rasterized once for all requested channels. The meshes are walked in
        chunks of ``rasterize.meshes_per_chunk``, and each chunk becomes
        bytes before the next is rasterized, so a large batch at a large
        image size never holds more than one chunk's per-pixel arrays. The
        rasterizer sweeps each chunk in row tiles within the same
        ``rasterize.TILE_ELEMS`` budget, each tile against only the faces
        whose y-extent meets it."""
        from talkinghead_datapipeline_spark.operators.rasterize import (
            meshes_per_chunk,
        )

        unknown = set(channels) - set(self.CHANNELS)
        if unknown:
            raise ValueError(f"unknown channels {sorted(unknown)}; known: {self.CHANNELS}")
        verts = np.asarray(vertices, dtype=np.float64)
        tv = np.asarray(trans_verts, dtype=np.float64)
        faces = self._faces_for(verts.shape[1])
        step = meshes_per_chunk(len(faces), self.size_hw[0])
        out: dict[str, list[bytes]] = {ch: [] for ch in channels}
        for i in range(0, len(verts), step):
            imgs = self._render_chunk(verts[i : i + step], tv[i : i + step], faces, channels)
            for ch, img in imgs.items():
                px = np.clip(np.round(img), 0, 255).astype(np.uint8)
                out[ch].extend(row.tobytes() for row in px)
        return out

    def _render_chunk(
        self,
        verts: np.ndarray,
        tv: np.ndarray,
        faces: np.ndarray,
        channels: tuple[str, ...],
    ) -> dict[str, np.ndarray]:
        """One rasterization of a chunk → float (B, H, W) image per channel.
        Winner corners, barycentric interpolation and the world-space vertex
        normals are each computed at most once, for the channels that need
        them."""
        from talkinghead_datapipeline_spark.operators.rasterize import (
            corner_incidence,
            grid_sample_bilinear,
            quantize_verts,
            rasterize_batch,
            screen_transform,
            sh_irradiance,
            vertex_normals_batch,
        )

        size = self.size_hw[0]
        # divisible by size; admitted up to ~341 px — bit-exact float64
        # tier through ~33 px, exact-int64 z tier above (rasterize.py)
        scale = 256 * size
        ras = rasterize_batch(quantize_verts(screen_transform(tv), scale), faces, size, scale)
        mask, bary = ras["mask"], ras["bary"]
        imgs = {}
        if "mask" in channels:
            imgs["mask"] = np.where(mask, 255.0, 0.0)
        if "bary" in channels:
            imgs["bary"] = bary[..., 0] * 255.0
        interpolated = set(channels) - {"mask", "bary"}
        if not interpolated:
            return imgs

        key = (id(self.faces), verts.shape[1])
        if getattr(self, "_inc_key", None) != key:
            self._incidence = corner_incidence(faces, verts.shape[1])
            self._inc_key = key
        corners = faces[np.where(mask, ras["pix_to_face"], 0)]  # (B, H, W, 3)
        bidx = np.arange(verts.shape[0])[:, None, None, None]

        def interp(per_vert):  # (B, V, D) -> (B, H, W, D) via winner bary
            return np.einsum("bhwf,bhwfd->bhwd", bary, per_vert[bidx, corners])

        if "pos_mask" in interpolated:
            # visibility mask for pixels whose VIEW-SPACE normal faces
            # the camera (renderer.py:193-194: transformed normal z
            # < -0.05; translation-invariant, so pre/post z-shift agree)
            tz = interp(vertex_normals_batch(tv, faces, self._incidence))[..., 2]
            imgs["pos_mask"] = np.where((tz < -0.05) & mask, 255.0, 0.0)
        if not interpolated - {"pos_mask"}:
            return imgs

        n_img = interp(vertex_normals_batch(verts, faces, self._incidence))
        if "normal" in interpolated:
            imgs["normal"] = (n_img[..., 2] * 0.5 + 0.5) * 255.0 * mask
        if not interpolated & {"shade", "texture"}:
            return imgs
        shading = sh_irradiance(n_img, self.sh_coeff)
        if "shade" in interpolated:  # SH-lit gray shape overlay
            gray = shading.mean(axis=-1) * self._ALBEDO
            imgs["shade"] = np.clip(gray, 0.0, 1.0) * 255.0 * mask
        if "texture" in interpolated:
            # full textured forward (renderer.py:186-218): uv grid from
            # barycentric uv interpolation (uv*2-1, y flipped,
            # renderer.py:95-99) -> bilinear albedo sample -> x SH shading
            # x alpha; gray payload = RGB mean
            uv = self._uv_for(verts.shape[1])  # (V, 2) in [0, 1]
            uv_ndc = uv * 2.0 - 1.0
            uv_ndc[:, 1] = -uv_ndc[:, 1]
            grid = interp(np.broadcast_to(uv_ndc[None], (verts.shape[0],) + uv_ndc.shape))
            alb = grid_sample_bilinear(self.albedo, grid)  # (C, B, H, W)
            rgb = np.moveaxis(alb, 0, -1) * shading
            imgs["texture"] = np.clip(rgb.mean(axis=-1), 0.0, 1.0) * 255.0 * mask
        return imgs

    def render(
        self,
        vertices: np.ndarray,
        trans_verts: np.ndarray,
        channel: str = "shade",
    ) -> bytes:
        """One mesh, one channel: ``render_batch`` on a batch of one."""
        batch = self.render_batch(
            np.asarray(vertices)[None], np.asarray(trans_verts)[None], (channel,)
        )
        return batch[channel][0]


def fake_decode_image(data: bytes, size_hw: tuple[int, int] = (8, 8)) -> np.ndarray:
    """Deterministic decode stand-in: bytes → tiled uint8 HWC array."""
    h, w = size_hw
    digest = hashlib.md5(data).digest()
    flat = np.frombuffer((digest * (h * w * 3 // len(digest) + 1))[: h * w * 3], dtype=np.uint8)
    return flat.reshape(h, w, 3)
