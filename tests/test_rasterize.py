"""N17 rasterizer-tier unit tests (operators/rasterize.py).

Covers: exact pixel-grid construction, point-in-triangle coverage against an
independent exact-Fraction half-plane check, z-buffer nearest-wins with the
lowest-face-id tie rule, degenerate-face exclusion, the e0+e1+e2 == 2·area
identity, barycentric weight properties, vertex normals vs hand cross
products, SH irradiance vs the direct formula, and the ShapeRenderer byte
contract. Reference semantics: dpl/rendering/renderer.py:28-70 (rasterizer
config), utils.py:80-132 (vertex_normals), renderer.py:232-262 (SH)."""

from __future__ import annotations

import hashlib
from fractions import Fraction

import numpy as np
import pytest

from talkinghead_datapipeline_spark.operators.rasterize import (
    COORD_CLAMP,
    SCALE,
    SH_CONSTANT_FACTOR,
    Z_CLAMP,
    pixel_centers,
    quantize_verts,
    rasterize,
    screen_transform,
    sh_irradiance,
    vertex_normals,
)

rng = np.random.default_rng(20260816)


def test_pixel_centers_exact_and_symmetric():
    px, py = pixel_centers(4)
    step = SCALE // 4
    assert list(px) == [SCALE - step, SCALE - 3 * step, -(SCALE - 3 * step), -(SCALE - step)]
    np.testing.assert_array_equal(px, py)
    with pytest.raises(ValueError):
        pixel_centers(7)  # 4096 % 7 != 0


def test_quantize_floor_and_clamp():
    v = np.array(
        [
            [0.5, -0.5, 1.0],
            [1e9, -1e9, 1e9],  # clamps, no int64 wrap
            [0.0, 0.0, -5.0],  # z clamps at 0
        ]
    )
    q = quantize_verts(v)
    assert q.dtype == np.int64
    assert list(q[0]) == [2048, -2048, 4096]
    assert list(q[1]) == [COORD_CLAMP, -COORD_CLAMP, Z_CLAMP]
    assert q[2, 2] == 0


def test_screen_transform_composition():
    t = np.array([[0.25, -0.5, 0.75]])
    s = screen_transform(t)
    np.testing.assert_array_equal(s, [[-0.25, 0.5, 10.75]])


def _square_mesh(z0: int, z1: int):
    """Two triangles tiling the [-5000, 5000]^2 square at constant z each."""
    verts = np.array(
        [
            [-5000, -5000, z0],
            [5000, -5000, z0],
            [5000, 5000, z0],
            [-5000, -5000, z1],
            [5000, 5000, z1],
            [-5000, 5000, z1],
        ],
        dtype=np.int64,
    )
    faces = np.array([[0, 1, 2], [3, 4, 5]])
    return verts, faces


def test_full_coverage_and_flat_z():
    verts, faces = _square_mesh(40960, 40960)
    ras = rasterize(verts, faces, 4)
    assert ras["mask"].all()  # all 16 pixel centers inside the square
    # constant-z interpolation is exact
    np.testing.assert_array_equal(ras["zbuf"], np.full((4, 4), 40960.0))
    # barycentric weights: in [0,1], sum to 1 where covered
    assert (ras["bary"] >= 0).all() and (ras["bary"] <= 1).all()
    np.testing.assert_allclose(ras["bary"].sum(axis=-1), 1.0, rtol=0, atol=1e-12)


def test_zbuffer_nearer_face_wins_and_tie_takes_lower_id():
    # face 1 strictly nearer -> wins everywhere both cover
    verts, faces = _square_mesh(40960, 20480)
    ras = rasterize(verts, faces, 4)
    lower_tri = ras["pix_to_face"] == 0
    # the z=20480 triangle (face 1) must win every pixel IT covers;
    # face 0 only keeps pixels face 1 does not reach
    assert (ras["zbuf"][ras["pix_to_face"] == 1] == 20480.0).all()
    assert (ras["zbuf"][lower_tri] == 40960.0).all()
    # exact z tie -> lowest face id
    verts_t, faces_t = _square_mesh(30000, 30000)
    # make both triangles cover the full square so every pixel ties
    verts_t = np.array(
        [
            [-6000, -6000, 30000],
            [6000, -6000, 30000],
            [0, 8000, 30000],
            [-6000, -6000, 30000],
            [6000, -6000, 30000],
            [0, 8000, 30000],
        ],
        dtype=np.int64,
    )
    ras_t = rasterize(verts_t, faces_t, 4)
    assert (ras_t["pix_to_face"][ras_t["mask"]] == 0).all()


def test_degenerate_faces_never_cover():
    verts = np.array(
        [[-5000, -5000, 100], [5000, 5000, 100], [0, 0, 100]], dtype=np.int64
    )
    # repeated vertex and collinear triangle: den == 0 for both
    faces = np.array([[0, 0, 1], [0, 2, 1]])
    ras = rasterize(verts, faces, 4)
    assert not ras["mask"].any()
    assert (ras["pix_to_face"] == -1).all()
    assert np.isinf(ras["zbuf"]).all()


def test_edge_function_sum_equals_signed_area():
    # e0+e1+e2 == den for every face/pixel — the identity the coverage and
    # barycentric math rely on, checked in exact int64
    q = rng.integers(-60000, 60000, size=(12, 3)).astype(np.int64)
    q[:, 2] = np.abs(q[:, 2]) % Z_CLAMP
    faces = rng.integers(0, 12, size=(20, 3)).astype(np.int64)
    px, py = pixel_centers(8)
    v0, v1, v2 = q[faces[:, 0]], q[faces[:, 1]], q[faces[:, 2]]
    X, Y = px[None, None, :], py[None, :, None]

    def edge(a, b):
        return (b[:, 0] - a[:, 0])[:, None, None] * (Y - a[:, 1][:, None, None]) - (
            b[:, 1] - a[:, 1]
        )[:, None, None] * (X - a[:, 0][:, None, None])

    e0, e1, e2 = edge(v1, v2), edge(v2, v0), edge(v0, v1)
    den = (
        (v1[:, 0] - v0[:, 0]) * (v2[:, 1] - v0[:, 1])
        - (v1[:, 1] - v0[:, 1]) * (v2[:, 0] - v0[:, 0])
    )[:, None, None]
    np.testing.assert_array_equal(e0 + e1 + e2, np.broadcast_to(den, e0.shape))


def _fraction_rasterize(q, faces, size):
    """Independent exact-arithmetic rasterizer: pure-python Fractions, no
    shared code with the numpy implementation."""
    px, py = pixel_centers(size)
    mask = np.zeros((size, size), dtype=bool)
    p2f = np.full((size, size), -1, dtype=np.int64)
    zbuf = np.full((size, size), np.inf)
    for i in range(size):
        for j in range(size):
            x, y = int(px[j]), int(py[i])
            best = None
            for fid, (a, b, c) in enumerate(faces):
                ax, ay, az = (int(t) for t in q[a])
                bx, by, bz = (int(t) for t in q[b])
                cx, cy, cz = (int(t) for t in q[c])
                e0 = (cx - bx) * (y - by) - (cy - by) * (x - bx)
                e1 = (ax - cx) * (y - cy) - (ay - cy) * (x - cx)
                e2 = (bx - ax) * (y - ay) - (by - ay) * (x - ax)
                den = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
                if den == 0:
                    continue
                if not (
                    (e0 >= 0 and e1 >= 0 and e2 >= 0)
                    or (e0 <= 0 and e1 <= 0 and e2 <= 0)
                ):
                    continue
                z = Fraction(e0 * az + e1 * bz + e2 * cz, den)
                if best is None or z < best[0]:
                    best = (z, fid)
            if best is not None:
                mask[i, j] = True
                p2f[i, j] = best[1]
                zbuf[i, j] = float(best[0])
    return mask, p2f, zbuf


def test_matches_exact_fraction_rasterizer():
    for trial in range(5):
        q = rng.integers(-8000, 8000, size=(10, 3)).astype(np.int64)
        q[:, 2] = 30000 + (np.abs(q[:, 2]) % 20000)
        faces = rng.integers(0, 10, size=(8, 3)).astype(np.int64)
        ras = rasterize(q, faces, 8)
        m, p, z = _fraction_rasterize(q, faces, 8)
        np.testing.assert_array_equal(ras["mask"], m)
        np.testing.assert_array_equal(ras["pix_to_face"], p)
        # float z from exact <2^53 int division == Fraction -> float
        np.testing.assert_array_equal(ras["zbuf"][m], z[m])


def test_vertex_normals_single_triangle():
    verts = np.array([[0.0, 0.0, 0.0], [1.0, 0.0, 0.0], [0.0, 1.0, 0.0]])
    faces = np.array([[0, 1, 2]])
    n = vertex_normals(verts, faces)
    # CCW triangle in the xy plane -> +z normal at every corner
    np.testing.assert_allclose(n, np.tile([0.0, 0.0, 1.0], (3, 1)), atol=1e-12)
    # unreferenced vertex keeps a zero (eps-guarded) normal
    verts4 = np.vstack([verts, [5.0, 5.0, 5.0]])
    n4 = vertex_normals(verts4, faces)
    np.testing.assert_array_equal(n4[3], [0.0, 0.0, 0.0])


def test_vertex_normals_unit_length_where_referenced():
    verts = rng.normal(size=(30, 3))
    faces = rng.integers(0, 30, size=(40, 3))
    referenced = np.unique(faces)
    n = vertex_normals(verts, faces)
    norms = np.linalg.norm(n[referenced], axis=1)
    # degenerate accumulations can cancel; every non-cancelled one is unit
    assert ((np.abs(norms - 1.0) < 1e-9) | (norms < 1e-3)).all()


def test_sh_irradiance_ambient_and_direct_formula():
    normals = rng.normal(size=(5, 3))
    normals /= np.linalg.norm(normals, axis=1, keepdims=True)
    # ambient-only: constant shading = c * 1/sqrt(4pi)
    coeff = np.zeros((9, 3))
    coeff[0] = [2.0, 3.0, 4.0]
    out = sh_irradiance(normals, coeff)
    expect = np.tile(np.array([2.0, 3.0, 4.0]) / np.sqrt(4 * np.pi), (5, 1))
    np.testing.assert_allclose(out, expect, rtol=1e-12)
    # full coefficients vs an independently-written direct sum
    coeff = rng.normal(size=(9, 3))
    out = sh_irradiance(normals, coeff)
    for i, (nx, ny, nz) in enumerate(normals):
        basis = np.array(
            [1.0, nx, ny, nz, nx * ny, nx * nz, ny * nz, nx * nx - ny * ny,
             3 * nz * nz - 1.0]
        )
        expect_i = (basis * SH_CONSTANT_FACTOR) @ coeff
        np.testing.assert_allclose(out[i], expect_i, rtol=1e-12)


def test_shape_renderer_channels_and_mask_consistency():
    from talkinghead_datapipeline_spark.operators.models import (
        FlameLbsDecoder,
        ShapeRenderer,
        view_transform,
    )

    m = FlameLbsDecoder()
    verts, _ = m.decode(
        rng.normal(size=8), rng.normal(size=8), np.array([0.1, 0.2, -0.1, 0.0, 0.1, 0.0])
    )
    cam = np.array([0.9, -0.1, 0.3])
    tv = view_transform(verts, cam)
    r = ShapeRenderer((16, 16), faces=m.faces)
    frames = {ch: r.render(verts, tv, channel=ch) for ch in
              ("shade", "mask", "normal", "bary")}
    assert all(len(b) == 256 for b in frames.values())
    mask_img = np.frombuffer(frames["mask"], dtype=np.uint8).reshape(16, 16)
    ras = rasterize(quantize_verts(screen_transform(tv)), m.faces, 16)
    np.testing.assert_array_equal(mask_img > 0, ras["mask"])
    # shade/normal live only inside the mask
    for ch in ("shade", "normal", "bary"):
        img = np.frombuffer(frames[ch], dtype=np.uint8).reshape(16, 16)
        assert (img[~ras["mask"]] == 0).all()
    # deterministic
    assert r.render(verts, tv) == r.render(verts, tv)


def test_shape_renderer_default_fan_topology():
    from talkinghead_datapipeline_spark.operators.models import ShapeRenderer

    r = ShapeRenderer((4, 4))
    tv = rng.normal(size=(5, 3)) * 0.5
    out = r.render(tv, tv, channel="mask")
    assert len(out) == 16  # 3 fan faces over 5 verts, any vert count works


def test_grid_sample_bilinear_matches_manual():
    from talkinghead_datapipeline_spark.operators.rasterize import (
        grid_sample_bilinear,
    )

    img = np.arange(2 * 4 * 4, dtype=np.float64).reshape(2, 4, 4)
    # align_corners=False: x_ndc -> ((x+1)*W - 1)/2; the exact center of
    # pixel (1, 2) is ndc x = (2*2+1)/4 - 1 = 0.25, y = (2*1+1)/4 - 1 = -0.25
    grid = np.array([[[0.25, -0.25]]])
    out = grid_sample_bilinear(img, grid)
    np.testing.assert_allclose(out[:, 0, 0], img[:, 1, 2])
    # midpoint between pixel centers (0,0) and (0,1): average
    grid = np.array([[[(-0.75 + -0.25) / 2, -0.75]]])
    out = grid_sample_bilinear(img, grid)
    np.testing.assert_allclose(out[:, 0, 0], (img[:, 0, 0] + img[:, 0, 1]) / 2)
    # far outside -> zeros padding
    grid = np.array([[[-5.0, 5.0]]])
    np.testing.assert_array_equal(grid_sample_bilinear(img, grid)[:, 0, 0], 0.0)
    # edge of the [-1,1] square (align_corners=False): half-weight with the
    # zero pad: ndc x=-1 -> ix=-0.5 -> 0.5*img[:, y, 0]
    grid = np.array([[[-1.0, -0.75]]])
    np.testing.assert_allclose(
        grid_sample_bilinear(img, grid)[:, 0, 0], 0.5 * img[:, 0, 0]
    )


def test_shape_renderer_texture_and_pos_mask_channels():
    from talkinghead_datapipeline_spark.operators.models import (
        FlameLbsDecoder,
        ShapeRenderer,
        view_transform,
    )

    m = FlameLbsDecoder()
    verts, _ = m.decode(
        rng.normal(size=8), rng.normal(size=8), np.zeros(6)
    )
    cam = np.array([1.1, 0.05, -0.02])
    tv = view_transform(verts, cam)
    r = ShapeRenderer((16, 16), faces=m.faces)
    tex = np.frombuffer(r.render(verts, tv, "texture"), dtype=np.uint8)
    pos = np.frombuffer(r.render(verts, tv, "pos_mask"), dtype=np.uint8)
    msk = np.frombuffer(r.render(verts, tv, "mask"), dtype=np.uint8)
    assert len(tex) == len(pos) == 256
    # both live strictly inside the coverage mask
    assert (tex[msk == 0] == 0).all() and (pos[msk == 0] == 0).all()
    # pos_mask is a strict subset of the coverage mask and binary
    assert set(np.unique(pos)) <= {0, 255}
    assert (pos == 255).sum() <= (msk == 255).sum()
    # texture responds to the albedo map: zero albedo -> black frame
    r0 = ShapeRenderer((16, 16), faces=m.faces)
    r0.albedo = np.zeros((3, 8, 8))
    assert np.frombuffer(
        r0.render(verts, tv, "texture"), dtype=np.uint8
    ).max() == 0
    # deterministic
    assert r.render(verts, tv, "texture") == r.render(verts, tv, "texture")


# --- arithmetic-tier guard (ADVICE r12 medium) -----------------------------


def test_int64_tier_matches_python_int_reference():
    """Scales between the 2^53 exact-double bound and the 2^63 int64 bound
    (e.g. image_size=224 at the 256·size convention → scale=57344) must
    accumulate the z numerator in exact int64 — a float64 accumulation
    there rounds intermediates and can flip nearest-z ties. The reference
    below recomputes the documented tier semantics independently: exact
    python-int numerator, ONE correctly-rounded float conversion, one
    division, winner = min (rounded z, face id)."""
    from talkinghead_datapipeline_spark.operators.rasterize import rasterize_batch

    scale = 256 * 224
    assert 2**53 <= 13824 * scale**3 < 2**63
    size = 8
    q = rng.integers(-6 * scale, 6 * scale, size=(12, 3)).astype(np.int64)
    q[:, 2] = scale + (np.abs(q[:, 2]) % (10 * scale))
    faces = rng.integers(0, 12, size=(10, 3)).astype(np.int64)
    out = rasterize_batch(q[None], faces, size, scale)

    px, py = pixel_centers(size, scale)
    for i in range(size):
        for j in range(size):
            x, y = int(px[j]), int(py[i])
            best = None
            for fid, (a, b, c) in enumerate(faces):
                ax, ay, az = (int(t) for t in q[a])
                bx, by, bz = (int(t) for t in q[b])
                cx, cy, cz = (int(t) for t in q[c])
                e0 = (cx - bx) * (y - by) - (cy - by) * (x - bx)
                e1 = (ax - cx) * (y - cy) - (ay - cy) * (x - cx)
                e2 = (bx - ax) * (y - ay) - (by - ay) * (x - ax)
                den = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
                if den == 0:
                    continue
                if not (
                    (e0 >= 0 and e1 >= 0 and e2 >= 0)
                    or (e0 <= 0 and e1 <= 0 and e2 <= 0)
                ):
                    continue
                z = float(e0 * az + e1 * bz + e2 * cz) / float(den)
                if best is None or (z, fid) < best:
                    best = (z, fid)
            if best is None:
                assert not out["mask"][0, i, j]
            else:
                assert out["mask"][0, i, j]
                assert out["pix_to_face"][0, i, j] == best[1]
                assert out["zbuf"][0, i, j] == best[0]


def test_int64_tier_agrees_with_float_tier_below_2e53():
    """Below the 2^53 bound both tiers are exact, so forcing the int64
    fallback must reproduce the certified float64 path bit-for-bit."""
    from talkinghead_datapipeline_spark.operators.rasterize import _rasterize_chunk

    q = rng.integers(-8000, 8000, size=(1, 10, 3)).astype(np.int64)
    q[:, :, 2] = 30000 + (np.abs(q[:, :, 2]) % 20000)
    faces = rng.integers(0, 10, size=(8, 3)).astype(np.int64)
    fast = _rasterize_chunk(q, faces, 8, SCALE, True)
    slow = _rasterize_chunk(q, faces, 8, SCALE, False)
    for k in fast:
        np.testing.assert_array_equal(fast[k], slow[k])


def test_scale_guard_rejects_int64_overflow():
    from talkinghead_datapipeline_spark.operators.rasterize import rasterize_batch

    scale = 90_000  # 13824·scale³ ≈ 1.0e19 > 2^63
    assert 13824 * scale**3 >= 2**63
    q = np.zeros((1, 3, 3), dtype=np.int64)
    with pytest.raises(ValueError, match="overflows"):
        rasterize_batch(q, np.array([[0, 1, 2]]), 8, scale)


# --- one rasterization per batch (ShapeRenderer.render_batch) ---------------

# md5 of each channel's three payloads, concatenated in batch order, as the
# per-row path wrote them before render_batch took a tuple of channels: one
# ``render(v, view_transform(v, c), c, channel)`` call per mesh and channel.
_PER_ROW_MD5 = {
    (16, "shade"): "64b52b50fe0eecca9fae0750691f0951",
    (16, "mask"): "d4b62df02191f2f37d8ffba4b877ab29",
    (16, "normal"): "896f26ee9dbb5369156dcf53fa82e542",
    (16, "bary"): "beefd9ca64bb2f32bcb824590cc39b83",
    (16, "texture"): "840af1da78cccbd86b4dc425756a73e3",
    (16, "pos_mask"): "4dd322946dea92a332b366b167a2e56a",
    (320, "shade"): "7815121ce2af15799eb25b534796b0ac",
    (320, "mask"): "9c2aed210bcd36a58dd3e9593af80aa2",
    (320, "normal"): "56a8e2bf273cf0c7912377fa04b11075",
    (320, "bary"): "6371a7a4639c63d11d0e1f670728ced4",
    (320, "texture"): "caa13dc72496a7f17c1a6843c325051f",
    (320, "pos_mask"): "623d4667d63e06c2229e2f9977106c88",
}


@pytest.mark.parametrize("size", [16, 320])
def test_render_batch_bit_identical_to_per_mesh_render(size, monkeypatch):
    """One rasterization for all six channels of a 3-mesh batch gives the
    bytes of one ``render`` call per mesh and channel, whatever the chunking
    of the mesh walk, and the bytes the per-row path wrote."""
    from talkinghead_datapipeline_spark.operators import rasterize
    from talkinghead_datapipeline_spark.operators.models import (
        FlameLbsDecoder,
        ShapeRenderer,
        view_transform,
    )

    brng = np.random.default_rng(20261017)
    m = FlameLbsDecoder()
    verts, _ = m.decode_batch(
        brng.normal(size=(3, 8)), brng.normal(size=(3, 8)), brng.normal(size=(3, 6)) * 0.2
    )
    cams = np.column_stack([brng.uniform(0.4, 0.6, 3), brng.normal(size=(3, 2)) * 0.1])
    channels = ShapeRenderer.CHANNELS
    r = ShapeRenderer((size, size), faces=m.faces)
    batched = r.render_batch(verts, view_transform(verts, cams), channels)

    per_mesh = {
        ch: [r.render(v, view_transform(v, c), channel=ch) for v, c in zip(verts, cams)]
        for ch in channels
    }
    assert batched == per_mesh
    for ch in channels:
        assert hashlib.md5(b"".join(batched[ch])).hexdigest() == _PER_ROW_MD5[(size, ch)], ch

    # two meshes per chunk at 16 px, one at 320 px: an uneven walk
    monkeypatch.setattr(rasterize, "TILE_ELEMS", 2 * 16 * max(len(m.faces), 16))
    assert rasterize.meshes_per_chunk(len(m.faces), size) < len(verts)
    assert r.render_batch(verts, view_transform(verts, cams), channels) == batched


def test_render_batch_rejects_unknown_channel():
    from talkinghead_datapipeline_spark.operators.models import ShapeRenderer

    tv = rng.normal(size=(1, 5, 3)) * 0.5
    with pytest.raises(ValueError, match="unknown channels"):
        ShapeRenderer((4, 4)).render_batch(tv, tv, ("mask", "depth"))


# --- row tiles and y-extent face culling (rasterize._rasterize_chunk) --------


def _record_sweeps(monkeypatch):
    """Wrap ``rasterize._sweep`` to record (meshes, faces, rows, cols) of
    every tile it is handed."""
    from talkinghead_datapipeline_spark.operators import rasterize as ras_mod

    shapes = []
    sweep = ras_mod._sweep

    def recording(v0, v1, v2, X, Y, exact53):
        shapes.append((v0.shape[0], v0.shape[1], len(Y), len(X)))
        return sweep(v0, v1, v2, X, Y, exact53)

    monkeypatch.setattr(ras_mod, "_sweep", recording)
    return shapes


def test_face_outside_a_tile_is_culled_and_winners_map_back(monkeypatch):
    """One pixel row per tile: face 0 lies wholly in the top row band, so
    the lower tiles sweep faces 1 and 2 only, yet their winners still read
    as global ids and every pixel equals the exact reference."""
    from talkinghead_datapipeline_spark.operators import rasterize as ras_mod

    monkeypatch.setattr(ras_mod, "TILE_ELEMS", 1)
    shapes = _record_sweeps(monkeypatch)
    q = np.array(
        [
            [-4000, 3500, 100],  # face 0: y in [2500, 3500], row 0 only
            [4000, 3500, 100],
            [0, 2500, 100],
            [-4000, -4000, 900],  # faces 1, 2: a square over the whole
            [4000, -4000, 900],  # image, farther
            [-4000, 4000, 900],
            [4000, 4000, 900],
        ],
        dtype=np.int64,
    )
    faces = np.array([[0, 1, 2], [3, 4, 5], [5, 4, 6]])
    out = rasterize(q, faces, 4)
    m, p, z = _fraction_rasterize(q, faces, 4)
    np.testing.assert_array_equal(out["mask"], m)
    np.testing.assert_array_equal(out["pix_to_face"], p)
    np.testing.assert_array_equal(out["zbuf"], z)
    assert [s[1] for s in shapes] == [3, 2, 2, 2]
    assert set(out["pix_to_face"][1:].ravel()) == {1, 2}
    assert (out["pix_to_face"][0, 1:3] == 0).all()


def test_off_screen_mesh_is_empty_beside_a_visible_one(monkeypatch):
    """A mesh above the image culls nothing from its batch neighbour and
    comes out empty: mask False, pix_to_face -1, zbuf inf, bary 0."""
    from talkinghead_datapipeline_spark.operators import rasterize as ras_mod
    from talkinghead_datapipeline_spark.operators.rasterize import rasterize_batch

    monkeypatch.setattr(ras_mod, "TILE_ELEMS", 1)
    on = np.array([[-4000, -4000, 500], [4000, -4000, 500], [0, 4000, 700]], dtype=np.int64)
    off = on + np.array([0, 9000, 0])  # y in [5000, 13000], above y = 4096
    faces = np.array([[0, 1, 2]])
    both = rasterize_batch(np.stack([on, off]), faces, 4)
    alone = rasterize(on, faces, 4)
    for k in alone:
        np.testing.assert_array_equal(both[k][0], alone[k])
    assert alone["mask"].any()
    assert not both["mask"][1].any()
    assert (both["pix_to_face"][1] == -1).all()
    assert np.isposinf(both["zbuf"][1]).all()
    assert (both["bary"][1] == 0.0).all()

    shapes = _record_sweeps(monkeypatch)
    empty = rasterize(off, faces, 4)
    assert shapes == []  # every tile culled the one face
    assert not empty["mask"].any() and (empty["pix_to_face"] == -1).all()
    assert np.isposinf(empty["zbuf"]).all() and (empty["bary"] == 0.0).all()


def test_z_tie_across_a_tile_seam_takes_the_lowest_id(monkeypatch):
    """Faces 1 and 2 lie in one z = 600 plane and both cover the two rows
    either side of the seam between two-row tiles; face 0 is in the top
    tile only, so the tiles keep different id lists. The tie goes to id 1
    on both sides of the seam."""
    from talkinghead_datapipeline_spark.operators import rasterize as ras_mod

    monkeypatch.setattr(ras_mod, "TILE_ELEMS", 2 * 3 * 4)  # 2 rows at 4 px
    shapes = _record_sweeps(monkeypatch)
    q = np.array(
        [
            [-8000, 3500, 100],  # face 0: row 0 only, nearest
            [8000, 3500, 100],
            [0, 2500, 100],
            [-8000, -2000, 600],  # face 1: rows 1-2
            [8000, -2000, 600],
            [0, 2000, 600],
            [8000, 2000, 600],  # face 2: rows 1-2, same plane, overlaps 1
            [-8000, 2000, 600],
            [0, -2000, 600],
        ],
        dtype=np.int64,
    )
    faces = np.array([[0, 1, 2], [3, 4, 5], [6, 7, 8]])
    out = rasterize(q, faces, 4)
    m, p, z = _fraction_rasterize(q, faces, 4)
    np.testing.assert_array_equal(out["pix_to_face"], p)
    np.testing.assert_array_equal(out["zbuf"], z)
    assert [s[1:3] for s in shapes] == [(3, 2), (2, 2)]
    assert (out["pix_to_face"][1:3, 1:3] == 1).all()
    assert (out["zbuf"][1:3, 1:3] == 600.0).all()


def test_sweeps_stay_within_the_tile_budget_at_320px(monkeypatch):
    """No whole-image sweep: at 320 px every tile of a FLAME render fits
    the element budget, the tiles cover the image rows once, and some tile
    sweeps fewer than all faces."""
    from talkinghead_datapipeline_spark.operators import rasterize as ras_mod
    from talkinghead_datapipeline_spark.operators.models import (
        FlameLbsDecoder,
        ShapeRenderer,
        view_transform,
    )

    shapes = _record_sweeps(monkeypatch)
    brng = np.random.default_rng(20261017)
    m = FlameLbsDecoder()
    verts, _ = m.decode_batch(
        brng.normal(size=(2, 8)), brng.normal(size=(2, 8)), brng.normal(size=(2, 6)) * 0.2
    )
    cams = np.column_stack([brng.uniform(0.4, 0.6, 2), brng.normal(size=(2, 2)) * 0.1])
    out = ShapeRenderer((320, 320), faces=m.faces).render_batch(
        verts, view_transform(verts, cams), ("mask",)
    )
    assert any(b"\xff" in payload for payload in out["mask"])
    assert shapes
    for b, f, r, w in shapes:
        assert w == 320
        assert b * f * r * w <= ras_mod.TILE_ELEMS
    assert sum(r for _, _, r, _ in shapes) <= 320
    assert min(f for _, f, _, _ in shapes) < len(m.faces)
