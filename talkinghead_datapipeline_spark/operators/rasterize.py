"""N17 rasterizer tier — REAL math in numpy (VERDICT r11 #6).

Implements the three public-math stages of the reference renderer that were
previously stubbed behind the pytorch3d gate:

1. **Barycentric rasterization with a z-buffer** — the mask / pix_to_face /
   zbuf channel of ``pytorch3d.renderer.mesh.rasterize_meshes`` as the
   reference configures it (``dpl/rendering/renderer.py:28-70``:
   blur_radius=0, faces_per_pixel=1, perspective_correct=False — i.e. plain
   point-in-triangle coverage with nearest-z wins).
2. **Vertex normals** — ``dpl/rendering/utils.py:80-132 vertex_normals``:
   per-corner cross products accumulated per vertex, L2-normalized with an
   eps guard.
3. **Spherical-harmonics irradiance** — ``dpl/rendering/renderer.py:232-262
   add_SHlight``: the 9-term SH basis of the (interpolated) normal times the
   published constant factors, contracted against a (9, 3) coefficient set.

Only the texture tier (uv ``grid_sample`` of a learned albedo map) remains
out of scope — it needs the licensed FLAME texture space. The gray
"shape overlay" render the reference also ships (``face_colors`` constant
180/255 albedo, renderer.py:107-117) is fully implementable and is what
``models.ShapeRenderer`` emits.

Determinism / oracle design
---------------------------
The rasterizer runs on **quantized integer coordinates**: screen-space
verts are snapped to a 1/SCALE grid (SCALE = 4096 = 2^12) via
``floor(x * 4096)``, and pixel centers of the S×S image land on exact
integers of the same grid (SCALE % S == 0). Edge functions and the z
numerator/denominator are then exact int64 arithmetic, and the bounds
below keep |num| and |den| under 2^53, so the ONE division producing the
interpolated z is an IEEE double op on exactly-representable operands —
bit-identical in numpy and in DuckDB SQL. Coverage, pix_to_face (nearest z,
lowest face id on exact ties), and any floor/round display of z are
therefore exactly reproducible cross-engine with no rounding-boundary
argument: the SQL oracle of the staged query re-runs this rasterizer
verbatim as relational algebra (pixel grid ⨯ faces, integer edge
functions, argmin window).

Bounds (clamps make them unconditional; all scale-relative so any image
size with scale = 256·size stays exact):
- |qx|, |qy| ≤ 8·scale; qz ∈ [0, 16·scale]; pixel centers ≤ scale.
- |edge function| ≤ 2·(16·scale)·(9·scale) = 288·scale² — < 2^53 for every
  admitted scale (≤ ~87k), so edges, den, coverage, and bary are EXACT in
  float64 across the whole range.
- |z numerator| = |Σ₃ E·z| ≤ 3·288·scale²·16·scale = 13824·scale³. This is
  the quantity that picks the arithmetic tier (ADVICE r12):
  * 13824·scale³ < 2^53 (scale ≤ 8663, image ≤ ~33 px at the 256·size
    convention — covers the default scale 4096 and every oracle-certified
    query): the whole chunk runs in float64, every intermediate exact, and
    the ONE num/den division is an IEEE op on exactly-representable
    operands — bit-identical in numpy and DuckDB SQL. This is the
    bit-exact oracle domain.
  * 2^53 ≤ 13824·scale³ < 2^63 (scale ≤ ~87k, image ≤ ~341 px): the z
    numerator is accumulated in EXACT int64, then one int64→double
    conversion (round-half-even) and one division, both correctly rounded
    — deterministic on any IEEE-754 platform. The nearest-z winner is
    selected on this correctly-rounded z, so two faces whose true rational
    z's agree to within 1 ulp resolve as a rounded-z tie (lowest face id)
    rather than by infinite-precision order; coverage/mask/bary remain
    exact.
  * 13824·scale³ ≥ 2^63: rejected (int64 would overflow).

Row tiles and face culling
--------------------------
A dense sweep of every face against every pixel is bound by memory
bandwidth, not arithmetic, once its (meshes, faces, rows, width) arrays
outgrow the cache. So ``rasterize_batch`` sweeps the image in tiles of
pixel rows within the one ``TILE_ELEMS`` element budget, like pytorch3d's
binned rasterizer, and hands each tile only the faces whose closed,
quantized y-extent meets the tile's pixel-centre rows, in ascending face
id. The output is bit-identical to the dense sweep: a covered pixel
centre (all E ≥ 0 or all E ≤ 0, den ≠ 0) lies in the closed face, hence
inside its bounding box, so a culled face covers no pixel of its tile;
the per-pixel arithmetic is unchanged; and ascending ids keep argmin's
lowest-id rule on exact ties once the winner is mapped back through the
kept ids.

Screen-space convention (documented, matching the reference composition):
``view_transform`` (models.py) already applied batch_orth_proj and the
y/z flip of dpl/processor/nodes/rendering.py:101-106; ``SRenderY.forward``
then shifts z by +10 (renderer.py:150 — "move mesh so minz larger than 0")
and ``Pytorch3dRasterizer.forward`` negates x and y (renderer.py:41).
Pixel (row i, col j) of an S×S image sits at NDC (1-(2j+1)/S, 1-(2i+1)/S)
— pytorch3d's +X-left / +Y-up square-image convention.
"""

from __future__ import annotations

import numpy as np

SCALE = 4096  # 2^12 — default quantization grid per NDC unit
COORD_CLAMP_UNITS = 8  # |x|,|y| ≤ 8 NDC units after clamp
Z_CLAMP_UNITS = 16  # z ∈ [0, 16] NDC units after the +10 shift
COORD_CLAMP = COORD_CLAMP_UNITS * SCALE  # at the default scale (oracle)
Z_CLAMP = Z_CLAMP_UNITS * SCALE
# Element budget of one rasterizer sweep's (meshes, faces, rows, width)
# arrays: small enough that a sweep's dozen passes over them stay in cache.
# It also sizes the mesh chunks of rasterize_batch and of
# ShapeRenderer.render_batch's walk (meshes_per_chunk).
TILE_ELEMS = 262_144

# SH constant factors — renderer.py:118-131 (public Ramamoorthi-Hanrahan
# irradiance constants as the reference writes them).
_PI = np.pi
SH_CONSTANT_FACTOR = np.array(
    [
        1.0 / np.sqrt(4 * _PI),
        ((2 * _PI) / 3) * np.sqrt(3 / (4 * _PI)),
        ((2 * _PI) / 3) * np.sqrt(3 / (4 * _PI)),
        ((2 * _PI) / 3) * np.sqrt(3 / (4 * _PI)),
        (_PI / 4) * 3 * np.sqrt(5 / (12 * _PI)),
        (_PI / 4) * 3 * np.sqrt(5 / (12 * _PI)),
        (_PI / 4) * 3 * np.sqrt(5 / (12 * _PI)),
        (_PI / 4) * (3.0 / 2) * np.sqrt(5 / (12 * _PI)),
        (_PI / 4) * (1.0 / 2) * np.sqrt(5 / (4 * _PI)),
    ]
)


def screen_transform(trans_verts: np.ndarray) -> np.ndarray:
    """View-space verts (post ``view_transform``) → rasterizer screen space:
    z += 10 (renderer.py:150), then negate x and y (renderer.py:41)."""
    t = np.asarray(trans_verts, dtype=np.float64)
    s = np.empty_like(t)
    s[..., 0] = -t[..., 0]
    s[..., 1] = -t[..., 1]
    s[..., 2] = t[..., 2] + 10.0
    return s


def quantize_verts(screen_verts: np.ndarray, scale: int = SCALE) -> np.ndarray:
    """Snap float screen verts to the integer grid: floor(x·scale), clamped.

    Clamp order matters for exactness: floor in the float domain, clamp on
    the (still exactly representable) float integers, THEN cast — a huge
    float would wrap in a direct int64 cast. The SQL twin is
    ``CAST(GREATEST(lo, LEAST(hi, floor(x * scale))) AS BIGINT)``.
    """
    f = np.floor(np.asarray(screen_verts, dtype=np.float64) * float(scale))
    hi = float(COORD_CLAMP_UNITS * scale)
    zhi = float(Z_CLAMP_UNITS * scale)
    q = np.empty_like(f)
    q[..., 0] = np.maximum(-hi, np.minimum(hi, f[..., 0]))
    q[..., 1] = np.maximum(-hi, np.minimum(hi, f[..., 1]))
    q[..., 2] = np.maximum(0.0, np.minimum(zhi, f[..., 2]))
    return q.astype(np.int64)


def pixel_centers(size: int, scale: int = SCALE) -> tuple[np.ndarray, np.ndarray]:
    """Quantized NDC pixel-center coordinates: x for columns, y for rows.

    pytorch3d square-image convention (+X left, +Y up): pixel (i, j) center
    = (1-(2j+1)/S, 1-(2i+1)/S). scale % size == 0 keeps them exact ints.
    """
    if scale % size != 0:
        raise ValueError(f"scale {scale} must be divisible by image size {size}")
    step = scale // size
    idx = np.arange(size, dtype=np.int64)
    c = scale - (2 * idx + 1) * step
    return c.copy(), c.copy()  # (x per column j, y per row i)


def _sweep(
    v0: np.ndarray,
    v1: np.ndarray,
    v2: np.ndarray,
    X: np.ndarray,
    Y: np.ndarray,
    exact53: bool,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """One tile: every face of ``v0, v1, v2`` (B, F, 3 corners as float64
    integers) against every pixel centre of columns ``X`` × rows ``Y`` →
    (mask, winner, zbuf, bary) over (B, rows, cols); ``winner`` indexes the
    F faces given.

    ``exact53`` is ``13824·scale³ < 2^53``. When True, arithmetic runs in
    float64 throughout: every intermediate is an integer under 2^53, so
    double ops on them are EXACT — identical to int64 — while skipping the
    astype passes and using the faster SIMD float pipeline (the int64 form
    measured ~1.5x slower on the flame batch). When False (scale > 8663,
    admitted up to the int64 bound), only the z numerator leaves the
    exact-double range, so it alone is accumulated in exact int64 and
    rounded once at the division — the deterministic-but-rounded tier the
    module docstring documents."""
    # broadcast axes: batch, faces, pixel rows (y), pixel cols (x)
    X = X[None, None, None, :]
    Y = Y[None, None, :, None]

    def edge(a, b):
        # E = cross(b - a, p - a): integer-valued, exact in double
        ax, ay = a[..., 0][..., None, None], a[..., 1][..., None, None]
        bx, by = b[..., 0][..., None, None], b[..., 1][..., None, None]
        return (bx - ax) * (Y - ay) - (by - ay) * (X - ax)

    e0, e1, e2 = edge(v1, v2), edge(v2, v0), edge(v0, v1)
    den = (
        (v1[..., 0] - v0[..., 0]) * (v2[..., 1] - v0[..., 1])
        - (v1[..., 1] - v0[..., 1]) * (v2[..., 0] - v0[..., 0])
    )  # signed 2·area == e0+e1+e2 (exact identity)

    covered = (den != 0)[..., None, None] & (
        ((e0 >= 0) & (e1 >= 0) & (e2 >= 0)) | ((e0 <= 0) & (e1 <= 0) & (e2 <= 0))
    )
    if exact53:
        num = (
            e0 * v0[..., 2][..., None, None]
            + e1 * v1[..., 2][..., None, None]
            + e2 * v2[..., 2][..., None, None]
        )
    else:
        # Exact int64 tier: e_i < 2^53 are integer-valued doubles (exact
        # astype), each product ≤ 4608·scale³ and the sum ≤ 13824·scale³ <
        # 2^63 (guarded in rasterize_batch) — no overflow. One rounding at
        # the astype back to float64, then the correctly-rounded division.
        num = (
            e0.astype(np.int64) * v0[..., 2].astype(np.int64)[..., None, None]
            + e1.astype(np.int64) * v1[..., 2].astype(np.int64)[..., None, None]
            + e2.astype(np.int64) * v2[..., 2].astype(np.int64)[..., None, None]
        ).astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        zpx = num / den[..., None, None]
    z_masked = np.where(covered, zpx, np.inf)

    # argmin returns the FIRST minimum → lowest face id on exact-double ties,
    # matching the SQL twin's ORDER BY zpx, fid.
    winner = np.argmin(z_masked, axis=1)
    w_idx = winner[:, None]
    zbuf = np.take_along_axis(z_masked, w_idx, axis=1)[:, 0]
    mask = zbuf < np.inf  # a covered face's z is finite (den != 0)
    den_w = np.take_along_axis(den[..., None, None], w_idx, axis=1)[:, 0]
    with np.errstate(divide="ignore", invalid="ignore"):
        bary = np.stack(
            [np.take_along_axis(e, w_idx, axis=1)[:, 0] / den_w for e in (e0, e1, e2)],
            axis=-1,
        )
    return mask, winner, zbuf, np.where(mask[..., None], bary, 0.0)


def _rasterize_chunk(
    q: np.ndarray, f: np.ndarray, size: int, scale: int, exact53: bool
) -> dict:
    """Batched core: q is (B, V, 3) int64; returns (B, size, size[, ·]).

    Sweeps the image in tiles of pixel rows, as many as keep one tile's
    (B, faces, rows, size) arrays within ``TILE_ELEMS`` elements, each tile
    against the faces whose closed y-extent, in some mesh of the chunk,
    meets its pixel-centre rows (module docstring: row tiles and face
    culling)."""
    B = q.shape[0]
    qf = q.astype(np.float64)  # exact: |q| ≤ 16·scale ≪ 2^53
    v0, v1, v2 = qf[:, f[:, 0]], qf[:, f[:, 1]], qf[:, f[:, 2]]  # (B, F, 3)
    fy = qf[..., 1][:, f]  # (B, F, 3) corner y
    ymin, ymax = fy.min(axis=-1), fy.max(axis=-1)
    px, py = pixel_centers(size, scale)
    X, Y = px.astype(np.float64), py.astype(np.float64)

    mask = np.zeros((B, size, size), dtype=bool)
    pix_to_face = np.full((B, size, size), -1, dtype=np.int64)
    zbuf = np.full((B, size, size), np.inf)
    bary = np.zeros((B, size, size, 3))
    rows = max(1, TILE_ELEMS // max(1, B * len(f) * size))
    for r0 in range(0, size, rows):
        r1 = min(size, r0 + rows)
        # pixel-centre y falls with the row index: the tile spans
        # [Y[r1 - 1], Y[r0]]
        kept = np.flatnonzero(((ymin <= Y[r0]) & (ymax >= Y[r1 - 1])).any(axis=0))
        if kept.size == 0:
            continue
        m, w, z, b = _sweep(v0[:, kept], v1[:, kept], v2[:, kept], X, Y[r0:r1], exact53)
        mask[:, r0:r1] = m
        pix_to_face[:, r0:r1] = np.where(m, kept[w], -1)
        zbuf[:, r0:r1] = z
        bary[:, r0:r1] = b
    return {"mask": mask, "pix_to_face": pix_to_face, "zbuf": zbuf, "bary": bary}


def meshes_per_chunk(n_faces: int, size: int) -> int:
    """How many meshes one rasterizer chunk takes: as many as keep both one
    pixel row of all faces and the whole image's per-pixel arrays within
    ``TILE_ELEMS`` elements, and at least one."""
    return max(1, TILE_ELEMS // (size * max(n_faces, size)))


def rasterize_batch(
    q_verts: np.ndarray,
    faces: np.ndarray,
    size: int,
    scale: int = SCALE,
) -> dict[str, np.ndarray]:
    """Batched exact-integer rasterization: ``q_verts`` is (B, V, 3) int64,
    outputs carry a leading batch axis. Chunks the batch by
    ``meshes_per_chunk``; each chunk is swept in tiles of pixel rows within
    the ``TILE_ELEMS`` budget, each tile against only the faces whose
    closed y-extent meets its rows (``_rasterize_chunk``). Culling cannot
    change a pixel: a face covers only pixel centres inside its bounding
    box, and the kept faces stay in ascending id order.

    Arithmetic tier (module docstring, ADVICE r12): scales with
    13824·scale³ < 2^53 run the all-float64 bit-exact path; larger scales
    up to the 2^63 int64 bound accumulate the z numerator in exact int64
    (deterministic correctly-rounded z, rounded-z tie semantics); beyond
    that the scale is rejected."""
    if 13824 * scale**3 >= 2**63:
        raise ValueError(f"scale {scale} overflows the exact-int64 z bound")
    exact53 = 13824 * scale**3 < 2**53
    q = np.asarray(q_verts, dtype=np.int64)
    f = np.asarray(faces, dtype=np.int64)
    B = q.shape[0]
    chunk = meshes_per_chunk(len(f), size)
    parts = [
        _rasterize_chunk(q[i : i + chunk], f, size, scale, exact53)
        for i in range(0, B, chunk)
    ]
    return {
        k: np.concatenate([p[k] for p in parts], axis=0) for k in parts[0]
    }


def rasterize(
    q_verts: np.ndarray, faces: np.ndarray, size: int
) -> dict[str, np.ndarray]:
    """Exact-integer barycentric rasterization with a z-buffer (one mesh),
    on the ``SCALE`` grid.

    Returns dict with:
    - ``mask``   (size, size) bool — any non-degenerate face covers the pixel
    - ``pix_to_face`` (size, size) int64 — nearest-z face id (ties → lowest
      id), -1 where uncovered
    - ``zbuf``   (size, size) float64 — interpolated z of the winner, +inf
      where uncovered (bit-portable: exact-double division below the 2^53
      tier, correctly-rounded int64 division above it — module docstring)
    - ``bary``   (size, size, 3) float64 — barycentric weights of the winner
      (E_i/den, same exact-operand divisions), 0 where uncovered

    Coverage convention: pixel center on an edge counts as inside for both
    adjacent faces (all E ≥ 0 or all E ≤ 0) — exact on integers, so both
    engines agree without a top-left tie rule. Delegates to
    ``rasterize_batch`` with a batch of one.
    """
    out = rasterize_batch(np.asarray(q_verts, dtype=np.int64)[None], faces, size)
    return {k: v[0] for k, v in out.items()}


def vertex_normals(vertices: np.ndarray, faces: np.ndarray) -> np.ndarray:
    """Area-weighted vertex normals — dpl/rendering/utils.py:80-132
    semantics: for each face, accumulate at each corner the cross product of
    the two edges leaving it (in the reference's corner order), then
    L2-normalize with eps=1e-6 (torch F.normalize: x / max(‖x‖, eps))."""
    v = np.asarray(vertices, dtype=np.float64)
    f = np.asarray(faces, dtype=np.int64)
    vf = v[f]  # (F, 3, 3)
    normals = np.zeros_like(v)
    np.add.at(normals, f[:, 1], np.cross(vf[:, 2] - vf[:, 1], vf[:, 0] - vf[:, 1]))
    np.add.at(normals, f[:, 2], np.cross(vf[:, 0] - vf[:, 2], vf[:, 1] - vf[:, 2]))
    np.add.at(normals, f[:, 0], np.cross(vf[:, 1] - vf[:, 0], vf[:, 2] - vf[:, 0]))
    norm = np.linalg.norm(normals, axis=1, keepdims=True)
    return normals / np.maximum(norm, 1e-6)


def grid_sample_bilinear(image: np.ndarray, grid: np.ndarray) -> np.ndarray:
    """``torch.nn.functional.grid_sample(..., mode='bilinear',
    padding_mode='zeros', align_corners=False)`` in numpy — the albedo
    lookup of the reference's texture tier (renderer.py:188
    ``F.grid_sample(albedos, grid, align_corners=False)``).

    ``image`` is (C, H, W); ``grid`` is (..., h, w, 2) with grid[..., 0] =
    x (width axis) and grid[..., 1] = y in [-1, 1]; leading axes (a batch)
    broadcast. align_corners=False maps x → ((x + 1)·W − 1)/2 so the
    corners of the [-1,1] square hit pixel EDGES, not centers; out-of-range
    taps read zero. Returns (C, ..., h, w).
    """
    img = np.asarray(image, dtype=np.float64)
    g = np.asarray(grid, dtype=np.float64)
    C, H, W = img.shape
    ix = ((g[..., 0] + 1.0) * W - 1.0) / 2.0
    iy = ((g[..., 1] + 1.0) * H - 1.0) / 2.0
    x0 = np.floor(ix).astype(np.int64)
    y0 = np.floor(iy).astype(np.int64)
    x1, y1 = x0 + 1, y0 + 1
    wx1 = ix - x0
    wy1 = iy - y0
    wx0, wy0 = 1.0 - wx1, 1.0 - wy1
    out = np.zeros((C,) + g.shape[:-1])
    for xi, yi, wgt in (
        (x0, y0, wx0 * wy0),
        (x1, y0, wx1 * wy0),
        (x0, y1, wx0 * wy1),
        (x1, y1, wx1 * wy1),
    ):
        valid = (xi >= 0) & (xi < W) & (yi >= 0) & (yi < H)
        xs = np.clip(xi, 0, W - 1)
        ys = np.clip(yi, 0, H - 1)
        tap = img[:, ys, xs]  # (C, h, w)
        out += tap * (wgt * valid)[None]
    return out


def corner_incidence(faces: np.ndarray, n_verts: int) -> np.ndarray:
    """(V, 3F) accumulation matrix for ``vertex_normals_batch``: column
    blocks are the per-face corner crosses in the reference's add order
    (corner 1, corner 2, corner 0 — utils.py:104-127); a repeated vertex in
    a face accumulates each of its corners, matching index_add_."""
    f = np.asarray(faces, dtype=np.int64)
    nf = len(f)
    M = np.zeros((n_verts, 3 * nf))
    cols = np.arange(nf)
    np.add.at(M, (f[:, 1], cols), 1.0)
    np.add.at(M, (f[:, 2], cols + nf), 1.0)
    np.add.at(M, (f[:, 0], cols + 2 * nf), 1.0)
    return M


def vertex_normals_batch(
    vertices: np.ndarray, faces: np.ndarray, incidence: np.ndarray
) -> np.ndarray:
    """Batched ``vertex_normals``: (B, V, 3) in → (B, V, 3) out, one
    matmul-style contraction instead of per-mesh index_add_ loops, through
    the topology's precomputed ``corner_incidence`` (computed once for
    many meshes of one topology)."""
    v = np.asarray(vertices, dtype=np.float64)
    f = np.asarray(faces, dtype=np.int64)
    vf = v[:, f]  # (B, F, 3, 3)
    crosses = np.concatenate(
        [
            np.cross(vf[:, :, 2] - vf[:, :, 1], vf[:, :, 0] - vf[:, :, 1]),
            np.cross(vf[:, :, 0] - vf[:, :, 2], vf[:, :, 1] - vf[:, :, 2]),
            np.cross(vf[:, :, 1] - vf[:, :, 0], vf[:, :, 2] - vf[:, :, 0]),
        ],
        axis=1,
    )  # (B, 3F, 3)
    normals = np.einsum("vj,bjc->bvc", incidence, crosses)
    norm = np.linalg.norm(normals, axis=2, keepdims=True)
    return normals / np.maximum(norm, 1e-6)


def quantize_symmetric(verts: np.ndarray) -> np.ndarray:
    """Quantize WORLD-space verts (no z shift) to the integer grid:
    floor(v·SCALE) with the symmetric ±COORD_CLAMP clamp on all three
    axes. SCALE is a power of two, so v·SCALE is an EXACT float op and the
    floor/clamp chain is bit-identical to the SQL twin
    ``CAST(GREATEST(-hi, LEAST(hi, floor(v * scale))) AS BIGINT)``. Feeds
    the quantized-normal tier of the shaded-channel oracle
    (n17_render_shaded_checksum): normals of the quantized world mesh."""
    f = np.floor(np.asarray(verts, dtype=np.float64) * float(SCALE))
    hi = float(COORD_CLAMP)
    return np.maximum(-hi, np.minimum(hi, f)).astype(np.int64)


def quantized_vertex_normals_batch(
    q_verts: np.ndarray, faces: np.ndarray
) -> np.ndarray:
    """``vertex_normals`` accumulation on a QUANTIZED integer mesh, exact:
    the per-corner cross products of int64 edge vectors are exact int64
    (|component| ≤ 2·(16·scale)² = 512·scale², summed over a vertex's
    incident corners — asserted < 2^53 so the float64 view is exact), and
    integer addition is order-free, so a SQL ``SUM`` over an unnest of the
    same three corner contributions reproduces these values bit-for-bit —
    no accumulation-order argument, unlike the float ``vertex_normals``
    whose einsum/BLAS sum order SQL cannot pin. Same corner order as the
    reference (utils.py:104-127): at corner 1 cross(v2−v1, v0−v1), at
    corner 2 cross(v0−v2, v1−v2), at corner 0 cross(v1−v0, v2−v0).

    ``q_verts`` is (B, V, 3) int64; returns UNNORMALIZED (B, V, 3) int64.
    """
    q = np.asarray(q_verts, dtype=np.int64)
    f = np.asarray(faces, dtype=np.int64)
    vf = q[:, f]  # (B, F, 3, 3) int64
    out = np.zeros(q.shape, dtype=np.int64)
    np.add.at(
        out, (slice(None), f[:, 1]),
        np.cross(vf[:, :, 2] - vf[:, :, 1], vf[:, :, 0] - vf[:, :, 1]),
    )
    np.add.at(
        out, (slice(None), f[:, 2]),
        np.cross(vf[:, :, 0] - vf[:, :, 2], vf[:, :, 1] - vf[:, :, 2]),
    )
    np.add.at(
        out, (slice(None), f[:, 0]),
        np.cross(vf[:, :, 1] - vf[:, :, 0], vf[:, :, 2] - vf[:, :, 0]),
    )
    assert np.abs(out).max(initial=0) < 2**53, "normal sum left exact-double range"
    return out


def normalize_int_vectors(n_int: np.ndarray) -> np.ndarray:
    """Fixed-order L2 normalization of exact-integer vectors — every op is a
    single correctly-rounded IEEE operation in a pinned association order,
    so DuckDB's ``x / GREATEST(sqrt((x·x + y·y) + z·z), 1e-6)`` (with the
    same left parenthesisation) is bit-identical. The 1e-6 guard mirrors
    ``vertex_normals``'s eps (torch F.normalize semantics)."""
    nd = np.asarray(n_int, dtype=np.float64)  # exact: asserted < 2^53
    x, y, z = nd[..., 0], nd[..., 1], nd[..., 2]
    norm = np.sqrt((x * x + y * y) + z * z)
    return nd / np.maximum(norm, 1e-6)[..., None]


def shade_gray_weights() -> np.ndarray:
    """The 9 gray-channel SH weights of the shaded overlay: constant factor
    × channel-mean coefficient of ShapeRenderer's lighting. Irradiance is
    linear in the coefficients, so the RGB-mean of ``sh_irradiance`` equals
    the contraction against these folded weights — ONE shared source for
    the query factory and the SQL oracle literals (repr round-trips
    exactly)."""
    from talkinghead_datapipeline_spark.operators.models import sh_lighting

    return SH_CONSTANT_FACTOR * sh_lighting().mean(axis=1)


def shade_channel_weights() -> np.ndarray:
    """The (9, 3) PER-CHANNEL SH weights (constant factor × coefficient of
    ShapeRenderer's lighting) of the textured forward path —
    ``sh_gray_chain`` per channel against column c reproduces
    ``sh_irradiance``'s channel c up to association. One shared source for
    the texture query factory and its SQL literals."""
    from talkinghead_datapipeline_spark.operators.models import sh_lighting

    return SH_CONSTANT_FACTOR[:, None] * sh_lighting()


def sh_gray_chain(nx: np.ndarray, ny: np.ndarray, nz: np.ndarray, w) -> np.ndarray:
    """The gray SH shade as a PINNED-ORDER scalar chain (the sh_irradiance
    basis contracted against ``shade_gray_weights``): nine successive
    ``acc = acc + w_k·term_k`` steps, each term a fixed product tree —
    bit-identical to the SQL oracle's left-associated expression text.
    ``sh_irradiance``'s einsum computes the same value up to association;
    this form is the cross-engine-exact twin."""
    acc = np.full(np.shape(nx), float(w[0]))
    acc = acc + w[1] * nx
    acc = acc + w[2] * ny
    acc = acc + w[3] * nz
    acc = acc + w[4] * (nx * ny)
    acc = acc + w[5] * (nx * nz)
    acc = acc + w[6] * (ny * nz)
    acc = acc + w[7] * ((nx * nx) - (ny * ny))
    acc = acc + w[8] * ((3.0 * (nz * nz)) - 1.0)
    return acc


def sh_irradiance(normals: np.ndarray, sh_coeff: np.ndarray) -> np.ndarray:
    """SH-lit shading — renderer.py:232-262 ``add_SHlight``: the 9 basis
    functions [1, nx, ny, nz, nx·ny, nx·nz, ny·nz, nx²−ny², 3nz²−1] of the
    normal, times the constant factors, contracted against sh_coeff (9, 3).
    ``normals`` is (..., 3); returns (..., 3) RGB shading."""
    n = np.asarray(normals, dtype=np.float64)
    nx, ny, nz = n[..., 0], n[..., 1], n[..., 2]
    basis = np.stack(
        [
            np.ones_like(nx),
            nx,
            ny,
            nz,
            nx * ny,
            nx * nz,
            ny * nz,
            nx**2 - ny**2,
            3 * nz**2 - 1,
        ],
        axis=-1,
    )
    basis = basis * SH_CONSTANT_FACTOR
    return np.einsum("...k,kc->...c", basis, np.asarray(sh_coeff, dtype=np.float64))
